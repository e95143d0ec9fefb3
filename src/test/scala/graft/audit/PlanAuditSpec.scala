package graft.audit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestContextShims
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan assertions: the shapes we rely on at 100 TB must actually
  * be in the plan — filter/projection pushdown into the parquet scan,
  * TakeOrderedAndProject for top-k, broadcast for the small join sides.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  /** The final plans of every query `q` executes after its fixture's last
    * write — the ones its operators run while building the frame (a
    * shortlist or a hybrid branch collected to the driver) and the frame's
    * own — for entries whose answer finishes on the driver. Each plan is
    * its post-AQE section.
    */
  private def ranPlans(q: String): String = {
    val plans = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized {
          plans += qe.executedPlan.toString.split("== Initial Plan ==").head; ()
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    TestContextShims.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      graft.SparkEntry.queries(q)(spark, TestSpark.sf).collect()
      TestContextShims.drainListenerBus(sc)
      plans.synchronized {
        plans.drop(plans.lastIndexWhere(_.contains("InsertIntoHadoopFsRelationCommand")) + 1)
          .mkString("\n")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  /** Window nodes whose SUBTREE carries no bounding node (TakeOrdered /
    * Limit / the bounded-heap ObjectHashAggregate) and reads more than
    * driver-side local relations — i.e. rank windows fed by an unbounded
    * corpus read, the single-reducer-sort scale killer the r12 verdict
    * flagged. A LocalTableScan bounds a window only when every leaf under
    * it is one: a corpus scan crossed with broadcast local queries is
    * still unbounded. Walks the plan text by tree-marker depth: a node's
    * subtree is the following lines with a strictly deeper marker.
    */
  private def unboundedWindows(p: String): Seq[String] = {
    val lines = p.linesIterator.toVector
    def depth(l: String): Int = {
      val i = l.indexOf("+-"); val j = l.indexOf(":-")
      if (i < 0) j else if (j < 0) i else math.min(i, j)
    }
    lines.zipWithIndex.flatMap { case (l, i) =>
      if (!l.contains("Window [")) None
      else {
        val d = depth(l)
        val sub = lines.drop(i + 1)
          .takeWhile(x => depth(x) < 0 || depth(x) > d)
        // rows already on the driver are bounded, unless some other leaf
        // (a file, RDD or range scan, or a reused exchange whose subtree
        // the text hides) feeds the window too
        val onlyLocal = sub.exists(_.contains("LocalTableScan")) &&
          !sub.exists(s => s.replace("LocalTableScan", "").contains("Scan") ||
            s.contains("Range (") || s.contains("ReusedExchange"))
        if (onlyLocal || sub.exists(s => s.contains("TakeOrderedAndProject") ||
            s.contains("Limit") || s.contains("ObjectHashAggregate"))) None
        else Some(l.trim.take(160))
      }
    }
  }

  test("unboundedWindows: a corpus read crossed with broadcast local queries stays unbounded") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val qs = Seq((1L, 0.5), (2L, 0.25)).toDF("query_id", "w")
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    // the row_number over a whole collection scan, per broadcast query:
    // the shape this audit exists to catch
    val corpus = graft.Tables.embeddings(spark, TestSpark.sf)
      .crossJoin(broadcast(qs))
      .withColumn("score", col("w") * col("vec_id"))
      .withColumn("rank", row_number().over(w))
    val p = corpus.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && p.contains("FileScan"), p.take(2000))
    assert(unboundedWindows(p).nonEmpty,
      s"a window over a corpus scan must be reported:\n${p.take(2000)}")
    // the same window over the local rows alone is bounded
    val local = qs.withColumn("score", col("w"))
      .withColumn("vec_id", col("query_id"))
      .withColumn("rank", row_number().over(w))
    val lp = local.queryExecution.executedPlan.toString
    assert(lp.contains("Window ["), lp)
    assert(unboundedWindows(lp).isEmpty, lp)
  }

  test("q02 search pushes filters and prunes columns at the scan") {
    val p = plan("q02_search_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p.take(2000))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_discount:double"),
      "scan must read only the projected+filtered columns")
  }

  test("q01 aggregation is partial (map-side combine) with pushed date filter") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial"), "partial aggregation expected")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("q20 knn plans TakeOrderedAndProject with broadcast query side") {
    val p = plan("q20_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a full sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "single-row query side must broadcast")
    // the scoring project must sit inside a WholeStageCodegen span — the
    // custom expression's doGenCode is what makes it 6-7× faster than the
    // higher-order-function / UDF formulations (SURVEY.md §"M4 scoring
    // measurement").
    // AQE only materializes codegen markers in the final plan → execute first.
    val df = graft.SparkEntry.queries("q20_knn_cosine")(spark, graft.TestSpark.sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*(") && finalPlan.contains("cosine_sim"),
      s"cosine scoring must participate in whole-stage codegen:\n${finalPlan.take(1200)}")
  }

  test("q22 batch knn broadcasts queries and shuffles only on query_id") {
    val p = plan("q22_knn_batch")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("q03 join broadcasts the customer dimension") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"), "dimension join should broadcast")
  }

  test("q69 sq8 path: both passes are bounded heaps, quantized scoring codegen'd") {
    val p = plan("q69_sq8_rerank")
    // shortlist cut AND final cut must be TakeOrderedAndProject — a full
    // sort of the corpus would defeat the 100 TB design
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"expected two bounded top-k cuts:\n${p.take(1500)}")
    assert(p.contains("cosine_sim"), "quantized scoring must use the codegen'd expression")
  }

  test("kmeans probe prunes partitions at the scan") {
    import org.apache.spark.sql.types._
    val db = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_audit").toString, "pdb")
    db.createCollection("vecs", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
    db.bulkInsert("vecs", graft.Tables.embeddings(spark, TestSpark.sf))
    db.reindexKMeans("vecs", k = 8)
    val q = graft.Tables.embeddings(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val probe = db.searchSimilar("vecs", q, k = 5, probeRadius = 1, idCol = "vec_id")
    val p = probe.queryExecution.executedPlan.toString
    // the cluster_id IN (...) filter must reach partition pruning, not a
    // post-scan filter over all files
    assert(p.contains("PartitionFilters: [cluster_id"),
      s"probe must prune cluster_id partitions at the scan:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("stored-sq8 shortlist scan reads only the quantized column") {
    import org.apache.spark.sql.types._
    val db = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_audit_q8").toString, "qdb")
    db.createCollection("vecs", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
    db.bulkInsert("vecs", graft.Tables.embeddings(spark, TestSpark.sf))
    db.quantize("vecs")
    val q = graft.Tables.embeddings(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    // the shortlist stage's scan must prune to (vec_id, embedding_q8) —
    // reading float vectors there would forfeit the 4× IO win
    val shortPlan = graft.operators.SimilaritySearch
      .sq8ShortlistStored(db.read("vecs"), q, 50, "cosine",
        "embedding_q8", "vec_id")
      .queryExecution.executedPlan.toString
    assert(shortPlan.contains("struct<vec_id:bigint,embedding_q8:array<tinyint>>"),
      s"shortlist scan must read only id + quantized column:\n${shortPlan.take(2000)}")
    assert(shortPlan.contains("TakeOrderedAndProject"))
    // and the rerank reads full vectors only behind a PUSHED id filter, so
    // row-group stats can skip — not a join that re-reads every float row
    val res = db.searchSimilar("vecs", q, k = 5, shortlist = 50, idCol = "vec_id")
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"rerank scan must push the shortlist id filter:\n${p.take(2000)}")
    assert(res.count() == 5)
  }

  test("ivf×sq8: partition pruning AND quantized-column pruning in one plan") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val db = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_audit_ivfq8").toString, "cdb")
    db.createCollection("vecs", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
    db.bulkInsert("vecs", graft.Tables.embeddings(spark, TestSpark.sf))
    db.reindex("vecs", nBits = 8)
    db.quantize("vecs")
    val q = graft.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    // broadcast branch (inThreshold = 0): the WHOLE composition is one DAG,
    // so one executed plan must show both prunings multiplying
    val cells = graft.operators.VectorIndex.signCells(q, 8, 1)
    val short = graft.operators.VectorPlanner.shortlist(db.read("vecs"), q,
      Some(_ => cells),
      graft.operators.VectorPlanner.Sq8("cosine", 100, Some("embedding_q8")),
      idCol = "vec_id")
    val composed = graft.operators.SimilaritySearch.rerankExact(
      graft.operators.VectorPlanner.inCells(db.read("vecs"), cells)
        .drop("embedding_q8"),
      short, q, k = 10, shortlist = 100, metric = "cosine",
      idCol = "vec_id", inThreshold = 0)
    val p = composed.queryExecution.executedPlan.toString
    // the probe prunes cluster_id partitions at the scan (IVF half)…
    assert(p.contains("PartitionFilters: [cluster_id"),
      s"probe must prune cluster_id partitions:\n${p.take(2000)}")
    // …and the shortlist scan reads ONLY (id, int8 column) (SQ8 half)
    assert(p.contains("struct<vec_id:bigint,embedding_q8:array<tinyint>>"),
      s"shortlist scan must read only id + quantized column:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))

    // the q79 gate path (small shortlist → In branch): the rerank scan
    // still prunes partitions AND pushes the shortlist ids
    val pq = plan("q79_ivf_sq8")
    assert(pq.contains("PartitionFilters: [cluster_id"),
      s"q79 rerank must prune cluster_id partitions:\n${pq.take(2000)}")
    assert(pq.contains("PushedFilters: [In(vec_id"),
      s"q79 rerank must push the shortlist id filter:\n${pq.take(2000)}")
  }

  test("rerankExact above the In-threshold: shortlist never leaves executors") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val q = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val short = graft.operators.SimilaritySearch.sq8Shortlist(
        e.filter(col("vec_id") =!= 0), q, 50, "cosine", "embedding", "vec_id")
      .select(col("vec_id"), col("approx_score"))
    // inThreshold below the shortlist size forces the broadcast join-back
    val above = graft.operators.SimilaritySearch.rerankExact(
      e, short, q, 10, shortlist = 50, metric = "cosine",
      vecCol = "embedding", idCol = "vec_id", inThreshold = 10)
    val p = above.queryExecution.executedPlan.toString
    assert(!p.contains("In(vec_id"),
      s"large shortlists must not serialize an In-list through the driver:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"large shortlists rerank via broadcast join-back:\n${p.take(2000)}")
    // both branches return the same rows
    val below = graft.operators.SimilaritySearch.rerankExact(
      e, short, q, 10, shortlist = 50, metric = "cosine",
      vecCol = "embedding", idCol = "vec_id", inThreshold = 10000)
    assert(above.select("vec_id").collect().map(_.getLong(0)).toSeq ==
      below.select("vec_id").collect().map(_.getLong(0)).toSeq,
      "cap-and-switch branches must agree")
  }

  test("q81 decontamination joins the eval shingles via broadcast") {
    val p = plan("q81_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval shingle set must broadcast — corpus text never shuffles " +
        s"for the contamination join:\n${p.take(2000)}")
  }

  test("q88 boilerplate mining: partial aggregation + top-k cut, no full sort") {
    val p = plan("q88_boilerplate")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"document-frequency count must combine map-side:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded cut, not a global sort:\n${p.take(1500)}")
  }

  test("q82 shard audit: one aggregation shuffle with map-side combine") {
    val p = plan("q82_shard_export")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-shard stats must partially aggregate before the shuffle:\n${p.take(1500)}")
  }

  test("q95 range join: hash equi-join on buckets, never a nested loop") {
    val p = plan("q95_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the bucketed range join must not plan a nested loop:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"expected a hash/merge equi-join on the bucket key:\n${p.take(2000)}")
  }

  test("q103 overlap join: hash equi-join on buckets, never a nested loop") {
    val p = plan("q103_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the bucketed overlap join must not plan a nested loop:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"expected a hash/merge equi-join on the bucket key:\n${p.take(2000)}")
  }

  test("q96 chunking: narrow explode, no shuffle before the final order") {
    val p = plan("q96_chunking")
    assert(p.contains("Generate explode"),
      s"chunking is a per-row generator:\n${p.take(1500)}")
    // the only exchanges allowed are the parallelism widening (round robin)
    // and the final presentation sort — chunking itself must never shuffle
    assert(!p.contains("hashpartitioning"),
      s"chunk assembly must not hash-shuffle:\n${p.take(2000)}")
    assert(!p.contains("Window"), "chunk ids come from the generator, not a window")
  }

  test("q97 tf-idf: report set broadcasts, rank cut is a group limit") {
    val p = plan("q97_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded report set must broadcast against the streaming " +
        s"vocabulary side:\n${p.take(2000)}")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)"),
      s"the report-set filter must reach the scan:\n${p.take(2000)}")
    assert(p.contains("WindowGroupLimit"),
      s"top-3-per-doc must use the rank-limit pushdown, not a full window " +
        s"sort:\n${p.take(2000)}")
  }

  test("q98 importance: weights broadcast, top-20 is a bounded cut") {
    val p = plan("q98_importance")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be bounded, not a global sort:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(nBuckets) weights table must broadcast onto the token " +
        s"stream:\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      s"bucket counts must combine map-side:\n${p.take(1500)}")
  }

  test("q100 lm scoring: equi-joins on count tables, map-side combined averages") {
    val p = plan("q100_lm_score")
    assert(!p.contains("CartesianProduct"),
      s"count-table joins must be equi-joins:\n${p.take(2000)}")
    assert(p.contains("partial_avg"),
      s"per-doc log-prob mean must combine map-side:\n${p.take(1500)}")
    assert(p.contains("partial_count"),
      s"count tables must partially aggregate before their shuffle:\n${p.take(1500)}")
    // the bigram-count join key is (w1, w2) — an equi-join Catalyst can
    // plan as broadcast or shuffle depending on scale; either is fine,
    // a nested loop is not
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("q106 lloyd step: both assignments are in-scan literal argmins, zero shuffle") {
    // the round-11 de-shuffle: both c_init and c_refined are
    // literal-centroid argmin expressions in ONE scan projection — the
    // former crossJoin(broadcast) + row_number() over partitionBy(id)
    // paid a hash shuffle of a k-times-inflated corpus. The only
    // exchange left is the final ORDER BY's range partitioning.
    // (Seeding + mean refinement run as separate bounded jobs at
    // construction time — plan() executes them; their state comes back
    // as k·dim doubles of literals, not plan nodes.)
    val p = plan("q106_kmeans_lloyd")
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment must not shuffle — literal argmin in the scan:\n${p.take(2000)}")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"no join of any kind in the assignment plan:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      s"no per-row rank window — argmin is array_min over struct:\n${p.take(2000)}")
    assert(p.contains("l2_dist"),
      s"distances must be the codegen'd expression:\n${p.take(1500)}")
  }

  test("q101 stratified sample: rank partitioned by (strata, chunk), broadcast stitch") {
    val p = plan("q101_stratified")
    // the per-row sort must be chunk-partitioned (skew-proof: a hot
    // stratum spreads over the md5-prefix chunks), never a bare
    // per-stratum window
    assert("hashpartitioning\\(source#\\d+, lang#\\d+, __chunk".r
      .findFirstIn(p).isDefined,
      s"row rank must partition on (strata, __chunk):\n${p.take(2000)}")
    // the chunk-offset stitch is a broadcast of the tiny offset catalog
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"offset stitch must broadcast:\n${p.take(2000)}")
  }

  test("q112 count-min: bounded-table build combines map-side, top cut bounded") {
    val p = plan("q112_cms_heavyhitters")
    assert(p.contains("partial_count"),
      s"sketch cells must partially aggregate before their shuffle:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be bounded:\n${p.take(1500)}")
  }

  test("q113 bloom decon: the filter runs in the scan stage, before the join") {
    val p = plan("q113_bloom_decon")
    assert(p.contains("element_at"),
      s"the bloom bit test must appear as column math in the plan:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval shingles still broadcast behind the bloom pre-filter:\n${p.take(1200)}")
    // the bloom test must sit under a Filter BELOW the join, not above it
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val bloomIdx = p.indexOf("element_at")
    assert(bloomIdx > joinIdx,
      "the bloom filter must appear deeper in the tree (before the join executes)")
  }

  test("q115 weighted sample: one bounded top-n, no shuffle, no window") {
    val p = plan("q115_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"the weighted draw must be a bounded top-n:\n${p.take(1500)}")
    assert(!p.contains("Window"), "no window needed for a global top-n")
    assert(!p.contains("hashpartitioning"),
      s"nothing should hash-shuffle:\n${p.take(1500)}")
  }

  test("q117 augmentation: pure per-row math, no shuffle before the order") {
    val p = plan("q117_augment")
    assert(!p.contains("hashpartitioning"),
      s"augmentation must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Window") && !p.contains("Generate"),
      "dropout is an in-row lambda filter — no explode, no window")
  }

  test("q119 winnow pairs: no inferred generate-filter re-runs the fingerprint chain") {
    val p = plan("q119_winnow_pairs")
    // InferFiltersFromGenerate + pushdown would re-plant the whole
    // winnowing expression as a scan filter (O(n²) md5s per doc —
    // measured 10×+ the query's cost); explode_outer must keep the scan
    // clean
    assert(!p.contains("DataFilters: [(size(CASE"),
      s"the fingerprint chain must not be inlined into a scan filter:\n${p.take(1500)}")
    assert(p.contains("boundeddistinctsetagg"),
      s"fingerprint buckets must aggregate through the bounded buffer:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("q121 corpus build: dedup and packing windows key correctly, no cartesian") {
    val p = plan("q121_corpus_build")
    assert(p.contains("hashpartitioning(__fp"),
      s"the dedup window must shuffle on the fingerprint:\n${p.take(1500)}")
    assert(p.contains("hashpartitioning(source"),
      s"packing must shuffle on the source partition:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q124 semdedup: pairing is a cid equi-join, never a cartesian") {
    val p = plan("q124_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairing must join on the cluster id:\n${p.take(2000)}")
    // round 11: the lloyd assignment is literal-centroid math inside the
    // scan (no broadcast node to assert anymore — strictly better); the
    // only joins left are the id-keyed assignment join-back and the
    // cid-keyed pairing
    assert(p.contains("hashpartitioning(cid") || p.contains("BroadcastHashJoin"),
      s"pairing must be an equi-join on cid:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop anywhere in the semdedup plan:\n${p.take(2000)}")
  }

  test("q67 two-phase sessionize: per-event window partitioned by (user, chunk)") {
    val p = plan("q67_sessionize_2phase")
    // the heavy (per-event) sort must key on user_id AND the chunk — that
    // is the whole point of the skew hardening
    assert(p.contains("hashpartitioning(user_id") && p.contains("__chunk"),
      s"phase-1 window must partition by (user, chunk):\n${p.take(1500)}")
  }

  test("q131 span dedup: sig-keyed equi-joins, no window, no cartesian") {
    val p = plan("q131_span_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      s"reassembly must be an aggregation, never a window:\n${p.take(2000)}")
    assert(p.contains("HashAggregate") &&
      (p.contains("partial_count") || p.contains("partial")),
      "span census must combine map-side")
  }

  test("q211 exact substring: sig/pos equi-joins, no window, no cartesian") {
    val p = plan("q211_exact_substring")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      s"coverage + reassembly must be joins/aggs, never a window:\n${p.take(2000)}")
    // the window census combines map-side; covered positions collapse on
    // (doc_id, pos) — the left-join key — before the token-side probe
    assert(p.contains("partial_count"),
      "window census must combine map-side")
    assert(p.contains("LeftOuter"),
      s"token-side coverage probe must be a left equi-join:\n${p.take(2000)}")
  }

  test("q133 cdc dedup: boundary window partitions by document") {
    val p = plan("q133_cdc_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the running boundary count must key on doc_id — parallel across
    // docs, never a global sort
    assert(p.contains("hashpartitioning(doc_id"),
      s"CDC window must partition by doc_id:\n${p.take(2000)}")
  }

  test("q135 batch pq probe: broadcast cells/luts, bounded per-query heap") {
    // (q135 computes codes in-query, so its scan reads vectors; the
    // code-only-scan property for STORED codes is pinned by
    // ProductQuantizationSpec's ReadSchema test.)
    // the shortlist heap runs as its own query (collected for the rerank)
    val p = ranPlans("q135_pq_batch")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange"),
      "cells/luts must broadcast")
    assert(p.contains("ObjectHashAggregate"),
      s"the ADC shortlist must be the bounded heap aggregator:\n${p.take(2000)}")
  }

  test("q161 residual pq probe: pruned cell filter, literal LUT map, bounded cuts") {
    // (q160 composes training in-query, so its scans read vectors; the
    // (id, cell, code)-only scan for STORED residual codes is pinned by
    // ProductQuantizationSpec's adcShortlistResidual ReadSchema test.)
    val p = plan("q161_residual_pq")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"ADC shortlist and final cut must both be bounded top-ks:\n${p.take(2000)}")
    // cell pruning reaches the scan as an IN/INSET over the (inlined)
    // sign-bucket expression — hamming-ball cells only, never a full scan
    assert(p.contains(" IN (") || p.contains("INSET"),
      s"the probe must prune to the hamming-ball cells:\n${p.take(2000)}")
    // the rerank reads only the bounded shortlist: the id filter is
    // pushed into the parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)") &&
        (p.contains("In(vec_id") || p.contains("INSET")),
      s"rerank must push the shortlist id filter to the scan:\n${p.take(2000)}")
    // the per-cell LUTs ride as plan literals (no join, no shuffle
    // between the coded scan and the ADC cut): the only exchange in the
    // plan is the rerank's broadcast of the bounded shortlist
    assert(!p.contains("ShuffleExchange"),
      s"no shuffle belongs in the residual probe:\n${p.take(2000)}")
  }

  test("q165 opq recall: id-only scan, broadcast queries/LUTs, partitioned windows") {
    val p = plan("q165_opq_recall")
    // the fixture + rotation are plan-literal column math over ids: the
    // embeddings scan must read NOTHING but vec_id
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      s"fixture query must scan only the id column:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"query fan-out must be a broadcast, never a cartesian:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "per-query vectors and ADC LUTs must broadcast")
    // every rank window is per-query, never a single-partition global sort
    assert(p.contains("hashpartitioning(query_id"),
      s"top-k windows must partition by query_id:\n${p.take(2000)}")
  }

  test("q170 kmeans batch probe: broadcast LUTs, bounded heap, pruned cells") {
    // (q170 trains both models in-query, so its scans read vectors; the
    // code-only-scan property for STORED codes is pinned by
    // ProductQuantizationSpec's ReadSchema tests.)
    val p = ranPlans("q170_kmeans_batch")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange"),
      "per-(query, cell) LUTs must broadcast")
    assert(p.contains("ObjectHashAggregate"),
      s"the ADC shortlist must be the bounded heap aggregator:\n${p.take(2000)}")
    // the union of probed cells reaches the coded frame as an IN filter —
    // never a full-corpus ADC pass
    assert(p.contains(" IN (") || p.contains("INSET"),
      s"the batch probe must prune to the probed-cell union:\n${p.take(2000)}")
  }

  test("q266 stored ivfpq batch: pruned cell partitions, code-only ADC scan") {
    // the steady-state twin of q170: codebooks live in the cached
    // artifact's sidecar, so THIS plan must show the serving shape the
    // in-query-training gate cannot — partition pruning on the stored
    // layout and an ADC scan that reads codes, not float vectors
    val p = ranPlans("q266_ivfpq_stored")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("PartitionFilters") && p.contains("cluster_id"),
      s"the stored layout must prune to the probed-cell partitions:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "per-(query, cell) LUTs must broadcast")
    assert(p.contains("ObjectHashAggregate"),
      s"the ADC shortlist must be the bounded heap aggregator:\n${p.take(2000)}")
    // at least one scan reads the stored codes WITHOUT the embedding
    // column (the ADC pass); the rerank's embedding scan is separate and
    // shortlist-bounded
    val codeOnlyScan = "ReadSchema: struct<[^>]*pq_code[^>]*>".r
      .findAllIn(p).exists(s => !s.contains("embedding"))
    assert(codeOnlyScan,
      s"the ADC pass must scan codes, never the float vectors:\n${p.take(2000)}")
  }

  test("q267 stored hybrid: postings-pruned sparse branch + cell-pruned SQ8 dense branch in ONE plan") {
    // each branch is collected as its own query and fused on the driver
    val p = ranPlans("q267_hybrid_stored")
    // sparse branch: the postings scan prunes to the query terms'
    // term_bucket partitions (q201's property)
    assert(p.contains("term_bucket"),
      s"the BM25 branch must read the stored postings:\n${p.take(2000)}")
    assert(p.contains("PartitionFilters"),
      s"both artifact scans must partition-prune:\n${p.take(2000)}")
    // dense branch: the SQ8 probe prunes to the hamming-ball cells; the
    // int8 ranking itself runs in the eager shortlist job (cap-and-
    // switch pushes the shortlist ids back as an In filter — its
    // quantized-column-only ReadSchema is pinned by the stored-sq8
    // audit above), so the dense branch's plan shows the rerank scan:
    // pruned cell partitions + pushed shortlist ids
    assert(p.contains("PartitionFilters: [cluster_id"),
      s"the dense rerank must prune sign-bucket cells:\n${p.take(2000)}")
    assert(p.contains("In(id") || p.contains("INSET"),
      s"the rerank must push the shortlist id filter to the scan:\n${p.take(2000)}")
    // no corpus re-tokenization in any plan of the command
    assert(!p.contains("regexp"),
      s"stored path must not re-tokenize the corpus:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q291 recall curve: bounded-heap cuts, zero window stages") {
    // the r12 verdict item: the gold and probe top-k cuts must ride
    // TopKAggregator's bounded heap (≤ k rows per partition per group
    // cross the shuffle), never a per-query row_number window whose
    // partitions are corpus-sized
    val p = plan("q291_recall_curve")
    assert(!p.contains("Window"),
      s"no window stage may survive in the recall curve:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate"),
      s"gold/probe cuts must be the bounded heap aggregator:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      "the bounded query side must broadcast")
  }

  test("q300 serving eval: gold cut is TakeOrderedAndProject, windows k-bounded") {
    // the constant-query_id gold window was a guaranteed single-reducer
    // sort of the whole collection read (r12 verdict); the exact gold now
    // rides orderBy+limit. The ≤2 surviving windows rank k-bounded
    // inputs only (sys ≤ kf rows, gold ≤ 10 survivors of the limit).
    val p = ranPlans("q300_serving_eval")
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact gold cut must be a bounded top-k:\n${p.take(2000)}")
    // the serving ranks and the gold rank are all windows over bounded
    // inputs — every Window subtree must carry its bound
    val bad = unboundedWindows(p)
    assert(bad.isEmpty,
      s"window(s) fed by an unbounded read: $bad\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q309 hybrid batch: ONE pruned postings scan + ONE pruned cell probe for the whole batch") {
    // the whole point of the batch path: per-query branches must share
    // the union-term pivot (ReusedExchange), so the postings artifact is
    // scanned once for the batch — AQE materializes reuse only in the
    // final plan, so execute first (the q20 codegen precedent)
    // the FINAL plans (post-AQE) of the branch queries are authoritative
    val p = ranPlans("q309_hybrid_batch")
    // sparse: the whole batch rides ONE term-bucket-pruned postings scan
    // (literal term catalog + per-row contributions + ord-ordered fold
    // + bounded heap) — plan size is independent of batch size
    val postingsScans =
      "Scan parquet[^\\n]*textindex[^\\n]*term:string,id:bigint,tf:bigint".r
        .findAllIn(p).size
    assert(postingsScans == 1,
      s"expected ONE postings scan for the batch, got $postingsScans:\n${p.take(2000)}")
    assert("PartitionFilters: \\[term_bucket[^\\]]* IN ".r.findFirstIn(p).isDefined,
      s"the postings scan must prune to the union term buckets:\n${p.take(2000)}")
    // both cuts (sparse kf, dense kf) are bounded heaps
    assert(p.contains("ObjectHashAggregate"),
      s"the per-query cuts must be the bounded heap aggregator:\n${p.take(2000)}")
    // dense side: one collection scan, pruned to the probed-cell union
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(p).isDefined,
      s"the batch probe must prune sign-bucket cells:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the stored sparse branch must never re-tokenize the corpus
    assert(!p.contains("regexp"),
      s"stored path must not re-tokenize:\n${p.take(2000)}")
    // every surviving window ranks a k-bounded input (the dense rerank's
    // rank over the heap's ≤ shortlist rows per query)
    assert(unboundedWindows(p).isEmpty,
      s"window(s) fed by an unbounded read: ${unboundedWindows(p)}")
  }

  test("q310 ADC hybrid batch: ONE codes-only ADC scan + pruned postings for the whole batch") {
    // the r13 verdict item: the dense branch must serve the batch from
    // the stored codes — ONE scan reading pq_code (never the float
    // vectors) pruned to the union of every query's probed cells; float
    // vectors are read only by the shortlist-bounded rerank
    val p = ranPlans("q310_hybrid_adc_batch")
    // sparse: one term-bucket-pruned postings scan for the batch
    val postingsScans =
      "Scan parquet[^\\n]*textindex[^\\n]*term:string,id:bigint,tf:bigint".r
        .findAllIn(p).size
    assert(postingsScans == 1,
      s"expected ONE postings scan for the batch, got $postingsScans:\n${p.take(2000)}")
    assert("PartitionFilters: \\[term_bucket[^\\]]* IN ".r.findFirstIn(p).isDefined,
      s"the postings scan must prune to the union term buckets:\n${p.take(2000)}")
    // dense: exactly ONE ADC scan reading codes WITHOUT the embedding
    // column, pruned to the probed-cell union partitions
    val codeScans = "ReadSchema: struct<[^>]*pq_code[^>]*>".r.findAllIn(p)
      .toSeq.filter(s => !s.contains("embedding"))
    assert(codeScans.size == 1,
      s"expected ONE codes-only ADC scan, got ${codeScans.size}:\n${p.take(2000)}")
    assert(!"ReadSchema: struct<[^>]*pq_code[^>]*>".r.findAllIn(p)
      .exists(_.contains("embedding")),
      s"no scan may read codes AND vectors together:\n${p.take(2000)}")
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(p).isDefined,
      s"the ADC scan must prune to the probed-cell partitions:\n${p.take(2000)}")
    // both the shortlist and sparse kf cuts are bounded heaps; the LUTs
    // broadcast
    assert(p.contains("ObjectHashAggregate"),
      s"the per-query cuts must be the bounded heap aggregator:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "per-(query, cell) LUTs must broadcast")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("regexp"),
      s"stored path must not re-tokenize:\n${p.take(2000)}")
    assert(unboundedWindows(p).isEmpty,
      s"window(s) fed by an unbounded read: ${unboundedWindows(p)}")
  }

  test("q269 pretrain capstone: keyed shuffles only, source-partitioned packing") {
    // stage boundaries now COMMIT to a StageStore generation (the r13
    // restartability item), so the gate's returned plan is just the
    // final stage's read-back — audit the recorded per-stage plans
    // instead (StageStore.stagePlans; upstream operator shapes are also
    // pinned by their own gates' audits: q61/q131/q200's machinery)
    val store = new graft.core.StageStore(spark,
      java.nio.file.Files.createTempDirectory("graft_q269audit").toString)
    graft.operators.PretrainPipeline.run(
      graft.operators.Parallelism.ensure(
        graft.Tables.documents(spark, TestSpark.sf)), store)
    assert(store.stagePlans.keySet == Set("s1_curated", "s2_spandedup",
      "s3_selected", "s4_shard_summary"))
    store.stagePlans.foreach { case (stage, p) =>
      assert(!p.contains("CartesianProduct"),
        s"every join in $stage must be keyed:\n${p.take(2000)}")
      assert(!p.contains("ScalaUDF"),
        s"the whole chain must be column math ($stage)")
    }
    // packing windows partition by source — never a global unpartitioned
    // window over the corpus
    val s4 = store.stagePlans("s4_shard_summary")
    assert(s4.contains("hashpartitioning(source"),
      s"pack/chunk windows must partition by source:\n${s4.take(2000)}")
  }

  test("q143 kmv sketch: bounded heap per group, no per-group sort window") {
    val p = plan("q143_kmv_distinct")
    assert(!p.contains("Window"),
      s"bottom-k must be the bounded heap aggregator, never a rank window:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate"),
      "TopKAggregator (typed heap) expected in the plan")
    assert(p.contains("partial"),
      "the (group, hash) dedup must combine map-side")
  }

  test("q136 bm25: single-row stats broadcast, bounded top-k on rounded score") {
    val p = plan("q136_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"final cut must be a bounded top-k:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "corpus stats must ride in as a broadcast")
    assert(!p.contains("Window"), "no rank window anywhere")
  }

  test("q144 nfc dedup: normalization is codegen scan-side math, one aggregation") {
    val p = plan("q144_nfc_dedup")
    assert(p.contains("nfc_normalize"),
      s"custom expression must appear in the plan:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "normalization must be the codegen expression, not a UDF")
  }

  test("q145 nb classify: label stats broadcast, model join is token-keyed") {
    val p = plan("q145_nb_classify")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"label stats / vocab / doc totals must broadcast:\n${p.take(2000)}")
    // the corpus-sized side must never sort globally: the only window is
    // the per-doc argmax, partitioned by doc id
    assert(p.contains("hashpartitioning(doc_id"),
      "argmax window must partition by the doc id")
  }

  test("q155 calibration: rank window keys on (source, score band), offsets broadcast") {
    val p = plan("q155_score_calibration")
    assert(p.contains("hashpartitioning(source") && p.contains("__bkt"),
      s"the big sort must parallelize across score bands per source:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "the band-offset stitch table must broadcast")
  }

  test("q150 web ingest: both dedup windows key on their dedup column, no cartesian") {
    val p = plan("q150_web_ingest")
    assert(p.contains("hashpartitioning(canon"),
      s"URL dedup must partition by the canonical url:\n${p.take(2000)}")
    assert(p.contains("hashpartitioning(fp"),
      "content dedup must partition by the folded fingerprint")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the chain is windows + one aggregation, never a join explosion")
  }

  test("q176 sample quantiles: bounded heap selection, broadcast join-back") {
    val p = plan("q176_sample_quantiles")
    assert(p.contains("ObjectHashAggregate"),
      "the bottom-k-by-hash sample must run in the TopKAggregator heap")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the sample-key join-back must broadcast the tiny picked set:\n${p.take(2000)}")
    // exactly one corpus-sorting window pair is allowed: the xp*
    // exact-quantile DIAGNOSTIC. The sketch path must stay heap+broadcast.
    val windows = "Window ".r.findAllIn(p).size
    assert(windows <= 4,
      s"only the exact-diagnostic windows may sort ($windows found):\n${p.take(2000)}")
  }

  test("q182 quantile bins: production sketch shape — no corpus sort window") {
    val p = plan("q182_quantile_bins")
    assert(p.contains("ObjectHashAggregate"),
      "sample selection must be the bounded heap")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "threshold attach must broadcast the sketch")
    // exactDiagnostic = false: the only windows allowed are the two over
    // the sample frame (≤ groups × 64 rows) — the corpus is never sorted
    val windows = "Window ".r.findAllIn(p).size
    assert(windows <= 2,
      s"production sketch must not sort the corpus ($windows windows):\n${p.take(2000)}")
  }

  test("q178 seq slices: chunk-partitioned cumsum, broadcast stitch, generator") {
    val p = plan("q178_seq_slices")
    // the corpus cumsum must partition by the md5-prefix chunk — never a
    // single-reducer global window
    assert("hashpartitioning\\(__chunk".r.findFirstIn(p).isDefined,
      s"token cumsum must partition on __chunk:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"chunk-offset stitch must broadcast the catalog:\n${p.take(2000)}")
    assert(p.contains("Generate explode"),
      "the doc→sequence expansion must be a generator, not a join")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      "no unkeyed join anywhere in the slicing plan")
  }

  test("q179 snapshot diff: id-keyed FULL OUTER join, no cartesian") {
    val p = plan("q179_snapshot_diff")
    assert(p.contains("FullOuter"),
      s"the diff must be a full outer join:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "unique-keyed shuffle join expected (neither side is small at scale)")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      "no unkeyed join in the diff plan")
  }

  test("q186 triangles: keyed equi-joins only, no cartesian, no window") {
    val p = plan("q186_triangles")
    // wedge enumeration and closure are hash equi-joins on edge keys —
    // an unkeyed product would be quadratic in the corpus
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"triangle enumeration must never cross-product:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "the oriented enumeration needs no rank window")
    assert(p.contains("Generate explode"),
      "per-node counts come from the corner generator")
  }

  test("q187 prefix join: doc-bounded window, keyed joins, no cartesian") {
    val p = plan("q187_prefix_join")
    // the only sort is the per-doc prefix ranking — partitioned by doc,
    // never a global sort of the shingle universe
    assert("hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined,
      s"prefix ranking must partition by doc:\n${p.take(2000)}")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      "candidate generation must stay an equi-join on prefix shingles")
  }

  test("q201 stored-postings retrieval: term_bucket partitions pruned, no corpus scan") {
    val p = plan("q201_searchtext_stored")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      s"the postings scan must prune to the query terms' buckets:\n${p.take(2000)}")
    // no tokenizer rescan of the collection: the only parquet reads are
    // the postings + doclens artifacts (the collection files never appear)
    assert(!p.contains("regexp"),
      s"stored path must not re-tokenize the corpus:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k-cut must be a bounded top-k:\n${p.take(1500)}")
  }

  test("q210 stored phrase: pruned positional partitions, keyed joins only") {
    val p = plan("q210_phrase_bench")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      s"the positions scan must prune to the phrase terms' buckets:\n${p.take(2000)}")
    assert(!p.contains("regexp"),
      s"stored phrase match must not re-tokenize the corpus:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the (doc, pos+i) legs must be keyed equi-joins:\n${p.take(2000)}")
  }

  test("q276 stored proximity: pruned positional partitions, no corpus tokenization") {
    val p = plan("q276_prox_stored")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      s"the positions scan must prune to the query terms' buckets:\n${p.take(2000)}")
    assert(!p.contains("regexp"),
      s"stored proximity must not re-tokenize the corpus:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k-cut must be a bounded top-k:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q204 incoming dedup: band-keyed probe, keyed verification, no cartesian") {
    // the gate's operator call materializes (serving sessions must not
    // leak the batch-shingle checkpoint — ADVICE r11), which hides the
    // join shapes behind a flat block scan; audit the LAZY component
    // instead (materialize = false, the round-10 loop-audit rule)
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", 5, 8)
    // signatures are per-document math: no shingle rows, no shuffle back
    // to the document
    val sp = sigs.queryExecution.executedPlan.toString
    assert(!sp.contains("Generate") && !sp.contains("hashpartitioning(doc_id"),
      s"signatures must not explode and regroup shingles:\n${sp.take(2000)}")
    val bands = graft.operators.Dedup.bandKeys(sigs, "doc_id", 8, 2)
    val batch = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" tm1 tm2")).as("text"))
    val p = graft.operators.Dedup.incomingNearDups(bands, docs, batch,
        "doc_id", "text", materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every join must be keyed:\n${p.take(2000)}")
    assert(p.contains("hashpartitioning(band") || p.contains("BroadcastHashJoin"),
      s"the candidate probe must join on (band, band_key):\n${p.take(2000)}")
    // verification shingles corpus rows only after the id-keyed semi-join
    assert(p.contains("LeftSemi"),
      s"corpus side must be cut to candidates before shingling:\n${p.take(2000)}")
  }

  test("q242 dhash: band-keyed joins only, no UDF, no cartesian") {
    val p = plan("q242_phash_neardup")
    assert(!p.contains("ScalaUDF"), "hashing must be pure column math")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must key on (band, key):\n${p.take(2000)}")
    assert(p.contains("hashpartitioning(band") ||
      p.contains("BroadcastHashJoin"),
      s"band-keyed candidate join expected:\n${p.take(2000)}")
  }

  test("q246 containment: keyed joins, doc-bounded window, no cartesian") {
    val p = plan("q246_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix probe and verification must be keyed:\n${p.take(2000)}")
    // the prefix rank is a doc-partitioned window, never a global sort
    assert(p.contains("Window") && !p.contains("Sort [__f"),
      s"prefix window must partition by doc:\n${p.take(2000)}")
  }

  test("bm25Weighted: term frame broadcasts, stats broadcast, no cartesian on data") {
    // audited standalone: the q240 gate collects its expansion terms at
    // construction time (the round-10 loop-audit rule), so the lazy
    // component is what gets the plan assert
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val p = graft.operators.TextAnalysis.bm25Weighted(
      docs, "doc_id", "text", Seq(("vector", 1.0), ("data", 0.5)))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the (term, w) frame must broadcast into the tf table:\n${p.take(2000)}")
    assert(!p.contains("ScalaUDF"), "scoring must be pure column math")
  }

  test("q287 vocab overlap: pair join is a token equi-join, sizes broadcast, no cartesian") {
    val p = plan("q287_vocab_overlap")
    assert(!p.contains("CartesianProduct"),
      s"the source-pair enumeration must ride the token equi-join:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the catalog-sized vocabulary counts must broadcast:\n${p.take(2000)}")
  }

  test("q288 dispersion: top-N/part-size/total frames broadcast, one sanctioned 1-row cross") {
    val p = plan("q288_dispersion")
    assert(p.contains("BroadcastHashJoin"),
      s"topN and part sizes must broadcast into the count table:\n${p.take(2000)}")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1,
      s"only the 1-row total may cross-join (got $bnl):\n${p.take(2000)}")
    assert(!p.contains("ScalaUDF"), "pure column math expected")
  }

  test("q293 MG heavy hitters: candidate recount is a broadcast semi-join") {
    val p = plan("q293_mg_heavyhitters")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded candidate set must broadcast into the recount:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q294 benford: digit catalog broadcasts, chi2 window keys on the group") {
    val p = plan("q294_benford")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 9-digit catalog must broadcast:\n${p.take(2000)}")
    assert("Exchange hashpartitioning\\(grp".r.findAllIn(p).nonEmpty,
      s"the chi2 window must key on the group:\n${p.take(2000)}")
    assert(!p.contains("ScalaUDF"), "pure column math expected")
  }

  test("q298 ppmi: pair explode is per-row HOF, totals broadcast, no cartesian") {
    val p = plan("q298_ppmi")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must never self-join:\n${p.take(2000)}")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 2, s"only the 1-row totals may cross (got $bnl)")
    assert(!p.contains("ScalaUDF"), "pure column math expected")
  }

  test("q292 stickiness: fan-out then aggs, day-keyed shuffles only, no cartesian") {
    val p = plan("q292_stickiness")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"stickiness must stay on keyed joins:\n${p.take(2000)}")
    assert(p.contains("Generate explode"),
      "the rolling window must be the explode fan-out")
  }

  test("q295 cusum: chunk catalog broadcasts, windows key on (grp, chunk)") {
    val p = plan("q295_cusum_drift")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded chunk catalog must broadcast:\n${p.take(2000)}")
    assert("windowspecdefinition\\(grp[#0-9]*, __chunk".r.findAllIn(p).nonEmpty,
      s"per-row windows must partition by (grp, chunk), never grp alone:\n${p.take(3000)}")
  }

  test("q302 byte entropy: pure per-row math — no hash shuffle, no window, no UDF") {
    val p = plan("q302_byte_entropy")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the histogram fold must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("ScalaUDF"))
  }

  test("q323 decayed counts: ONE events scan, map-side-combined single aggregation") {
    val p = plan("q323_decayed_counts")
    // the whole operator is one scan → partial agg → final agg: the
    // shape that amortizes at 100 TB (and the reason the stream twin
    // can run the identical body)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"exactly one events scan expected:\n${p.take(2000)}")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "map-side combine expected")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no join belongs in this plan")
    assert(unboundedWindows(p).isEmpty, "no rank window belongs here")
  }

  test("q326 semantic decon: broadcast eval queries, map-side max-struct top-1, no corpus sort") {
    val p = plan("q326_semantic_decon")
    // the eval-query side (tiny) broadcasts into the single train scan;
    // the top-1 cut is max(struct(rounded score, -id)) with partial
    // aggregation — ONE struct per query per partition ever shuffles
    // (tighter than a k=1 heap), and the rank-on-rounded doctrine holds
    // at the cut (raw-cosine ulps never decide the neighbor)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval queries must broadcast:\n${p.take(2000)}")
    assert(p.contains("partial_max"),
      "map-side partial max expected")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join belongs on the vector path")
    assert(unboundedWindows(p).isEmpty,
      "the top-1 cut must never be an unbounded rank window")
  }

  test("q327 ANN decon: ONE codes-only ADC scan, pruned cells, bounded heap, no unbounded window") {
    // the decon screen must never read the float corpus: ONE scan reads
    // pq_code (no embedding) pruned to the probed-cell union; floats are
    // touched only by the shortlist-bounded cosine rerank; the shortlist
    // cut is the bounded heap and the top-1 a partial max
    val df = graft.SparkEntry.queries("q327_decon_ann")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val codeScans = "ReadSchema: struct<[^>]*pq_code[^>]*>".r.findAllIn(p)
      .toSeq
    assert(codeScans.size == 1 && !codeScans.exists(_.contains("embedding")),
      s"expected ONE codes-only ADC scan, got $codeScans:\n${p.take(2000)}")
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(p).isDefined,
      s"the ADC scan must prune to the probed-cell partitions:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate"),
      "the shortlist cut must be the bounded heap aggregator")
    assert(p.contains("partial_max"),
      "the top-1 cut must be a map-side partial max")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"broadcast-only joins expected:\n${p.take(2000)}")
    assert(unboundedWindows(p).isEmpty,
      s"window(s) fed by an unbounded read: ${unboundedWindows(p)}")
  }

  test("q333 threshold sweep: broadcast grid + eval queries, map-side partial aggregation, no corpus sort") {
    val p = plan("q333_decon_threshold_sweep")
    // both small sides (eval queries, the 16-row threshold grid)
    // broadcast into the single train scan; the top-1 and the confusion
    // counts are partial aggregations — nothing corpus-sized sorts
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval queries + grid must broadcast:\n${p.take(2000)}")
    assert(p.contains("partial_max") && p.contains("partial_sum"),
      "map-side partial max + sums expected")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "broadcast-only joins expected")
    assert(unboundedWindows(p).isEmpty,
      "no rank window belongs in the sweep")
  }

  test("q329 2-step funnel: user-keyed joins + bucket-grain agg, no window, no cartesian") {
    val p = plan("q329_funnel2_latency")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(unboundedWindows(p).isEmpty,
      "the funnel chain is joins + aggs — no corpus-wide window")
    // every hash exchange keys on the user chain or the final bucket —
    // no round-robin repartition sneaks in
    assert(!p.contains("REPARTITION_BY_NUM"), p.take(2000))
  }

  test("q146 url canon: canonicalization runs scan-side, no UDF, no pre-agg shuffle") {
    val p = plan("q146_url_canon")
    assert(!p.contains("ScalaUDF"), "pure column math expected")
    // canonicalization itself must add no shuffle: every hash exchange
    // belongs to the final count/count-distinct aggregation, i.e. keys
    // on the canonical string
    val exchanges = "Exchange hashpartitioning\\(canon".r.findAllIn(p).size
    val allHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(allHash >= 1 && exchanges == allHash,
      s"every shuffle must key on canon (agg-only), got $exchanges/$allHash:\n${p.take(2000)}")
  }
}
