package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The managed split lifecycle (r15 verdict item 1 — splits as a
  * first-class capability, not just an API):
  *
  *  - SPLIT builds the (id, rep, split) sidecar under the generation
  *    pointer; no near-dup pair ever straddles a split (the
  *    leakageSafeSplit invariant through the managed surface);
  *  - ROUTE commits routed arrivals BACK into the sidecar, so
  *    inheritance is TRANSITIVE — a second-generation arrival that
  *    near-dups only a ROUTED arrival inherits ITS placement;
  *  - splits are write-once per id (a re-route refuses loudly);
  *  - a crash between segment write and marker leaves an orphan the
  *    readers never see; a re-SPLIT atomically supersedes every ROUTE;
  *  - insert=false commits the assignment without admitting the batch.
  */
class SplitLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // distinctive long texts: every doc clears the 5-token shingle floor,
  // and the two "dup" docs share their full text (jaccard 1.0)
  private val corpusDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "red orange yellow green blue indigo violet cyan magenta white"))

  private def db(): GraftDatabase = {
    val parent = Files.createTempDirectory("graft_splits").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType))))
    d.bulkInsert("docs", corpusDocs.toDF("id", "payload"))
    d.reindexMinhash("docs", buckets = 4)
    d
  }

  test("SPLIT: sidecar committed, summary matches assignments, no near-dup pair straddles") {
    val d = db()
    val summary = d.buildSplits("docs")
      .as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(summary.values.map(_._1).sum == corpusDocs.size.toLong)
    val assign = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(assign.size == corpusDocs.size)
    // docs 1 and 2 are exact dups: one cluster, one split, min-id rep
    assert(assign(1L)._2 == 1L && assign(2L)._2 == 1L)
    assert(assign(1L)._3 == assign(2L)._3)
    // the sidecar shows up in the artifact inventory
    assert(d.listIndexes("docs").as[(String, String)].collect()
      .contains(("splits", "live")))
  }

  test("ROUTE: transitive inheritance through a committed routed arrival") {
    val d = db()
    d.buildSplits("docs")
    // batch 1: NEW content (matches nothing) → own-id fallback, committed
    val b1 = Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
      .toDF("id", "payload")
    val r1 = d.routeArrivals("docs", b1)
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r1._2 == 100L && r1._4 == 0L, s"batch 1 must fall back: $r1")
    // batch 2: an exact copy of the ROUTED arrival (and of nothing else)
    val b2 = Seq((200L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
      .toDF("id", "payload")
    val r2 = d.routeArrivals("docs", b2)
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r2._2 == 100L && r2._3 == r1._3 && r2._4 == 1L,
      s"batch 2 must inherit the ROUTED arrival's placement: $r2 vs $r1")
    // both commits are visible in the assignment table
    val assign = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(assign.contains(100L) && assign.contains(200L))
    assert(assign(200L)._3 == assign(100L)._3)
  }

  test("splits are write-once per id: a re-route refuses loudly") {
    val d = db()
    d.buildSplits("docs")
    val b = Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
      .toDF("id", "payload")
    d.routeArrivals("docs", b).collect()
    val e = intercept[IllegalArgumentException] {
      d.routeArrivals("docs", b.withColumn("payload", lit("other text")))
    }
    assert(e.getMessage.contains("write-once"), e.getMessage)
    // a CORPUS id collides too (SPLIT placed it)
    assert(intercept[IllegalArgumentException] {
      d.routeArrivals("docs", Seq((1L, "x y z w v u t s r q"))
        .toDF("id", "payload"))
    }.getMessage.contains("write-once"))
  }

  test("crash window: an unmarked routed segment is invisible; re-SPLIT supersedes all routes") {
    val d = db()
    d.buildSplits("docs")
    d.routeArrivals("docs",
      Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
        .toDF("id", "payload")).collect()
    assert(d.splitAssignments("docs").count() == corpusDocs.size + 1L)
    // simulate a crash between segment write and marker: data, no .done
    val genDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d.root, "graft_splits_docs"), "gen_0")
    Seq((999L, 999L, "train")).toDF("id", "rep", "split")
      .write.mode("overwrite").parquet(
        new org.apache.hadoop.fs.Path(genDir, "routed_7").toString)
    assert(d.splitAssignments("docs").filter(col("id") === 999L).count() == 0,
      "an unmarked segment must never be read")
    // a rebuild supersedes the base AND every routed segment: the batch-1
    // arrival (inserted into the collection) is re-placed by the rebuild,
    // and no routed segment survives
    d.buildSplits("docs")
    val after = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().map(_._1).toSet
    assert(after == (corpusDocs.map(_._1).toSet + 100L))
    // the next route starts from segment 0 of the NEW generation
    d.routeArrivals("docs",
      Seq((300L, "aaa bbb ccc ddd eee fff ggg hhh iii jjj"))
        .toDF("id", "payload")).collect()
    assert(d.splitAssignments("docs").filter(col("id") === 300L).count() == 1)
  }

  test("embedding family: SPLIT by=embedding + transitive ROUTE through the layout-aware append") {
    val parent = Files.createTempDirectory("graft_esplits").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("vecs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    // two exact-dup corpus vectors (one cluster) + two singletons
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    d.bulkInsert("vecs", Seq(
      (1L, v(1, 0.2, 0.1, 0.3, -0.2, 0.5, 0.1, 0.4)),
      (2L, v(1, 0.2, 0.1, 0.3, -0.2, 0.5, 0.1, 0.4)),
      (3L, v(-1, 0.9, -0.4, 0.2, 0.8, -0.3, 0.6, -0.7)),
      (4L, v(0.1, -0.8, 0.7, -0.5, 0.3, 0.2, -0.9, 0.6)))
      .toDF("id", "embedding"))
    d.reindex("vecs", nBits = 8)
    val summary = d.buildSplitsEmbedding("vecs")
      .as[(String, Long, Long)].collect()
    assert(summary.map(_._2).sum == 4L)
    val assign = d.splitAssignments("vecs")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(assign(1L)._2 == 1L && assign(2L)._2 == 1L &&
      assign(1L)._3 == assign(2L)._3, "exact dups share cluster + split")
    // batch 1: a NEW vector (near nothing) → own-id fallback, admitted
    // through the layout-aware append (sign bucket assigned in the write)
    val nv = v(-0.3, -0.6, -0.1, -0.9, -0.4, -0.2, -0.8, -0.5)
    val r1 = d.routeArrivalsEmbedding("vecs",
        Seq((100L, nv)).toDF("id", "embedding"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r1._2 == 100L && r1._4 == 0L, r1.toString)
    // plan pin: the screen's stored-side scan is PRUNED to the arrival
    // buckets (partition filters on cluster_id — never a full corpus
    // scan) and carries no cartesian
    val screenPlan = d.lastRouteScreenPlan.get
    assert("PartitionFilters: \\[[^\\]]*cluster_id"
        .r.findFirstIn(screenPlan).isDefined,
      s"the embedding screen must prune to arrival buckets:\n" +
        screenPlan.take(2000))
    assert(!screenPlan.contains("CartesianProduct"), screenPlan.take(2000))
    // batch 2: an exact copy of the ROUTED arrival — matched through the
    // appended row's sign bucket, no refresh step on this family
    val r2 = d.routeArrivalsEmbedding("vecs",
        Seq((200L, nv)).toDF("id", "embedding"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r2._2 == 100L && r2._3 == r1._3 && r2._4 == 1L,
      s"batch 2 must inherit the routed arrival's placement: $r2 vs $r1")
    // a copy of a CORPUS vector inherits the corpus cluster, min-rep
    val r3 = d.routeArrivalsEmbedding("vecs",
        Seq((300L, v(1, 0.2, 0.1, 0.3, -0.2, 0.5, 0.1, 0.4)))
          .toDF("id", "embedding"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r3._2 == 1L && r3._3 == assign(1L)._3 && r3._4 >= 2L,
      r3.toString)
    // an unindexed collection refuses: the screen must never full-scan
    val d2 = GraftDatabase.create(spark, parent, "db2")
    d2.createCollection("flat", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    d2.bulkInsert("flat", Seq((1L, nv)).toDF("id", "embedding"))
    d2.buildSplitsEmbedding("flat")
    assert(intercept[IllegalArgumentException] {
      d2.routeArrivalsEmbedding("flat", Seq((9L, nv)).toDF("id", "embedding"))
    }.getMessage.contains("sign-bucket layout"))
  }

  test("winsig family: SPLIT by=winsig + transitive ROUTE through the refreshed signature table") {
    val parent = Files.createTempDirectory("graft_wsplits").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType))))
    val shared = (1 to 15).map(i => s"w$i").mkString(" ")
    d.bulkInsert("docs", Seq(
      (1L, shared + " alpha"),
      (2L, "intro " + shared),
      (3L, "unrelated " + (1 to 15).map(i => s"x$i").mkString(" ")))
      .toDF("id", "payload"))
    d.reindexWinsig("docs", minTokens = 15)
    val summary = d.buildSplitsWinsig("docs")
      .as[(String, Long, Long)].collect()
    assert(summary.map(_._2).sum == 3L)
    val assign = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(assign(1L)._2 == 1L && assign(2L)._2 == 1L &&
      assign(1L)._3 == assign(2L)._3,
      "docs sharing a 15-token window must share cluster + split")
    // batch 1: novel passage → own-id fallback, admitted + artifact
    // refreshed (the winsig family's admission step)
    val novel = (1 to 15).map(i => s"n$i").mkString(" ")
    val r1 = d.routeArrivalsWinsig("docs",
        Seq((100L, novel)).toDF("id", "payload"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r1._2 == 100L && r1._4 == 0L, r1.toString)
    // plan pin: the screen probes the STORED signature artifact pruned
    // to the batch's own sig_bucket partitions, no cartesian
    val plan = d.lastRouteScreenPlan.get
    assert("PartitionFilters: \\[[^\\]]*sig_bucket"
      .r.findFirstIn(plan).isDefined, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // batch 2: carries batch 1's window verbatim → inherits the ROUTED
    // placement through the REFRESHED signature table
    val r2 = d.routeArrivalsWinsig("docs",
        Seq((200L, novel + " tail")).toDF("id", "payload"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r2._2 == 100L && r2._3 == r1._3 && r2._4 == 1L,
      s"batch 2 must inherit the routed arrival's placement: $r2 vs $r1")
    // width drift between sidecar and artifact refuses
    d.reindexWinsig("docs", minTokens = 10)
    assert(intercept[IllegalArgumentException] {
      d.routeArrivalsWinsig("docs",
        Seq((300L, novel + " x")).toDF("id", "payload"))
    }.getMessage.contains("pins min_tokens=15"))
    // cross-family: a minhash-built sidecar refuses this router
    val dm = db()
    dm.buildSplits("docs")
    assert(intercept[IllegalArgumentException] {
      dm.routeArrivalsWinsig("docs",
        Seq((900L, novel)).toDF("id", "payload"))
    }.getMessage.contains("built by=minhash"))
  }

  test("dhash family: SPLIT by=dhash + ROUTE inherits through appended band rows") {
    val parent = Files.createTempDirectory("graft_dsplits").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("imgs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("media",
        org.apache.spark.sql.types.BinaryType))))
    def media(scene: Long, variant: Long) =
      graft.operators.Multimodal.sceneGridPayload(lit(scene), lit(variant))
    def batchDf(id: Long, scene: Long, variant: Long) =
      Seq(id).toDF("id").select(col("id"),
        media(scene, variant).as("media"))
    // ids 1 and 201 share scene 1 (perceptual near-dups); 2 and 3 are
    // their own scenes
    d.bulkInsert("imgs", Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"),
        when(col("id") === 1L, media(1L, 1L))
          .when(col("id") === 2L, media(2L, 2L))
          .otherwise(media(3L, 3L)).as("media")))
    d.bulkInsert("imgs", batchDf(201L, 1L, 4L))
    d.reindexDhash("imgs")
    d.buildSplitsDhash("imgs")
    val assign = d.splitAssignments("imgs")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(assign(1L)._2 == 1L && assign(201L)._2 == 1L &&
      assign(1L)._3 == assign(201L)._3,
      s"same-scene images must share cluster + split: $assign")
    // batch 1: a NEW scene → own-id fallback
    val r1 = d.routeArrivalsDhash("imgs", batchDf(500L, 100L, 500L))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r1._2 == 500L && r1._4 == 0L, r1.toString)
    // plan pin: the screen probes the STORED band artifact pruned to
    // the batch's own key_bucket partitions, no cartesian
    val plan = d.lastRouteScreenPlan.get
    assert("PartitionFilters: \\[[^\\]]*key_bucket"
      .r.findFirstIn(plan).isDefined, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // batch 2: same scene, shifted variant → inherits batch 1's ROUTED
    // placement through the APPENDED band rows (no rebuild — the
    // artifact stayed live)
    val r2 = d.routeArrivalsDhash("imgs", batchDf(600L, 100L, 600L))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r2._2 == 500L && r2._3 == r1._3 && r2._4 == 1L,
      s"batch 2 must inherit through the appended bands: $r2 vs $r1")
    // cross-family refusal
    assert(intercept[IllegalArgumentException] {
      d.routeArrivalsWinsig("imgs",
        Seq((900L, "a b")).toDF("id", "payload"))
    }.getMessage.contains("built by=dhash"))
  }

  test("segment hygiene: stats surfaces the routed-segment count; ROUTE auto-compacts past the threshold") {
    val d = db()
    d.buildSplits("docs")
    def segs(): Long = d.splitStats("docs")
      .select("n_segments").distinct().as[Long].collect().head
    assert(segs() == 0L)
    // a dry run commits nothing — the count must not move
    d.routeArrivals("docs",
      Seq((99L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10")).toDF("id", "payload"),
      dryRun = true).collect()
    assert(segs() == 0L, "dryRun must not commit a segment")
    assert(d.splitAssignments("docs").filter(col("id") === 99L).count() == 0L)
    d.routeArrivals("docs",
      Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
        .toDF("id", "payload")).collect()
    assert(segs() == 1L)
    spark.conf.set("spark.graft.splits.autoCompactSegments", "2")
    try {
      d.routeArrivals("docs",
        Seq((101L, "aa bb cc dd ee ff gg hh ii jj")).toDF("id", "payload"))
        .collect()
      assert(segs() == 2L, "at the threshold nothing folds yet")
      val before = d.splitAssignments("docs")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      d.routeArrivals("docs",
        Seq((102L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10")).toDF("id", "payload"))
        .collect()
      // past the threshold the commit auto-compacted: fresh generation,
      // zero segments, values (incl. the just-committed batch) unchanged
      assert(segs() == 0L, "auto-compact must fold past the threshold")
      val after = d.splitAssignments("docs")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(after.filterNot(r => r._1 == 102L) == before,
        "auto-compaction must be content-preserving")
      assert(after.exists(_._1 == 102L),
        "the compacted generation must carry the triggering batch")
    } finally spark.conf.unset("spark.graft.splits.autoCompactSegments")
  }

  test("an id inserted outside ROUTE after SPLIT refuses admission (duplicate-id guard)") {
    val d = db()
    d.buildSplits("docs")
    // a row lands via plain BULKINSERT after the split was built — it
    // has NO assignment row, so the old check missed it and insert=true
    // would have appended a duplicate id into the collection
    d.bulkInsert("docs",
      Seq((500L, "kk ll mm nn oo pp qq rr ss tt")).toDF("id", "payload"))
    assert(intercept[IllegalArgumentException] {
      d.routeArrivals("docs",
        Seq((500L, "kk ll mm nn oo pp qq rr ss tt")).toDF("id", "payload"))
    }.getMessage.contains("without a split row"))
    // insert=false is assignment-only: the same id routes fine (it
    // ASSIGNS the already-present row without re-inserting it)
    val r = d.routeArrivals("docs",
        Seq((500L, "kk ll mm nn oo pp qq rr ss tt")).toDF("id", "payload"),
        insert = false)
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r._1 == 500L)
    assert(d.read("docs").filter(col("id") === 500L).count() == 1L,
      "assignment-only routing must not duplicate the row")
  }

  test("a stray non-numeric routed_*.done file is tolerated, not a brick") {
    val d = db()
    d.buildSplits("docs")
    d.routeArrivals("docs",
      Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
        .toDF("id", "payload")).collect()
    // a stray file in the generation dir must not NumberFormatException
    // the assignment read (ROUTE, EXPORT split=, stats all sit on it)
    val genDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d.root, "graft_splits_docs"), "gen_0")
    val fs = genDir.getFileSystem(spark.sessionState.newHadoopConf())
    val stray = new org.apache.hadoop.fs.Path(genDir, "routed_tmp.done")
    val os = fs.create(stray); os.close()
    assert(d.splitAssignments("docs").filter(col("id") === 100L)
      .count() == 1L)
    d.routeArrivals("docs",
      Seq((101L, "aa bb cc dd ee ff gg hh ii jj")).toDF("id", "payload"))
      .collect()
    assert(d.splitAssignments("docs").filter(col("id") === 101L)
      .count() == 1L)
  }

  test("past the broadcast cap an arrival batch joins plain on the bucket key (no pinned broadcast)") {
    val parent = Files.createTempDirectory("graft_bigroute").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("vecs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    d.bulkInsert("vecs", Seq(
      (1L, v(1, 0.2, 0.1, 0.3, -0.2, 0.5, 0.1, 0.4)),
      (2L, v(-1, 0.9, -0.4, 0.2, 0.8, -0.3, 0.6, -0.7)))
      .toDF("id", "embedding"))
    d.reindex("vecs", nBits = 8)
    d.buildSplitsEmbedding("vecs")
    val nv = v(-0.3, -0.6, -0.1, -0.9, -0.4, -0.2, -0.8, -0.5)
    // broadcastMaxRows = 0 models the crawl-day batch (the cap is a row
    // count — forcing it beats generating 65k rows in a unit spec)
    val r = d.routeArrivalsEmbedding("vecs",
        Seq((100L, nv)).toDF("id", "embedding"), broadcastMaxRows = 0L)
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r._2 == 100L && r._4 == 0L, r.toString)
    val plan = d.lastRouteScreenPlan.get
    // the stored-vs-arrival join must NOT pin a broadcast of the batch:
    // statically it plans as a shuffle join (AQE may still pick
    // broadcast at runtime for genuinely tiny batches — the cap removes
    // the PIN, which is what OOMs the driver at crawl-day size). The
    // one remaining pinned broadcast is okB (≤ 2^bits hot-bucket rows).
    assert("SortMergeJoin|ShuffledHashJoin".r.findFirstIn(plan).isDefined,
      s"past the cap the arrival join must plan as a shuffle join:\n" +
        plan.take(2000))
    assert("BroadcastExchange".r.findAllIn(plan).size <= 1,
      s"only the hot-bucket frame may stay pinned broadcast:\n" +
        plan.take(2000))
    // the pruned-scan property is join-strategy independent
    assert("PartitionFilters: \\[[^\\]]*cluster_id"
      .r.findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("SPLIT mode=compact: base + routed segments fold into one generation, values unchanged") {
    val d = db()
    d.buildSplits("docs")
    d.routeArrivals("docs",
      Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
        .toDF("id", "payload")).collect()
    d.routeArrivals("docs",
      Seq((101L, "aaa bbb ccc ddd eee fff ggg hhh iii jjj"))
        .toDF("id", "payload")).collect()
    val before = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    d.compactSplits("docs")
    val after = d.splitAssignments("docs")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(after == before, "compaction must be content-preserving")
    // the new generation carries NO routed segments — the next route
    // starts from segment 0 and everything keeps composing
    val genDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d.root, "graft_splits_docs"), "gen_1")
    val fs = genDir.getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.exists(genDir), "compaction must flip to gen_1")
    assert(!fs.listStatus(genDir).exists(
      _.getPath.getName.startsWith("routed_")))
    d.routeArrivals("docs",
      Seq((102L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"))
        .toDF("id", "payload")).collect()
    assert(d.splitAssignments("docs").count() == before.size + 1L)
  }

  test("ROUTE fails ATOMICALLY on an unadmittable batch: nothing committed, corrected batch accepted") {
    val parent = Files.createTempDirectory("graft_splits_adm").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType))))
    d.bulkInsert("docs", corpusDocs.map { case (i, t) => (i, t, "web") }
      .toDF("id", "payload", "source"))
    d.reindexMinhash("docs", buckets = 4)
    d.buildSplits("docs")
    val n0 = d.splitAssignments("docs").count()
    // batch missing the declared 'source' column: the admission
    // pre-check must fire BEFORE the sidecar commit — otherwise the
    // write-once rule would refuse the corrected batch forever
    val e = intercept[IllegalArgumentException] {
      d.routeArrivals("docs",
        Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
          .toDF("id", "payload"))
    }
    assert(e.getMessage.contains("missing column source"), e.getMessage)
    assert(d.splitAssignments("docs").count() == n0,
      "a failed admission must commit nothing")
    // the corrected batch routes fine (no write-once refusal)
    val r = d.routeArrivals("docs",
        Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib", "web"))
          .toDF("id", "payload", "source"))
      .collect()
    assert(r.length == 1)
    // ... and a batch with a DOUBLED id refuses before committing
    assert(intercept[IllegalArgumentException] {
      d.routeArrivals("docs",
        Seq((200L, "a b c d e f g h i j", "web"),
          (200L, "a b c d e f g h i j", "web"))
          .toDF("id", "payload", "source"))
    }.getMessage.contains("more than once in the batch"))
    assert(d.splitAssignments("docs")
      .filter(col("id") === 200L).count() == 0)
  }

  test("SPLIT leaves no persisted RDD behind (the components checkpoint is freed)") {
    val d = db()
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    d.buildSplits("docs").collect()
    assert(sc.getPersistentRDDs.isEmpty,
      s"SPLIT leaked: ${sc.getPersistentRDDs.values.map(_.toDebugString).toList}")
    // and the freed components were really consumed: the sidecar reads back
    assert(d.splitAssignments("docs").count() == corpusDocs.size.toLong)
  }

  test("a ROUTE screen that throws cancels the in-flight admission check") {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val d = db()
    d.buildSplits("docs")
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(d.RouteCheckGroupPrefix))
          .foreach(g => started.put(e.jobId, g))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      // the check reads only the ids — slow ones, ~6 s of work in one
      // task — while the screen's first read of the payload raises
      val slowId = udf { (i: Long) => Thread.sleep(100); i }
      val batch = spark.range(0, 60, 1, 1)
        .select(slowId(col("id") + 1000L).as("id"))
        .withColumn("payload", when(col("id") >= 0L,
          raise_error(lit("screen failure"))).cast("string"))
      val e = intercept[Exception](d.routeArrivals("docs", batch, insert = false))
      assert(e.getMessage.contains("screen failure"), e.getMessage)
      org.apache.spark.TestContextShims.drainListenerBus(sc)
      val groups = started.values.asScala.toSet
      assert(groups.size == 1, s"one admission-check group expected: $groups")
      val jobs = sc.statusTracker.getJobIdsForGroup(groups.head)
      assert(jobs.nonEmpty)
      jobs.foreach { j =>
        assert(!sc.statusTracker.getJobInfo(j).exists(
          _.status == org.apache.spark.JobExecutionStatus.RUNNING),
          s"admission-check job $j still running after the throw")
        assert(ended.containsKey(j), s"admission-check job $j never ended")
      }
      // the check's short stages may finish first; its slow one must not
      assert(jobs.exists(j => ended.get(j) != JobSucceeded),
        "the admission check ran to completion instead of being cancelled")
      assert(d.splitAssignments("docs").count() == corpusDocs.size.toLong,
        "a failed screen must commit nothing")
    } finally sc.removeSparkListener(listener)
  }

  test("md5-kmeans layout: appends assign by the SAME rounded rule the training used") {
    val parent = Files.createTempDirectory("graft_md5app").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("vecs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    val src = graft.Tables.embeddings(spark, graft.TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    d.bulkInsert("vecs", src.filter(col("id") < 400))
    d.reindexKMeansMd5("vecs", k = 4, rounds = 1)
    // append rows the training never saw; their stored cluster_id must
    // equal the rounded assignCodes rule (an oracle-replayable cell),
    // NOT the raw-argmin rule the MLlib layout uses
    d.bulkInsert("vecs", src.filter(col("id") >= 400))
    val appended = d.read("vecs").filter(col("id") >= 400)
      .select(col("id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(appended.nonEmpty)
    // expected: the deterministic training replayed on the SAME
    // pre-append slice (seed/rounds = the reindex call's), then the
    // rounded assignCodes rule — exactly what an oracle would compute
    val expect = {
      import graft.operators.ProductQuantization
      val cb = ProductQuantization.trainCodebooks(
        src.filter(col("id") < 400), "id", "embedding",
        m = 1, ksub = 4, rounds = 1, seed = "ivf")
      ProductQuantization.assignCodes(
          src.filter(col("id") >= 400), "embedding", cb, "__c")
        .select(col("id"),
          (org.apache.spark.sql.functions.element_at(col("__c"), 1) - 1)
            .cast("int").as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(appended == expect,
      "appended rows must land in the rounded-rule cells")
    // UPDATE keeps the rule too (its kmeans re-assign shares the
    // trainer-aware dispatch): rewrite row 0 with row 450's vector and
    // it must land in 450's (rounded-rule) cell
    val v450 = src.filter(col("id") === 450).select("embedding")
      .collect().head.getSeq[Float](0)
    d.update("vecs", Seq((0L, v450.toArray)).toDF("id", "embedding"))
    val c0 = d.read("vecs").filter(col("id") === 0L)
      .select("cluster_id").collect().head.getInt(0)
    assert(c0 == expect(450L),
      s"updated row must follow the rounded rule: $c0 vs ${expect(450L)}")
  }

  test("edge-family and bit-width pins: cross-family ROUTE refuses; layout drift refuses; compact carries pins") {
    // minhash-built sidecar refuses the embedding router
    val dm = db()
    dm.buildSplits("docs")
    assert(intercept[IllegalArgumentException] {
      dm.routeArrivalsEmbedding("docs",
        Seq((900L, Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)))
          .toDF("id", "embedding"))
    }.getMessage.contains("built by=minhash"))
    // embedding-built sidecar refuses the minhash router
    val parent = Files.createTempDirectory("graft_fam").toString
    val de = GraftDatabase.create(spark, parent, "db")
    de.createCollection("vecs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    de.bulkInsert("vecs", Seq(
      (1L, Array(1f, 0.2f, 0.1f, 0.3f, -0.2f, 0.5f, 0.1f, 0.4f)),
      (2L, Array(-1f, 0.9f, -0.4f, 0.2f, 0.8f, -0.3f, 0.6f, -0.7f)))
      .toDF("id", "embedding"))
    de.reindex("vecs", nBits = 8)
    de.buildSplitsEmbedding("vecs") // adopts the stored 8 bits
    assert(intercept[IllegalArgumentException] {
      de.routeArrivals("vecs", Seq((9L, "some payload text here now ok"))
        .toDF("id", "payload"))
    }.getMessage.contains("built by=embedding"))
    // an explicit mismatching width refuses at SPLIT time
    assert(intercept[IllegalArgumentException] {
      de.buildSplitsEmbedding("vecs", nBits = 4)
    }.getMessage.contains("stored sign layout"))
    // layout drift between SPLIT and ROUTE refuses at ROUTE time
    de.reindex("vecs", nBits = 4)
    assert(intercept[IllegalArgumentException] {
      de.routeArrivalsEmbedding("vecs",
        Seq((9L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
          .toDF("id", "embedding"))
    }.getMessage.contains("built at 8 sign bits"))
    // restore the layout; compaction carries the pins and routing works
    de.reindex("vecs", nBits = 8)
    de.compactSplits("vecs")
    val r = de.routeArrivalsEmbedding("vecs",
        Seq((9L, Array(0.3f, -0.6f, 0.1f, -0.9f, 0.4f, -0.2f, 0.8f, -0.5f)))
          .toDF("id", "embedding"))
      .collect()
    assert(r.length == 1)
  }

  test("insert=false: assignment committed, batch NOT admitted") {
    val d = db()
    d.buildSplits("docs")
    d.routeArrivals("docs",
      Seq((100L, "zork quux fnord blarg wibble wobble flib glorp snark quib"))
        .toDF("id", "payload"), insert = false).collect()
    assert(d.splitAssignments("docs").filter(col("id") === 100L).count() == 1)
    assert(d.read("docs").filter(col("id") === 100L).count() == 0)
    // ROUTE before SPLIT is loud
    val d2 = db()
    assert(intercept[IllegalArgumentException] {
      d2.routeArrivals("docs", Seq((1L, "x")).toDF("id", "payload"))
    }.getMessage.contains("run SPLIT before ROUTE"))
  }

  test("compaction keeps every family pin: ROUTE still windows at min_tokens and screens at max_hamming") {
    import org.apache.spark.sql.types._
    def splitsMeta(d: GraftDatabase, coll: String): ArtifactMeta =
      ArtifactMeta.parse(new String(Files.readAllBytes(java.nio.file.Paths
        .get(d.root.toUri.getPath, s"graft_splits_$coll", "meta.json")), "UTF-8"))
    val parent = Files.createTempDirectory("graft_pins").toString
    val d = GraftDatabase.create(spark, parent, "db")
    // winsig at a non-default width
    d.createCollection("docs", StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    val shared = (1 to 20).map(i => s"w$i")
    d.bulkInsert("docs", Seq(
      (1L, shared.mkString(" ") + " alpha"),
      (2L, "intro " + shared.mkString(" ")),
      (3L, (1 to 20).map(i => s"x$i").mkString(" "))).toDF("id", "payload"))
    d.reindexWinsig("docs", minTokens = 20)
    d.buildSplitsWinsig("docs", minTokens = 20)
    d.compactSplits("docs")
    assert(splitsMeta(d, "docs").int("min_tokens").contains(20))
    // 17 shared tokens: a match at width 15, none at the pinned 20
    val r1 = d.routeArrivalsWinsig("docs",
        Seq((100L, shared.take(17).mkString(" ") + " tail")).toDF("id", "payload"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r1._2 == 100L && r1._4 == 0L, r1.toString)
    // the full 20-token window inherits
    val r2 = d.routeArrivalsWinsig("docs",
        Seq((101L, "head " + shared.mkString(" "))).toDF("id", "payload"))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r2._2 == 1L && r2._4 >= 1L, r2.toString)

    // dhash at a tighter radius: grids are the payload (2-byte magic +
    // 7x9 cells); the arrival flips exactly 5 of row 0's 8 gradient bits
    def grid(px: (Int, Int) => Int): String = "0000" +
      (for (i <- 0 until 7; j <- 0 until 9) yield f"${px(i, j)}%02x").mkString
    val base = grid((i, j) => 10 * j + i)
    val other = grid((i, j) => 200 - 10 * j + i) // every gradient reversed
    val row0 = Seq(200, 190, 180, 170, 160, 150, 160, 170, 180)
    val arrival = grid((i, j) => if (i == 0) row0(j) else 10 * j + i)
    def media(rows: Seq[(Long, String)]) = rows.toDF("id", "hex")
      .select(col("id"), unhex(col("hex")).as("media"))
    d.createCollection("imgs", StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType))))
    d.bulkInsert("imgs", media(Seq((1L, base), (2L, other))))
    assert(d.screenImages("imgs", media(Seq((9L, arrival))))
      .as[(Long, Long, Long)].collect().toSeq == Seq((9L, 1L, 5L)),
      "the arrival sits 5 bits from doc 1: a match at the default radius 6")
    d.reindexDhash("imgs")
    d.buildSplitsDhash("imgs", maxHamming = 3)
    d.compactSplits("imgs")
    assert(splitsMeta(d, "imgs").int("max_hamming").contains(3))
    val r3 = d.routeArrivalsDhash("imgs", media(Seq((300L, arrival))))
      .as[(Long, Long, String, Long, Long)].collect().head
    assert(r3._2 == 300L && r3._4 == 0L,
      s"ROUTE must screen at the pinned radius 3: $r3")
  }
}
