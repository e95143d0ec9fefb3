package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestContextShims
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.commands.{CommandExecutor, CommandParser}
import graft.model.VectorRecord

/** The serving paths' fixed per-command overhead: how many Spark jobs a
  * command launches (a collection read launches none) and that the
  * job-free collection read resolves exactly the schema Spark's own
  * inference would.
  */
class ServingPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDb(): GraftDatabase =
    GraftDatabase.create(spark,
      Files.createTempDirectory("graft_serving").toString, "db")

  private val words = Seq("vector", "data", "merge", "index", "probe",
    "shard", "query", "token")

  /** `n` records with 8-d vectors spread over every sign cell. */
  private def records(n: Int, from: Int = 0): DataFrame =
    (from until from + n).map { i =>
      val v = Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat)
      VectorRecord(i.toLong, v,
        (0 until 6).map(j => words((i * 3 + j * 5) % words.size)).mkString(" ") +
          s" rare$i")
    }.toDF()

  /** Jobs started while `body` runs, counted once the listener bus drained. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    TestContextShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestContextShims.drainListenerBus(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def command(db: GraftDatabase, cmd: String, arg: String): DataFrame =
    CommandExecutor.execute(db, CommandParser.parse(Some("docs"), cmd, Some(arg))
      .fold(e => fail(e.message), identity))

  test("serving commands: job budget on an indexed, quantized collection with live postings") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(400))
    db.reindex("docs", nBits = 4)
    db.quantize("docs")
    db.reindexPostings("docs")
    assert(db.listIndexes("docs").filter($"state" === "stale").isEmpty)
    val vec = records(1, 77).select("embedding").head().getSeq[Float](0)
      .map(x => x + 0.01f).mkString(",")
    def run(cmd: String, arg: String): (DataFrame, Int) = jobsOf {
      val df = command(db, cmd, arg)
      df.collect()
      df
    }
    // warm once: the first command of a session may compile and plan more
    run("SEARCHSIMILAR", s"k=10;vec=$vec")

    val (ann, annJobs) =
      run("SEARCHSIMILAR", s"k=10;radius=1;shortlist=100;vec=$vec")
    assert(ann.count() == 10)
    val (text, textJobs) = run("SEARCHTEXT", "terms=vector,probe,rare77;k=10")
    val counts = Map(
      "read" -> jobsOf(db.read("docs"))._2,
      "exact SEARCHSIMILAR" -> run("SEARCHSIMILAR", s"k=10;vec=$vec")._2,
      "SEARCH" -> run("SEARCH", "id IN (3, 5, 8) AND id % 2 = 1")._2,
      "SQ8 ANN SEARCHSIMILAR" -> annJobs,
      "stored SEARCHTEXT" -> textJobs)
    // a read plans only; exact and SEARCH are one scan each; the ANN is
    // its shortlist job plus the rerank job
    assert(counts == Map("read" -> 0, "exact SEARCHSIMILAR" -> 1,
      "SEARCH" -> 1, "SQ8 ANN SEARCHSIMILAR" -> 2, "stored SEARCHTEXT" -> 7))
    val plan = text.queryExecution.executedPlan.toString
    assert(plan.contains("textindex_docs"), "SEARCHTEXT must serve the stored postings")
    assert(!plan.contains("LeftAnti"),
      s"a tombstone-free generation needs no anti-join:\n$plan")
  }

  test("SEARCHHYBRID: job budget, single and queries= batch, on the serving collection") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(400))
    db.reindex("docs", nBits = 4)
    db.quantize("docs")
    db.reindexPostings("docs")
    def vecOf(i: Int): String = records(1, i).select("embedding").head()
      .getSeq[Float](0).map(x => x + 0.01f).mkString(",")
    val batch = Files.createTempFile("graft_hybrid_batch", ".txt")
    Files.write(batch, Seq(77, 13, 205, 340).zipWithIndex.map { case (d, i) =>
      s"$i|vector,probe,rare$d|${vecOf(d)}"
    }.mkString("\n").getBytes("UTF-8"))
    val cmds = Seq(
      "single" -> s"terms=vector,probe,rare77;vec=${vecOf(77)};k=10;radius=1;shortlist=100",
      "batch" -> s"queries=$batch;k=10;radius=1;shortlist=100")
    def run(arg: String): (Array[Row], Int) =
      jobsOf(command(db, "SEARCHHYBRID", arg).collect())
    // warm: the first run of each command resolves and caches
    cmds.foreach { case (_, a) => run(a) }
    val counts = cmds.map { case (what, a) =>
      val (rows, jobs) = run(a)
      assert(rows.length == (if (what == "single") 10 else 40), what)
      what -> jobs
    }.toMap
    // single: the sparse branch's 3 stored-SEARCHTEXT jobs and the SQ8
    // dense branch's shortlist and rerank; batch: the sparse pass and its
    // per-query heap, the dense shortlist heap and one literal rerank.
    // Both fuse on the driver.
    assert(counts == Map("single" -> 5, "batch" -> 10), counts.toString)
    // the fused answer is a local relation: collecting it runs nothing
    cmds.foreach { case (what, a) =>
      val df = command(db, "SEARCHHYBRID", a)
      assert(jobsOf(df.collect())._2 == 0, s"$what collect")
    }
  }

  /** Files Spark's file index discovered while `body` ran. */
  private def filesListed[T](body: => T): (T, Long) = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val out = body
    (out, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before)
  }

  test("warm serving: reads list nothing, stored SEARCHTEXT fits its budget, a commit relists once") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(400))
    db.reindex("docs", nBits = 4)
    db.quantize("docs")
    db.reindexPostings("docs")
    val vec = records(1, 77).select("embedding").head().getSeq[Float](0)
      .map(x => x + 0.01f).mkString(",")
    val cmds = Seq(
      "exact SEARCHSIMILAR" -> ("SEARCHSIMILAR", s"k=10;vec=$vec"),
      "SQ8 ANN SEARCHSIMILAR" -> ("SEARCHSIMILAR", s"k=10;radius=1;shortlist=100;vec=$vec"),
      "stored SEARCHTEXT" -> ("SEARCHTEXT", "terms=vector,probe,rare77;k=10"),
      "SEARCH" -> ("SEARCH", "id IN (3, 5, 8) AND id % 2 = 1"))
    def run(cmd: String, arg: String): ((Array[Row], Long), Int) = jobsOf(
      filesListed(command(db, cmd, arg).collect()))
    // warm: the first run of each command resolves and caches
    cmds.foreach { case (_, (c, a)) => run(c, a) }
    val (readListed, readJobs) = jobsOf(filesListed(db.read("docs"))._2)
    assert(readJobs == 0 && readListed == 0, s"warm read: $readJobs jobs, $readListed files")
    val warm = cmds.map { case (what, (c, a)) =>
      val ((_, listed), jobs) = run(c, a)
      assert(listed == 0, s"warm $what listed $listed files")
      what -> jobs
    }.toMap
    assert(warm("stored SEARCHTEXT") <= 3, warm.toString)
    assert(warm - "stored SEARCHTEXT" == Map("exact SEARCHSIMILAR" -> 1,
      "SEARCH" -> 1, "SQ8 ANN SEARCHSIMILAR" -> 2), warm.toString)
    // a commit through another handle: the next read lists the collection
    // once, exactly as a fresh read does, and later reads list nothing
    GraftDatabase.open(spark, db.root.toString).bulkInsert("docs", records(5, 1000))
    val (_, first) = filesListed(db.read("docs"))
    val (_, once) = filesListed(spark.read.option("basePath", s"${db.root}/docs")
      .schema(db.read("docs").schema).parquet(s"${db.root}/docs"))
    assert(first > 0 && first == once, s"relist after commit: $first files, one listing is $once")
    assert(filesListed(db.read("docs"))._2 == 0)
    assert(filesListed(command(db, "SEARCHTEXT", "terms=vector,rare1002;k=10")
      .collect())._1.map(_.getLong(0)).contains(1002L))
  }

  test("cached corpus stats: empty and tombstoned indexes score bit-identically to the rescan") {
    import graft.operators.TextAnalysis
    val db = freshDb()
    val terms = Seq("vector", "probe", "rare7", "shard")
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
    def sameAsRescan(c: String): Unit = {
      val cur = db.read(c)
      assert(rows(db.searchText(c, terms)) == rows(TextAnalysis.bm25(cur, "id", "payload", terms)))
      assert(rows(db.searchTextQL(c, terms)) ==
        rows(TextAnalysis.dirichletQL(cur, "id", "payload", terms)))
      assert(rows(db.searchTextJM(c, terms)) ==
        rows(TextAnalysis.jelinekMercerQL(cur, "id", "payload", terms)))
    }
    // the literal stats are the in-plan aggregation's values, null avgdl on
    // an empty doclens included
    def inPlan(doclens: DataFrame): Row = doclens.agg(count(lit(1)).as("__n"),
      (sum("dl").cast("double") / count(lit(1))).as("__avgdl")).head()
    def literal(doclens: DataFrame): Row = {
      val r = doclens.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      spark.range(1).select(TextAnalysis.bm25StatCols((r.getLong(0), r.getLong(1))): _*)
        .head()
    }
    val emptyLens = TextAnalysis.docLengths(records(3).filter($"id" < 0), "id", "payload")
    assert(inPlan(emptyLens) == Row(0L, null) && literal(emptyLens) == Row(0L, null))
    db.createCollection("empty")
    db.reindexPostings("empty", buckets = 4)
    sameAsRescan("empty")
    assert(db.searchText("empty", terms).isEmpty)

    db.createCollection("docs")
    db.bulkInsert("docs", records(60))
    db.reindexPostings("docs", buckets = 4)
    sameAsRescan("docs")
    // a tombstoned generation: changed and deleted documents' old versions
    // are dead rows the stats must not count
    db.update("docs", records(4, 5).withColumn("payload", lit("vector vector rare7 new")))
    db.delete("docs", $"id" === 11L)
    db.refreshPostings("docs")
    val plan = db.searchText("docs", terms).queryExecution.executedPlan.toString
    assert(plan.contains("textindex_docs") && plan.contains("LeftAnti"), plan)
    sameAsRescan("docs")
    val lens = TextAnalysis.docLengths(db.read("docs"), "id", "payload")
    assert(inPlan(lens) == literal(lens))
    assert(inPlan(lens).getLong(0) == 59L)

    // df freshness: each term's df is cached per committed state, so every
    // commit below (each changes the dfs of the queried terms) must serve
    // the new counts — stored SEARCHTEXT equals the rescan bit for bit
    db.insert("docs", VectorRecord(500L, Array.fill(8)(0.5f), "vector shard rare7 probe"))
    db.bulkInsert("docs", records(6, 600))
    db.refreshPostings("docs")
    sameAsRescan("docs")
    db.delete("docs", $"id" === 7L || $"id" === 600L)
    db.refreshPostings("docs")
    sameAsRescan("docs")
    db.compactPostings("docs")
    assert(!db.searchText("docs", terms).queryExecution.executedPlan.toString
      .contains("LeftAnti"), "a compacted generation has no tombstones")
    sameAsRescan("docs")
    // with a marker the dfs are literals: no stats cross join in the plan
    def statsCross(d: GraftDatabase): Boolean =
      d.searchText("docs", terms).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin")
    assert(!statsCross(db))
    // a database without a commit marker aggregates N, avgdl and the dfs in
    // the plan and crosses them in — the uncached rule
    val fs = db.root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(db.root, "docs")
    fs.delete(new org.apache.hadoop.fs.Path(dir, CommitCache.File), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, s".${CommitCache.File}.crc"), false)
    val unmarked = GraftDatabase.open(spark, db.root.toString)
    assert(statsCross(unmarked))
    assert(rows(unmarked.searchText("docs", terms)) ==
      rows(TextAnalysis.bm25(unmarked.read("docs"), "id", "payload", terms)))
  }

  test("collection read: schema equals Spark's inference across every layout") {
    def sparkSchema(db: GraftDatabase, n: String): StructType = {
      val d = s"${db.root}/$n"
      spark.read.option("basePath", d).parquet(d).schema
    }
    def same(db: GraftDatabase, n: String, what: String): Unit = {
      val want = sparkSchema(db, n)
      val got = db.read(n)
      assert(got.schema == want, s"$what:\n${got.schema.treeString}\nvs\n${want.treeString}")
      assert(got.schema.json == want.json, what)
      assert(got.count() == spark.read.option("basePath", s"${db.root}/$n")
        .parquet(s"${db.root}/$n").count(), what)
    }
    def check(mergeSchema: Boolean): Unit = {
      val tag = s"mergeSchema=$mergeSchema"
      val db = freshDb()
      // plain, and an empty write (a schema-carrying zero-row file)
      db.createCollection("plain")
      db.bulkInsert("plain", records(40))
      same(db, "plain", s"plain ($tag)")
      db.createCollection("empty")
      db.bulkInsert("empty", records(4).filter($"id" < 0))
      same(db, "empty", s"empty ($tag)")
      // the vector layouts
      Seq[(String, GraftDatabase => Unit)](
        "sign" -> (_.reindex("sign", nBits = 3)),
        "kmeans" -> (_.reindexKMeans("kmeans", k = 3)),
        "pq" -> (_.reindexPq("pq", m = 2, ksub = 4, nBits = 3)),
        "ivfpq" -> (_.reindexIvfPq("ivfpq", m = 2, ksub = 4, kCells = 3)),
        "quant" -> (_.quantize("quant"))
      ).foreach { case (n, layout) =>
        db.createCollection(n)
        db.bulkInsert(n, records(60))
        layout(db)
        same(db, n, s"$n ($tag)")
        // an append lands in the same layout with its derived columns
        db.bulkInsert(n, records(10, 1000))
        same(db, n, s"$n after append ($tag)")
      }
      // quantized AND indexed, then the rewrites
      db.createCollection("both")
      db.bulkInsert("both", records(60))
      db.quantize("both")
      db.reindex("both", nBits = 3)
      db.bulkInsert("both", records(10, 1000))
      same(db, "both", s"quantized sign after append ($tag)")
      db.update("both", records(3, 5).withColumn("payload", lit("rewritten")))
      same(db, "both", s"after UPDATE ($tag)")
      db.delete("both", $"id" === 7L)
      same(db, "both", s"after DELETE ($tag)")
      // zorder: a file layout over two numeric columns
      db.createCollection("z", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("payload", StringType),
        StructField("label", IntegerType))))
      db.bulkInsert("z", records(50).withColumn("label", ($"id" % 7).cast("int")))
      db.reindexZOrder("z", "id", "label", bits = 3, nFiles = 3)
      same(db, "z", s"zorder ($tag)")
    }
    check(mergeSchema = false)
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try check(mergeSchema = true)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("batch rerank: shortlist x |batch| + |batch| x dim at the threshold joins literals, one above broadcasts, same answers") {
    import graft.operators.{ProductQuantization, VectorIndex, VectorPlanner}
    val data = VectorIndex.assignSignBuckets(records(120), "embedding", nBits = 3)
    val cb = ProductQuantization.trainCodebooks(data, "id", "embedding", m = 2,
      ksub = 4, seed = "pq")
    val pq = ProductQuantization.assignCodes(data, "embedding", cb)
    val cents = ProductQuantization.cellCentroids(data)
    val res = ProductQuantization.withResiduals(data, "embedding", cents)
    val rcb = ProductQuantization.trainCodebooks(res, "id", "__res", m = 2,
      ksub = 4, seed = "rpq")
    val rpq = ProductQuantization.assignCodes(res, "__res", rcb).drop("__res")
    val qs = Seq(3, 40, 77).map(i => (i.toLong * 10,
        records(1, i).select("embedding").head().getSeq[Float](0).map(_ + 0.01f)))
      .toDF("query_id", "query_vec")
    val shortlist = 12
    // the literal carries 3 shortlists and 3 query vectors of 8 floats
    val atCap = shortlist * 3 + 3 * 8
    val cells: VectorPlanner.Cells = Some(VectorIndex.signCells(_, 3, 1))
    Seq[(String, DataFrame, VectorPlanner.Scorer, VectorPlanner.Cells)](
      ("SQ8", data, VectorPlanner.Sq8("cosine", shortlist), None),
      ("SQ8 probed", data, VectorPlanner.Sq8("cosine", shortlist), cells),
      ("ADC", pq, VectorPlanner.Adc(cb, shortlist), cells),
      ("residual ADC", rpq, VectorPlanner.ResidualAdc(rcb, cents, shortlist), None)
    ).foreach { case (what, df, scorer, cs) =>
      def batch(threshold: Int): DataFrame =
        VectorPlanner.topKBatch(df, qs, 5, cs, scorer, inThreshold = threshold)
      val (literal, joined) = (batch(atCap), batch(atCap - 1))
      assert(literal.schema == joined.schema, what)
      def rows(d: DataFrame): Seq[Row] = d.orderBy("query_id", "rank").collect().toSeq
      assert(rows(literal) == rows(joined), what)
      assert(rows(literal).size == 15, what)
      def plan(d: DataFrame): String = d.queryExecution.executedPlan.toString
      assert(!plan(literal).contains("BroadcastHashJoin"), s"$what:\n${plan(literal)}")
      assert(plan(joined).contains("BroadcastHashJoin"), s"$what:\n${plan(joined)}")
    }
  }

  test("batch rerank: wide query vectors count toward the literal cap") {
    import graft.operators.VectorPlanner
    // 256-d vectors: the 3 query vectors inline 768 floats, far more than
    // the 36 shortlist rows, so a cap on the shortlists alone would not
    // bound the literal
    val dim = 256
    val data = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
    }.toDF("id", "embedding")
    val qs = Seq(3, 20, 41).map(i => (i.toLong,
        Array.tabulate(dim)(j => math.cos(i * 0.3 + j * 0.9).toFloat)))
      .toDF("query_id", "query_vec")
    val shortlist = 12
    def batch(threshold: Int): DataFrame =
      VectorPlanner.topKBatch(data, qs, 5, None,
        VectorPlanner.Sq8("cosine", shortlist), inThreshold = threshold)
    def plan(d: DataFrame): String = d.queryExecution.executedPlan.toString
    def rows(d: DataFrame): Seq[Row] = d.orderBy("query_id", "rank").collect().toSeq
    val atCap = shortlist * 3 + 3 * dim
    val reference = rows(batch(atCap))
    assert(reference.size == 15)
    assert(!plan(batch(atCap)).contains("BroadcastHashJoin"), plan(batch(atCap)))
    Seq(shortlist * 3, atCap - 1).foreach { t =>
      assert(plan(batch(t)).contains("BroadcastHashJoin"), s"$t:\n${plan(batch(t))}")
      assert(rows(batch(t)) == reference, t.toString)
    }
  }

  test("SQ8 rerank: the literal join-back equals the broadcast join, duplicate ids included") {
    import graft.operators.SimilaritySearch
    val coll = Seq((1L, Array(1f, 0f), "a"), (2L, Array(0f, 1f), "b"),
      (2L, Array(0.5f, 0.5f), "b2"), (3L, Array(0.7f, 0.7f), "c"),
      (4L, Array(0.1f, 0.9f), "d"))
      .toDF("id", "embedding", "payload")
    val short = Seq((2L, 0.9), (2L, 0.8), (3L, 0.7), (9L, 0.1))
      .toDF("id", "approx_score")
    val q = Array(0.6f, 0.8f)
    // inThreshold below the shortlist size takes the broadcast join
    val byLookup = SimilaritySearch.rerankExact(coll, short, q, 10, 4)
    val byJoin = SimilaritySearch.rerankExact(coll, short, q, 10, 4,
      inThreshold = 0)
    assert(byLookup.schema == byJoin.schema)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
      .sortBy(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows(byLookup) == rows(byJoin))
    assert(rows(byLookup).map(_.getLong(0)) == Seq(2L, 2L, 2L, 2L, 3L),
      "each of the two id-2 rows pairs with each of its two shortlist scores")
  }
}
