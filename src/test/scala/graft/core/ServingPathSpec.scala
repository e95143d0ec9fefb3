package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestContextShims
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
