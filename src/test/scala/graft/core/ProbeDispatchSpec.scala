package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestContextShims
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.commands.{CommandExecutor, CommandParser}
import graft.extensions.GraftExtensions

/** What each vector path does on each index layout at `probeRadius = 1`:
  * without `shortlist`, whether it prunes (a `cluster_id` partition
  * filter in the plans it executed), scans exactly, or refuses; with
  * `shortlist = 20`, which scorer it runs. The tables pin the behaviour as
  * it is; any change to a dispatch shows up as an explicit diff to them.
  */
class ProbeDispatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val layouts = Seq("sign_bucket", "kmeans", "pq", "ivfpq_kmeans", "zorder")

  /** One quantized collection per layout, named after it. */
  private lazy val fixture = {
    val db = GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_dispatch").toString, "pdb")
    val rows = graft.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"), col("label"),
        concat(lit("vector data "), col("label")).as("payload"))
    val q = rows.filter(col("id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val build: Map[String, String => Unit] = Map(
      "sign_bucket" -> (db.reindex(_, nBits = 8)),
      "kmeans" -> (db.reindexKMeans(_, k = 8)),
      "pq" -> (db.reindexPq(_, m = 8, ksub = 16)),
      "ivfpq_kmeans" -> (db.reindexIvfPq(_, m = 8, ksub = 16, kCells = 4)),
      "zorder" -> (db.reindexZOrder(_, "id", "label")))
    layouts.foreach { kind =>
      db.createCollection(kind, StructType(Seq(
        StructField("id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType),
        StructField("payload", StringType))))
      db.bulkInsert(kind, rows)
      // SQ8 first: every REINDEX keeps the quantized column
      db.quantize(kind)
      build(kind)(kind)
      assert(db.indexTypeOf(kind) === Some(kind))
    }
    (db, q)
  }

  private def render(header: Seq[String], t: Seq[(String, Seq[String])]): String =
    (("layout" +: header) +: t.map { case (k, r) => k +: r })
      .map(_.map(c => f"$c%-21s").mkString).mkString("\n")

  test("probe dispatch per layout and path at probeRadius=1, no shortlist") {
    val (db, q) = fixture
    val qs = Seq((0L, q.toSeq)).toDF("query_id", "query_vec")
    val paths: Seq[(String, String => DataFrame)] = Seq(
      "searchSimilar" -> (db.searchSimilar(_, q, k = 5, probeRadius = 1)),
      "searchSimilarBatch" ->
        (db.searchSimilarBatch(_, qs, k = 5, probeRadius = 1)),
      "searchHybrid" ->
        (db.searchHybrid(_, Seq("vector"), q, k = 5, probeRadius = 1)),
      "searchHybridBatch" -> (db.searchHybridBatch(_,
        Seq((0L, Seq("vector"), q)), k = 5, probeRadius = 1)),
      "AnnProbeRewrite" -> { name =>
        // the rule fires at analysis: build the frame with the conf on
        spark.conf.set(GraftExtensions.AutoProbeKey, "true")
        try db.read(name)
          .select(col("id"),
            graft.functions.cosine_sim(col("embedding"), lit(q)).as("score"))
          .orderBy(desc("score"), col("id")).limit(5)
        finally spark.conf.set(GraftExtensions.AutoProbeKey, "false")
      })

    def outcome(plan: => DataFrame): String = executedPlans(plan) match {
      case None => "refuses"
      case Some(p) => if (p.contains("PartitionFilters: [cluster_id")) "prunes" else "exact"
    }

    val got = layouts.map(kind => kind -> paths.map { case (_, run) => outcome(run(kind)) })

    // per layout, in `paths` order
    val expected = Seq(
      "sign_bucket" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "kmeans" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "pq" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "ivfpq_kmeans" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "zorder" -> Seq("refuses", "refuses", "refuses", "refuses", "exact"))
    assert(render(paths.map(_._1), got) === render(paths.map(_._1), expected))
  }

  /** The executed plans of every query `run` runs, built and collected
    * (a shortlist, or a hybrid branch fused on the driver, runs as its own
    * query); None when the path refuses.
    */
  private def executedPlans(run: => DataFrame): Option[String] = {
    val plans = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    TestContextShims.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      val ran =
        try { run.collect(); true }
        catch { case _: IllegalArgumentException => false }
      TestContextShims.drainListenerBus(sc)
      if (ran) Some(plans.synchronized(plans.mkString("\n"))) else None
    } finally spark.listenerManager.unregister(listener)
  }

  /** The scorer `run` executed, read from the columns its queries scanned:
    * the stored int8 copy is sq8, the PQ codes are adc — residual-adc when
    * the lookup table is chosen by the row's cell — and neither is exact.
    */
  private def scorerOf(run: => DataFrame): String = executedPlans(run) match {
    case None => "refuses"
    case Some(text) =>
      val scans = text.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
      if (scans.contains("pq_code:")) {
        val cellLut = text.linesIterator.exists(l =>
          l.contains("__lut") && l.contains("cluster_id"))
        if (cellLut) "residual-adc" else "adc"
      }
      else if (scans.contains("embedding_q8:")) "sq8"
      else "exact"
  }

  test("probe dispatch scorer per layout and path at probeRadius=1, shortlist=20") {
    val (db, q) = fixture
    val qs = Seq((0L, q.toSeq)).toDF("query_id", "query_vec")
    def command(coll: String, arg: String): DataFrame =
      CommandExecutor.execute(db, CommandParser.parse(Some(coll),
        "SEARCHSIMILAR", Some(arg)).fold(e => fail(e.message), identity))
    val paths: Seq[(String, String => DataFrame)] = Seq(
      "SEARCHSIMILAR" -> (command(_,
        s"k=5;radius=1;shortlist=20;vec=${q.mkString(",")}")),
      "searchSimilarBatch" -> (db.searchSimilarBatch(_, qs, k = 5,
        probeRadius = 1, shortlist = 20)),
      "searchHybridBatch" -> (db.searchHybridBatch(_,
        Seq((0L, Seq("vector"), q)), k = 5, probeRadius = 1, shortlist = 20)))

    val got = layouts.map(kind => kind -> paths.map { case (_, run) => scorerOf(run(kind)) })

    // per layout, in `paths` order
    val expected = Seq(
      "sign_bucket" -> Seq("sq8", "sq8", "sq8"),
      "kmeans" -> Seq("sq8", "sq8", "sq8"),
      "pq" -> Seq("adc", "adc", "adc"),
      "ivfpq_kmeans" -> Seq("residual-adc", "residual-adc", "residual-adc"),
      "zorder" -> Seq("refuses", "refuses", "refuses"))
    assert(render(paths.map(_._1), got) === render(paths.map(_._1), expected))
  }
}
