package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.extensions.GraftExtensions

/** What each probe dispatch does on each index layout at
  * `probeRadius = 1` with no `shortlist`: prune (a `cluster_id` partition
  * filter in the executed plan), scan exactly, or refuse. The table pins
  * today's behaviour as it is, including the layouts the paths serve
  * differently from one another; any change to a dispatch shows up as an
  * explicit diff to it.
  */
class ProbeDispatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("probe dispatch per layout and path at probeRadius=1, no shortlist") {
    val db = GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_dispatch").toString, "pdb")
    val rows = graft.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"), col("label"),
        concat(lit("vector data "), col("label")).as("payload"))
    val q = rows.filter(col("id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val qs = Seq((0L, q.toSeq)).toDF("query_id", "query_vec")

    val layouts: Seq[(String, String => Unit)] = Seq(
      "sign_bucket" -> (db.reindex(_, nBits = 8)),
      "kmeans" -> (db.reindexKMeans(_, k = 8)),
      "pq" -> (db.reindexPq(_, m = 8, ksub = 16)),
      "ivfpq_kmeans" -> (db.reindexIvfPq(_, m = 8, ksub = 16, kCells = 4)),
      "zorder" -> (db.reindexZOrder(_, "id", "label")))
    val paths: Seq[(String, String => DataFrame)] = Seq(
      "searchSimilar" -> (db.searchSimilar(_, q, k = 5, probeRadius = 1)),
      "searchSimilarSq8" -> (db.searchSimilarSq8(_, q, k = 5, probeRadius = 1)),
      "searchSimilarBatch" ->
        (db.searchSimilarBatch(_, qs, k = 5, probeRadius = 1)),
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

    def outcome(plan: => DataFrame): String =
      try {
        val p = plan.queryExecution.executedPlan.toString
        if (p.contains("PartitionFilters: [cluster_id")) "prunes" else "exact"
      } catch { case _: IllegalArgumentException => "refuses" }

    val got = layouts.map { case (kind, build) =>
      db.createCollection(kind, StructType(Seq(
        StructField("id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType),
        StructField("payload", StringType))))
      db.bulkInsert(kind, rows)
      // SQ8 first: every REINDEX keeps the quantized column
      db.quantize(kind)
      build(kind)
      assert(db.indexTypeOf(kind) === Some(kind))
      kind -> paths.map { case (_, run) => outcome(run(kind)) }
    }

    // per layout, in `paths` order
    val expected = Seq(
      "sign_bucket" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "kmeans" -> Seq("prunes", "prunes", "prunes", "prunes", "prunes"),
      "pq" -> Seq("exact", "exact", "prunes", "prunes", "exact"),
      "ivfpq_kmeans" -> Seq("exact", "exact", "exact", "refuses", "prunes"),
      "zorder" -> Seq("exact", "exact", "exact", "exact", "exact"))
    def render(t: Seq[(String, Seq[String])]): String =
      (("layout" +: paths.map(_._1)) +: t.map { case (k, r) => k +: r })
        .map(_.map(c => f"$c%-19s").mkString).mkString("\n")
    assert(render(got) === render(expected))
  }
}
