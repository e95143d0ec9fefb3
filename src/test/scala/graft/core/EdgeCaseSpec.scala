package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.VectorRecord

/** Adversarial edges of the round-2 features — the interactions the main
  * specs don't cross: quantize × reindex × append × update in every order,
  * empty-collection search paths, re-reindex between layouts.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDb(): GraftDatabase =
    GraftDatabase.create(spark, Files.createTempDirectory("graftedge").toString, "edb")

  private def vecs(n: Int): Seq[VectorRecord] = (0 until n).map { i =>
    VectorRecord(i.toLong, Array(math.cos(i * 0.7).toFloat,
      math.sin(i * 0.7).toFloat, (i % 7).toFloat / 7), s"p$i")
  }

  test("sq8 search on an empty quantized collection returns empty, not an error") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", vecs(4).toDF())
    db.quantize("vecs")
    db.delete("vecs", lit(true))
    assert(db.read("vecs").count() == 0)
    assert(db.searchSimilar("vecs", Array(1.0f, 0.0f, 0.0f), k = 3,
      shortlist = 10).count() == 0)
    assert(db.searchSimilar("vecs", Array(1.0f, 0.0f, 0.0f), k = 3).count() == 0)
  }

  test("quantize → zorder reindex: q8 column survives; sq8 search matches exact top-k") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", vecs(64).toDF())
    db.quantize("vecs")
    db.reindexZOrder("vecs", "id", "id", bits = 6, nFiles = 4)
    val back = db.read("vecs")
    assert(back.count() == 64L)
    assert(back.columns.contains("embedding_q8"),
      "the stored quantized column must survive a zorder rewrite")
    // sq8 on a non-geometric layout = index-free quantized scan + rerank:
    // exact results, quarter-bytes shortlist
    val q = Array(1.0f, 0.0f, 0.0f)
    val viaSq8 = db.searchSimilar("vecs", q, k = 5, shortlist = 64)
      .select("id").as[Long].collect().toSeq
    val exact = db.searchSimilar("vecs", q, k = 5)
      .select("id").as[Long].collect().toSeq
    assert(viaSq8 == exact)
    // appends after a zorder reindex land without error (unordered tail —
    // the OPTIMIZE model) and re-derive the quantized column
    db.bulkInsert("vecs", Seq(VectorRecord(100L, Array(1f, 0f, 0f), "new")).toDF())
    val after = db.read("vecs")
    assert(after.count() == 65L)
    assert(after.filter(col("id") === 100L && col("embedding_q8").isNotNull)
      .count() == 1L, "appends must re-derive embedding_q8")
  }

  test("quantize → reindex → append → update keeps both derived columns coherent") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", vecs(32).toDF())
    db.quantize("vecs")
    db.reindex("vecs", nBits = 2) // sign-bucket over a quantized collection
    val cols = db.read("vecs").columns.toSet
    assert(cols.contains("embedding_q8") && cols.contains("cluster_id"))

    db.bulkInsert("vecs", Seq(VectorRecord(100L, Array(1.0f, 1.0f, 0.5f), "x")).toDF())
    val row = db.read("vecs").filter($"id" === 100)
    assert(row.count() == 1)
    assert(row.select(size($"embedding_q8")).as[Int].head() == 3,
      "appended row must carry the quantized copy")
    assert(row.select($"cluster_id".cast("int")).as[Int].head() == 3)

    db.update("vecs", Seq(VectorRecord(100L, Array(-1.0f, -1.0f, -0.5f), "moved")).toDF())
    val moved = db.read("vecs").filter($"id" === 100)
    assert(moved.select($"cluster_id".cast("int")).as[Int].head() == 0)
    assert(moved.select(element_at($"embedding_q8", 1).cast("int")).as[Int].head() == -127,
      "updated quantized copy must reflect the new vector")

    // sq8 search still works over the re-laid-out collection
    val hit = db.searchSimilar("vecs", Array(-1.0f, -1.0f, -0.5f), k = 1,
      shortlist = 8)
    assert(hit.select("id").as[Long].head() == 100L)
  }

  test("re-reindex kmeans → sign → kmeans keeps data + probes consistent") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", vecs(40).toDF())
    db.reindexKMeans("vecs", k = 4)
    assert(db.read("vecs").count() == 40)
    db.reindex("vecs", nBits = 2) // switch layouts
    assert(db.read("vecs").count() == 40)
    db.reindexKMeans("vecs", k = 4) // and back
    assert(db.read("vecs").count() == 40)
    // kmeans probe works after the layout churn, and an append lands in it
    db.bulkInsert("vecs", Seq(VectorRecord(200L, Array(1.0f, 0.0f, 0.1f), "y")).toDF())
    assert(db.read("vecs").count() == 41)
    val probed = db.searchSimilar("vecs", Array(1.0f, 0.0f, 0.1f), k = 41,
      probeRadius = 3)
    assert(probed.filter($"id" === 200).count() == 1)
  }

  test("kmeans reindex of a quantized collection trains on embedding, keeps q8") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", vecs(24).toDF())
    db.quantize("vecs")
    db.reindexKMeans("vecs", k = 3)
    val cols = db.read("vecs").columns.toSet
    assert(cols.contains("embedding_q8") && cols.contains("cluster_id"))
    assert(db.read("vecs").count() == 24)
  }
}
