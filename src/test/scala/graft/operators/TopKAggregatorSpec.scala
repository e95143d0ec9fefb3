package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TopKAggregatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def batchFixtures() = {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    (e, qs)
  }

  test("heap aggregation equals the window formulation (cosine + l2)") {
    val (e, qs) = batchFixtures()
    for (metric <- Seq("cosine", "l2")) {
      val viaWindow = SimilaritySearch
        .topKBatch(e, qs, k = 7, metric, vecCol = "embedding", idCol = "vec_id")
        .select($"query_id", $"vec_id", round($"score", 9).as("score"), $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val viaAgg = VectorPlanner
        .topKBatch(e, qs, k = 7, None, VectorPlanner.Exact(metric),
          vecCol = "embedding", idCol = "vec_id")
        .select($"query_id", $"vec_id", round($"score", 9).as("score"), $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(viaAgg == viaWindow, s"metric=$metric")
      assert(viaAgg.size == 5 * 7)
    }
  }

  test("tie-break is deterministic: equal scores rank by id ascending") {
    val coll = Seq(
      (10L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (7L, Array(2.0f, 0.0f)), (5L, Array(0.0f, 1.0f))
    ).toDF("id", "embedding")
    val qs = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val got = VectorPlanner
      .topKBatch(coll, qs, k = 3, None, VectorPlanner.Exact("cosine"))
      .orderBy("rank")
      .select("id").as[Long].collect().toSeq
    // cosine: ids 10, 3, 7 all score 1.0 → order by id: 3, 7, 10
    assert(got == Seq(3L, 7L, 10L))
  }

  test("topKBatchAgg rejects non-integral ids loudly (both sides)") {
    val coll = Seq(("a", Array(1.0f, 0.0f))).toDF("id", "embedding")
    val qs = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val e1 = intercept[IllegalArgumentException] {
      VectorPlanner.topKBatch(coll, qs, k = 1, None, VectorPlanner.Exact("cosine"))
    }
    assert(e1.getMessage.contains("integral"))
    val collOk = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "embedding")
    val qsBad = Seq(("q0", Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val e2 = intercept[IllegalArgumentException] {
      VectorPlanner.topKBatch(collOk, qsBad, k = 1, None,
        VectorPlanner.Exact("cosine"))
    }
    assert(e2.getMessage.contains("integral"))
  }
}
