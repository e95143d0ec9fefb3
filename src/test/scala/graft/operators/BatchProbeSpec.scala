package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Batch IVF probe: per-query results must equal the single-query probe
  * exactly, and on a stored cluster-partitioned layout the one union
  * scan must be partition-pruned.
  */
class BatchProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("probeBatch equals per-query probe results, query by query") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val batch = VectorPlanner
      .topKBatch(indexed, qs, k = 5, Some(VectorIndex.signCells(_, 8, 1)),
        VectorPlanner.Exact("cosine"), vecCol = "embedding", idCol = "vec_id")
      .select($"query_id", $"vec_id", round($"score", 6).as("score"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
    (0L until 5L).foreach { qid =>
      val q = e.filter($"vec_id" === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val single = VectorPlanner
        .topK(indexed, q, 5, Some(VectorIndex.signCells(_, 8, 1)),
          VectorPlanner.Exact("cosine"), vecCol = "embedding", idCol = "vec_id")
        .select($"vec_id", round($"score", 6).as("score"))
        .as[(Long, Double)].collect().sortBy(_._1)
      assert(batch(qid).toSeq == single.toSeq,
        s"batch result for query $qid diverges from the single probe")
    }
  }

  test("on a stored layout the union scan is partition-pruned, heap-bounded") {
    import org.apache.spark.sql.types._
    val db = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_bp").toString, "bpdb")
    db.createCollection("vecs", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
    db.bulkInsert("vecs", graft.Tables.embeddings(spark, TestSpark.sf))
    db.reindex("vecs", nBits = 8)
    // request-shaped query batch: a local relation, not a table scan
    val qRows = graft.Tables.embeddings(spark, TestSpark.sf)
      .filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      .collect()
    val qs = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*),
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("query_vec", ArrayType(FloatType)))))
    val res = VectorPlanner.topKBatch(db.read("vecs"), qs, k = 5,
      Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Exact("cosine"),
      vecCol = "embedding", idCol = "vec_id")
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cluster_id"),
      s"the union scan must prune cluster_id partitions:\n${p.take(2000)}")
    assert("PartitionFilters: \\[cluster_id".r.findAllIn(p).size == 1,
      s"exactly ONE scan of the collection:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "per-query cut must be the bounded heap, not a rank window")
    assert(res.count() > 0)
  }

  test("batch probes reject non-integral ids LOUDLY (no deep cast errors)") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
    val strQs = e.filter($"vec_id" < 2)
      .select($"vec_id".cast("string").as("query_id"),
        $"embedding".as("query_vec"))
    val exBatch = intercept[IllegalArgumentException] {
      VectorPlanner.topKBatch(indexed, strQs, k = 2,
        Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Exact("cosine"),
        idCol = "vec_id")
    }
    assert(exBatch.getMessage.contains("query_id"))
    val goodQs = e.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val strIndexed = indexed.withColumn("vec_id", $"vec_id".cast("string"))
    val exId = intercept[IllegalArgumentException] {
      VectorPlanner.topKBatch(strIndexed, goodQs, k = 2,
        Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Exact("cosine"),
        idCol = "vec_id")
    }
    assert(exId.getMessage.contains("vec_id"))
    val cb = ProductQuantization.trainCodebooks(
      e, "vec_id", "embedding", m = 8, ksub = 4)
    val coded = ProductQuantization.assignCodes(indexed, "embedding", cb)
    val exAdc = intercept[IllegalArgumentException] {
      VectorPlanner.topKBatch(coded, strQs, k = 2,
        Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Adc(cb, 4),
        idCol = "vec_id")
    }
    assert(exAdc.getMessage.contains("topKBatch"))
  }
}
