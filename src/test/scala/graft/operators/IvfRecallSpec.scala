package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Quality characterization of the sign-bucket IVF probe: recall@10 vs the
  * exact scan across probe radii, on the real embeddings table. The data is
  * deterministic, so these are fixed properties of the index, not flaky
  * statistics: radius widens → recall must be monotone non-decreasing, and
  * the scanned fraction quantifies the cost side of the trade.
  */
class IvfRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("probe recall@10 grows with radius and the scan stays pruned") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8).cache()
    val total = indexed.count()

    val queryIds = Seq(1L, 17L, 101L, 250L, 444L)
    val recalls = (0 to 2).map { radius =>
      val hits = queryIds.map { qid =>
        val q = e.filter($"vec_id" === qid)
          .select("embedding").head().getSeq[Float](0).toArray
        val exact = SimilaritySearch
          .topK(e.filter($"vec_id" =!= qid), q, 10, "cosine",
            vecCol = "embedding", idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        val probed = VectorPlanner
          .topK(indexed.filter($"vec_id" =!= qid), q, 10,
            Some(VectorIndex.signCells(_, 8, radius)),
            VectorPlanner.Exact("cosine"), vecCol = "embedding", idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        (exact intersect probed).size
      }.sum
      hits.toDouble / (queryIds.size * 10)
    }

    // monotone in radius. The absolute values are LOW on this corpus
    // (measured: 0.0 / 0.06 / 0.30 for radius 0/1/2) because these
    // embeddings are near-isotropic — top-10 neighbors sit at cosine ≈ 0.4
    // and don't share sign patterns OR labels, so no bucketing scheme
    // recalls well at aggressive pruning. This is a property of the data
    // the spec documents, and exactly why GraftDatabase.searchSimilar
    // defaults to the exact scan with probing as an explicit opt-in.
    assert(recalls(0) <= recalls(1) + 1e-9 && recalls(1) <= recalls(2) + 1e-9,
      s"recall not monotone: $recalls")
    assert(recalls(2) >= 0.25, s"radius-2 recall collapsed: $recalls")

    // and the cost side: radius 1 scans only buckets within hamming 1 —
    // 9 of 256 codes ⇒ a small fraction of the collection
    val q0 = e.filter($"vec_id" === 1).select("embedding").head().getSeq[Float](0).toArray
    val candidates = VectorIndex.codesWithin(
      VectorIndex.signBucketOf(q0, 8), 8, 1)
    val scanned = indexed.filter($"cluster_id".isin(candidates: _*)).count()
    assert(candidates.size == 9)
    assert(scanned < total / 5,
      s"radius-1 probe scanned $scanned of $total rows — pruning is broken")
    indexed.unpersist()
  }

  /** Recall/scan of a kmeans probe over `indexed` for the given query ids. */
  private def kmeansRecallScan(e: org.apache.spark.sql.DataFrame,
      indexed: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]], queryIds: Seq[Long],
      nprobe: Int): (Double, Double) = {
    import indexed.sparkSession.implicits._
    val total = indexed.count().toDouble
    val (hits, scanned) = queryIds.map { qid =>
      val q = e.filter($"vec_id" === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val exact = SimilaritySearch
        .topK(e.filter($"vec_id" =!= qid), q, 10, "cosine",
          vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val cand = VectorIndex.nearestCentroidIds(q, centroids, nprobe)
      val scan = indexed.filter($"cluster_id".isin(cand: _*)).count()
      val probed = VectorPlanner
        .topK(indexed.filter($"vec_id" =!= qid), q, 10, Some(_ => cand),
          VectorPlanner.Exact("cosine"), vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").as[Long].collect().toSet
      ((exact intersect probed).size, scan)
    }.unzip
    (hits.sum.toDouble / (queryIds.size * 10),
      scanned.sum.toDouble / (queryIds.size * total))
  }

  test("kmeans probe: recall@10 ≥ 0.9 at ≤ 25% scan on clustered data") {
    // planted structure — the regime an IVF index exists for: 16 well-
    // separated unit centers, 2000 points = center + noise, re-normalized.
    // Deterministic (seeded) so this is a fixed property, not a flaky stat.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(16)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 16)
      val v = normalize(c.map(x => x + 0.25 * rnd.nextGaussian()))
      (i.toLong, v.map(_.toFloat))
    }
    val e = rows.toDF("vec_id", "embedding")
    val (indexed, centroids) = VectorIndex.kmeansAssign(e, "embedding", k = 16)
    indexed.cache()
    val (recall, scanFrac) = kmeansRecallScan(
      e, indexed, centroids, Seq(1L, 17L, 101L, 250L, 444L), nprobe = 3)
    indexed.unpersist()
    assert(recall >= 0.9, f"clustered-data recall@10 $recall%.2f < 0.9")
    assert(scanFrac <= 0.25, f"scan fraction $scanFrac%.2f > 0.25")
  }

  test("kmeans probe beats sign buckets on the (isotropic) testdata") {
    // The real embeddings are near-isotropic (same-label mean cosine ≈ 0 —
    // verified offline), so NO cell-probing index reaches 0.9 recall at a
    // 25% scan here; this test pins the honest numbers: kmeans at nprobe=4
    // (~25-30% scanned) must clearly beat sign-bucket radius-2 (~30%
    // scanned, recall 0.30 — see the first test) on the same corpus.
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val (indexed, centroids) = VectorIndex.kmeansAssign(e, "embedding", k = 16)
    indexed.cache()
    val (recall, scanFrac) = kmeansRecallScan(
      e, indexed, centroids, Seq(1L, 17L, 101L, 250L, 444L), nprobe = 4)
    indexed.unpersist()
    assert(recall >= 0.5, f"kmeans recall@10 $recall%.2f < 0.5 on testdata")
    assert(scanFrac <= 0.40, f"kmeans nprobe=4 scanned $scanFrac%.2f > 0.40")
  }

  test("sq8 rerank: recall@10 ≥ 0.9 while exact-scoring ≤ 25% of rows") {
    // the ANN path that does NOT depend on cluster structure: int8-
    // quantized scan over everything (4× less data), exact rerank of a
    // shortlist = 25% of rows. On this isotropic corpus — where cell
    // probes cap out near 0.65 — this is the accelerator that actually
    // meets the recall bar.
    val e = graft.Tables.embeddings(spark, TestSpark.sf).cache()
    val total = e.count().toInt
    val shortlist = total / 4
    val queryIds = Seq(1L, 17L, 101L, 250L, 444L)
    val hits = queryIds.map { qid =>
      val q = e.filter($"vec_id" === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val rest = e.filter($"vec_id" =!= qid)
      val exact = SimilaritySearch
        .topK(rest, q, 10, "cosine", vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val approx = SimilaritySearch
        .topKSq8(rest, q, 10, shortlist, "cosine",
          vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").as[Long].collect().toSet
      (exact intersect approx).size
    }.sum
    e.unpersist()
    val recall = hits.toDouble / (queryIds.size * 10)
    assert(recall >= 0.9, f"sq8 recall@10 $recall%.2f < 0.9")
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  test("brpAnn: deterministic under a fixed seed, good recall vs exact top-k") {
    // spec-pins the MLlib BRP-LSH path after its rows-only gate entry
    // (q48) retired: seeded runs must agree row-for-row, and the ANN
    // answer must recover most of the exact neighborhood on the real
    // embeddings (a fixed property of the seeded model, not a flaky stat)
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val q = e.filter($"vec_id" === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    def run() = VectorIndex.brpAnn(e, "embedding", q, k = 10)
      .select($"vec_id", round($"distCol", 6).as("d"))
      .as[(Long, Double)].collect().sortBy(r => (r._2, r._1)).toSeq
    val a = run()
    assert(a.size == 10)
    assert(a == run(), "seeded BRP-LSH must be run-to-run deterministic")
    val exact = SimilaritySearch
      .topK(e, q, 10, "l2", vecCol = "embedding", idCol = "vec_id")
      .select($"vec_id").as[Long].collect().toSet
    val recall = a.map(_._1).count(exact.contains) / 10.0
    assert(recall >= 0.7, f"BRP-LSH recall@10 $recall%.2f < 0.7")
  }

  test("signRecallCurve: monotone frontier, full-radius recall = 1, " +
      "empty radii still emit") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val curve = SimilaritySearch.signRecallCurve(
        e, "vec_id", "embedding", qs, "query_id", "embedding",
        nBits = 8, k = 10, maxRadius = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq == (0L to 8L),
      "every radius must emit a row, including empty ones")
    assert(curve.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      "candidate volume must be monotone non-decreasing in radius")
    assert(curve.sliding(2).forall(p => p(0)._3 <= p(1)._3),
      "hits must be monotone non-decreasing in radius")
    val full = curve.last
    assert(full._3 == 50L && full._4 == 1.0,
      "radius = nBits probes everything: recall@10 must be exactly 1")
    // recall is the exact division n_hit/(nq*k) — replay it
    assert(curve.forall(r => r._4 == r._3.toDouble / 50.0))
    intercept[IllegalArgumentException] {
      SimilaritySearch.signRecallCurve(e, "vec_id", "embedding",
        qs, "query_id", "embedding", nBits = 8, maxRadius = 9)
    }
  }
}
