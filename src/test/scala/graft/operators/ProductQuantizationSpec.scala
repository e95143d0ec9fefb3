package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Product quantization: codebook/code invariants, determinism, recall
  * per stored byte against the SQ8 path, and the scan-pruning property
  * that justifies the whole operator (the ADC pass reads only the
  * m-byte code column).
  */
class ProductQuantizationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val e = graft.Tables.embeddings(spark, TestSpark.sf)
  private lazy val cb = ProductQuantization.trainCodebooks(
    e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1)

  test("codebooks are dense and deterministic; codes are in-range bytes") {
    assert(cb.length == 8)
    assert(cb.forall(_.length == 16))
    assert(cb.forall(_.forall(_.length == 8)))
    // keep-previous rule ⇒ no NaN/empty cells ever
    assert(cb.forall(_.forall(_.forall(d => !d.isNaN))))
    val again = ProductQuantization.trainCodebooks(
      e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq ==
      again.map(_.map(_.toSeq).toSeq).toSeq, "training must be deterministic")

    val codes = ProductQuantization.assignCodes(e, "embedding", cb)
      .select("pq_code").as[Seq[Byte]].collect()
    assert(codes.forall(_.length == 8))
    assert(codes.forall(_.forall(c => c >= 1 && c <= 16)))
  }

  test("ADC+rerank recall@10 beats sq8-rank-only at an eighth of the bytes") {
    val queryIds = Seq(1L, 17L, 101L, 250L, 444L)
    // production-shaped codebook: still 8 one-byte codes per row, but 64
    // cells per subspace and two refinement rounds (the gate's q127 uses
    // ksub=16/rounds=1 to keep the oracle's CTE layers small — byte cost
    // is identical, only codebook quality differs)
    val cbFine = ProductQuantization.trainCodebooks(
      e, "vec_id", "embedding", m = 8, ksub = 64, rounds = 2)
    val coded = ProductQuantization.assignCodes(e, "embedding", cbFine).cache()

    def recallPq(shortlist: Int): Double = {
      val hits = queryIds.map { qid =>
        val q = e.filter($"vec_id" === qid)
          .select("embedding").head().getSeq[Float](0).toArray
        val truth = SimilaritySearch
          .topK(e.filter($"vec_id" =!= qid), q, 10, "l2",
            vecCol = "embedding", idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        val got = VectorPlanner.topK(coded.filter($"vec_id" =!= qid), q, 10,
            None, VectorPlanner.Adc(cbFine, shortlist),
            vecCol = "embedding", idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        (truth intersect got).size
      }.sum
      hits.toDouble / (queryIds.size * 10)
    }

    // sq8 WITHOUT rerank (rank purely on the stored 64-byte int8 column —
    // the IO-equal comparison point is what each method recalls from its
    // compressed representation alone plus a bounded rerank budget)
    val sq8Recall = {
      val hits = queryIds.map { qid =>
        val q = e.filter($"vec_id" === qid)
          .select("embedding").head().getSeq[Float](0).toArray
        val truth = SimilaritySearch
          .topK(e.filter($"vec_id" =!= qid), q, 10, "cosine",
            vecCol = "embedding", idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        val got = SimilaritySearch
          .topKSq8(e.filter($"vec_id" =!= qid), q, 10, 10, "cosine",
            vecCol = "embedding", idCol = "vec_id", rerank = false)
          .select("vec_id").as[Long].collect().toSet
        (truth intersect got).size
      }.sum
      hits.toDouble / (queryIds.size * 10)
    }

    val r20 = recallPq(20)
    val r100 = recallPq(100)
    val r200 = recallPq(200)
    info(s"PQ recall@10 by shortlist: 20=$r20 100=$r100 200=$r200; sq8-only=$sq8Recall")
    // widening the rerank budget must not lose neighbors
    assert(r20 <= r100 + 1e-9 && r100 <= r200 + 1e-9,
      s"recall not monotone in shortlist: $r20 / $r100 / $r200")
    // the headline: 8 bytes of PQ code + a bounded exact rerank recalls at
    // least as well as ranking on the full 64-byte sq8 column — while the
    // scan reads 8× fewer bytes per row (the rerank is a constant 200
    // rows, not a per-row cost). Measured honestly on this near-isotropic
    // corpus (the IvfRecallSpec doctrine).
    assert(r200 >= sq8Recall - 1e-9,
      s"PQ@8B+rerank-200 ($r200) must match sq8-only@64B ($sq8Recall)")
    coded.unpersist()
  }

  test("ADC over stored codes reads only (id, code) — never the vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    ProductQuantization.assignCodes(e, "embedding", cb)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = e.filter($"vec_id" === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    val p = VectorPlanner
      .shortlist(stored, q, None, VectorPlanner.Adc(cb, 50), idCol = "vec_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC cut must be a bounded top-k:\n${p.take(1500)}")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("pq_code") && !readSchema.contains("embedding"),
      s"ADC scan must read only the code column: $readSchema")
  }

  test("probeAdc: results come only from probed cells; top hit survives") {
    val indexed = ProductQuantization.assignCodes(
      VectorIndex.assignSignBuckets(e, "embedding", nBits = 8),
      "embedding", cb)
    val q = e.filter($"vec_id" === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    val ball = VectorIndex.codesWithin(
      VectorIndex.signBucketOf(q, 8), 8, 1).toSet
    val out = VectorPlanner.topK(
      indexed.filter($"vec_id" =!= 1), q, k = 10,
      Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Adc(cb, 50),
      idCol = "vec_id")
    val ids = out.select("vec_id").as[Long].collect().toSeq
    assert(ids.nonEmpty && ids.size <= 10)
    val cells = indexed.filter($"vec_id".isin(ids: _*))
      .select("cluster_id").as[Int].collect().toSet
    assert(cells.subsetOf(ball),
      s"probe returned rows outside the hamming ball: ${cells -- ball}")
    // the probed-and-reranked top-1 must equal the exact top-1 restricted
    // to the ball (pruning, not rescoring, is the only approximation left)
    val exactTop = SimilaritySearch.topK(
        indexed.filter($"vec_id" =!= 1 && $"cluster_id".isin(ball.toSeq: _*)),
        q, 1, "l2", "embedding", "vec_id")
      .select("vec_id").as[Long].head()
    assert(out.orderBy(round($"score", 6), $"vec_id")
      .select("vec_id").as[Long].head() == exactTop)
  }

  test("residuals equal the driver-side subtraction bitwise; centroids are model-state-sized") {
    val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
    val cents = ProductQuantization.cellCentroids(indexed, "embedding")
    val nCells = indexed.select("cluster_id").distinct().count()
    assert(cents.size == nCells, "one centroid per non-empty cell")
    assert(cents.values.forall(_.length == 64))
    // the engine's residual is BITWISE the driver's double subtraction
    // (one correctly-rounded IEEE op against the rounded centroid) — the
    // property that lets a SQL oracle replay residuals with `v[i] - m`
    val res = ProductQuantization.withResiduals(indexed, "embedding", cents)
    val bad = res.select(
        col("cluster_id"), col("embedding").cast("array<double>").as("v"),
        col("__res"))
      .as[(Int, Seq[Double], Seq[Double])].collect()
      .count { case (c, v, r) =>
        val cent = cents(c)
        v.indices.exists(i => r(i) != v(i) - cent(i))
      }
    assert(bad == 0, s"$bad rows diverge from the driver-side subtraction")
  }

  test("residual ADC over stored codes reads only (id, cell, code)") {
    val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
    val cents = ProductQuantization.cellCentroids(indexed, "embedding")
    val res = ProductQuantization.withResiduals(indexed, "embedding", cents)
    val cbR = ProductQuantization.trainCodebooks(
      res, "vec_id", "__res", m = 8, ksub = 16, rounds = 1, seed = "rpq")
    val dir = java.nio.file.Files.createTempDirectory("graft_rpq").toString
    ProductQuantization.assignCodes(res, "__res", cbR).drop("__res")
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = e.filter($"vec_id" === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    val p = VectorPlanner
      .shortlist(stored, q, Some(VectorIndex.signCells(_, 8, 1)),
        VectorPlanner.ResidualAdc(cbR, cents, 50), idCol = "vec_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"residual ADC cut must be a bounded top-k:\n${p.take(1500)}")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("pq_code") && readSchema.contains("cluster_id")
        && !readSchema.contains("embedding"),
      s"residual ADC scan must read only (id, cell, code): $readSchema")
    // the residual probe end-to-end agrees with a driver-side replay of
    // LUT lookups over the same codes
    val out = VectorPlanner.topK(
      stored.filter($"vec_id" =!= 1), q, k = 5,
      Some(VectorIndex.signCells(_, 8, 1)),
      VectorPlanner.ResidualAdc(cbR, cents, 50), idCol = "vec_id")
    assert(out.count() == 5)
    val ball = VectorIndex.codesWithin(
      VectorIndex.signBucketOf(q, 8), 8, 1).toSet
    val cellsHit = stored
      .join(out.select("vec_id"), Seq("vec_id"))
      .select("cluster_id").as[Int].collect().toSet
    assert(cellsHit.subsetOf(ball),
      s"residual probe left the hamming ball: ${cellsHit -- ball}")
  }

  test("on the clustered fixture, residual PQ reconstructs tighter than plain") {
    val f = VectorPrep.clusteredFixture(
      e.select("vec_id"), "vec_id", dim = 16, kClusters = 8)
    val indexed = VectorIndex.assignSignBuckets(f, "fvec", nBits = 8)
    val cbP = ProductQuantization.trainCodebooks(
      indexed, "vec_id", "fvec", m = 8, ksub = 16, rounds = 1, seed = "fpq")
    val cents = ProductQuantization.cellCentroids(indexed, "fvec")
    val res = ProductQuantization.withResiduals(indexed, "fvec", cents)
    val cbR = ProductQuantization.trainCodebooks(
      res, "vec_id", "__res", m = 8, ksub = 16, rounds = 1, seed = "frq")
    // mean squared reconstruction error per path, computed from each
    // row's own codes: plain reconstructs from cbP alone; residual from
    // cell centroid + cbR. Identical stored bytes (8 one-byte codes).
    def mse(coded: org.apache.spark.sql.DataFrame, vecCol: String,
        cb: ProductQuantization.Codebooks, addCent: Boolean): Double = {
      val rows = coded
        .select(col("cluster_id"), col(vecCol).cast("array<double>"),
          col("pq_code"))
        .as[(Int, Seq[Double], Seq[Byte])].collect()
      val errs = rows.map { case (cell, v, code) =>
        val rec = code.zipWithIndex.flatMap { case (cid, s) =>
          cb(s)(cid - 1)
        }.toArray
        val full =
          if (addCent) rec.zip(cents(cell)).map { case (a, b) => a + b }
          else rec
        v.indices.map(i => math.pow(v(i) - full(i), 2)).sum
      }
      errs.sum / errs.length
    }
    val mseP = mse(ProductQuantization.assignCodes(indexed, "fvec", cbP),
      "fvec", cbP, addCent = false)
    val mseR = mse(ProductQuantization.assignCodes(res, "__res", cbR),
      "fvec", cbR, addCent = true)
    assert(mseR < mseP,
      s"residual must quantize tighter on clustered data: $mseR vs $mseP")
  }

  test("probeAdcBatch: self at rank 1, per-query ball containment") {
    val indexed = ProductQuantization.assignCodes(
      VectorIndex.assignSignBuckets(e, "embedding", nBits = 8),
      "embedding", cb)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val out = VectorPlanner.topKBatch(
        indexed, qs, k = 5, Some(VectorIndex.signCells(_, 8, 1)),
        VectorPlanner.Adc(cb, 20), idCol = "vec_id")
      .collect()
    assert(out.nonEmpty)
    // each query finds itself first at exact distance 0
    val firsts = out.filter(_.getAs[Int]("rank") == 1)
    assert(firsts.length == 3)
    firsts.foreach { r =>
      assert(r.getAs[Long]("vec_id") == r.getAs[Long]("query_id"))
      assert(r.getAs[Double]("score") == 0.0)
    }
    // every hit lies inside ITS query's hamming ball
    val buckets = indexed.select($"vec_id", $"cluster_id")
      .as[(Long, Int)].collect().toMap
    val qvecs = qs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    out.foreach { r =>
      val ball = VectorIndex.codesWithin(
        VectorIndex.signBucketOf(qvecs(r.getAs[Long]("query_id")), 8), 8, 1)
      assert(ball.contains(buckets(r.getAs[Long]("vec_id"))),
        s"hit outside its query's ball: $r")
    }
  }

  test("probeAdcResidualBatch: self at rank 1, hits confined to probed cells") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val coarse = ProductQuantization.trainCodebooks(
      e, "vec_id", "embedding", m = 1, ksub = 8, rounds = 1, seed = "kvr")
    val cellCents = coarse(0).zipWithIndex
      .map { case (c, i) => (i + 1) -> c }.toMap
    val indexed = ProductQuantization
      .assignCodes(e, "embedding", coarse, "__coarse")
      .withColumn("cluster_id", element_at($"__coarse", 1).cast("int"))
      .drop("__coarse")
    val res = ProductQuantization.withResiduals(indexed, "embedding", cellCents)
    val cb = ProductQuantization.trainCodebooks(res, "vec_id", "__res",
      m = 8, ksub = 16, rounds = 1, seed = "krq")
    val coded = ProductQuantization.assignCodes(res, "__res", cb).drop("__res")
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val out = VectorPlanner.topKBatch(coded, qs, k = 5,
      Some(q => ProductQuantization.nearestCellsD(q.map(_.toDouble), cellCents, 2)),
      VectorPlanner.ResidualAdc(cb, cellCents, 20),
      vecCol = "embedding", idCol = "vec_id").collect()
    val firsts = out.filter(_.getAs[Int]("rank") == 1)
    assert(firsts.length == 3)
    firsts.foreach { r =>
      assert(r.getAs[Long]("vec_id") == r.getAs[Long]("query_id"))
      assert(r.getAs[Double]("score") == 0.0)
    }
    val cells = coded.select($"vec_id", $"cluster_id")
      .as[(Long, Int)].collect().toMap
    val qvecs = qs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    out.foreach { r =>
      val probed = ProductQuantization.nearestCellsD(
        qvecs(r.getAs[Long]("query_id")).map(_.toDouble), cellCents, 2)
      assert(probed.contains(cells(r.getAs[Long]("vec_id"))),
        s"hit outside its query's probed cells: $r")
    }
  }

  test("nearestCellsD: rounded-l2 order, cid tie-break, nprobe cut") {
    val cents = Map(
      1 -> Array(1.0, 0.0), 2 -> Array(0.0, 1.0),
      3 -> Array(1.0, 0.0), // exact tie with cell 1 → lower cid first
      4 -> Array(10.0, 10.0))
    val got = ProductQuantization.nearestCellsD(Array(1.0, 0.0), cents, 3)
    assert(got == Seq(1, 3, 2), s"tie must break on cid: $got")
    assert(ProductQuantization.nearestCellsD(Array(1.0, 0.0), cents, 1)
      == Seq(1))
  }

  test("kmeans coarse quantizer IS PQ training at m = 1 (q169's trick)") {
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val coarse = ProductQuantization.trainCodebooks(
      e, "vec_id", "embedding", m = 1, ksub = 8, rounds = 1, seed = "kvr")
    assert(coarse.length == 1 && coarse(0).length == 8)
    assert(coarse(0).forall(_.length == 64),
      "m=1 sub-vectors are the full vectors")
    // every assignment is the rounded-l2 argmin against the returned
    // centroids — recompute independently per row
    val cells = ProductQuantization
      .assignCodes(e, "embedding", coarse, "code")
      .select($"vec_id", $"embedding", element_at($"code", 1).cast("int"))
      .as[(Long, Seq[Float], Int)].collect()
    cells.take(50).foreach { case (id, v, cid) =>
      val want = coarse(0).zipWithIndex.map { case (c, i) =>
        val d = math.sqrt(v.indices.map { j =>
          val x = v(j).toDouble - c(j); x * x
        }.sum)
        (java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(), i + 1)
      }.min._2
      assert(cid == want, s"vec $id assigned $cid, expected $want")
    }
  }
}
