package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._

/** Batch ANN index construction + probe — the Spark realization of REINDEX
  * (`/root/reference/src/command/types.rs:134-144`) feeding SEARCHSIMILAR's
  * pruned path.
  *
  * Two interchangeable cluster assignments:
  *
  *  - [[signBucket]]: deterministic LSH — bit i of the bucket code is the
  *    sign of dimension i. Pure codegen'd column math (no fitted model, no
  *    collect), reproducible everywhere — including in a SQL oracle — and at
  *    100 TB it assigns buckets in the same scan that writes the data.
  *  - [[kmeansAssign]]: MLlib KMeans centroids — better-balanced buckets for
  *    skewed embedding distributions, at the cost of a training pass; the
  *    fitted centroids table is small and broadcastable.
  *
  * Either way the collection is rewritten `partitionBy("cluster_id")`, so a
  * probe is a partition-pruned scan: `cluster_id IN (<codes near query>)`
  * never touches the other partitions' files.
  */
object VectorIndex {

  /** Loud integral-type gate for id columns that get `.cast("long")` on the
    * hot path (batch probes key heaps and joins by long ids): a string id
    * would otherwise fail deep in execution as an ANSI cast error or a
    * `Row.getLong` NPE — the candidatePairs/semDeDup/embeddingPairs
    * doctrine applied to the probe family.
    */
  private[graft] def requireIntegralCol(df: DataFrame, colName: String,
      op: String): Unit = {
    val t = df.schema(colName).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(t),
      s"$op requires an integral '$colName' column, got $t" +
        " — hash or re-key non-numeric ids first")
  }

  /** Bucket code from the signs of the first `nBits` dimensions (1-indexed
    * `element_at`). Codegen'd; no shuffle; deterministic.
    */
  def signBucket(vec: Column, nBits: Int): Column =
    (0 until nBits)
      .map(i => when(element_at(vec, i + 1) > 0.0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Add `cluster_id` via sign-bucket LSH. */
  def assignSignBuckets(df: DataFrame, vecCol: String = "embedding",
      nBits: Int = 8): DataFrame =
    df.withColumn("cluster_id", signBucket(col(vecCol), nBits))

  /** Sign-bucket code of a query vector, driver-side (same bit rule). */
  def signBucketOf(query: Array[Float], nBits: Int = 8): Int =
    (0 until nBits).map(i => if (query(i) > 0.0f) 1 << i else 0).sum

  /** All codes within `radius` bit-flips of `code` — the probe set. Bounded
    * by sum_{d<=radius} C(nBits,d); tiny for the radii that make sense.
    */
  def codesWithin(code: Int, nBits: Int, radius: Int): Seq[Int] = {
    def flips(c: Int, startBit: Int, left: Int): Seq[Int] =
      if (left == 0) Seq(c)
      else (startBit until nBits).flatMap(b => flips(c ^ (1 << b), b + 1, left - 1)) :+ c
    flips(code, 0, radius).distinct.sorted
  }

  /** IVF probe: partition-pruned scan of the buckets near the query, then
    * exact top-k rerank within the candidates. `radius` trades recall for
    * scanned volume (nprobe).
    */
  def probe(indexed: DataFrame, query: Array[Float], k: Int,
      metric: String = "cosine", nBits: Int = 8, radius: Int = 1,
      vecCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val candidates = codesWithin(signBucketOf(query, nBits), nBits, radius)
    SimilaritySearch.topK(
      indexed.filter(col("cluster_id").isin(candidates: _*)),
      query, k, metric, vecCol, idCol)
  }

  /** IVF × SQ8 — the composition that holds up at 100 TB: partition pruning
    * and byte pruning multiply. The probe keeps only the cells in
    * `cellIds` (at rest: a partition-pruned scan that never opens the other
    * cells' files), ranks the surviving rows by the STORED int8 column
    * (¼ of the vector bytes — the scan reads `(id, q8Col)` only), and
    * exact-reranks just the bounded shortlist with full-precision vectors
    * ([[SimilaritySearch.rerankExact]]'s cap-and-switch). Scanned bytes
    * ≈ (|cells| / total cells) × ¼ of the vector data — at 100 TB with 256
    * cells and radius-1 probing that is ~0.9% of the corpus bytes, vs 25 TB
    * for a plain SQ8 pass or 3.5 TB for IVF with float rerank.
    *
    * Output: all collection columns except the vectors, plus
    * `approx_score` (int8 cosine, integer-exact in double → engine-
    * reproducible) and `score` (exact).
    */
  def probeCellsSq8(indexed: DataFrame, cellIds: Seq[Int],
      query: Array[Float], k: Int, shortlist: Int,
      metric: String = "cosine", vecCol: String = "embedding",
      q8Col: String = "embedding_q8", idCol: String = "id",
      inThreshold: Int = 10000): DataFrame = {
    val cells = indexed.filter(col("cluster_id").isin(cellIds: _*))
    val short = SimilaritySearch.sq8ShortlistStored(
      cells, query, shortlist, metric, q8Col, idCol)
    SimilaritySearch.rerankExact(
      cells.drop(q8Col), short, query, k, shortlist, metric, vecCol, idCol,
      inThreshold)
  }

  /** [[probeCellsSq8]] on a sign-bucket layout: cells within `radius`
    * bit-flips of the query's code. Fully deterministic end to end (sign
    * buckets + integer-exact quantized scores) — the whole composition is
    * SQL-reproducible, so it carries a full hash-match oracle (q79).
    */
  def probeSq8(indexed: DataFrame, query: Array[Float], k: Int,
      shortlist: Int, metric: String = "cosine", nBits: Int = 8,
      radius: Int = 1, vecCol: String = "embedding",
      q8Col: String = "embedding_q8", idCol: String = "id",
      inThreshold: Int = 10000): DataFrame =
    probeCellsSq8(indexed, codesWithin(signBucketOf(query, nBits), nBits, radius),
      query, k, shortlist, metric, vecCol, q8Col, idCol, inThreshold)

  /** Batch IVF probe — the shape a retrieval or hard-negative-mining job
    * actually runs (the single-query probes serve the request path): for a
    * BATCH of queries, compute each query's probe cells driver-side (the
    * batch is request-sized, the same class of driver value as one query
    * vector), scan the UNION of all probed cells ONCE — on a
    * `partitionBy("cluster_id")` layout that is a partition-pruned scan
    * that never opens the other cells' files — and keep a bounded heap
    * per query ([[SimilaritySearch.boundedTopKPerQuery]]: ≤ k rows per
    * partition per query cross the shuffle, never a full sort).
    *
    * Each scanned row joins the (query, cell) pairs broadcast-side, so a
    * row scores only against the queries actually probing its cell — the
    * scored volume is Σ_q |cells(q)|-worth of rows, not |batch| × |union
    * scan| (the crossJoin shape of the exact batch, q22/q59).
    *
    * `cellsOf` maps a query vector to its probe cells — sign-bucket
    * hamming balls ([[probeBatch]]) or a collection layout's cells
    * ([[graft.core.CellLayout.cells]]).
    *
    * Output matches [[SimilaritySearch.topKBatchAgg]]:
    * (queryIdCol, idCol, score, rank).
    */
  def probeBatchCells(indexed: DataFrame, queries: DataFrame,
      cellsOf: Array[Float] => Seq[Int], k: Int, metric: String = "cosine",
      vecCol: String = "embedding", idCol: String = "id",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    requireIntegralCol(queries, queryIdCol, "probeBatchCells")
    requireIntegralCol(indexed, idCol, "probeBatchCells")
    val qRows = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol)).collect()
    require(qRows.nonEmpty, "probeBatchCells: empty query batch")
    val cellPairs: Seq[(Long, Int)] = qRows.toSeq.flatMap { r =>
      cellsOf(r.getSeq[Float](1).toArray).map(c => (r.getLong(0), c))
    }
    val union = cellPairs.map(_._2).distinct.sorted
    val cells = cellPairs.toDF(queryIdCol, "cluster_id")
    val (sc, descQ) = SimilaritySearch.score(metric, col(vecCol), col(queryVecCol))
    val eff = if (descQ) sc else -sc
    val scored = indexed
      .filter(col("cluster_id").isin(union: _*))
      .join(broadcast(cells), Seq("cluster_id"))
      .join(broadcast(queries.select(
        col(queryIdCol).cast("long").as(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol).cast("long").as(idCol), eff.as("s"))
      .as[(Long, Long, Double)]
    SimilaritySearch.boundedTopKPerQuery(scored, k, descQ, idCol, queryIdCol)
  }

  /** [[probeBatchCells]] on a sign-bucket layout: each query probes the
    * cells within `radius` bit-flips of its own code.
    */
  def probeBatch(indexed: DataFrame, queries: DataFrame, k: Int,
      metric: String = "cosine", nBits: Int = 8, radius: Int = 1,
      vecCol: String = "embedding", idCol: String = "id",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    probeBatchCells(indexed, queries,
      qv => codesWithin(signBucketOf(qv, nBits), nBits, radius),
      k, metric, vecCol, idCol, queryIdCol, queryVecCol)

  /** MLlib BucketedRandomProjectionLSH approximate nearest neighbors —
    * the "MLlib for vectors" alternative to the sign-bucket path. Seeded ⇒
    * reproducible on a fixed dataset/Spark version (not SQL-reproducible, so
    * queries built on it carry rows-only checks).
    */
  def brpAnn(df: DataFrame, vecCol: String, query: Array[Float], k: Int,
      bucketLength: Double = 2.0, numTables: Int = 3,
      seed: Long = 42L): DataFrame = {
    val withVec = df.withColumn("__features", array_to_vector(col(vecCol)))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
      .setInputCol("__features").setOutputCol("__hashes")
      .fit(withVec)
    model
      .approxNearestNeighbors(withVec,
        Vectors.dense(query.map(_.toDouble)), k)
      .drop("__features", "__hashes")
  }

  /** Add `cluster_id` via MLlib KMeans (fixed seed ⇒ reproducible on a given
    * dataset). Returns the assigned frame and the centroids as rows.
    */
  def kmeansAssign(df: DataFrame, vecCol: String = "embedding", k: Int = 16,
      seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    val withVec = df.withColumn("__features", array_to_vector(col(vecCol)))
    val model = new KMeans()
      .setK(k).setSeed(seed).setFeaturesCol("__features").setPredictionCol("cluster_id")
      .fit(withVec)
    val assigned = model.transform(withVec).drop("__features")
    (assigned, model.clusterCenters.map(_.toArray))
  }

  /** Nearest-centroid id as a column: argmin over centroids of ‖x − c‖²,
    * computed as argmin of (‖c‖²/2 − x·c) — monotone-equivalent because the
    * row's own norm is constant across centroids — so the per-centroid work
    * is one codegen'd [[graft.functions.dot_product]] against a literal.
    * Ties break to the lowest centroid id (struct ordering on (d, c)).
    *
    * This is the append-path twin of [[kmeansAssign]]: INSERT/BULKINSERT into
    * a KMeans-indexed collection assigns arriving rows with this expression
    * (pure column math in the write pass — no model, no training, no
    * collect), which is exactly IVF semantics: a cell is "the centroid you
    * are nearest to".
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "nearestCentroid: no centroids")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm = c.map(x => x * x).sum / 2.0
      struct((lit(halfNorm) - graft.functions.dot_product(vec, lit(c))).as("d"),
        lit(i).as("c"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("c")
  }

  /** Add `cluster_id` via nearest centroid (see [[nearestCentroid]]). */
  def assignNearestCentroid(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("cluster_id", nearestCentroid(col(vecCol), centroids))

  /** The `nprobe` centroid ids nearest to a query vector, driver-side (the
    * centroid table is tiny — it rode in on the index sidecar).
    */
  def nearestCentroidIds(query: Array[Float], centroids: Array[Array[Double]],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < c.length) {
        val d = (if (j < query.length) query(j).toDouble else 0.0) - c(j)
        s += d * d
        j += 1
      }
      (s, i)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq

  /** KMeans-IVF probe: partition-pruned scan of the `nprobe` cells nearest
    * the query, exact top-k rerank inside. The scan cost is ~nprobe/k of the
    * collection (cells are size-balanced by construction — KMeans' advantage
    * over sign buckets on skewed corpora).
    */
  def probeKMeans(indexed: DataFrame, query: Array[Float], k: Int,
      metric: String, centroids: Array[Array[Double]], nprobe: Int,
      vecCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val cand = nearestCentroidIds(query, centroids, math.max(1, nprobe))
    SimilaritySearch.topK(
      indexed.filter(col("cluster_id").isin(cand: _*)),
      query, k, metric, vecCol, idCol)
  }

  /** One fully-deterministic Lloyd (k-means) iteration, every number
    * engine-recomputable — the reproducible counterpart of the MLlib
    * kmeans index build (whose internal init/hashing keeps q49/q68
    * rows-only): initial centroids are the first `k` vectors in
    * md5(seed:id) order, assignment is argmin of ROUNDED l2 distance with
    * a centroid-id tie-break, refined centroids are per-dimension means
    * rounded before reuse (every handoff between stages is rounded, so
    * accumulation ulps can never flip an argmin across engines).
    *
    * Returns one row per input vector: (`idCol`, c_init, c_refined) —
    * the assignment under the seed centroids and after one refinement.
    * Empty clusters simply vanish from the refined set (mirrored by any
    * SQL recomputation).
    *
    * Scale shape: centroid seeding is a bounded top-k (TakeOrdered);
    * each assignment is a literal-centroid argmin expression INSIDE the
    * scan (zero shuffle — the [[lloydIterate]] shape; the final plan is
    * scan → project, PlanAuditSpec-pinned); the refinement is one
    * partial-agg mean over (cluster, dim) — k·dim result rows of
    * bounded driver state. Real index builds run [[kmeansAssign]] (MLlib,
    * many iterations); this operator exists for the exactness-audited
    * path and as the convergence primitive a caller can iterate with the
    * [[graft.operators.Dedup]] localCheckpoint discipline.
    */
  /** Deterministic farthest-point (k-center greedy) selection — the
    * classic 2-approximation to the k-center problem, doubling as the
    * diversity-sampling primitive of training-data curation (coreset
    * selection: each pick is the point farthest from everything already
    * kept) and as a seeding rule that provably lands one seed per
    * well-separated cluster (a blob farther away than any intra-blob
    * spread ALWAYS receives the next pick — md5 seeding can't promise
    * that, see [[lloydIterate]]).
    *
    * Deterministic end to end: the first pick is the md5(seed:id)
    * minimum; every later pick maximizes the ROUNDED min-distance to the
    * chosen set with an id tie-break — so any SQL engine replays the
    * exact selection (the q108 oracle does, as k generated CTE layers).
    *
    * Scale shape: the classic greedy is O(k²·N) distance work when every
    * round recomputes distances to ALL chosen centers; here the per-row
    * min-distance is a RUNNING column (least of the carried minimum and
    * ONE new distance per round — the same rounded values, so the
    * selection is identical) kept flat by the lazy-localCheckpoint
    * discipline ([[graft.operators.Dedup.connectedComponents]]'s):
    * each round is ONE job — the bounded TakeOrdered(1) pick
    * materializes that round's checkpoint — for O(k·N) total distance
    * work, constant plan depth, and k·dim doubles of driver state.
    * Chosen ids leave the candidate frame, so exhausting the input
    * (k > distinct ids) fails LOUD instead of silently re-picking a
    * chosen point (coincident centroids downstream).
    */
  def farthestPointSample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: String = "kc"): Seq[(Long, Array[Double])] = {
    require(k >= 1, s"k must be positive, got $k")
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"farthestPointSample requires an integral id column, got $idCol: " +
          s"$other (hash string ids to int64 first)")
    }
    val e = df.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val key = md5(concat(lit(seed + ":"), col("__id").cast("string")))
    val firstRows = e.withColumn("__key", key)
      .orderBy(col("__key"), col("__id")).limit(1)
      .select("__id", "__v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(firstRows.nonEmpty, "farthestPointSample: empty input")
    val first = firstRows.head
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    // running-min frame, lazily checkpointed; each round's TakeOrdered
    // pick materializes it (one job/round), superseded checkpoints freed
    var frame = e.filter(col("__id") =!= first._1)
      .withColumn("__mind",
        round(graft.functions.l2_dist(col("__v"), lit(first._2)), 6))
      .localCheckpoint(false)
    // the lazy checkpoint is materialized by the pick job, so a
    // superseded frame can be freed only AFTER its successor's pick ran
    // (freeing eagerly would drop blocks the successor still reads)
    var prev: Option[DataFrame] = None
    while (chosen.length < k) {
      val nextRows = frame
        .orderBy(desc("__mind"), col("__id")).limit(1)
        .select("__id", "__v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      prev.foreach(GraftSqlShims.unpersistCheckpoint)
      prev = None
      if (nextRows.isEmpty) {
        GraftSqlShims.unpersistCheckpoint(frame)
        throw new IllegalArgumentException(
          s"farthestPointSample: k=$k exceeds the ${chosen.length} " +
            "distinct ids in the input")
      }
      val next = nextRows.head
      chosen += next
      if (chosen.length < k) {
        val updated = frame
          .filter(col("__id") =!= next._1)
          .withColumn("__mind", least(col("__mind"),
            round(graft.functions.l2_dist(col("__v"), lit(next._2)), 6)))
          .localCheckpoint(false)
        prev = Some(frame)
        frame = updated
      }
    }
    GraftSqlShims.unpersistCheckpoint(frame)
    chosen.toSeq
  }

  /** Lloyd's algorithm to convergence — [[lloydOnce]] is the
    * exactness-audited single step; this is the production loop. Each
    * round is ONE distributed job: assignment is the [[nearestCentroid]]
    * column expression over literal centroids (k·dim doubles of driver
    * state, exactly MLlib's model shape), and the per-dimension means
    * come back as k·dim rows. Because every round's plan is the stable
    * base frame plus a literal-centroid expression, plan depth is
    * CONSTANT — no lineage growth, no checkpoint discipline needed
    * (unlike label-propagation loops, where each round's frame derives
    * from the last).
    *
    * Converges when no centroid moves more than `tol` (max per-dim
    * drift); empty clusters keep their previous centroid (the MLlib
    * behavior). Returns (assignment with `cluster_id`, final centroids,
    * rounds run).
    */
  def lloydIterate(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 20, tol: Double = 1e-9, seed: String = "km",
      seeding: String = "md5"): (DataFrame, Array[Array[Double]], Int) = {
    require(k >= 1, s"k must be positive, got $k")
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    var cents: Array[Array[Double]] = seeding match {
      case "md5" =>
        e.withColumn("__key", key)
          .orderBy(col("__key"), col(idCol)).limit(k)
          .select("__v").collect().map(_.getSeq[Double](0).toArray)
      case "farthest" =>
        // k-center seeds: one per well-separated cluster by construction
        farthestPointSample(df, idCol, vecCol, k, seed).map(_._2).toArray
      case other => throw new IllegalArgumentException(
        s"seeding must be 'md5' or 'farthest', got '$other'")
    }
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val meanRows = e
        .withColumn("__cid", nearestCentroid(col("__v"), cents))
        .select(col("__cid"), posexplode(col("__v")))
        .groupBy("__cid", "pos").agg(avg("col").as("m"))
        .collect()
      val next = cents.map(_.clone())
      meanRows.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      moved = cents.zip(next).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.max
      }.max
      cents = next
      iter += 1
    }
    (assignNearestCentroid(df, cents, vecCol), cents, iter)
  }

  def lloydOnce(df: DataFrame, idCol: String, vecCol: String, k: Int,
      seed: String = "km"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    // bounded seeding: TakeOrdered cuts to k rows, returned in key order —
    // cid i+1 is the (i+1)-th row of the md5(seed:id) sort
    val cents0: Seq[(Long, Array[Double])] = e.withColumn("__key", key)
      .orderBy(col("__key"), col(idCol)).limit(k)
      .select("__v").collect().zipWithIndex
      .map { case (r, i) => (i + 1L, r.getSeq[Double](0).toArray) }.toSeq
    // zero seed vectors = empty input: the literal argmin over an empty
    // centroid set would not even analyze (array() of nothing) — return
    // the typed empty frame the crossJoin formulation used to produce
    if (cents0.isEmpty)
      return e.filter(lit(false))
        .select(col(idCol), lit(0L).as("c_init"), lit(0L).as("c_refined"))
    // ROUNDED-distance argmin with a centroid-id tie-break, as a
    // literal-centroid expression INSIDE the scan (the lloydIterate
    // shape): zero shuffle, where the former crossJoin(broadcast) +
    // row_number() over partitionBy(id) paid a full hash shuffle of a
    // k-times-inflated corpus. Same rounded values, same tie-break ⇒
    // identical assignment (array_min over struct(d, cid) is the
    // lexicographic minimum = ORDER BY d, cid LIMIT 1).
    def argmin(cents: Seq[(Long, Array[Double])]): Column = {
      val scored = cents.map { case (cid, c) =>
        struct(round(graft.functions.l2_dist(col("__v"), lit(c)), 6).as("d"),
          lit(cid).as("c"))
      }
      array_min(array(scored: _*)).getField("c")
    }
    val a0 = e.withColumn("c_init", argmin(cents0))
    // refinement: one partial-agg mean over (cluster, dim) — k·dim rows
    // back to the driver (bounded model state, the lloydIterate
    // discipline); empty clusters vanish from the refined set.
    // Means are dyadic-rational-prone (float sums over power-of-two
    // counts) → the +1e-9 midpoint guard before rounding.
    val meanRows = a0.select(col("c_init"), posexplode(col("__v")))
      .groupBy("c_init", "pos")
      .agg(round(avg("col") + lit(1e-9), 6).as("__m"))
      .collect()
    val cents1: Seq[(Long, Array[Double])] = meanRows
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      }
    // both assignments ride the SAME single scan — the final plan is
    // scan → project, no Exchange anywhere (PlanAuditSpec pins it)
    a0.withColumn("c_refined", argmin(cents1))
      .select(col(idCol), col("c_init"), col("c_refined"))
  }
}
