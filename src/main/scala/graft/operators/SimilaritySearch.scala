package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, MapType, StructField, StructType}

import graft.functions.{cosine_sim, dot_product, l2_dist}

/** k-NN similarity search over a collection of `array<float>` embeddings —
  * the Spark realization of the reference's SEARCHSIMILAR command
  * (`/root/reference/src/command/types.rs:121-132`).
  *
  * Design for scale:
  *  - Single query: score every row with a codegen'd expression, then
  *    `orderBy(score).limit(k)` — Catalyst plans `TakeOrderedAndProject`
  *    (per-partition heap + driver merge of k×partitions rows), never a full
  *    sort/shuffle of the collection.
  *  - Query batch: the query side is small by construction → `broadcast` it,
  *    score the (collection × queries) product map-side with zero shuffle,
  *    then one shuffle on `query_id` for the per-query top-k window. The big
  *    collection is never shuffled.
  *  - At 100 TB, exact scan is the fallback; [[VectorPlanner]] composes
  *    these operators with cell pruning and the approximate scorers.
  */
object SimilaritySearch {

  /** Scoring column for a metric; `higherIsBetter` drives sort direction. */
  def score(metric: String, a: Column, b: Column): (Column, Boolean) =
    metric match {
      case "cosine" => (cosine_sim(a, b), true)
      case "dot"    => (dot_product(a, b), true)
      case "l2"     => (l2_dist(a, b), false)
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  /** Exact top-k for a single query vector.
    * Output: all collection columns except the vector, plus `score`.
    */
  def topK(
      collection: DataFrame,
      queryVec: Array[Float],
      k: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id"): DataFrame = {
    val (sc, desc_?) = score(metric, col(vecCol), lit(queryVec))
    val scored = collection
      .withColumn("score", sc)
      .drop(vecCol)
    val ordered =
      if (desc_?) scored.orderBy(desc("score"), col(idCol))
      else scored.orderBy(asc("score"), col(idCol))
    ordered.limit(k)
  }

  /** int8 scalar quantization of a float/double vector: each component
    * becomes `floor(x·127 + 0.5)` clamped to [−127, 127] (explicit floor
    * rather than `round` so no engine rounding-mode choice can flip a
    * midpoint — the rule is reproducible in any SQL dialect). Computed in
    * double so float·int promotion can't move a value across a floor
    * boundary between engines.
    */
  def sq8(vec: Column): Column =
    transform(vec, x =>
      greatest(lit(-127), least(lit(127),
        floor(x.cast("double") * 127 + 0.5).cast("int"))))

  /** [[sq8]] as `array<tinyint>` — the stored `embedding_q8` column's
    * rule, and the in-flight copy of it where none is stored.
    */
  def sq8Bytes(vec: Column): Column = transform(sq8(vec), x => x.cast("tinyint"))

  /** The quantized-scan half of [[topKSq8]]: every row scored by the cosine
    * of the int8 vectors, top `shortlist` kept (TakeOrderedAndProject), the
    * full-precision vector column carried through for reranking. The
    * approximate score is integer-exact in double, so a SQL oracle
    * reproduces the shortlist bit-for-bit.
    */
  def sq8Shortlist(
      collection: DataFrame,
      queryVec: Array[Float],
      shortlist: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id"): DataFrame = {
    require(metric == "cosine" || metric == "dot",
      s"sq8 shortlist supports cosine/dot, got $metric")
    // quantize the query driver-side with the same rule as sq8(); int
    // values cast to float are exact, so cosine_sim's double accumulation
    // over them is integer-exact arithmetic — reproducible bit-for-bit.
    val q8 = queryVec.map(x =>
      math.max(-127, math.min(127, math.floor(x.toDouble * 127 + 0.5).toInt)).toFloat)
    val q8col = transform(sq8(col(vecCol)), x => x.cast("float"))
    val (approx, _) = score(metric, q8col, lit(q8))
    collection
      .withColumn("approx_score", approx)
      .orderBy(desc("approx_score"), col(idCol))
      .limit(shortlist)
  }

  /** SQ8-accelerated top-k: rank everything by the cosine of the int8
    * QUANTIZED vectors (4× less data to read when the quantized column is
    * stored, and integer products are exact in double — the approximate
    * score is bit-reproducible across engines), keep a `shortlist`, then
    * exact-rerank only the shortlist with full-precision vectors.
    *
    * This is the ANN path that holds up on corpora with no cluster
    * structure (where any cell-probing index — sign-bucket or KMeans —
    * must scan most of the data to recall well, see IvfRecallSpec): the
    * first pass touches every row but only the small quantized column, and
    * exact scoring touches ≤ `shortlist` rows. Both passes are
    * TakeOrderedAndProject (bounded heaps), never a full sort.
    *
    * Ties break on (approx score, id) for the shortlist and (score, id)
    * for the final rank, so the result is total-order deterministic and a
    * SQL oracle can reproduce it exactly. This is [[VectorPlanner]]'s SQ8
    * plan without cells, over the stored `q8Col` or an in-flight copy.
    */
  def topKSq8(
      collection: DataFrame,
      queryVec: Array[Float],
      k: Int,
      shortlist: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id",
      q8Col: Option[String] = None,
      rerank: Boolean = true): DataFrame = {
    val scorer = VectorPlanner.Sq8(metric, if (rerank) shortlist else k, q8Col)
    if (rerank) VectorPlanner.topK(collection, queryVec, k, None, scorer, vecCol, idCol)
    // rank by the quantized score alone: the scan never touches
    // full-precision vectors — with a stored column a strict quarter of the
    // exact scan's bytes. The quantization perturbs cosine by ~1e-3, so
    // the order can differ from exact only where neighbors are closer than
    // that (recall characterized in IvfRecallSpec).
    else VectorPlanner.shortlist(collection, queryVec, None, scorer, vecCol, idCol)
      .withColumnRenamed("approx_score", "score")
  }

  /** Exact rerank of a bounded shortlist, cap-and-switch on the shortlist
    * size:
    *
    *  - `shortlist ≤ inThreshold`: materialize the shortlist ONCE on the
    *    driver (it is request-sized by construction — the same class of
    *    driver-side value as the query vector) and join it back in the
    *    rerank scan as literals ([[literalJoin]]: no second execution of
    *    the shortlist plan and no broadcast job — the rerank is the
    *    command's only other job).
    *  - above the threshold: a giant In-list would serialize through the
    *    driver into every task, so the shortlist never leaves the
    *    executors — broadcast join-back instead (the pushdown win no
    *    longer covers the driver round-trip at that size).
    *
    * `short` must carry (`idCol`, `approx_score`); both are kept in the
    * output alongside the exact `score`.
    */
  def rerankExact(
      collection: DataFrame,
      short: DataFrame,
      queryVec: Array[Float],
      k: Int,
      shortlist: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id",
      inThreshold: Int = InThreshold): DataFrame = {
    val (exact, desc_?) = score(metric, col(vecCol), lit(queryVec))
    val joined =
      if (shortlist <= inThreshold) literalJoin(collection, short.collect().toSeq,
        short.schema, idCol)
      else collection.join(broadcast(short), Seq(idCol))
    val ranked = joined.withColumn("score", exact).drop(vecCol)
    (if (desc_?) ranked.orderBy(desc("score"), col(idCol))
     else ranked.orderBy(asc("score"), col(idCol)))
      .limit(k)
  }

  /** The literal size up to which a join-back of driver-side rows inlines
    * them ([[literalJoin]]) rather than broadcasting them: a rerank's
    * shortlist (plus a batch's query-vector floats,
    * [[VectorPlanner.topKBatch]]), a hybrid batch's term catalog.
    */
  val InThreshold = 10000

  /** `collection` inner-joined on `idCol` with `rows` (laid out as
    * `schema`, already on the driver) in one scan and no job of its own:
    * the ids push into the scan as an `In` filter, so parquet
    * row-group/page statistics can skip data, and the rows' other columns
    * attach through a literal id → array<struct> lookup, inlined — the
    * inner USING join's columns and multiplicity (duplicate ids on either
    * side, null ids matching nothing). Bounded by the caller: the rows
    * travel in every task.
    */
  private[graft] def literalJoin(collection: DataFrame, rows: Seq[Row],
      schema: StructType, idCol: String): DataFrame = {
    // positions from `schema`, by name — a shortlist with columns in
    // another order would otherwise silently push scores as ids
    val idIdx = schema.fieldIndex(idCol)
    val restIdx = schema.indices.filter(_ != idIdx)
    val rest = StructType(restIdx.map(schema(_)))
    val byId = rows.filter(_.get(idIdx) != null).groupBy(_.get(idIdx))
      .map { case (id, rs) => id -> rs.map(r => Row.fromSeq(restIdx.map(r.get))) }
    val lookup = GraftSqlShims.column(Literal.create(byId,
      MapType(schema(idCol).dataType,
        ArrayType(rest, containsNull = false), valueContainsNull = false)))
    collection
      .filter(col(idCol).isInCollection(rows.map(_.get(idIdx))))
      .select((idCol +: collection.columns.toSeq.filter(_ != idCol))
        .map(col) :+ inline(element_at(lookup, col(idCol))): _*)
  }

  /** The quantized-scan stage over a STORED int8 column: reads (id, q8Col)
    * only, scores in codegen, bounded top-`shortlist` cut.
    */
  def sq8ShortlistStored(
      collection: DataFrame,
      queryVec: Array[Float],
      shortlist: Int,
      metric: String,
      q8Col: String,
      idCol: String): DataFrame = {
    require(metric == "cosine" || metric == "dot",
      s"sq8 shortlist supports cosine/dot, got $metric")
    val q8 = queryVec.map(x =>
      math.max(-127, math.min(127, math.floor(x.toDouble * 127 + 0.5).toInt)))
    val (approx, _) = score(metric, col(q8Col), lit(q8))
    collection.select(col(idCol), col(q8Col))
      .withColumn("approx_score", approx)
      .orderBy(desc("approx_score"), col(idCol))
      .limit(shortlist)
      .select(col(idCol), col("approx_score"))
  }

  /** The bounded-heap tail of every batch plan ([[VectorPlanner
    * .topKBatch]]: exact top-k and approximate shortlists): per-query top-k via
    * [[TopKAggregator]] over a pre-scored (query, id, effective-score)
    * dataset — ≤ k rows per partition per query cross the shuffle. The
    * effective score is ALWAYS higher-is-better (callers negate ascending
    * metrics); `desc_?` restores the sign on output. Ties kept on
    * (score, lowest id). Output: (queryIdCol, idCol, score, rank).
    */
  private[graft] def boundedTopKPerQuery(
      scored: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      k: Int, desc_? : Boolean, idCol: String,
      queryIdCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val topk = new TopKAggregator(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk)
      .toDF(queryIdCol, "topk")
      .select(col(queryIdCol), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(
        col(queryIdCol),
        col("entry._1").as(idCol),
        (if (desc_?) col("entry._2") else -col("entry._2")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact per-query top-k for a batch of queries (ranking-window
    * formulation — simplest plan; [[VectorPlanner.topKBatch]] is the
    * shuffle-bounded heap variant).
    *
    * @param queries DataFrame with (`queryIdCol`, `queryVecCol`); must be
    *                small enough to broadcast (true by construction: queries
    *                arrive from a request, not from a table scan).
    */
  def topKBatch(
      collection: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val (sc, desc_?) = score(metric, col(vecCol), col(queryVecCol))
    val scored = collection
      .crossJoin(broadcast(queries))
      .withColumn("score", sc)
      .drop(vecCol, queryVecCol)
    val w = Window
      .partitionBy(queryIdCol)
      .orderBy(if (desc_?) desc("score") else asc("score"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * query (id, vector, label), the top-k most-similar collection rows
    * whose label DIFFERS from the query's — the near-miss negatives that
    * carry the most training signal.
    *
    * Same scale shape as [[topKBatch]] (queries broadcast — they arrive
    * from a request or a sampled anchor set, not a table scan), with the
    * label predicate applied MAP-SIDE, before scoring and before the
    * ranking window: positives never get scored and never shuffle, so the
    * per-query window input is already negatives-only.
    */
  def hardNegatives(
      collection: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "cosine",
      vecCol: String = "embedding",
      idCol: String = "id",
      labelCol: String = "label",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      queryLabelCol: String = "query_label"): DataFrame = {
    val (sc, desc_?) = score(metric, col(vecCol), col(queryVecCol))
    val w = Window
      .partitionBy(queryIdCol)
      .orderBy(if (desc_?) desc("score") else asc("score"), col(idCol))
    collection
      .crossJoin(broadcast(queries))
      .filter(col(labelCol) =!= col(queryLabelCol))
      .withColumn("score", sc)
      .drop(vecCol, queryVecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(queryLabelCol), col(idCol), col(labelCol),
        col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke, Büttcher 2009) — the
    * standard hybrid-retrieval combiner: each input ranking contributes
    * `1/(kRrf + rank)` per item, absent items contribute nothing, and
    * the fused score needs no score calibration across systems (ranks
    * only — exactly why hybrid BM25+dense stacks default to it). Inputs
    * are `(idCol, rankCol)` frames — bounded per-query result lists,
    * NOT corpus-sized scans.
    *
    * Determinism: each term is a single exact-integer division; the
    * per-item sum accumulates in list order which may vary → ROUNDED
    * (+1e-9) before the final rank, per the house rule. Scale shape: the
    * union is (Σ list sizes) rows; one aggregation, one bounded top-k.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
      rankCol: String = "rank", kRrf: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings to fuse")
    require(kRrf >= 1, s"kRrf must be positive, got $kRrf")
    val unioned = rankings
      .map(df => df.select(col(idCol), col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
    unioned.groupBy(idCol)
      .agg(
        round(sum(lit(1.0) / (lit(kRrf) + col("__r"))) + lit(1e-9), 6)
          .as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf"), col(idCol))
      .limit(k)
  }

  /** [[rrfFuse]] over ranked id lists already on the driver, a list's
    * ranks being its positions from 1 — the same arithmetic: each list
    * adds `1.0 / (kRrf + r)` to its ids' sums, which start at 0.0; a sum
    * rounds as `round(x + 1e-9, 6)` ([[round6]]); the cut is the same
    * (rrf desc, id) top `k`. Output: (id, rrf, n_lists) in rank order.
    */
  def rrfFuseRanked(rankings: Seq[Seq[Long]], kRrf: Int = 60,
      k: Int = 10): Seq[(Long, Double, Long)] = {
    require(rankings.nonEmpty, "rrfFuse: no rankings to fuse")
    require(kRrf >= 1, s"kRrf must be positive, got $kRrf")
    val fused = scala.collection.mutable.LinkedHashMap.empty[Long, (Double, Long)]
    for (ranked <- rankings; (id, i) <- ranked.zipWithIndex) {
      val (sum, n) = fused.getOrElse(id, (0.0, 0L))
      fused(id) = (sum + 1.0 / (kRrf.toLong + i + 1).toDouble, n + 1)
    }
    fused.toSeq.map { case (id, (sum, n)) => (id, round6(sum + 1e-9), n) }
      .sortWith { case ((ia, ra, _), (ib, rb, _)) =>
        if (ra != rb) ra > rb else ia < ib }
      .take(k)
  }

  /** [[rrfFuse]]'s output schema for ids of `idField`. */
  def rrfSchema(idField: StructField): StructType = StructType(Seq(idField,
    StructField("rrf", DoubleType), StructField("n_lists", LongType, nullable = false)))

  /** Spark's `round(x, 6)` of a double on the driver: HALF_UP on the
    * double's shortest decimal form (`BigDecimal.valueOf`), NaN and the
    * infinities unchanged.
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Embedding diversity per group: the mean pairwise cosine similarity
    * over all ordered pairs, computed WITHOUT any pair enumeration via
    * the sum-vector identity Σ_{i≠j} v̂_i·v̂_j = ‖Σ v̂‖² − Σ‖v̂‖² (≈ n for
    * unit vectors) ⇒ avg = (‖S‖² − n)/(n(n−1)). LOW values flag a
    * diverse (spread-out) group, values near 1 a near-duplicate cluster
    * — the data-selection diversity diagnostic at O(n·d) instead of
    * O(n²·d). All math in double ([[graft.Tables]] vector-parity
    * doctrine); the output rounds at 6dp (+1e-9: per-dimension sums are
    * accumulation-ordered).
    *
    * Scale shape: one projection normalizes (the unit array materialized
    * in its own projection — every lambda below reads it), one explode
    * to (group, dim) partial sums — 64·|groups| rows out of any corpus —
    * then a |groups|-sized fold. Groups with one vector emit null
    * (no pairs).
    */
  def embeddingDiversity(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val vd = df.select(col(groupCol),
      col(vecCol).cast("array<double>").as("__vd"))
    val normed = vd
      .withColumn("__norm", sqrt(aggregate(
        transform(col("__vd"), x => x * x), lit(0.0), (a, x) => a + x)))
      .withColumn("__unit", transform(col("__vd"), x => x / col("__norm")))
    val dims = normed
      .select(col(groupCol), posexplode(col("__unit")).as(Seq("dim", "x")))
      .groupBy(groupCol, "dim").agg(sum("x").as("__s"))
      .groupBy(groupCol).agg(sum(col("__s") * col("__s")).as("__ss"))
    val counts = vd.groupBy(groupCol).agg(count(lit(1)).as("n"))
    counts.join(dims, Seq(groupCol))
      .select(col(groupCol), col("n"),
        when(col("n") > 1, round(
          (col("__ss") - col("n")) / (col("n") * (col("n") - 1))
            + lit(1e-9), 6))
          .as("avg_cos"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * — diversified top-k: greedily pick the candidate maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), the standard
    * redundancy-penalized retrieval head (RAG context assembly wants k
    * DIFFERENT passages, not k near-copies of the best one).
    *
    * λ is fixed at 1/2 — dyadic, so 0.5·x is an EXACT scaling and the
    * two-term score is a single correctly-rounded subtraction over
    * engine-identical operands. Both rel and every pairwise sim are
    * ROUNDED cosines (+1e-9, 6 — the house rank rule) so selection
    * boundaries never ride accumulation ulps; ties break on the smaller
    * id. The greedy argmax chain is inherently sequential, so it runs on
    * the DRIVER over the collected shortlist (the cap-and-switch
    * precedent: m is bounded by `require`), with the distributed part —
    * scoring the corpus and cutting the top-m shortlist — a single
    * TakeOrdered pass. The driver cosine replays [[graft.functions
    * .cosine_sim]]'s index-order accumulation exactly.
    *
    * Scale shape: one corpus scan + TakeOrdered(m); the O(k·m) greedy
    * tail touches m rows of driver state. At 100 TB the shortlist cut
    * would ride an ANN probe instead of the exact scan — the MMR head is
    * identical either way.
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, m: Int = 50, k: Int = 10): DataFrame = {
    require(k >= 1 && m >= k, s"need m >= k >= 1, got m=$m k=$k")
    require(m <= 10000, s"shortlist cap m=$m exceeds the driver bound")
    // loud single-row contract (the repo convention): limit(1) on a
    // multi-row frame picks a PLAN-dependent row and the whole MMR
    // ranking would be silently nondeterministic
    require(query.limit(2).count() == 1L,
      "mmrSelect needs a single-row query frame")
    val spark = df.sparkSession
    import spark.implicits._
    val qv = broadcast(query
      .select(col(query.columns.head).cast("array<double>").as("__qv")))
    val short = df
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(qv)
      .withColumn("__rel",
        round(cosine_sim(col("__v"), col("__qv")) + lit(1e-9), 6))
      .orderBy(desc("__rel"), col("__id")).limit(m)
      .select("__id", "__v", "__rel").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toVector
    // index-order accumulation — the cosine_sim evalLoop verbatim
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double = BigDecimal(x + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var selected = Vector.empty[(Long, Array[Double], Double, Double)]
    var remaining = short
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.map { case (id, v, rel) =>
        val div = if (selected.isEmpty) 0.0
          else selected.map(s => r6(cos(v, s._2))).max
        (id, v, rel, 0.5 * rel - 0.5 * div)
      }.minBy { case (id, _, _, score) => (-score, id) }
      selected :+= best
      remaining = remaining.filterNot(_._1 == best._1)
    }
    selected.zipWithIndex
      .map { case ((id, _, rel, score), i) => (i + 1L, id, rel, score) }
      .toDF("rank", "sel_id", "rel", "mmr")
  }

  /** Sign-bucket probe RECALL CURVE — the tuning-curve generator an ANN
    * deployment reads to pick its operating point: for every Hamming
    * probe radius r in 0..`maxRadius`, recall@k of the radius-r probe
    * against the exact ranking, with the candidate volume alongside as
    * the cost axis. q126/q138 pin SINGLE operating points under the
    * exactness gate; this emits the whole recall/cost frontier in ONE
    * pass — the number a capacity plan trades against latency.
    *
    * One scan, no per-radius rescans: each scored row computes its
    * bucket distance d once and fans out to every radius ≥ d (explode
    * factor ≤ maxRadius+1 — `sequence`'s descending trap is excluded by
    * the d ≤ maxRadius filter). BOTH exact cuts — the gold top-k per
    * query and the per-(query, radius) probe top-k — run in
    * [[TopKAggregator]]'s bounded heap (the q59-gated shape): ≤ k rows
    * per partition per group cross the shuffle, never a corpus-sized
    * `row_number` window partition (at 100 TB a per-query window over
    * the full scored corpus is a single-reducer sort of the whole
    * collection). The query side broadcasts (bounded by construction,
    * the batch-probe rule); radii with zero candidates still emit via
    * the radius catalog.
    *
    * Determinism: scores round (+0, 6 — the q126 parity), ranks
    * tie-break on id, hits/candidates are exact integers, and recall =
    * n_hit / (nq·k) is ONE division of exact integers (no rounding, the
    * q120 doctrine).
    */
  def signRecallCurve(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      nBits: Int = 8, k: Int = 10, maxRadius: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(nBits >= 1 && nBits <= 30, s"nBits must be in [1,30], got $nBits")
    require(maxRadius >= 0 && maxRadius <= nBits,
      s"maxRadius must be in [0,$nBits], got $maxRadius")
    // ids ride the bounded heap as longs: reject non-integral ids up front
    VectorIndex.requireIntegralCol(vectors, idCol, "signRecallCurve")
    VectorIndex.requireIntegralCol(queries, qidCol, "signRecallCurve")
    val spark = vectors.sparkSession
    import spark.implicits._
    val coded = vectors.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"),
      VectorIndex.signBucket(col(vecCol), nBits).as("__c"))
    val qs = queries.select(col(qidCol).cast("long").as("__qid"),
      col(qvecCol).as("__qv"),
      VectorIndex.signBucket(col(qvecCol), nBits).as("__qc"))
    val scored = coded.crossJoin(broadcast(qs))
      .filter(col("__id") =!= col("__qid"))
      .withColumn("__score", round(cosine_sim(col("__v"), col("__qv")), 6))
      .withColumn("__d", bit_count(col("__c").cast("long")
        .bitwiseXOR(col("__qc").cast("long"))))
    // gold cut: bounded heap per query. Ties resolve (score desc, id asc)
    // inside the aggregator — identical to the row_number formulation it
    // replaces (gated equal by q59/q291 across 3 SFs).
    val gold = scored.select(col("__qid"), col("__id"), col("__score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(new TopKAggregator(k).toColumn)
      .toDF("__qid", "__topk")
      .select(col("__qid"), explode(col("__topk")).as("__e"))
      .select(col("__qid"), col("__e._1").as("__id"))
    val fanned = scored.filter(col("__d") <= maxRadius)
      .withColumn("radius",
        explode(sequence(col("__d").cast("int"), lit(maxRadius))))
    // probe cut: the same bounded heap keyed by (query, radius) — the
    // fan-out multiplies rows by ≤ maxRadius+1, so a window here would be
    // an even larger single-reducer sort than the gold's.
    val probe = fanned
      .select(col("__qid"), col("radius"), col("__id"), col("__score"))
      .as[(Long, Int, Long, Double)]
      .groupByKey(t => (t._1, t._2)).mapValues(t => (t._3, t._4))
      .agg(new TopKAggregator(k).toColumn)
      .toDF("__key", "__topk")
      .select(col("__key._1").as("__qid"), col("__key._2").as("radius"),
        explode(col("__topk")).as("__e"))
      .select(col("__qid"), col("__e._1").as("__id"), col("radius"))
    val nCand = fanned.groupBy("radius")
      .agg(count(lit(1)).as("n_candidates"))
    val nHit = probe.join(gold, Seq("__qid", "__id"))
      .groupBy("radius").agg(count(lit(1)).as("n_hit"))
    val nqf = qs.agg(count(lit(1)).as("__nq"))
    val radii = queries.sparkSession.range(0, maxRadius + 1)
      .select(col("id").cast("int").as("radius"))
    radii
      .join(nCand, Seq("radius"), "left")
      .join(nHit, Seq("radius"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hit"))
      .crossJoin(broadcast(nqf))
      .select(col("radius").cast("long").as("radius"),
        col("n_candidates"), col("n_hit"),
        (col("n_hit") / (col("__nq") * k)).as("recall"))
      .orderBy("radius")
  }
}
