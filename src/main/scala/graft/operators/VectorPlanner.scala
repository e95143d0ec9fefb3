package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CellLayout, IndexLayout}
import graft.operators.ProductQuantization.Codebooks

/** The one vector-query planner: every SEARCHSIMILAR-shaped question
  * (`/root/reference/src/command/types.rs:121-132`) — single or batch,
  * exact or approximate, through the database, the CLI, a hybrid dense
  * branch or a gate — is three independent choices:
  *
  *  - '''cells''': the `cluster_id` cells a query probes
  *    ([[CellLayout.cells]] via [[cellsOf]], or an explicit rule), or
  *    none — every row;
  *  - '''scorer''': exact float in a metric, or an approximate first pass
  *    ([[Sq8]], [[Adc]], [[ResidualAdc]]) that keeps a bounded shortlist
  *    for ONE exact rerank;
  *  - '''arity''': one query ([[topK]]) or a batch ([[topKBatch]]).
  *
  * The arity changes neither choice. One query keeps the serving shape: the
  * shortlist is a bounded TakeOrdered and its ≤ shortlist rows join back
  * through [[SimilaritySearch.rerankExact]]'s literal lookup (two jobs, no
  * broadcast). A batch scans the union of every query's cells ONCE, scores
  * each row only against the queries probing its cell (a broadcast
  * (query, cell) join), keeps a bounded heap per query
  * ([[SimilaritySearch.boundedTopKPerQuery]]) and, for an approximate
  * scorer, collects the heap's shortlists once and reranks them in one
  * scan through the same literal lookup as one query's, as long as the
  * literal — shortlist × |batch| rows plus the |batch| × dim query floats —
  * stays within [[SimilaritySearch.InThreshold]]; a larger batch reranks
  * through a broadcast join-back.
  *
  * Rank rules the gates depend on: the SQ8 shortlist cuts on the
  * integer-exact int8 score (q79); exact and SQ8 results rank by the raw
  * score with an id tie-break (q71/q128); ADC shortlists cut on the
  * rounded ADC distance, and a batch reranks by the ROUNDED exact l2,
  * ascending (q135/q142/q173).
  */
object VectorPlanner {

  /** The first pass that ranks rows. */
  sealed trait Scorer

  /** Exact float scores in `metric`. */
  final case class Exact(metric: String) extends Scorer

  /** An approximate first pass: keeps `shortlist` rows per query for the
    * exact rerank.
    */
  sealed trait Shortlisted extends Scorer {
    def shortlist: Int
    /** The stored column the first pass reads, dropped before the rerank. */
    def storedCol: Option[String]
    /** The metric of the exact rerank. */
    def rerankMetric: String
  }

  /** int8 cosine/dot: the stored `q8Col` when given, else quantized in
    * flight with the same rule ([[SimilaritySearch.sq8Bytes]]).
    */
  final case class Sq8(metric: String, shortlist: Int,
      q8Col: Option[String] = None) extends Shortlisted {
    def storedCol: Option[String] = q8Col
    def rerankMetric: String = metric
  }

  /** ADC over the stored PQ codes in `codeCol`. ADC decomposes squared
    * l2, so the rerank is l2 whatever metric the caller names.
    */
  sealed trait AdcScorer extends Shortlisted {
    def codebooks: Codebooks
    def codeCol: String
    def storedCol: Option[String] = Some(codeCol)
    def rerankMetric: String = "l2"
  }

  /** One lookup table per query. */
  final case class Adc(codebooks: Codebooks, shortlist: Int,
      codeCol: String = "pq_code") extends AdcScorer

  /** Codes of the residual `x − centroid(cell)`: one lookup table per
    * (query, probed cell), so only cells with a centroid are scored.
    */
  final case class ResidualAdc(codebooks: Codebooks,
      cellCents: Map[Int, Array[Double]], shortlist: Int,
      codeCol: String = "pq_code") extends AdcScorer

  /** A query's probed cells; None scans every row. */
  type Cells = Option[Array[Float] => Seq[Int]]

  /** The cell rule, one for every layout: `radius >= 0` on a
    * [[CellLayout]] probes its cells at that radius; anything else has no
    * cells.
    */
  def cellsOf(layout: Option[IndexLayout], radius: Int): Cells =
    layout match {
      case Some(l: CellLayout) if radius >= 0 => Some(l.cells(_, radius))
      case _ => None
    }

  /** Whether the scorer's final rank is descending (a similarity). */
  def descending(scorer: Scorer): Boolean = scorer match {
    case Exact(metric) => metric != "l2"
    case _: Sq8 => true
    case _: AdcScorer => false
  }

  /** `data` restricted to `cells` — a partition-pruned scan on a
    * `partitionBy("cluster_id")` layout.
    */
  def inCells(data: DataFrame, cells: Seq[Int]): DataFrame =
    data.filter(col("cluster_id").isin(cells: _*))

  private val InFlightQ8 = "__q8"

  /** One query's top-k. Output: the collection's columns without the
    * vector, plus `score`; an approximate scorer drops its stored column
    * and adds `approx_score`.
    */
  def topK(data: DataFrame, query: Array[Float], k: Int, cells: Cells,
      scorer: Scorer, vecCol: String = "embedding",
      idCol: String = "id"): DataFrame = scorer match {
    case Exact(metric) =>
      SimilaritySearch.topK(cells.fold(data)(c => inCells(data, c(query))),
        query, k, metric, vecCol, idCol)
    case s: Shortlisted =>
      require(s.shortlist >= k, s"shortlist ${s.shortlist} must be >= k $k")
      val (scanned, short) = shortlisted(data, query, cells, s, vecCol, idCol)
      SimilaritySearch.rerankExact(s.storedCol.fold(scanned)(scanned.drop),
        short, query, k, s.shortlist, s.rerankMetric, vecCol, idCol)
  }

  /** The bounded approximate stage of [[topK]]: (`idCol`,
    * `approx_score`), reading only the id and the scorer's column (plus
    * `cluster_id` for the residual tables).
    */
  def shortlist(data: DataFrame, query: Array[Float], cells: Cells,
      scorer: Shortlisted, vecCol: String = "embedding",
      idCol: String = "id"): DataFrame =
    shortlisted(data, query, cells, scorer, vecCol, idCol)._2

  /** (the scanned rows, their shortlist). */
  private def shortlisted(data: DataFrame, query: Array[Float], cells: Cells,
      scorer: Shortlisted, vecCol: String,
      idCol: String): (DataFrame, DataFrame) = scorer match {
    case Sq8(metric, n, q8) =>
      val scanned = cells.fold(data)(c => inCells(data, c(query)))
      val coded = if (q8.isDefined) scanned
        else scanned.withColumn(InFlightQ8, SimilaritySearch.sq8Bytes(col(vecCol)))
      (scanned, SimilaritySearch.sq8ShortlistStored(coded, query, n, metric,
        q8.getOrElse(InFlightQ8), idCol))
    case Adc(cb, n, codeCol) =>
      val scanned = cells.fold(data)(c => inCells(data, c(query)))
      (scanned, adcCut(scanned, lit(ProductQuantization.adcTable(query, cb).flatten),
        cb, n, codeCol, idCol))
    case r: ResidualAdc =>
      val probed = residualCells(r, cells.map(_(query)))
      val luts = probed.map(c => c -> residualLut(query, r, c)).toMap
      val scanned = inCells(data, probed)
      (scanned, adcCut(scanned,
        element_at(typedLit(luts), col("cluster_id").cast("int")),
        r.codebooks, r.shortlist, r.codeCol, idCol))
  }

  /** The probed cells that have a residual centroid (an empty cell has no
    * centroid and no rows); every centroid cell without cells.
    */
  private def residualCells(r: ResidualAdc, probed: Option[Seq[Int]]): Seq[Int] = {
    val cells = probed.getOrElse(r.cellCents.keys.toSeq.sorted)
      .filter(r.cellCents.contains)
    require(cells.nonEmpty, "residual ADC: no probed cell has data")
    cells
  }

  /** The flattened lookup table of `query`'s residual in `cell`. */
  private def residualLut(query: Array[Float], r: ResidualAdc,
      cell: Int): Seq[Double] = {
    val cent = r.cellCents(cell)
    ProductQuantization.adcTableD(
      Array.tabulate(query.length)(i => query(i).toDouble - cent(i)),
      r.codebooks).flatten.toSeq
  }

  /** Bounded ADC cut: the `n` rows nearest by the rounded ADC distance
    * against `lut`, ties on id.
    */
  private def adcCut(scanned: DataFrame, lut: Column, cb: Codebooks, n: Int,
      codeCol: String, idCol: String): DataFrame =
    scanned
      .withColumn("__lut", lut)
      .withColumn("approx_score", adcOf(cb, codeCol))
      .orderBy(asc("approx_score"), col(idCol))
      .limit(n)
      .select(col(idCol), col("approx_score"))

  private def adcOf(cb: Codebooks, codeCol: String): Column =
    ProductQuantization.adcDistance(col("__lut"), col(codeCol), cb.length,
      cb.head.length)

  /** A batch's top-k per query: `queries` is (`queryIdCol` integral,
    * `queryVecCol` array<float>), request-sized by construction. Output:
    * (queryIdCol, idCol, score, rank) — plus `approx_score` after an
    * approximate scorer — self-matches included. `inThreshold` caps what
    * the literal rerank inlines into every task: shortlist × |batch|
    * lookup rows plus |batch| × dim query-vector floats
    * ([[SimilaritySearch.rerankExact]]'s rule at batch arity, where the
    * query vectors ride the literal too).
    */
  def topKBatch(data: DataFrame, queries: DataFrame, k: Int, cells: Cells,
      scorer: Scorer, vecCol: String = "embedding", idCol: String = "id",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      inThreshold: Int = SimilaritySearch.InThreshold): DataFrame = {
    val b = new Batch(data, queries, cells, scorer, idCol, queryIdCol, queryVecCol)
    scorer match {
      case Exact(metric) =>
        val (sc, desc_?) = SimilaritySearch.score(metric, col(vecCol),
          col(queryVecCol))
        b.topK(b.scored(b.qs, if (desc_?) sc else -sc), k, desc_?)
      case s: Shortlisted =>
        require(s.shortlist >= k, s"shortlist ${s.shortlist} must be >= k $k")
        // ONE exact rerank: the shortlists join back to the full vectors of
        // the probed cells — rerankExact's cap-and-switch on the observable
        // size shortlist × |batch| + |batch| × dim: within inThreshold the
        // shortlists are collected once and join back as literals, the
        // query vectors with them (one scan, no broadcast); above it both
        // sides broadcast
        val (exact, desc_?) = s match {
          case _: Sq8 =>
            SimilaritySearch.score(s.rerankMetric, col(vecCol), col(queryVecCol))
          case _ =>
            (round(graft.functions.l2_dist(col(vecCol), col(queryVecCol)), 6), false)
        }
        val w = Window.partitionBy(queryIdCol)
          .orderBy(if (desc_?) desc("score") else asc("score"), col(idCol))
        val vecs = b.probed.select(col(idCol).cast("long").as(idCol), col(vecCol))
        val short = b.shortlists(s, vecCol)
        val joined =
          if (s.shortlist.toLong * b.rows.size +
              b.rows.map(_._2.length.toLong).sum <= inThreshold)
            SimilaritySearch.literalJoin(vecs, short.collect().toSeq, short.schema, idCol)
              .withColumn(queryVecCol, element_at(typedLit(b.rows.toMap), col(queryIdCol)))
          else vecs.join(broadcast(short), Seq(idCol)).join(broadcast(b.qs), Seq(queryIdCol))
        joined
          .withColumn("score", exact)
          .drop(vecCol, queryVecCol)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col(queryIdCol), col(idCol), col("approx_score"),
            col("score"), col("rank"))
    }
  }

  /** The approximate stage of [[topKBatch]]: each query's bounded
    * shortlist, (queryIdCol, idCol, approx_score) — shared with the decon
    * screen, which reranks it under its own flag rule.
    */
  private[graft] def shortlistBatch(data: DataFrame, queries: DataFrame,
      cells: Cells, scorer: Shortlisted, vecCol: String = "embedding",
      idCol: String = "id", queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    new Batch(data, queries, cells, scorer, idCol, queryIdCol, queryVecCol)
      .shortlists(scorer, vecCol)

  /** One query batch against `data`: the frame, its rows on the driver
    * (collected once, only when cells, lookup tables or the literal rerank
    * need them), the
    * (query, cell) pairs it probes, and the scan that scores each row
    * against the queries probing its cell.
    */
  private final class Batch(data: DataFrame, queries: DataFrame, cells: Cells,
      scorer: Scorer, idCol: String, queryIdCol: String, queryVecCol: String) {
    private val spark = data.sparkSession
    import spark.implicits._
    // both ids ride the heaps and joins as longs: refuse other types here,
    // not deep in execution
    VectorIndex.requireIntegralCol(queries, queryIdCol, "VectorPlanner.topKBatch")
    VectorIndex.requireIntegralCol(data, idCol, "VectorPlanner.topKBatch")
    val qs: DataFrame = queries.select(
      col(queryIdCol).cast("long").as(queryIdCol), col(queryVecCol))

    lazy val rows: Seq[(Long, Array[Float])] = {
      val rs = qs.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      require(rs.nonEmpty, "VectorPlanner.topKBatch: empty query batch")
      rs
    }

    /** The probed (query, cell) pairs; None scans every row for every
      * query. A residual scorer always probes: only cells with a centroid.
      */
    private lazy val pairs: Option[Seq[(Long, Int)]] = scorer match {
      case r: ResidualAdc => Some(rows.flatMap { case (q, v) =>
        residualCells(r, cells.map(_(v))).map(q -> _) })
      case _ => cells.map(f => rows.flatMap { case (q, v) => f(v).map(q -> _) })
    }

    /** `data` restricted to the union of the probed cells. */
    lazy val probed: DataFrame =
      pairs.fold(data)(ps => inCells(data, ps.map(_._2).distinct.sorted))

    /** (queryIdCol, idCol, s): each probed row scored by `eff` against the
      * queries probing its cell. `perQuery` carries the scoring material
      * keyed by query — or by (query, cell), when it has a `cluster_id`.
      */
    def scored(perQuery: DataFrame, eff: Column): DataFrame = {
      val joined = pairs match {
        case None => data.crossJoin(broadcast(perQuery))
        case Some(_) if perQuery.columns.contains("cluster_id") =>
          probed.join(broadcast(perQuery), Seq("cluster_id"))
        case Some(ps) => probed
          .join(broadcast(ps.toDF(queryIdCol, "cluster_id")), Seq("cluster_id"))
          .join(broadcast(perQuery), Seq(queryIdCol))
      }
      joined.select(col(queryIdCol), col(idCol).cast("long").as(idCol), eff.as("s"))
    }

    /** The bounded heap per query over a [[scored]] frame:
      * (queryIdCol, idCol, score, rank).
      */
    def topK(scored: DataFrame, k: Int, desc_? : Boolean): DataFrame =
      SimilaritySearch.boundedTopKPerQuery(scored.as[(Long, Long, Double)],
        k, desc_?, idCol, queryIdCol)

    /** Each query's shortlist: (queryIdCol, idCol, approx_score). */
    def shortlists(s: Shortlisted, vecCol: String): DataFrame = {
      // per-query scoring material, and a row's effective
      // (higher-is-better) score against it
      val (perQuery, eff, desc_?) = s match {
        case Sq8(metric, _, q8) =>
          val (sc, d) = SimilaritySearch.score(metric,
            q8.fold(SimilaritySearch.sq8Bytes(col(vecCol)))(col), col("__qq8"))
          (qs.select(col(queryIdCol),
            SimilaritySearch.sq8Bytes(col(queryVecCol)).as("__qq8")),
            if (d) sc else -sc, d)
        case Adc(cb, _, codeCol) =>
          (rows.map { case (q, v) =>
            (q, ProductQuantization.adcTable(v, cb).flatten.toSeq)
          }.toDF(queryIdCol, "__lut"), -adcOf(cb, codeCol), false)
        case r: ResidualAdc =>
          // one table per probed (query, cell); its cell join restricts
          // each row to the queries probing its cell
          val vecs = rows.toMap
          (pairs.get.map { case (q, c) => (q, c, residualLut(vecs(q), r, c)) }
            .toDF(queryIdCol, "cluster_id", "__lut"),
            -adcOf(r.codebooks, r.codeCol), false)
      }
      topK(scored(perQuery, eff), s.shortlist, desc_?)
        .select(col(queryIdCol), col(idCol), col("score").as("approx_score"))
    }
  }
}
