package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011): split each vector
  * into `m` contiguous subspaces, learn a small codebook per subspace
  * (k-means over the sub-vectors), store each vector as `m` one-byte
  * centroid ids, and score queries against the codes via an
  * asymmetric-distance lookup table (ADC) — the 100 TB compression step
  * of the reference's SEARCHSIMILAR surface
  * (`/root/reference/src/command/types.rs:121-132`) beyond SQ8's 4×:
  * with dim 64 float32 and m = 8, codes are 8 bytes per row — 32× fewer
  * scan bytes, and the ADC scan reads only `(id, code)`.
  *
  * Deterministic end to end by the house doctrine (the q106 Lloyd rules,
  * applied per subspace): codebooks seed from the first `ksub` vectors in
  * md5(seed:id) order (ONE bounded top-k over the corpus — every
  * subspace slices the same seed rows, the classic PQ initialization),
  * assignment is argmin of ROUNDED l2 with a centroid-id tie-break,
  * refined centroids are per-dimension means rounded (+1e-9 midpoint
  * guard) before reuse, empty cells keep their previous centroid (the
  * MLlib/lloydIterate behavior — and it keeps the codebook DENSE, so ADC
  * lookup tables are plain arrays). Every handoff is rounded, so a SQL
  * engine replays codebooks, codes, and ADC scores exactly (the q127
  * gate does).
  *
  * Scale shape: training is `rounds` jobs, each one partial-agg pass
  * (m·ksub·dsub ≈ dim·ksub rounded doubles of driver/plan state — the
  * same model shape as [[VectorIndex.lloydIterate]]); code assignment and
  * ADC scoring are pure codegen column math against literal codebooks
  * (no join, no shuffle, runs inside the scan); the ADC cut is a bounded
  * top-k (TakeOrderedAndProject). Composes with the IVF layouts in
  * [[VectorIndex]] exactly like SQ8 does: prune cells, ADC-rank inside
  * them, exact-rerank the shortlist ([[SimilaritySearch.rerankExact]]).
  */
object ProductQuantization {

  /** Codebooks: `codebooks(s)(cid - 1)` is subspace `s`'s centroid `cid`
    * (1-based cids so codes index `element_at` directly), each of length
    * `dim / m`.
    */
  type Codebooks = Array[Array[Array[Double]]]

  private def checkDims(dim: Int, m: Int): Int = {
    require(m >= 1 && dim % m == 0,
      s"m must divide dim: dim=$dim m=$m")
    dim / m
  }

  /** Nearest centroid id (1-based) for a sub-vector against a literal
    * codebook: argmin of ROUNDED l2 distance, ties to the lowest cid —
    * the q106 assignment rule, engine-reproducible.
    */
  private def nearestCid(sv: Column, cents: Array[Array[Double]]): Column =
    // ONE compact expression instead of the expanded
    // array_min(array(struct(round(l2_dist(...))))) literal tree: m·ksub
    // l2 trees in a single consume blew Janino's 64 KB method limit and
    // dropped the PQ training/encoding stages to interpreted eval
    // (q127, r18; arithmetic parity documented on the expression)
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.NearestCentroidId(
        org.apache.spark.sql.GraftSqlShims.expression(sv), cents))

  /** Train per-subspace codebooks with `rounds` deterministic Lloyd
    * refinements (fixed round count, never convergence-dependent — a SQL
    * oracle replays exactly `rounds` layers). Seeds are the first `ksub`
    * vectors in md5(seed:id) order, sliced per subspace.
    */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, rounds: Int = 1, seed: String = "pq",
      store: Option[graft.core.StageStore] = None): Codebooks = {
    require(ksub >= 1 && ksub <= 127,
      s"ksub must fit a signed byte code, got $ksub")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    // stage names must satisfy StageStore's charset; the seed string
    // (e.g. "rpq:coarse") keys the stages of coexisting trainings
    val tag = seed.replaceAll("[^A-Za-z0-9_.-]", "-")
    // With a store (r14 verdict item 2), the seed sample and each Lloyd
    // round's model-sized mean frame COMMIT through the generation
    // pointer: a resumed training replays committed rounds from their
    // (s, cid, pos, mean) stages — the codebook recursion is exact
    // driver math on read-back doubles — and touches the corpus only at
    // the first uncommitted round. dim then derives from the staged
    // seeds, so a fully-committed training never reads the corpus.
    // ONE bounded top-k for every subspace's seeds (TakeOrdered, never a
    // rank window): the classic PQ init slices the same sampled rows.
    def seedPlan = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__key", key)
      .orderBy(col("__key"), col(idCol)).limit(ksub)
      .select("__v")
    val seedVecs = (store match {
      case Some(st) => st.stage(s"pq_${tag}_seeds")(seedPlan)
      case None =>
        // size() instead of a typed getSeq: the input may be the float
        // source column or a double residual column ([[withResiduals]])
        seedPlan
    }).collect().map(_.getSeq[Double](0).toArray)
    require(seedVecs.length == ksub,
      s"need at least ksub=$ksub vectors to seed, got ${seedVecs.length}")
    val dim = seedVecs.head.length
    val dsub = checkDims(dim, m)
    var cents: Codebooks = Array.tabulate(m) { s =>
      seedVecs.map(v => v.slice(s * dsub, (s + 1) * dsub))
    }
    var r = 0
    while (r < rounds) {
      // one job: every (subspace, cell, dim) mean in a single partial-agg
      // pass over the corpus
      val frozen = cents
      val subStructs = (0 until m).map { s =>
        val sv = slice(col("__v"), s * dsub + 1, dsub)
        struct(lit(s).as("s"), nearestCid(sv, frozen(s)).as("cid"),
          sv.as("sv"))
      }
      def meanPlan = df
        .select(col(vecCol).cast("array<double>").as("__v"))
        .select(explode(array(subStructs: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.cid").as("cid"),
          posexplode(col("e.sv")))
        .groupBy("s", "cid", "pos")
        .agg(round(avg("col") + lit(1e-9), 6).as("m"))
      val meanRows = (store match {
        case Some(st) => st.stage(s"pq_${tag}_round_${r + 1}")(meanPlan)
        case None => meanPlan
      }).collect()
      // keep-previous for empty cells (dense codebook, MLlib behavior)
      val next = cents.map(_.map(_.clone()))
      meanRows.foreach { row =>
        next(row.getInt(0))(row.getInt(1) - 1)(row.getInt(2)) =
          row.getDouble(3)
      }
      cents = next
      r += 1
    }
    cents
  }

  /** Append `codeCol` (array<tinyint>, length m, 1-based cids): each
    * vector's per-subspace nearest-centroid ids. Pure column math against
    * the literal codebooks — runs inside the scan that writes the data.
    */
  def assignCodes(df: DataFrame, vecCol: String, codebooks: Codebooks,
      codeCol: String = "pq_code"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    df.withColumn("__vd", col(vecCol).cast("array<double>"))
      .withColumn(codeCol, array((0 until m).map { s =>
        nearestCid(slice(col("__vd"), s * dsub + 1, dsub), codebooks(s))
          .cast("byte")
      }: _*))
      .drop("__vd")
  }

  /** The query's ADC lookup table: `lut(s)(cid - 1)` is the ROUNDED
    * squared l2 distance from the query's subspace-`s` slice to centroid
    * `cid` — m·ksub doubles, rounded with the same +1e-9 HALF_UP rule as
    * the Spark `round` the oracle mirrors.
    */
  def adcTable(query: Array[Float], codebooks: Codebooks): Array[Array[Double]] =
    adcTableD(query.map(_.toDouble), codebooks)

  /** [[adcTable]] over a double query — the residual path's entry point
    * (query residuals are exact doubles: float query minus rounded cell
    * centroid).
    */
  def adcTableD(query: Array[Double], codebooks: Codebooks): Array[Array[Double]] = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    require(query.length == m * dsub,
      s"query dim ${query.length} != m*dsub ${m * dsub}")
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { c =>
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = query(s * dsub + i) - c(i)
          acc += d * d
          i += 1
        }
        java.math.BigDecimal.valueOf(acc + 1e-9)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
  }

  /** ADC distance: Σ_s lut[s·ksub + code_s], rounded (+1e-9) — the one
    * lookup expression, a fixed chain of array lookups reading only the
    * m-byte code. `lut` is a flattened m·ksub table column: a literal for
    * one query, a per-cell map lookup for residual codes, or a broadcast
    * per-query column in a batch ([[VectorPlanner]]).
    */
  def adcDistance(lut: Column, codeCol: Column, m: Int, ksub: Int): Column = {
    val total = (0 until m).map { s =>
      element_at(lut, lit(s * ksub) + element_at(codeCol, s + 1).cast("int"))
    }.reduce(_ + _)
    round(total + lit(1e-9), 6)
  }

  /** Per-cell ROUNDED mean centroids of an IVF layout — the coarse
    * codebook of the residual encoding (Jégou et al. 2011 §IV: encode
    * `x − centroid(cell)`, not `x`). One posexplode + one (cell, dim)
    * partial-agg pass; the result is ≤ |cells|·dim rounded doubles —
    * driver/plan state of exactly the k-means-model shape
    * ([[VectorIndex.lloydIterate]]), broadcast material at any corpus
    * size. Rounding (+1e-9 HALF_UP, 6 places) makes every residual
    * `x − cent` EXACT double arithmetic on both engines — the Lloyd
    * handoff doctrine, so no further rounding is needed on the residual
    * values themselves.
    */
  def cellCentroids(indexed: DataFrame, vecCol: String = "embedding",
      cellCol: String = "cluster_id"): Map[Int, Array[Double]] = {
    val rows = indexed
      .select(col(cellCol).cast("int").as("__cell"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("__cell"), posexplode(col("__v")))
      .groupBy("__cell", "pos")
      .agg(round(avg("col") + lit(1e-9), 6).as("m"))
      .collect()
    rows.groupBy(_.getInt(0)).map { case (c, rs) =>
      val arr = new Array[Double](rs.length)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      c -> arr
    }
  }

  /** Residual column `v − centroid(cell)`: exact double subtraction
    * against the literal per-cell means (a plan-literal map lookup +
    * one zip_with — pure codegen'd column math inside the scan that
    * codes the data, no join).
    */
  def residualCol(vec: Column, cell: Column,
      cents: Map[Int, Array[Double]]): Column = {
    require(cents.nonEmpty, "residualCol: no cell centroids")
    val m = typedLit(cents.map { case (k, v) => k -> v.toSeq })
    zip_with(vec.cast("array<double>"), element_at(m, cell.cast("int")),
      (x, c) => x - c)
  }

  /** Append `resCol` = the row's residual against its own cell's
    * centroid — the frame to [[trainCodebooks]]/[[assignCodes]] on for
    * the residual IVF×PQ layout.
    */
  def withResiduals(indexed: DataFrame, vecCol: String,
      cents: Map[Int, Array[Double]], cellCol: String = "cluster_id",
      resCol: String = "__res"): DataFrame =
    indexed.withColumn(resCol,
      residualCol(col(vecCol), col(cellCol), cents))

  /** The `nprobe` cell ids nearest a DOUBLE query under the engine-exact
    * ordering: ROUNDED Euclidean l2 (HALF_UP, 6 places — the
    * [[nearestCid]] assignment rounding; sqrt outputs are never dyadic,
    * so no midpoint guard) with a cell-id tie-break, so a SQL oracle
    * replays the probe set exactly
    * (`ORDER BY round(list_distance(cent, qv), 6), cid`). This is the
    * kmeans-IVF probe rule; [[VectorIndex.nearestCentroidIds]] is its
    * raw-float sibling for the MLlib-built (rows-only-gated) index path.
    */
  def nearestCellsD(query: Array[Double], cellCents: Map[Int, Array[Double]],
      nprobe: Int): Seq[Int] = {
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    require(cellCents.nonEmpty, "nearestCellsD: no cells")
    cellCents.toSeq.map { case (cid, cent) =>
      var acc = 0.0
      var i = 0
      while (i < cent.length) {
        val d = (if (i < query.length) query(i) else 0.0) - cent(i)
        acc += d * d
        i += 1
      }
      val r = java.math.BigDecimal.valueOf(math.sqrt(acc))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (r, cid)
    }.sortBy(identity).take(nprobe).map(_._2)
  }
}
