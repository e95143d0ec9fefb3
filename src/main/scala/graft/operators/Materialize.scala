package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialization policy for CORPUS-ROW-scale shared frames (r17 verdict
  * item: the rare-shingle tables, the dhash band tables, and the screen
  * fallbacks are O(rows × shingles/bands) narrow rows — not model-sized —
  * so pinning them as local-checkpoint blocks is a scale-safety trade
  * that needs a knob, guide §5).
  *
  * Default (`local`): `localCheckpoint(eager = true)` — Spark stores the
  * blocks at MEMORY_AND_DISK, so executor memory pressure spills them to
  * local disk rather than OOMing; cheap, but the blocks are NOT
  * fault-tolerant (an executor loss kills the job instead of recomputing)
  * and they occupy block-manager storage for their lifetime.
  *
  * `spark.graft.materialize.corpusMode = reliable`: `checkpoint(eager =
  * true)` — the frame is written to the SparkContext checkpoint directory
  * (set `sparkContext.setCheckpointDir` to durable storage first; loud
  * require otherwise). On a real cluster this survives executor loss and
  * keeps corpus-scale intermediates out of block-manager memory entirely,
  * at the price of one distributed write + read. Results are identical
  * either way (spec-pinned) — the knob changes WHERE the materialized
  * bytes live, never what they are.
  *
  * Retention in `reliable` mode: the operators free a corpus-scale frame
  * with `GraftSqlShims.unpersistCheckpoint`, which releases block-manager
  * blocks only — a reliable checkpoint has none, so that call is a no-op
  * and the checkpoint FILES stay in the checkpoint directory. Spark
  * deletes them only when `spark.cleaner.referenceTracking.cleanCheckpoints
  * = true` (default false), and then once the checkpointed RDD is garbage
  * collected on the driver. A long-running session in reliable mode
  * should set it; otherwise the directory grows with every screen
  * fallback and dedup/export seam it serves.
  *
  * Memory math at sf0.1 (why the default is safe locally and the knob
  * matters at 100 TB): the q31 rare-shingle table is ~250 k rows × ~70 B
  * (id + 5-token shingle) ≈ 17 MB; dhash bands are 4 rows/image × ~20 B.
  * At 10⁹ docs × ~500 shingles the same table is ~10¹¹ rows ≈ tens of
  * TB — block-manager-resident is the wrong home at that scale; reliable
  * checkpoint (or simply more partitions × disk spill) is the right one.
  *
  * MODEL-sized materializations (vocabulary counts, candidate pairs,
  * centroids) stay on plain `localCheckpoint` deliberately — they are
  * bounded by construction and the reliable round-trip would only add
  * latency.
  */
object Materialize {
  def corpusScale(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.materialize.corpusMode") match {
      case Some("reliable") =>
        requireCheckpointDir(spark.sparkContext.getCheckpointDir)
        df.checkpoint(eager = true)
      case Some(other) if other != "local" =>
        throw new IllegalArgumentException(
          s"spark.graft.materialize.corpusMode must be local|reliable, " +
            s"got '$other'")
      case _ => df.localCheckpoint(true)
    }
  }

  /** Reliable mode's precondition, as a function of the context's
    * checkpoint dir: refuse loudly here rather than let Spark throw its
    * internal error mid-plan.
    */
  def requireCheckpointDir(dir: Option[String]): Unit =
    require(dir.isDefined,
      "spark.graft.materialize.corpusMode=reliable needs " +
        "sparkContext.setCheckpointDir(...) — point it at durable " +
        "shared storage")
}
