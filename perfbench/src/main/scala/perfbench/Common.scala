package perfbench

import java.nio.file.Path
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.GraftDatabase

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x
}

object Common {
  /** The library calls a set-up times, as `core.setup_ms.<method>`. */
  val SetupMethods = Seq("generate", "writeTables", "createCollection", "bulkInsert",
    "reindex", "quantize", "reindexPostings", "reindexMinhash", "reindexAttrs", "buildSplits")

  /** Every per-layer metric a traced run emits, with its unit; a layer a
    * workload does not touch reads 0.
    */
  lazy val Layer: Seq[(String, String)] = Seq(
    "commands.execute_ms" -> "ms", "commands.collect_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_p50_ms" -> "ms",
    "spark.driver_share" -> "ratio", "spark.core_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes_per_op" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.unattributed_jobs" -> "count",
    "operators.ann_scan_fraction" -> "ratio", "operators.persisted_rdds_after_op" -> "count",
    "operators.storage_mb_peak" -> "MB",
    "core.listing_files" -> "count", "core.listing_jobs" -> "count",
    "core.files" -> "count", "core.stored_read_ratio" -> "ratio") ++
    DbWalk.Families.map(f => s"core.bytes.$f" -> "bytes") ++
    Seq("core.refresh_ms.postings" -> "ms", "core.refresh_ms.minhash" -> "ms",
      "core.refresh_ms.attrs" -> "ms", "core.compact_ms" -> "ms") ++
    SetupMethods.map(m => s"core.setup_ms.$m" -> "ms") ++
    Seq("core.tag_s" -> "s", "core.split_s" -> "s",
      "sources.bulkinsert_rows_per_s" -> "rows/s", "pipeline.embed_s" -> "s",
      "functions.codegen_compiles" -> "count", "functions.codegen_compile_ms" -> "ms",
      "functions.codegen_fallbacks" -> "count") ++
    graft.SparkEntry.benchQueries.map(q => s"queries.${q}_s" -> "s") ++
    Seq("trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** The per-layer metrics every workload shares, from the traced half. */
  def layerMetrics(ctx: Ctx, ops: Seq[OpRec], tr: Tracer, db: Option[Path]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val perOp = ops.map { op =>
      val jobs = tr.jobsOf(op)
      (op, jobs, tr.stagesOf(jobs))
    }
    val stages = perOp.flatMap(_._3)
    val taskMs = stages.flatMap(s => Option(tr.spark.taskMs.get(s.stageId))
      .map(_.asScala.toSeq).getOrElse(Nil)).map(_.toDouble)
    val wall = ops.map(_.wallMs).sum
    val selfMs = perOp.map { case (op, jobs, _) => op.wallMs - tr.jobUnionMs(op, jobs) }.sum
    val (bytes, _, files) = db.map(DbWalk.walk).getOrElse((Map.empty[String, Long], 0L, 0L))
    val stored = ops.flatMap(_.storedRead)
    Map(
      "commands.execute_ms" -> Stats.median(ops.map(_.execMs)),
      "commands.collect_ms" -> Stats.median(ops.map(_.collectMs)),
      "spark.jobs_per_op" -> perOp.map(_._2.size).sum / n,
      "spark.stages_per_op" -> stages.size / n,
      "spark.tasks_per_op" -> stages.map(_.tasks).sum / n,
      "spark.task_p50_ms" -> Stats.orZero(Stats.median(taskMs)),
      "spark.driver_share" -> (if (wall > 0) math.max(selfMs, 0) / wall else 0.0),
      "spark.core_util" -> stages.map(_.runMs).sum / math.max(tr.windowMs * tr.cores, 1.0),
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n,
      "spark.input_bytes_per_op" -> stages.map(_.inputBytes).sum / n,
      "spark.gc_ms" -> tr.delta("gcMs") / n,
      "spark.unattributed_jobs" -> tr.unattributedJobs.toDouble,
      "operators.persisted_rdds_after_op" -> tr.persistedMax.toDouble,
      "operators.storage_mb_peak" -> tr.storageMbMax,
      "core.listing_files" -> tr.delta("files") / n,
      "core.listing_jobs" -> tr.delta("listingJobs") / n,
      "core.files" -> files.toDouble,
      "core.stored_read_ratio" -> (if (stored.isEmpty) 0.0 else stored.count(identity).toDouble / stored.size),
      "functions.codegen_compiles" -> tr.delta("compiles"),
      "functions.codegen_compile_ms" -> tr.delta("compileMs"),
      "functions.codegen_fallbacks" -> tr.delta("fallbacks")) ++
      DbWalk.Families.map(f => s"core.bytes.$f" -> bytes.getOrElse(f, 0L).toDouble) ++
      ctx.setupMs.map { case (k, v) => s"core.setup_ms.$k" -> Stats.median(v.toSeq) }
  }

  /** Database-directory bytes over live user bytes: payload UTF-8 bytes
    * plus 4 bytes per embedding component, over the live rows.
    */
  def spaceAmp(c: Ctx, root: Path, colls: Seq[String]): Double = {
    val db = GraftDatabase.open(c.spark, root.toString)
    val user = colls.map { coll =>
      db.read(coll).agg(sum(octet_length(col("payload")) + size(col("embedding")) * 4)).head()
        .getLong(0)
    }.sum
    val stored = DbWalk.walk(root)._2
    println(s"[perfbench] space: database $stored bytes, live user data $user bytes")
    stored.toDouble / math.max(user, 1L)
  }

  /** Records read by the ops of `kind` per collection row scanned once. */
  def scanFraction(tr: Tracer, ops: Seq[OpRec], rows: Long): Double = {
    if (ops.isEmpty || rows <= 0) 0.0
    else ops.map(op => tr.stagesOf(tr.jobsOf(op)).map(_.inputRecords).sum).sum.toDouble /
      (ops.size * rows.toDouble)
  }

  /** Common e2e metrics over a set of ops: throughput and latency. */
  def latency(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val ms = ops.map(_.wallMs)
    val spanNs = if (ops.isEmpty) 1L else ops.map(_.endNs).max - ops.map(_.startNs).min
    val busyNs = ops.groupBy(_.client).values.map(_.map(o => o.endNs - o.startNs).sum).max
    Seq(("ops_per_s", ops.size / (math.max(math.min(spanNs, busyNs), 1L) / 1e9), "1/s"),
      ("p50_ms", Stats.median(ms), "ms"), ("p90_ms", Stats.quantile(ms, 0.9), "ms"))
  }

  def p50Of(ops: Seq[OpRec], kinds: String*): Double =
    Stats.orZero(Stats.median(ops.filter(o => kinds.contains(o.kind)).map(_.wallMs)))

  def json(all: Seq[(String, Double, String)]): String =
    all.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(v))
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
}
