package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.commands.{CommandExecutor, CommandParser}
import graft.core.GraftDatabase

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cpus <n> [--size full|tiny]`.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, cpus: Int, tiny: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val size = kv.getOrElse("size", "full")
    require(size == "full" || size == "tiny", s"--size must be full or tiny, got $size")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      need("cpus").toInt, size == "tiny")
  }
}

/** The run context every workload shares: the session, the op recorder, the
  * set-up timers and (in the traced half of a traced run) the tracer.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  private val ids = new AtomicLong
  private val recorded = mutable.ArrayBuffer.empty[OpRec]
  @volatile var tracer: Option[Tracer] = None
  private var tracerInstance: Option[Tracer] = None
  val setupMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  private val attemptedChecks = new AtomicLong

  def ops: Seq[OpRec] = synchronized(recorded.toList)
  def clearOps(): Unit = synchronized(recorded.clear())

  /** Times one library call: `exec` is the eager part (parse + execute,
    * or the entry's DataFrame construction), the result is collected
    * afterwards. A throw counts as a failed op.
    */
  def op(kind: String, client: Int = 0, storedRead: Option[Boolean] = None)(
      exec: => Option[DataFrame]): (Array[Row], OpRec) = {
    val id = ids.incrementAndGet()
    val tr = tracer
    if (tr.isDefined) sc.setJobGroup(Trace.group(id), kind, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var ok = true
    val rows = try {
      val df = exec
      t1 = System.nanoTime()
      df.map(_.collect()).getOrElse(Array.empty[Row])
    } catch {
      case NonFatal(e) =>
        ok = false
        if (t1 == t0) t1 = System.nanoTime()
        fail(s"$kind threw: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
        Array.empty[Row]
    }
    val t2 = System.nanoTime()
    val rec = OpRec(id, kind, client, t0, t1, t2, ms0, System.currentTimeMillis(), ok, storedRead)
    if (tr.isDefined) { sc.clearJobGroup(); tr.foreach(_.afterOp()) }
    synchronized(recorded += rec)
    (rows, rec)
  }

  def command(db: GraftDatabase, kind: String, coll: Option[String], cmd: String,
      arg: Option[String], client: Int = 0, storedRead: Option[Boolean] = None): (Array[Row], OpRec) =
    op(kind, client, storedRead) {
      Some(CommandExecutor.execute(db, CommandParser.parse(coll, cmd, arg)
        .fold(e => throw new IllegalArgumentException(e.message), identity)))
    }

  /** A correctness check: counted as attempted, and as failed when false. */
  def check(ok: Boolean, what: => String): Boolean = {
    attemptedChecks.incrementAndGet()
    if (!ok) fail(what)
    ok
  }
  def fail(what: String): Unit = synchronized { failures += what }
  def checksAttempted: Long = attemptedChecks.get

  /** Times a set-up step under `core.setup_ms.<name>`. */
  def setup[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    setupMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  def traceOn(): Tracer = {
    val t = tracerInstance.getOrElse(new Tracer(sc, args.cpus))
    tracerInstance = Some(t)
    t.begin()
    tracer = Some(t)
    t
  }
  def traceOff(): Unit = { tracer.foreach(_.finish()); tracer = None }

  /** Spark work the harness itself does between ops (checks, space
    * accounting), labelled so the traced run does not count it as the
    * library's unattributed jobs.
    */
  def harness[T](f: => T): T = {
    if (tracer.isDefined) sc.setJobGroup(Trace.HarnessGroup, "checks", interruptOnCancel = false)
    try f finally if (tracer.isDefined) sc.clearJobGroup()
  }

  /** Storage-state reset between measured units, outside timed windows. */
  def sweep(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def fresh(dir: Path): Path = {
    if (Files.exists(dir)) Main.deleteTree(dir)
    Files.createDirectories(dir)
  }
}

/** What a workload prints: its own end-to-end metrics (name -> value, unit)
  * and its workload-specific per-layer metrics.
  */
final case class Report(e2e: Seq[(String, Double, String)], layer: Map[String, Double])

trait Workload {
  /** One complete set-up: inputs from the seed plus the fixture, in `dir`. */
  def setupRep(dir: Path): Unit
  /** Untimed first use of every measured path (JIT, codegen, caches). */
  def warmup(): Unit
  /** Runs measured work until `deadlineNs` (at least one unit). */
  def window(deadlineNs: Long): Unit
  /** Metrics and checks over the ops measured in `ops`. */
  def report(ops: Seq[OpRec], tracer: Option[Tracer]): Report
  /** The database directory whose bytes and files the traced run walks. */
  def dbDir: Option[Path] = None
  /** Complete set-ups per run; setup_s takes their median. */
  def setupReps: Int = 1
  /** The generated input files, relative to the set-up directory. */
  def inputs(dir: Path): Seq[Path]
}

object Main {

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val tSession = System.nanoTime()
    val spark = session(args)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val ctx = new Ctx(spark, args)
    val wl: Workload = args.workload match {
      case "serve" => new Serve(ctx)
      case "ingest" => new Ingest(ctx)
      case "corpus" => new Corpus(ctx)
      case "queryset" => new QuerySet(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the last set-up rep's fixture is the one measured
    val digests = mutable.LinkedHashSet.empty[String]
    val repS = (0 until wl.setupReps).map { r =>
      val t0 = System.nanoTime()
      val dir = ctx.fresh(args.work.resolve(s"rep$r"))
      wl.setupRep(dir)
      val s = (System.nanoTime() - t0) / 1e9
      digests += inputsDigest(dir, wl.inputs)
      println(f"[perfbench] set-up rep $r: $s%.3f s")
      if (r < wl.setupReps - 1) { ctx.sweep(); deleteTree(args.work.resolve(s"rep$r")) }
      s
    }
    // one seed, one set of input bytes: every rep must generate the same files
    digests.foreach(d => println(s"[perfbench] inputs sha256=$d"))
    ctx.check(digests.size == 1, s"set-up reps generated different inputs: $digests")
    var memMb = LiveHeap.mb()
    val tWarm = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.median(repS) + warmS
    println(f"[perfbench] session $sessionS%.3f s, warmup $warmS%.3f s")
    memMb = math.max(memMb, LiveHeap.mb())
    ctx.clearOps()
    ctx.sweep()

    val out = if (!args.trace) {
      val t0 = System.nanoTime()
      wl.window(t0 + (args.seconds * 1e9).toLong)
      val ops = ctx.ops
      val rep = wl.report(ops, None)
      memMb = math.max(memMb, LiveHeap.mb())
      val all = Seq(("setup_s", setupS, "s")) ++ rep.e2e ++ Seq(("mem_peak_mb", memMb, "MB"))
      (Common.json(emitReport(args, all, ops, ctx)), ops)
    } else {
      // traced run: an untraced half, then a traced half; the ratio of
      // their latencies is the tracing overhead
      val half = (args.seconds * 1e9 / 2).toLong
      val t0 = System.nanoTime()
      wl.window(t0 + half)
      val plain = ctx.ops
      ctx.clearOps()
      val tr = ctx.traceOn()
      val t1 = System.nanoTime()
      wl.window(t1 + half)
      ctx.traceOff()
      val ops = ctx.ops
      val rep = wl.report(ops, Some(tr))
      val spanFile = args.work.resolveSibling("traces").resolve(s"${args.workload}-seed${args.seed}.jsonl")
      val nSpans = tr.writeSpans(ops, spanFile)
      // per command kind, so the two halves' different mixes cancel out
      val ratios = ops.groupBy(_.kind).toSeq.flatMap { case (k, os) =>
        val base = plain.filter(_.kind == k).map(_.wallMs)
        if (base.isEmpty) None else Some(Stats.median(os.map(_.wallMs)) / Stats.median(base))
      }
      val overhead = Stats.orZero((Stats.median(ratios) - 1) * 100)
      val layer = Common.layerMetrics(ctx, ops, tr, wl.dbDir) ++ rep.layer ++
        Map("trace.overhead_pct" -> overhead, "trace.spans" -> nSpans.toDouble)
      emitReport(args, rep.e2e, ops, ctx)
      println(f"[perfbench] spans written: $nSpans to $spanFile")
      val all = Common.Layer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      all.foreach { case (n, v, u) => println(f"[perfbench] layer $n%-40s $v%.6g $u") }
      (Common.json(all), ops)
    }
    val (metricsJson, ops) = out
    val attempted = ops.size + ctx.checksAttempted
    val failed = ctx.failures.size
    ctx.failures.take(20).foreach(f => println(s"[perfbench] FAILED: $f"))
    spark.sparkContext.setLogLevel("OFF")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricsJson}""")
    System.out.flush()
    spark.stop()
  }

  /** Prints the workload's end-to-end metrics, error_rate included. */
  private def emitReport(args: Args, e2e: Seq[(String, Double, String)], ops: Seq[OpRec],
      ctx: Ctx): Seq[(String, Double, String)] = {
    val failed = ctx.failures.size
    val attempted = ops.size + ctx.checksAttempted
    val rows = e2e ++ Seq(("error_rate", failed.toDouble / math.max(attempted, 1), "ratio"))
    println(f"[perfbench] workload=${args.workload} seed=${args.seed} ops=${ops.size} trace=${args.trace}")
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val ms = os.map(_.wallMs)
      println(f"[perfbench] op $k%-20s n=${os.size}%-4d p50=${Stats.median(ms)}%.1f ms max=${ms.max}%.1f ms")
    }
    rows.foreach { case (n, v, u) => println(f"[perfbench] metric $n%-22s $v%.6g $u") }
    rows
  }

  /** The session as `graft.cli.Main` builds it (master `local[nproc]`),
    * plus the two long-running-process settings `graft.Bench` adds; the
    * directories only keep every file inside the work dir.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** sha256 over the generated input files, in path order. */
  def inputsDigest(dir: Path, files: Path => Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(dir).map(f => dir.relativize(f).toString -> f).sortBy(_._1).foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8")); md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
