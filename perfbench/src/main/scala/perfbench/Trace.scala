package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** One timed call into the library: parse+execute (`execNs`) then collect. */
final case class OpRec(id: Long, kind: String, client: Int, startNs: Long,
    execEndNs: Long, endNs: Long, startMs: Long, endMs: Long, ok: Boolean,
    storedRead: Option[Boolean] = None) {
  def wallMs: Double = (endNs - startNs) / 1e6
  def execMs: Double = (execEndNs - startNs) / 1e6
  def collectMs: Double = (endNs - execEndNs) / 1e6
}

/** Live heap: used heap right after an explicit full GC. Polled at the
  * phase boundaries of every run (after set-up, warm-up and the window),
  * outside every timed op; mem_peak_mb is the largest poll.
  */
object LiveHeap {
  def mb(): Double = {
    // the second collection also frees what Spark's ContextCleaner released
    // in reaction to the first (broadcast and shuffle blocks of dead plans)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Trace {
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Group id the benchmark sets on its calling thread before op `id`. */
  def group(id: Long): String = s"perfbench-op-$id"
  val HarnessGroup = "perfbench-harness"
}

final case class JobRec(jobId: Int, group: Option[String], startMs: Long, var endMs: Long)
final case class StageRec(stageId: Int, jobId: Int, tasks: Int, startMs: Long,
    endMs: Long, runMs: Long, inputBytes: Long, inputRecords: Long,
    shuffleWrite: Long, spill: Long)

/** The SparkListener behind the traced run: jobs with their group, stages
  * with their aggregated task metrics, and every task's duration.
  */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val taskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, JobRec(e.jobId, g, e.time, -1L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, StageRec(i.stageId,
      stageJob.getOrDefault(i.stageId, -1), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorRunTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Counts codegen compile time (CodeGenerator's "Code generated in N ms"
  * INFO line) and codegen fallbacks (any WARN/ERROR saying whole-stage
  * codegen was disabled, an expression fell back to interpreted eval, or
  * generated code failed to compile). INFO lines are counted, not printed.
  */
final class CodegenLog extends AbstractAppender("perfbench-codegen", null, null, true,
    Property.EMPTY_ARRAY) {
  val compileMs = new DoubleAdder
  val fallbacks = new AtomicLong
  private val generated = "Code generated in ([0-9.]+) ms".r.unanchored
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    msg match {
      case generated(ms) => compileMs.add(ms.toDouble)
      case _ if e.getLevel.isMoreSpecificThan(Level.WARN) &&
        (msg.contains("falling back to interpreter") || msg.contains("codegen disabled") ||
          msg.contains("failed to compile")) => fallbacks.incrementAndGet()
      case _ =>
    }
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.getRootLogger.addAppender(this, Level.WARN, null)
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(this, Level.INFO, null)
    cfg.getRootLogger.getAppenders.values.asScala.filter(_ ne this)
      .foreach(a => lc.addAppender(a, Level.WARN, null))
    cfg.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}

/** Bytes and files of a database directory, split by artifact family. */
object DbWalk {
  val Families = Seq("collection", "postings", "minhash", "attrs", "splits", "tombstones")

  def family(rel: Path): String = {
    val top = rel.getName(0).toString
    if (rel.iterator.asScala.exists(_.toString.startsWith("tombstones"))) "tombstones"
    else if (top.startsWith("graft_textindex_")) "postings"
    else if (top.startsWith("graft_minhash_")) "minhash"
    else if (top.startsWith("graft_attrs_")) "attrs"
    else if (top.startsWith("graft_splits_")) "splits"
    else if (top.startsWith("graft_")) "other"
    else "collection"
  }

  /** (bytes per family, total bytes, file count). */
  def walk(root: Path): (Map[String, Long], Long, Long) = {
    if (!Files.isDirectory(root)) return (Map.empty, 0L, 0L)
    val by = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var files = 0L
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).foreach { p =>
      by(family(root.relativize(p))) += Files.size(p)
      files += 1
    } finally s.close()
    (by.toMap, by.values.sum, files)
  }

  /** True when the stored postings artifact of `coll` is live (built and
    * carrying no stale marker) — i.e. a text read will use it.
    */
  def postingsLive(root: Path, coll: String): Boolean = {
    val d = root.resolve(s"graft_textindex_$coll")
    Files.exists(d.resolve("meta.json")) && !Files.exists(d.resolve("stale"))
  }
}

/** Everything the traced run adds: the listener, the counter deltas, the
  * log counter, the per-op storage poll and the span list written at the end.
  */
final class Tracer(sc: SparkContext, val cores: Int) {
  val spark = new SparkTrace
  val codegenLog = new CodegenLog
  sc.addSparkListener(spark)
  codegenLog.install()

  private var t0Ms = 0L
  private var t1Ms = 0L
  private var base: Map[String, Double] = Map.empty
  private var end: Map[String, Double] = Map.empty
  @volatile var persistedMax = 0
  @volatile var storageMbMax = 0.0

  private def counters(): Map[String, Double] = Map(
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "compileMs" -> codegenLog.compileMs.sum(),
    "fallbacks" -> codegenLog.fallbacks.get.toDouble,
    "files" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "listingJobs" -> HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble,
    "gcMs" -> Trace.gcMillis().toDouble)

  def begin(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    t0Ms = System.currentTimeMillis(); base = counters()
  }
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    t1Ms = System.currentTimeMillis(); end = counters()
  }
  def delta(k: String): Double = end(k) - base(k)
  def windowMs: Double = (t1Ms - t0Ms).toDouble

  /** Poll after each op, outside its timed window. */
  def afterOp(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size)
    val used = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
    storageMbMax = math.max(storageMbMax, used / 1048576.0)
  }

  def jobsOf(op: OpRec): Seq[JobRec] =
    spark.jobs.values.asScala.filter(_.group.contains(Trace.group(op.id))).toSeq

  def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = {
    val ids = jobs.map(_.jobId).toSet
    spark.stages.values.asScala.filter(s => ids(s.jobId)).toSeq
  }

  /** Milliseconds of the op's wall time covered by at least one of its jobs. */
  def jobUnionMs(op: OpRec, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, op.startMs),
      math.min(if (j.endMs < 0) op.endMs else j.endMs, op.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (covered + curB - curA).toDouble
  }

  def unattributedJobs: Int = spark.jobs.values.asScala.count(j =>
    j.startMs >= t0Ms && j.startMs <= t1Ms && !j.group.exists(_.startsWith("perfbench-")))

  /** Spans as JSON lines: op → execute/collect and op → job → stage. */
  def writeSpans(ops: Seq[OpRec], out: Path): Int = {
    val lines = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, trace: Long, name: String, a: Double, b: Double): Unit =
      lines += s"""{"trace":$trace,"id":"$id","parent":"$parent","name":"$name","start_ms":$a,"end_ms":$b}"""
    ops.foreach { op =>
      val o = s"op${op.id}"
      val execEndMs = op.startMs + op.execMs
      span(o, "", op.id, op.kind, op.startMs.toDouble, op.endMs.toDouble)
      span(s"$o.execute", o, op.id, "commands.execute", op.startMs.toDouble, execEndMs)
      span(s"$o.collect", o, op.id, "collect", execEndMs, op.endMs.toDouble)
      jobsOf(op).foreach { j =>
        val jid = s"job${j.jobId}"
        span(jid, o, op.id, "spark.job", j.startMs.toDouble, j.endMs.toDouble)
        stagesOf(Seq(j)).foreach(s =>
          span(s"stage${s.stageId}", jid, op.id, "spark.stage", s.startMs.toDouble, s.endMs.toDouble))
      }
    }
    Files.createDirectories(out.getParent)
    Files.write(out, lines.asJava)
    lines.size
  }
}
