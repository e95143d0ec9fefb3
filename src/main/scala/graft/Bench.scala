package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs the headline queries (SparkEntry.benchQueries)
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * `collect()` (not `count()`) forces full result materialization so
  * Catalyst can't optimize away the measured work; headline queries all
  * produce small outputs, so the collect itself is noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args (dev only — the driver passes none): restrict the run
    // to the named queries, for standalone adjudication of a suspect
    // in-set number (the r9 house method: a rise that reproduces in a
    // fresh JVM running ONLY that query is code/data; one that doesn't is
    // set-interaction — cache eviction, GC shadow — or box drift).
    // Restricted runs never overwrite BENCH_LOCAL.json.
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args.toSet) else None
    val benchSet = SparkEntry.benchQueries.filter(q => only.forall(_(q)))
    require(benchSet.nonEmpty, s"no bench queries match ${args.toSeq}")
    val spark = DevSession.start()
    // Two known-benign WARN categories otherwise land in the driver's ~2 KB
    // stdout-tail capture right before the metric line and eat its headroom:
    // WindowExec's "No Partition Defined" fires on the hybrid serving
    // branches' rank windows (≤ kf rows post-limit, bounded by construction
    // — the sanctioned whole-frame shape) and MapPartitionsRDD's
    // "locally checkpointed" fires on every sweep's blocking unpersist of
    // intentionally-truncated checkpoint lineage. Silence exactly these two
    // categories; every other WARN still prints (a real warning must not be
    // swallowed by tail hygiene).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

    // Steady-state measurement: one untimed warmup pass (JIT, codegen
    // compilation, parquet footer caches), then the timed pass. A query
    // that throws in warmup is marked BROKEN and skipped from every timed
    // pass — time-to-exception is not a timing (round 8 recorded two
    // schema-broken queries as ~0.14 s "speedups").
    val broken = scala.collection.mutable.LinkedHashMap.empty[String, String]
    calibrate(spark)
    benchSet.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).collect()
      catch { case e: Throwable =>
        broken(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(200).replaceAll("\\s+", " ")
      }
      sweep(spark)
    }
    // min over timed reps: single-shot numbers occasionally absorb
    // multi-second environment hiccups (page-cache evictions, co-tenant
    // noise) that would pollute the round-over-round deltas; the minimum
    // is the steady-state estimator of record. Reps are INTERLEAVED as
    // full passes over the query set (not back-to-back per query): two
    // adjacent reps sit inside the same noise burst and the min keeps the
    // inflated value, while passes put the whole set (~10 s) between a
    // query's reps, so a burst can only touch one of them.
    val reps = 3
    val times = Array.fill(benchSet.length)(Double.MaxValue)
    // GC seconds INSIDE the rep that produced each query's min wall time —
    // the round-9 heap A/B showed GC throttling masquerading as query
    // regressions (q100 2.58s@8g vs 1.66s@16g, code unchanged); recording
    // per-query GC makes that failure mode visible in the artifact instead
    // of needing a heap bisection to find
    val gcs = Array.fill(benchSet.length)(0.0)
    var calib = Double.MaxValue
    var calibShuffle = Double.MaxValue
    for (_ <- 0 until reps) {
      // BOTH calibration probes ride in every timed pass like queries, so
      // their minima see the same noise environment the query minima do.
      // calibrate() is the single-stage codegen-hash probe (per-core
      // speed); calibrateShuffle() is WORKLOAD-shaped — one codegen
      // scan-agg stage + one shuffle + one final agg (r13 verdict item 3:
      // box adjustment must not hinge on a probe the bench demonstrably
      // doesn't follow — q201 was identical across "1.74×-different"
      // boxes because the hash probe can't see memory/shuffle pressure).
      val c0 = System.nanoTime()
      calibrate(spark)
      calib = math.min(calib, (System.nanoTime() - c0) / 1e9)
      sweep(spark)
      val c1 = System.nanoTime()
      calibrateShuffle(spark)
      calibShuffle = math.min(calibShuffle, (System.nanoTime() - c1) / 1e9)
      sweep(spark)
      benchSet.zipWithIndex.foreach { case (name, i) =>
        if (!broken.contains(name)) {
          val fn = SparkEntry.queries(name)
          val g0 = gcMillis()
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).collect() }
          catch { case e: Throwable =>
            broken(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .take(200).replaceAll("\\s+", " ")
          }
          if (!broken.contains(name)) {
            val dt = (System.nanoTime() - t0) / 1e9
            if (dt < times(i)) {
              times(i) = dt
              gcs(i) = (gcMillis() - g0) / 1e3
            }
          }
          sweep(spark)
        }
      }
    }
    val results = benchSet.zip(times)
      .filter { case (name, _) => !broken.contains(name) }
    // the driver captures only ~2 KB of output tail: the round-10 artifact
    // lost `total`/`calibration`/the first six query times when the raw
    // line outgrew the window. The PRINTED line is therefore budgeted —
    // 3-decimal times, GC entries only where nonzero, no delta map — and
    // the FULL detail (unrounded times, complete gc + delta maps) is
    // written to BENCH_LOCAL.json, committed per round.
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    def fmt(v: Double, d: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))
    def r3(v: Double): String = fmt(v, 3)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val gcPairs = benchSet.zip(gcs)
      .filter { case (name, _) => !broken.contains(name) }
    // printed line carries only the GC entries big enough to adjudicate a
    // rise (>= 0.1 s inside a min rep); the full map lives in
    // BENCH_LOCAL.json. Keeps the line under the driver's ~2 KB tail window
    // with room to spare (the r11 line was ~1.9 KB and parse-fragile).
    val gcJson = gcPairs.filter(_._2 >= 0.1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val gcTotal = gcPairs.map(_._2).sum
    val heapGb = Runtime.getRuntime.maxMemory / 1024.0 / 1024.0 / 1024.0
    val total = results.map(_._2).sum
    // delta vs the previous artifact, NET of box drift: when the previous
    // round recorded a calibration time, its per-query numbers are scaled
    // by (calib_now / calib_prev) before subtracting — a uniformly slower
    // box then reads as ~zero deltas instead of a phantom regression
    // (raw deltas when the previous artifact predates calibration)
    val prev = previousRoundTimes()
    val ratio = prev.flatMap(_.get("calibration"))
      .filter(_ > 0.0).map(calib / _).getOrElse(1.0)
    val deltas = prev.fold("{}") { p =>
      results.flatMap { case (k, v) =>
        p.get(k).map(t => "\"" + k + "\":" + (v - t * ratio))
      }.mkString("{", ",", "}")
    }
    val errs = broken.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    // summary fields LAST: the tail capture truncates the FRONT of an
    // oversized line, so `value`/`calibration` survive even if the
    // per-query map gets clipped
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,"gc_in_min_rep":$gcJson,"gc_total":${r3(gcTotal)},"broken":$errs,"heap_gb":${fmt(heapGb, 1)},"cal_ratio_vs_prev":${r3(ratio)},"cal_shuffle":${fmt(calibShuffle, 4)},"calibration":${fmt(calib, 4)},"value":${r3(total)}}"""
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullGc = gcPairs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calib,"cal_shuffle":$calibShuffle,"cal_ratio_vs_prev":$ratio,"heap_gb":$heapGb,"queries":$fullQs,"gc_in_min_rep":$fullGc,"broken":$errs,"delta_vs_prev":$deltas,"sf":"$sfDir"}"""
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (full + "\n").getBytes("UTF-8"))
    // The metric line must be the FINAL stdout line: silence every Spark
    // logger first (the end-of-run localCheckpoint-unpersist WARNs from the
    // last sweep otherwise interleave after it in a merged capture), print,
    // flush, and only then stop the session.
    spark.sparkContext.setLogLevel("OFF")
    println(line)
    System.out.flush()
    spark.stop()
  }

  /** Cumulative stop-the-world GC time of this JVM, in milliseconds —
    * the delta across a timed window is the GC share of that window.
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Fixed-work calibration probe: a constant synthetic scan-agg that
    * touches no testdata (so its cost is invariant across rounds and
    * scale factors) — 200M codegen'd hashes over a fixed 32-split range
    * (~0.2 s at 32 threads: long enough to average scheduler jitter,
    * short enough to be bench noise).
    * Its round-over-round ratio separates box drift from code
    * regressions: in round 6, 14 of 16 shared queries "rose" 3–16% with
    * no code change because the box itself was slower.
    */
  private def calibrate(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    // splits follow the session's actual parallelism (SPARK_GRAFT_CPUS),
    // not a hardcoded 32 — a probe with more splits than threads would
    // measure scheduling waves, not per-core speed
    val splits = spark.sparkContext.defaultParallelism
    // modulo bounds the ANSI sum: |h % 1e9+7| · 200M < 2^63 by a wide margin
    spark.range(0L, 200000000L, 1L, splits)
      .select(sum(xxhash64(col("id")) % 1000000007L)).collect()
    ()
  }

  /** Second calibration probe, WORKLOAD-shaped (r13 verdict item 3): one
    * codegen'd scan + partial aggregation, ONE shuffle (1024 groups over
    * the session's partitions), one final aggregation — the minimal
    * template of the bench set's dominant query shape. Fixed synthetic
    * work (no testdata), so its round-over-round ratio isolates the box
    * drift the single-stage hash probe cannot see (shuffle buffers,
    * memory bandwidth, allocator pressure). Adjudication rule: a query
    * rise that tracks cal_shuffle but not calibration is a
    * shuffle/memory-lane box change; one that tracks neither and
    * reproduces standalone is code/data.
    */
  private def calibrateShuffle(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val splits = spark.sparkContext.defaultParallelism
    // 80M rows (~1 s at 32 threads): the original 20M-row probe measured
    // 0.26–0.50 s across same-box JVMs in r14 — too small for a stable
    // min-of-3; a ~1 s job amortizes scheduling waves 4× better
    spark.range(0L, 80000000L, 1L, splits)
      .select((xxhash64(col("id")) % 1024L).as("k"),
        (xxhash64(col("id"), lit(1)) % 1000000007L).as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(sum(col("s") % 1000000007L), sum("n")).collect()
    ()
  }

  /** Storage-state reset between measured queries: per-query numbers must
    * not depend on what ran before. `clearCache()` drops CacheManager
    * entries; the persistent-RDD sweep additionally frees blocks that
    * bypass the CacheManager (localCheckpoints) — any still-referenced
    * frame would just recompute, and bench queries are independent, so
    * nothing is referenced across the boundary. The sweep is outside the
    * timed window (hygiene isn't part of the query).
    */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking: an async unpersist would free the previous query's blocks
    // (and trigger their GC) INSIDE the next query's timed window — the
    // prime suspect for allocation-heavy queries regressing in r03's
    // driver artifact. Same reason for the explicit gc(): pay the
    // collection of the previous query's garbage here, not in the next
    // measurement.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Per-query seconds from the newest BENCH_r{N}.json in the working dir —
    * round-over-round regressions become visible in the artifact itself
    * (positive delta = slower than last round). Parsed with a regex: the
    * file is machine-written single-line JSON with known key shapes. The
    * previous round's calibration time (when present) rides along under
    * the reserved key "calibration" — query names are all q-prefixed, so
    * the keyspaces can't collide.
    */
  private def previousRoundTimes(): Option[Map[String, Double]] = {
    val dir = new java.io.File(".")
    val benches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(_.getName)
    val fromDriver = benches.lastOption.flatMap(parseBenchFile)
    // the driver's tail capture can truncate the front of the line (lost
    // r10's calibration + first six queries) — when the newest driver
    // artifact is missing its calibration, the committed local twin
    // (written whole by Bench itself) is the better previous-round record
    if (fromDriver.exists(_.contains("calibration"))) fromDriver
    else {
      val local = new java.io.File("BENCH_LOCAL.json")
      val fromLocal = if (local.isFile) parseBenchFile(local) else None
      fromLocal.orElse(fromDriver)
    }
  }

  private def parseBenchFile(f: java.io.File): Option[Map[String, Double]] = {
    val text = scala.io.Source.fromFile(f)
    val raw = try text.mkString finally text.close()
    // the driver embeds our metric line inside a log-tail string field
    // with escaped quotes — unescape before matching either shape
    val json = raw.replace("\\\"", "\"")
    // keys anchored on a preceding { or , so a suffix-colliding key
    // (e.g. "warm_queries", "recalibration") can never shadow the real one
    "[{,]\\s*\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(json)
      .map { m =>
        val qs = "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
          .findAllMatchIn(m.group(1))
          .map(q => q.group(1) -> q.group(2).toDouble).toMap
        val cal = "[{,]\\s*\"calibration\"\\s*:\\s*([0-9.eE+-]+)".r
          .findFirstMatchIn(json)
          .map(c => "calibration" -> c.group(1).toDouble)
        qs ++ cal
      }
  }
}
