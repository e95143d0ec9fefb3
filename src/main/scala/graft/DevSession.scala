package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the dev mains (Bench, Verify, PlansDump,
  * ExplainDump, JobTrace, RefreshBench, Sq8Bench): every one of them
  * plans and runs under the conf Bench measures with, so a plan dumped or
  * a job traced by any of them is the benched one. `SPARK_GRAFT_CPUS`
  * (default 4) sets both the local thread count and the shuffle partition
  * count. The user-facing CLI (`graft.cli.Main`) keeps its own session.
  */
object DevSession {
  def start(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // static conf, default 100: 13 multi-stage queries evict each
      // other's generated classes between interleaved passes, putting
      // Janino recompilation inside every timed window — a long-running
      // service would have a warm cache, so the bench should too
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // the library's session-extension surface, loaded the way a no-code
      // integration would (string conf, not withExtensions)
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table queries use saveAsTable: keep the warehouse out of CWD
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
