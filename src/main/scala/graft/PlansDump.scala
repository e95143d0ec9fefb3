package graft

/** Diagnostic (optimization-round measurement tool, guide §1.1/§7.2):
  * write each named query's `.explain("formatted")` output — plus the
  * AQE FINAL executed plan after a collect() — to
  * `<outDir>/<query>_<suffix>.txt`. Usage:
  *
  *   sbt "runMain graft.PlansDump plans/r17 before q268_unigram_lm ..."
  *
  * With no query names, dumps every Bench entry. The session is Bench's
  * ([[DevSession]]), so the captured plans are the benched plans.
  */
object PlansDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlansDump <outDir> <suffix> [queries...]")
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.benchQueries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.start("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        spark.sparkContext.setJobDescription(s"plansdump: $name")
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        df.collect()
        val finalPlan = df.queryExecution.executedPlan.toString
        val text = s"== $name ($suffix, sf=$sfDir) ==\n\n" +
          "---- explain(formatted) ----\n" + formatted +
          "\n---- AQE final executed plan ----\n" + finalPlan + "\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          text.getBytes("UTF-8"))
        println(s"PLANSDUMP OK $name")
      } catch { case e: Throwable =>
        println(s"PLANSDUMP FAIL $name: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
