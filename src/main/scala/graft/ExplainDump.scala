package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: print a query's INITIAL physical plan without executing it
  * ([[PlansDump]]'s non-executing sibling — for queries too slow to run while
  * diagnosing why they are slow).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    println("EXPLAINDUMP-BEGIN")
    println(df.queryExecution.executedPlan.toString)
    println("EXPLAINDUMP-END")
    spark.stop()
  }
}
