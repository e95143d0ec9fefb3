package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev only — the driver passes two): comma-separated
    // query names to restrict the dump + oracle json to, for fast iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = DevSession.start()
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a query that throws still writes a sentinel
    // one-row parquet (column `_error`) so the driver's DuckDB compare
    // reports a mismatch for the name instead of silently dropping the
    // entry (round 8 lost 16 gates to an events schema change with zero
    // alarms), plus an _errors.json ledger beside oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: ${msg.take(500)}").toDF("_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // no nonzero exit: the driver must still collect the dump and report
    // per-query mismatches (the sentinel parquet makes each failure a loud
    // hash-fail); a failed process could drop the whole artifact instead
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
