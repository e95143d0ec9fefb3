package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `queryset`: passes over the bench entries
  * (`SparkEntry.benchQueries`) on seeded tables, after one untimed warmup
  * pass, with `graft.Bench`'s storage sweep between entries outside the
  * timed windows. The only workload that reaches the LM, graph,
  * sessionize, classify, importance and repetition operators.
  */
final class QuerySet(c: Ctx) extends Workload {
  private val sf = if (c.args.tiny) 0.001 else 0.01
  private var tables: Path = _
  private val warmHash = mutable.Map.empty[String, String]
  private val passTotals = mutable.ArrayBuffer.empty[Double]
  override def setupReps: Int = 3
  def inputs(dir: Path): Seq[Path] = {
    val s = java.nio.file.Files.list(dir.resolve("tables"))
    try s.iterator.asScala.toList finally s.close()
  }

  def setupRep(dir: Path): Unit = {
    tables = dir.resolve("tables")
    c.setup("writeTables")(new Gen(c.spark, c.args.seed).writeTables(tables, sf))
  }

  private def runEntry(name: String): Option[Double] = {
    val (rows, rec) = c.op(name)(Some(SparkEntry.queries(name)(c.spark, tables.toString)))
    c.sweep()
    if (!rec.ok) None
    else {
      val h = Gen.md5Hex(rows.map(_.toString).sorted.mkString("\n"))
      warmHash.get(name) match {
        case None => warmHash(name) = h
        case Some(w) => c.check(w == h, s"$name result differs from its warmup result")
      }
      Some(rec.wallMs / 1e3)
    }
  }

  def warmup(): Unit = SparkEntry.benchQueries.foreach(runEntry)

  def window(deadlineNs: Long): Unit = {
    passTotals.clear()
    do {
      val times = SparkEntry.benchQueries.map(runEntry)
      if (times.forall(_.isDefined)) passTotals += times.flatten.sum
    } while (System.nanoTime() < deadlineNs)
  }

  def report(ops: Seq[OpRec], tracer: Option[Tracer]): Report = {
    val e2e = Common.latency(ops) ++
      Seq(("total_s", Stats.orZero(Stats.median(passTotals.toSeq)), "s"))
    val layer = SparkEntry.benchQueries.map(q => s"queries.${q}_s" -> Common.p50Of(ops, q) / 1e3).toMap
    Report(e2e, layer)
  }
}
