package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.core.GraftDatabase

/** `ingest`: writes beside reads on one collection, single client (commits
  * are single-writer). Each round issues one write (INSERT, UPDATE, DELETE
  * or a small BULKINSERT in turn), a read-your-write SEARCH, a SEARCHHYBRID
  * over the now-stale postings (the rescan path) and one maintenance step
  * in turn: postings refresh + compact, minhash refresh + ROUTE, attrs
  * refresh + compact, split compact + TRUNCATEWAL.
  */
final class Ingest(c: Ctx) extends Workload {
  import Ingest._
  private val rows = if (c.args.tiny) 300L else 1000L
  private var db: GraftDatabase = _
  private var root: Path = _
  private var rounds: IndexedSeq[Round] = IndexedSeq.empty
  private var plan: IndexedSeq[() => Unit] = IndexedSeq.empty
  private var cycleSteps = 0
  private var next = 0

  override def dbDir: Option[Path] = Option(root)
  def inputs(dir: Path): Seq[Path] = (0 until Rounds).flatMap(r =>
    Seq(dir.resolve(s"bulk-$r.jsonl"), dir.resolve(s"route-$r.parquet").resolve("part-0.parquet")))

  def setupRep(dir: Path): Unit = {
    val gen = new Gen(c.spark, c.args.seed)
    root = dir.resolve("ingest")
    db = c.setup("createCollection") {
      val d = GraftDatabase.create(c.spark, dir.toString, "ingest")
      d.createCollection(Coll); d
    }
    c.setup("bulkInsert")(db.bulkInsert(Coll, gen.collectionRows(rows)))
    c.setup("reindexPostings")(db.reindexPostings(Coll))
    c.setup("reindexMinhash")(db.reindexMinhash(Coll))
    c.setup("reindexAttrs")(db.reindexAttrs(Coll))
    c.setup("buildSplits")(db.buildSplits(Coll).collect())
    c.setup("generate")(makeInputs(gen, dir))
    next = 0
  }

  /** Per-round write targets, records, BULKINSERT files and ROUTE batches,
    * all drawn from one seeded stream of new rows.
    */
  private def makeInputs(gen: Gen, dir: Path): Unit = {
    val existing = db.read(Coll).select("id").collect().map(_.getLong(0)).sorted
    val fresh = gen.collectionRows(Rounds * PerRound, from = rows, tag = "new")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))
      .sortBy(_._1)
    val rng = Gen.rng(c.args.seed, "ingest-targets")
    val picked = rng.ints(0, existing.length).distinct().limit(2L * Rounds).toArray.map(existing(_))
    val routeRows = Seq.newBuilder[Row]
    rounds = (0 until Rounds).map { r =>
      val mine = fresh.slice(r * PerRound, (r + 1) * PerRound)
      val (ins, upd) = (mine(0), mine(1))
      val bulk = mine.slice(2, 2 + BulkRows)
      val bulkFile = dir.resolve(s"bulk-$r.jsonl")
      Files.write(bulkFile, bulk.map { case (id, v, p) =>
        s"""{"id":$id,"embedding":[${v.mkString(",")}],"payload":"$p"}""" }.toSeq.asJava, UTF_8)
      mine.slice(2 + BulkRows, PerRound).foreach { case (id, v, p) =>
        routeRows += Row(r, id, v.toSeq, p) }
      val target = picked(2 * r)
      val q = Gen.perturb(upd._2, 0.02, rng)
      Round(r, ins, (picked(2 * r + 1), upd._2, upd._3 + " updated"), target, bulkFile,
        bulk.map(_._1).toSeq, dir.resolve(s"route-$r.parquet"),
        Seq(Gen.Vocab(rng.nextInt(Gen.Vocab.size)), Gen.rareTokenOf(ins._1)), q)
    }
    writeRouteBatches(routeRows.result(), dir)
    plan = rounds.flatMap(steps)
    cycleSteps = rounds.take(4).map(steps(_).size).sum
  }

  /** One Spark write for every round's ROUTE batch, then one fixed-name
    * parquet file per round.
    */
  private def writeRouteBatches(rs: Seq[Row], dir: Path): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("round", IntegerType),
      StructField("id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("payload", StringType)))
    val all = dir.resolve("routes")
    c.spark.createDataFrame(rs.asJava, schema).coalesce(1).write.partitionBy("round")
      .parquet(all.toString)
    (0 until Rounds).foreach { r =>
      val out = Files.createDirectories(dir.resolve(s"route-$r.parquet"))
      val part = Files.list(all.resolve(s"round=$r")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, out.resolve("part-0.parquet"))
    }
    Main.deleteTree(all)
  }

  private def cmd(kind: String, command: String, arg: String,
      storedRead: Option[Boolean] = None): (Array[Row], OpRec) =
    c.command(db, kind, Some(Coll), command, Option(arg), storedRead = storedRead)

  private def live: Option[Boolean] = Some(DbWalk.postingsLive(root, Coll))

  private def payloads(ids: Seq[Long]): Map[Long, String] =
    cmd("search", "SEARCH", s"id IN (${ids.mkString(",")})")._1
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap

  /** The steps of round `rd`, each one library call plus its checks; the
    * window runs them one by one, so a round may straddle two windows.
    */
  private def steps(rd: Round): Seq[() => Unit] = {
    val text = s"terms=${rd.terms.mkString(",")};k=20"
    var rescan = Seq.empty[String]
    val write: Seq[() => Unit] = rd.n % 4 match {
      case 0 =>
        val (id, v, p) = rd.insert
        Seq(() => cmd("write_insert", "INSERT", s"$id;${Gen.vecString(v)};$p"),
          () => c.check(payloads(Seq(id)).get(id).contains(p), s"INSERT $id not readable"))
      case 1 =>
        val (id, v, p) = rd.update
        Seq(() => cmd("write_update", "UPDATE", s"$id;${Gen.vecString(v)};$p"),
          () => c.check(payloads(Seq(id)).get(id).contains(p), s"UPDATE $id not readable"))
      case 2 =>
        Seq(() => cmd("write_delete", "DELETE", s"id IN (${rd.delete})"),
          () => c.check(payloads(Seq(rd.delete)).isEmpty, s"DELETE ${rd.delete} still readable"))
      case _ =>
        Seq(() => cmd("write_bulk", "BULKINSERT", s"${rd.bulkFile};normalize=nfc"),
          () => c.check(payloads(rd.bulkIds).size == rd.bulkIds.size,
            s"BULKINSERT ${rd.bulkFile} not readable"))
    }
    val hybrid: () => Unit = () => {
      val (hyb, rec) = cmd("searchhybrid", "SEARCHHYBRID",
        s"terms=${rd.terms.mkString(",")};vec=${Gen.vecString(rd.query)};k=10", live)
      if (rec.ok) c.check(hyb.length == 10, s"SEARCHHYBRID returned ${hyb.length} rows")
    }
    val maintenance: Seq[() => Unit] = rd.n % 4 match {
      case 0 => Seq(
        () => rescan = cmd("searchtext", "SEARCHTEXT", text, live)._1.map(_.toString).toSeq,
        () => cmd("refresh_postings", "REINDEX", "type=postings;mode=refresh"),
        // RefreshBench's invariant: the stored answer after the refresh
        // equals the rescan answer before it
        () => {
          val stored = cmd("searchtext", "SEARCHTEXT", text, live)._1.map(_.toString).toSeq
          c.check(stored == rescan, "stored SEARCHTEXT after refresh differs from the rescan")
        },
        () => cmd("compact_postings", "REINDEX", "type=postings;mode=compact"))
      case 1 => Seq(
        () => cmd("refresh_minhash", "REINDEX", "type=minhash;mode=refresh"),
        () => {
          val (routed, rec) = cmd("route", "ROUTE", s"batch=${rd.route};insert=true")
          if (rec.ok) c.check(routed.length == RouteRows, s"ROUTE returned ${routed.length} rows")
        },
        () => cmd("compact_minhash", "REINDEX", "type=minhash;mode=compact"))
      case 2 => Seq(
        () => cmd("refresh_attrs", "TAG", "mode=refresh"),
        () => cmd("compact_attrs", "TAG", "mode=compact"))
      case _ => Seq(
        () => cmd("compact_splits", "SPLIT", "mode=compact"),
        () => cmd("truncatewal", "TRUNCATEWAL", null))
    }
    write ++ Seq(hybrid) ++ maintenance
  }

  /** Runs steps, one cycle of four rounds (every write and maintenance
    * kind once) at a time: at least `minCycles`, then until a cycle
    * boundary after `deadlineNs`, at most `maxCycles`. Every window runs
    * the same mix.
    */
  private def runCycles(deadlineNs: Long, minCycles: Int, maxCycles: Int): Unit = {
    var cycles = 0
    while (cycles < maxCycles && (cycles < minCycles || System.nanoTime() < deadlineNs)) {
      if (next + cycleSteps > plan.size) {
        c.fail("ingest ran out of seeded rounds"); return
      }
      (0 until cycleSteps).foreach { _ => plan(next)(); next += 1 }
      cycles += 1
    }
  }

  def warmup(): Unit = runCycles(Long.MaxValue, 1, 1)

  /** At least [[MinCycles]] cycles: the lifecycle needs several refresh and
    * compaction cycles, and one ~17 s cycle varied by ~20% between runs.
    */
  def window(deadlineNs: Long): Unit = runCycles(deadlineNs, MinCycles, Int.MaxValue)

  def report(ops: Seq[OpRec], tracer: Option[Tracer]): Report = {
    val e2e = Common.latency(ops) ++ Seq(
      ("searchhybrid_p50_ms", Common.p50Of(ops, "searchhybrid"), "ms"),
      ("write_p50_ms", Common.p50Of(ops, Writes: _*), "ms"),
      ("refresh_p50_ms", Common.p50Of(ops, "refresh_postings", "refresh_minhash", "refresh_attrs"), "ms"),
      ("route_p50_ms", Common.p50Of(ops, "route"), "ms"),
      ("space_amp", Common.spaceAmp(c, root, Seq(Coll)), "ratio"))
    val bulkMs = Common.p50Of(ops, "write_bulk")
    val layer = Map(
      "sources.bulkinsert_rows_per_s" -> (if (bulkMs > 0) BulkRows / (bulkMs / 1e3) else 0.0),
      "core.refresh_ms.postings" -> Common.p50Of(ops, "refresh_postings"),
      "core.refresh_ms.minhash" -> Common.p50Of(ops, "refresh_minhash"),
      "core.refresh_ms.attrs" -> Common.p50Of(ops, "refresh_attrs"),
      "core.compact_ms" -> Common.p50Of(ops, "compact_postings", "compact_minhash",
        "compact_attrs", "compact_splits", "truncatewal"))
    Report(e2e, layer)
  }
}

object Ingest {
  val Coll = "live"
  val Rounds = 48
  val MinCycles = 2
  val BulkRows = 16
  val RouteRows = 8
  val PerRound = 2 + BulkRows + RouteRows
  val Writes = Seq("write_insert", "write_update", "write_delete", "write_bulk")

  final case class Round(n: Int, insert: (Long, Array[Float], String),
      update: (Long, Array[Float], String), delete: Long, bulkFile: Path,
      bulkIds: Seq[Long], route: Path, terms: Seq[String], query: Array[Float])
}
