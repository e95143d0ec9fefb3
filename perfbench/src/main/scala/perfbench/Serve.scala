package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.core.GraftDatabase

/** `serve`: a read-only closed loop of serving commands from two clients
  * against an inflated hybrid collection whose stored sign-bucket, SQ8 and
  * postings artifacts stay live. The exact scan is the twin that bypasses
  * the ANN mechanism the `radius`+`shortlist` commands exercise.
  */
final class Serve(c: Ctx) extends Workload {
  import Serve._
  private val rows = if (c.args.tiny) 500L else 2000L
  private val nq = 2
  private var db: GraftDatabase = _
  private var root: Path = _
  private var cmds: IndexedSeq[Cmd] = IndexedSeq.empty
  /** Exact top-10 (id, cosine) per query index, computed here, not by the library. */
  private var truth: IndexedSeq[Seq[(Long, Double)]] = IndexedSeq.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var qvecs: IndexedSeq[Array[Float]] = IndexedSeq.empty
  /** Warmup answer per command: rendered rows and ids. */
  private var searchIds: IndexedSeq[Long] = IndexedSeq.empty
  private val warm = mutable.Map.empty[Int, (Seq[String], Seq[Long])]

  override def dbDir: Option[Path] = Option(root)
  def inputs(dir: Path): Seq[Path] = Seq(dir.resolve("hybrid-batch.txt"))

  def setupRep(dir: Path): Unit = {
    val gen = new Gen(c.spark, c.args.seed)
    root = dir.resolve("serve")
    db = c.setup("createCollection") {
      val d = GraftDatabase.create(c.spark, dir.toString, "serve")
      d.createCollection(Coll); d
    }
    c.setup("bulkInsert")(db.bulkInsert(Coll, gen.collectionRows(rows)))
    // vector layout before postings: the layout rewrite would mark a
    // postings artifact built earlier stale
    c.setup("reindex")(db.reindex(Coll, nBits = SignBits))
    c.setup("quantize")(db.quantize(Coll))
    c.setup("reindexPostings")(db.reindexPostings(Coll))
    c.setup("generate")(makeInputs(gen, dir))
  }

  /** Query vectors near seeded target rows, keyword terms, the exact truth
    * and the `queries=` batch file.
    */
  private def makeInputs(gen: Gen, dir: Path): Unit = {
    vectors = db.read(Coll).select(col("id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ids = vectors.keys.toIndexedSeq.sorted
    val r = Gen.rng(c.args.seed, "serve-queries")
    val queries = (0 until nq).map { _ =>
      val target = ids(r.nextInt(ids.size))
      val word = Gen.Vocab(r.nextInt(Gen.Vocab.size))
      (target, Gen.perturb(vectors(target), 0.02, r), Seq(word, Gen.rareTokenOf(target)))
    }
    qvecs = queries.map(_._2)
    truth = qvecs.map(exactTop(_, 10))
    val batch = dir.resolve("hybrid-batch.txt")
    Files.write(batch, queries.zipWithIndex.map { case ((_, q, terms), i) =>
      s"$i|${terms.mkString(",")}|${Gen.vecString(q)}" }.mkString("\n").getBytes(UTF_8))
    searchIds = queries.map(_._1)
    cmds = queries.zipWithIndex.flatMap { case ((_, q, terms), i) =>
      val v = Gen.vecString(q)
      Seq(
        Cmd("exact", "SEARCHSIMILAR", s"k=10;vec=$v", i),
        Cmd("ann", "SEARCHSIMILAR", s"k=10;radius=1;shortlist=100;vec=$v", i),
        Cmd("searchtext", "SEARCHTEXT", s"terms=${terms.mkString(",")};k=10", i),
        Cmd("searchhybrid", "SEARCHHYBRID",
          s"terms=${terms.mkString(",")};vec=$v;k=10;radius=1;shortlist=100", i),
        Cmd("search", "SEARCH", s"id IN (${searchIds.mkString(",")}) AND id % 2 = ${searchIds(i) % 2}", i))
    } :+ Cmd("searchhybrid_batch", "SEARCHHYBRID", s"queries=$batch;k=10;radius=1;shortlist=100", -1)
  }

  private def exactTop(q: Array[Float], k: Int): Seq[(Long, Double)] =
    vectors.iterator.map { case (id, v) => id -> cosine(v, q) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  private def run(i: Int, client: Int): Unit = {
    val cmd = cmds(i)
    val stored = if (cmd.cmd == "SEARCHTEXT" || cmd.cmd == "SEARCHHYBRID")
      Some(DbWalk.postingsLive(root, Coll)) else None
    val (out, rec) = c.command(db, cmd.kind, Some(Coll), cmd.cmd, Some(cmd.arg), client, stored)
    if (rec.ok) verify(i, cmd, out)
  }

  private def verify(i: Int, cmd: Cmd, out: Array[Row]): Unit = {
    val got = out.map(_.getAs[Long]("id")).toSeq
    cmd.kind match {
      case "exact" =>
        val want = truth(cmd.q)
        c.check(sameTop(got, want, qvecs(cmd.q)), s"exact SEARCHSIMILAR q${cmd.q}: got ${got.take(10)} want ${want.map(_._1)}")
      case "search" =>
        val want = searchIds.filter(_ % 2 == searchIds(cmd.q) % 2).toSet
        c.check(got.toSet == want && got.size == want.size,
          s"SEARCH q${cmd.q} returned ${got.take(5)}, want $want")
      case _ =>
        val rendered = out.map(_.toSeq.map(renderCell).mkString("|")).toSeq
        val k = if (cmd.kind == "searchhybrid_batch") 10 * nq else 10
        c.check(got.size == k && got.forall(vectors.contains),
          s"${cmd.kind} q${cmd.q}: ${got.size} rows, want $k of existing ids")
        warm.synchronized(warm.get(i)) match {
          case None => warm.synchronized(warm(i) = (rendered, got))
          case Some((w, _)) => c.check(w == rendered, s"${cmd.kind} q${cmd.q} differs from its warmup answer")
        }
    }
  }

  /** Ids equal position by position, except where the two cosines to the
    * query tie within float rounding (the library ranks by float cosine).
    */
  private def sameTop(got: Seq[Long], want: Seq[(Long, Double)], q: Array[Float]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, (w, ws)) =>
      g == w || vectors.get(g).exists(v => math.abs(cosine(v, q) - ws) < 1e-5)
    }

  /** Two cycles by the same two clients: after one, the first measured
    * cycle still ran slower than later ones, so the cycle count a window
    * happened to reach moved its mean by ~15%.
    */
  def warmup(): Unit = clients(Long.MaxValue, WarmCycles)

  /** Whole command cycles until the deadline has passed. */
  def window(deadlineNs: Long): Unit = clients(deadlineNs, Int.MaxValue)

  /** Two closed-loop clients draw the next command of the cycle; drawing
    * stops at the first cycle boundary after `deadlineNs`, or after
    * `maxCycles`, so every window runs the same command mix.
    */
  private def clients(deadlineNs: Long, maxCycles: Int): Unit = {
    var drawn = 0
    var stopped = false
    def draw(): Option[Int] = synchronized {
      val boundary = drawn % cmds.size == 0
      if (stopped || (boundary && (drawn / cmds.size >= maxCycles ||
          (drawn > 0 && System.nanoTime() >= deadlineNs)))) { stopped = true; None }
      else { drawn += 1; Some((drawn - 1) % cmds.size) }
    }
    val ts = (0 until Clients).map { cl =>
      val t = new Thread(() => Iterator.continually(draw()).takeWhile(_.isDefined)
        .foreach(i => run(i.get, cl)))
      t.start(); t
    }
    ts.foreach(_.join())
  }

  def report(ops: Seq[OpRec], tracer: Option[Tracer]): Report = {
    val ann = ops.filter(_.kind == "ann")
    val e2e = Common.latency(ops) ++ Seq(
      ("exact_p50_ms", Common.p50Of(ops, "exact"), "ms"),
      ("ann_p50_ms", Common.p50Of(ops, "ann"), "ms"),
      ("searchhybrid_p50_ms", Common.p50Of(ops, "searchhybrid"), "ms"),
      ("space_amp", Common.spaceAmp(c, root, Seq(Coll)), "ratio"),
      ("recall_at_10", recall("ann"), "ratio"),
      ("hybrid_recall_at_10", recall("searchhybrid"), "ratio"))
    val layer = tracer.map(tr => Map(
      "operators.ann_scan_fraction" -> Common.scanFraction(tr, ann, rows))).getOrElse(Map.empty)
    Report(e2e, layer)
  }

  /** Mean share of the exact top-10 found by the warm answers of `kind`
    * (for SEARCHHYBRID: its fused answer, keyword hits included).
    */
  private def recall(kind: String): Double = {
    val scores = cmds.indices.filter(i => cmds(i).kind == kind).flatMap { i =>
      warm.get(i).map { case (_, ids) =>
        truth(cmds(i).q).count { case (id, _) => ids.contains(id) } / 10.0
      }
    }
    Stats.orZero(scores.sum / scores.size)
  }
}

object Serve {
  val Coll = "hybrid"
  val Clients = 2
  val WarmCycles = 2
  /** 16 sign-bucket cells: ~125 rows per cell at 2000 rows. */
  val SignBits = 4
  final case class Cmd(kind: String, cmd: String, arg: String, q: Int)

  def cosine(v: Array[Float], q: Array[Float]): Double = {
    var dot = 0.0; var vn = 0.0; var qn = 0.0; var j = 0
    while (j < v.length) {
      dot += v(j).toDouble * q(j); vn += v(j).toDouble * v(j); qn += q(j).toDouble * q(j); j += 1
    }
    dot / math.sqrt(vn * qn)
  }

  def renderCell(v: Any): String = v match {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case null => "null"
    case other => other.toString
  }
}
