package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.core.GraftDatabase
import graft.pipeline.EmbeddingPipeline

/** `corpus`: repeated batch passes over one seeded inflated corpus, each
  * into a fresh database: the embedding pipeline on its text, BULKINSERT of
  * its jsonl with NFC normalization, TAG, SPLIT by=minhash and a filtered
  * train-split EXPORT. Data-parallel operator work, little driver time.
  */
final class Corpus(c: Ctx) extends Workload {
  import Corpus._
  private val docs = if (c.args.tiny) 400L else 2000L
  private val words = if (c.args.tiny) 100 else 300
  private var dir: Path = _
  private var textFile: Path = _
  private var jsonl: Path = _
  private var pass = 0
  private var lastDb: Option[Path] = None
  private val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val amps = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def dbDir: Option[Path] = lastDb.map(_.resolve(DbName))
  override def setupReps: Int = 3
  def inputs(d: Path): Seq[Path] = Seq(d.resolve("corpus.txt"), d.resolve("corpus.jsonl"))

  def setupRep(d: Path): Unit = c.setup("generate") {
    dir = d
    val gen = new Gen(c.spark, c.args.seed)
    val rows = gen.collectionRows(docs, tag = "corpus").orderBy("id").cache()
    textFile = gen.writeSingle(rows.select(col("payload").as("value")), d.resolve("corpus.txt"), "text")
    // every 7th payload gains a non-ASCII word for the normalize=nfc path
    jsonl = gen.writeSingle(rows.withColumn("payload", when(col("id") % 7 === 0,
      concat(col("payload"), lit(" café"))).otherwise(col("payload"))),
      d.resolve("corpus.jsonl"), "json")
    rows.unpersist()
  }

  /** One full pass; the five stages are the measured ops. */
  private def runPass(): Unit = {
    val p = pass
    pass += 1
    val passDir = c.fresh(dir.resolve(s"pass$p"))
    val db = GraftDatabase.create(c.spark, passDir.toString, DbName)
    db.createCollection(Coll)
    val stages = Seq(
      c.op("embed") {
        EmbeddingPipeline.processEmbeddings(c.spark, textFile.toString, words,
          passDir.resolve("embedded").toString, verbose = false)
        None
      },
      c.command(db, "bulkinsert", Some(Coll), "BULKINSERT", Some(s"$jsonl;normalize=nfc")),
      c.command(db, "tag", Some(Coll), "TAG", None),
      c.command(db, "split", Some(Coll), "SPLIT", Some("by=minhash")),
      c.command(db, "export", Some(Coll), "EXPORT",
        Some(s"${passDir.resolve("export")};split=train;attrs=$AttrFilter;format=jsonl;shards=8")))
    if (stages.forall(_._2.ok)) {
      passS += stages.map(_._2.wallMs).sum / 1e3
      val audit = stages.last._1.map(_.getAs[Long]("n_rows")).sum
      val want = c.harness(db.splitAssignments(Coll).filter(col("split") === "train")
        .join(db.docAttrs(Coll).filter(col("n_tokens") >= MinTokens), "id").count())
      c.check(audit == want, s"EXPORT audit $audit != $want train rows passing $AttrFilter")
      amps += c.harness(Common.spaceAmp(c, passDir.resolve(DbName), Seq(Coll)))
    }
    lastDb.foreach(Main.deleteTree)
    lastDb = Some(passDir)
    c.sweep()
  }

  def warmup(): Unit = runPass()

  /** Whole passes, at least [[MinPasses]], until the deadline has passed. */
  def window(deadlineNs: Long): Unit = {
    passS.clear(); amps.clear()
    (0 until MinPasses).foreach(_ => runPass())
    while (System.nanoTime() < deadlineNs) runPass()
  }

  def report(ops: Seq[OpRec], tracer: Option[Tracer]): Report = {
    // a pass is the unit of work: the median over five very different
    // stage latencies jumps between stages from run to run
    val e2e = Common.latency(ops).filterNot(_._1 == "p50_ms") ++ Seq(
      ("p50_ms", Stats.orZero(Stats.median(passS.toSeq)) * 1e3, "ms"),
      ("export_s", Common.p50Of(ops, "export") / 1e3, "s"),
      ("docs_per_s", Stats.orZero(docs / Stats.median(passS.toSeq)), "docs/s"),
      ("space_amp", Stats.orZero(Stats.median(amps.toSeq)), "ratio"))
    val layer = Map(
      "core.tag_s" -> Common.p50Of(ops, "tag") / 1e3,
      "core.split_s" -> Common.p50Of(ops, "split") / 1e3,
      "sources.bulkinsert_rows_per_s" -> Stats.orZero(docs / (Common.p50Of(ops, "bulkinsert") / 1e3)),
      "pipeline.embed_s" -> Common.p50Of(ops, "embed") / 1e3)
    Report(e2e, layer)
  }
}

object Corpus {
  val DbName = "corpus"
  val Coll = "docs"
  val MinTokens = 20
  val AttrFilter = s"n_tokens>=$MinTokens"
  /** One ~7 s pass per window spread ~13% between runs, two ~10%. */
  val MinPasses = 3
}
