package graft

import org.apache.spark.sql.functions._

/** Measures the incremental-postings claim: after mutating ~1% of a
  * collection, `REINDEX type=postings;mode=refresh` must cost a small
  * fraction of the full rebuild (it tokenizes only the delta; the diff
  * is two (id, md5) anti-joins). Prints both times and the ratio, plus
  * a correctness cross-check (refreshed SEARCHTEXT ≡ rescan).
  */
object RefreshBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.start()

    import org.apache.spark.sql.types._
    // the corpus-size knob: sf0.1 has only 5k docs, where per-job
    // scheduling overhead swamps the tokenization the refresh avoids —
    // inflate by unioning id-shifted copies to expose the asymptotic
    // regime the operator exists for
    val inflate = sys.env.getOrElse("SPARK_GRAFT_INFLATE", "1").toInt
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .crossJoin(spark.range(inflate).select(col("id").as("__copy")))
      .select((col("doc_id") + col("__copy") * 10000000L).as("id"),
        concat(col("text"), lit(" c"), col("__copy")).as("payload"))
    val root = java.nio.file.Files.createTempDirectory("graft_rb").toString
    val db = core.GraftDatabase.create(spark, root, "rb")
    db.createCollection("docs", StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    db.bulkInsert("docs", corpus)
    db.reindexPostings("docs", buckets = 64)

    // the ~1% nightly delta: update every 100th doc
    db.update("docs", corpus.filter(col("id") % 100 === 0)
      .select(col("id"),
        concat(col("payload"), lit(" refreshed")).as("payload")))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val expected = db.searchText("docs", Seq("vector", "data"), k = 20)
      .collect().map(_.toString).toSeq // stale → rescan = ground truth
    val tRefresh = time(db.refreshPostings("docs"))
    val got = db.searchText("docs", Seq("vector", "data"), k = 20)
      .collect().map(_.toString).toSeq
    require(got == expected, "refreshed index diverged from the rescan")
    val tFull = time(db.reindexPostings("docs", buckets = 64))
    println(f"[refreshbench] postings sf=$sfDir inflate=$inflate%d full=$tFull%.3f s refresh=$tRefresh%.3f s " +
      f"ratio=${tRefresh / tFull}%.2f")

    // ---- winsig: the same 1%-delta discipline on the screening artifact
    val probe = corpus.filter(col("id") % 997 === 0)
      .select((col("id") + 900000000L).as("id"),
        concat(lit("pr1 pr2 "), col("payload"), lit(" pr3")).as("payload"))
    db.reindexWinsig("docs")
    db.update("docs", corpus.filter(col("id") % 100 === 1)
      .select(col("id"),
        concat(col("payload"), lit(" wref")).as("payload")))
    val expW = db.screenSubstrings("docs", probe)
      .collect().map(_.toString).sorted.toSeq // stale → recompute = truth
    val tRefW = time(db.refreshWinsig("docs"))
    val gotW = db.screenSubstrings("docs", probe)
      .collect().map(_.toString).sorted.toSeq
    require(gotW == expW, "refreshed winsig diverged from the fallback")
    val tFullW = time(db.reindexWinsig("docs"))
    println(f"[refreshbench] winsig sf=$sfDir inflate=$inflate%d full=$tFullW%.3f s refresh=$tRefW%.3f s " +
      f"ratio=${tRefW / tFullW}%.2f")

    // ---- minhash: same again on the banded signatures
    db.reindexMinhash("docs")
    db.update("docs", corpus.filter(col("id") % 100 === 2)
      .select(col("id"),
        concat(col("payload"), lit(" mref")).as("payload")))
    val expM = db.screenDupes("docs", probe)
      .collect().map(_.toString).sorted.toSeq
    val tRefM = time(db.refreshMinhash("docs"))
    val gotM = db.screenDupes("docs", probe)
      .collect().map(_.toString).sorted.toSeq
    require(gotM == expM, "refreshed minhash diverged from the fallback")
    val tFullM = time(db.reindexMinhash("docs"))
    println(f"[refreshbench] minhash sf=$sfDir inflate=$inflate%d full=$tFullM%.3f s refresh=$tRefM%.3f s " +
      f"ratio=${tRefM / tFullM}%.2f")

    // ---- attrs: the tag-once sidecar under the same 1%-delta discipline.
    // Correctness cross-check is refresh ≡ rebuild (the attr values are a
    // pure function of the corpus, so the two maintenance paths must
    // produce identical tables).
    db.reindexAttrs("docs")
    db.update("docs", corpus.filter(col("id") % 100 === 3)
      .select(col("id"),
        concat(col("payload"), lit(" aref")).as("payload")))
    val tRefA = time(db.refreshAttrs("docs"))
    val gotA = db.docAttrs("docs")
      .collect().map(_.toString).sorted.toSeq
    val tFullA = time(db.reindexAttrs("docs"))
    val fullA = db.docAttrs("docs")
      .collect().map(_.toString).sorted.toSeq
    require(gotA == fullA, "refreshed attrs diverged from the rebuild")
    println(f"[refreshbench] attrs sf=$sfDir inflate=$inflate%d full=$tFullA%.3f s refresh=$tRefA%.3f s " +
      f"ratio=${tRefA / tFullA}%.2f")
    spark.stop()
  }
}
