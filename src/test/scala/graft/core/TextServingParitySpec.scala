package graft.core

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.VectorRecord
import graft.operators.{SimilaritySearch, TextAnalysis}

/** Stored SEARCHTEXT, SEARCHHYBRID and SEARCHHYBRID `queries=` against the
  * plan-built formulas they replace, written out here as the reference:
  * BM25 over a postings index with its document frequencies aggregated in
  * the plan, hybrid branch ranks from `row_number` windows fused by
  * [[SimilaritySearch.rrfFuse]], and the batch's union / groupBy / window
  * fuse. Rows, their order and the schema must agree, over rank ties, a
  * term in no document, an empty sparse branch, ids in one branch only,
  * `k` above the fused row count, a tombstoned postings generation and the
  * exact, SQ8, ADC and residual-ADC dense scorers.
  */
class TextServingParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = Seq("vector", "data", "merge", "index", "probe",
    "shard", "query", "token")

  /** `n` records; ids `dupFrom + i` repeat record i's vector and payload
    * (rank ties on both branches). */
  private def records(n: Int, dupFrom: Int = 1000, dups: Int = 4): DataFrame = {
    def rec(i: Int, id: Long) = VectorRecord(id,
      Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat),
      (0 until 6).map(j => words((i * 3 + j * 5) % words.size)).mkString(" ") +
        s" rare$i")
    ((0 until n).map(i => rec(i, i.toLong)) ++
      (0 until dups).map(i => rec(i, (dupFrom + i).toLong))).toDF()
  }

  private def vecOf(db: GraftDatabase, c: String, id: Long): Array[Float] =
    db.read(c).filter($"id" === id).select("embedding").head()
      .getSeq[Float](0).map(_ + 0.01f).toArray

  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema,
      s"$what schema:\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"$what rows:\n${g.mkString("\n")}\nvs\n${w.mkString("\n")}")
  }

  // ---- the references

  /** BM25 over a freshly built index of the collection, dfs and corpus
    * stats aggregated in the plan. */
  private def textRef(db: GraftDatabase, c: String, terms: Seq[String],
      k: Int): DataFrame = {
    val cur = db.read(c)
    TextAnalysis.bm25FromIndex(TextAnalysis.invertedIndex(cur, "id", "payload"),
      TextAnalysis.docLengths(cur, "id", "payload"), "id", terms, k = k)
  }

  /** The dense branch's rounded score, best first. */
  private def byScore(ascending: Boolean): Column =
    if (ascending) asc("__cs") else desc("__cs")

  /** The single dense branch before its kf cut: (id, __cs). */
  private def denseScored(db: GraftDatabase, c: String, q: Array[Float],
      radius: Int, shortlist: Int): DataFrame =
    if (shortlist < 1)
      db.read(c).select(col("id"),
        round(graft.functions.cosine_sim(col("embedding"), lit(q)), 6).as("__cs"))
    else db.searchSimilar(c, q, shortlist, probeRadius = radius, shortlist = shortlist)
      .select(col("id"), round(col("score"), 6).as("__cs"))

  private def hybridRef(db: GraftDatabase, c: String, terms: Seq[String],
      q: Array[Float], k: Int, kf: Int, radius: Int, shortlist: Int,
      ascending: Boolean): DataFrame = {
    val sparse = db.searchText(c, terms, k = kf)
      .withColumn("rank", row_number().over(Window.orderBy(desc("bm25"), col("id")))
        .cast("long"))
      .select("id", "rank")
    val dense = denseScored(db, c, q, radius, shortlist)
      .orderBy(byScore(ascending), col("id"))
      .limit(kf)
      .withColumn("rank", row_number().over(Window.orderBy(byScore(ascending), col("id")))
        .cast("long"))
      .select("id", "rank")
    SimilaritySearch.rrfFuse(Seq(sparse, dense), "id", kRrf = 60, k = k)
  }

  private def batchRef(db: GraftDatabase, c: String,
      qs: Seq[(Long, Seq[String], Array[Float])], k: Int, kf: Int,
      radius: Int, shortlist: Int, ascending: Boolean): DataFrame = {
    val sparse = qs.map { case (qid, terms, _) =>
      db.searchText(c, terms, k = kf)
        .withColumn("rank", row_number().over(Window.orderBy(desc("bm25"), col("id")))
          .cast("long"))
        .select(lit(qid).as("query_id"), col("id"), col("rank"))
    }.reduce(_ unionByName _)
    val qvecs = qs.map { case (qid, _, v) => (qid, v) }.toDF("query_id", "query_vec")
    val dense = db.searchSimilarBatch(c, qvecs, kf, probeRadius = radius,
        shortlist = shortlist)
      .select(col("query_id"), col("id"), round(col("score"), 6).as("__cs"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(byScore(ascending), col("id"))).cast("long"))
      .select("query_id", "id", "rank")
    sparse.unionByName(dense)
      .select(col("query_id"), col("id"), col("rank").cast("long").as("__r"))
      .groupBy("query_id", "id")
      .agg(round(sum(lit(1.0) / (lit(60) + col("__r"))) + lit(1e-9), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("__rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(desc("rrf"), col("id"))))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("id"), col("rrf"), col("n_lists"))
      .orderBy(col("query_id"), desc("rrf"), col("id"))
  }

  // ---- the cases

  private val termSets = Seq(
    "common terms with ties" -> Seq("vector", "probe"),
    "a rare term and one in no document" -> Seq("rare3", "zzznone", "shard"),
    "only a term in no document" -> Seq("zzznone"))

  /** Every term set, single and batch, at (k, kf) = (10, 20) and, on the
    * small collection, k above the fused row count. */
  private def checkAll(db: GraftDatabase, c: String, radius: Int,
      shortlist: Int, ascending: Boolean, tag: String): Unit = {
    val ids = db.read(c).select("id").as[Long].collect().sorted
    val q = vecOf(db, c, ids(3))
    termSets.foreach { case (what, terms) =>
      same(s"$tag SEARCHTEXT, $what", db.searchText(c, terms, k = 20),
        textRef(db, c, terms, 20))
      Seq((10, 20), (60, 20)).foreach { case (k, kf) =>
        same(s"$tag SEARCHHYBRID k=$k, $what",
          db.searchHybrid(c, terms, q, k = k, kf = kf, probeRadius = radius,
            shortlist = shortlist),
          hybridRef(db, c, terms, q, k, kf, radius, shortlist, ascending))
      }
    }
    val qs = termSets.zipWithIndex.map { case ((_, terms), i) =>
      (i.toLong * 7 + 2, terms, vecOf(db, c, ids((i * 5 + 1) % ids.length)))
    }
    Seq((10, 20), (20, 20)).foreach { case (k, kf) =>
      same(s"$tag SEARCHHYBRID queries= k=$k",
        db.searchHybridBatch(c, qs, k = k, kf = kf, probeRadius = radius,
          shortlist = shortlist),
        batchRef(db, c, qs, k, kf, radius, shortlist, ascending))
    }
  }

  private def freshDb(): GraftDatabase =
    GraftDatabase.create(spark,
      Files.createTempDirectory("graft_text_parity").toString, "db")

  test("exact dense branch: fresh, tombstoned, and a collection smaller than k") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(60))
    db.reindexPostings("docs", buckets = 4)
    checkAll(db, "docs", -1, -1, ascending = false, "exact")
    // a tombstoned generation: changed and deleted documents' old rows
    db.update("docs", records(4, dups = 0).filter($"id" >= 2L)
      .withColumn("payload", lit("vector vector rare3 shard")))
    db.delete("docs", $"id" === 11L || $"id" === 1001L)
    db.refreshPostings("docs")
    assert(db.searchText("docs", Seq("vector")).queryExecution.executedPlan
      .toString.contains("LeftAnti"))
    checkAll(db, "docs", -1, -1, ascending = false, "exact tombstoned")
    // fewer fused rows than k (and than kf) on both arities
    db.createCollection("small")
    db.bulkInsert("small", records(9, dups = 2))
    db.reindexPostings("small", buckets = 4)
    checkAll(db, "small", -1, -1, ascending = false, "exact small")
  }

  test("SQ8 dense branch on a sign layout, probed") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(80))
    db.reindex("docs", nBits = 3)
    db.quantize("docs")
    db.reindexPostings("docs", buckets = 4)
    checkAll(db, "docs", 1, 30, ascending = false, "sq8")
  }

  test("ADC and residual-ADC dense branches") {
    val db = freshDb()
    db.createCollection("pq")
    db.bulkInsert("pq", records(80))
    db.reindexPq("pq", m = 2, ksub = 4, nBits = 3)
    db.reindexPostings("pq", buckets = 4)
    checkAll(db, "pq", 1, 30, ascending = true, "adc")
    db.createCollection("ivfpq")
    db.bulkInsert("ivfpq", records(80))
    db.reindexIvfPq("ivfpq", m = 2, ksub = 4, kCells = 3)
    db.reindexPostings("ivfpq", buckets = 4)
    checkAll(db, "ivfpq", -1, 30, ascending = true, "residual adc")
  }

  test("hybrid batch: a term catalog above the inlining cap broadcasts, same answers") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(40))
    db.reindexPostings("docs", buckets = 4)
    val qs = termSets.zipWithIndex.map { case ((_, terms), i) =>
      (i.toLong, terms, vecOf(db, "docs", (i * 5 + 1).toLong))
    }
    // terms in no document add no postings row, so appending them after
    // a query's own terms leaves its answer as it was — but they push the
    // catalog past the cap
    val junk = (0 to SimilaritySearch.InThreshold).map(i => s"zzjunk$i")
    val wide = qs.updated(0, qs.head.copy(_2 = qs.head._2 ++ junk))
    /** The answer, and whether a plan it ran joined a literal lookup. */
    def run(batch: Seq[(Long, Seq[String], Array[Float])]): (Seq[Row], Boolean) = {
      val plans = scala.collection.mutable.ArrayBuffer.empty[String]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString; () }
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      org.apache.spark.TestContextShims.drainListenerBus(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        val rows = db.searchHybridBatch("docs", batch).collect().toSeq
        org.apache.spark.TestContextShims.drainListenerBus(spark.sparkContext)
        (rows, plans.synchronized(plans.exists(_.contains("Generate inline"))))
      } finally spark.listenerManager.unregister(listener)
    }
    val (narrowRows, narrowLiteral) = run(qs)
    val (wideRows, wideLiteral) = run(wide)
    assert(narrowLiteral, "a catalog within the cap joins as literals")
    assert(!wideLiteral, "a catalog above the cap must not be inlined")
    assert(wideRows == narrowRows)
    assert(narrowRows.nonEmpty)
  }

  test("RRF ranks from the rounded score: ties keep the id order") {
    // ids 0..3 and 1000..1003 are identical documents: every tie on the
    // rounded score must break on id in both branches and in the fusion
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", records(20, dups = 4))
    db.reindexPostings("docs", buckets = 4)
    val q = vecOf(db, "docs", 2L)
    val got = db.searchHybrid("docs", Seq("rare2"), q, k = 10, kf = 20)
    same("ties", got, hybridRef(db, "docs", Seq("rare2"), q, 10, 20, -1, -1,
      ascending = false))
    val top = got.collect().take(2).map(r => (r.getLong(0), r.getLong(2)))
    assert(top.toSeq == Seq((2L, 2L), (1002L, 2L)), top.mkString(", "))
  }
}
