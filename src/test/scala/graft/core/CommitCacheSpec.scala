package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.VectorRecord

/** The per-committed-state driver cache is exact: whatever a second handle
  * on the same database commits, the first handle's next read, SEARCHTEXT
  * and SEARCHSIMILAR equal the answers of a handle that has cached
  * nothing.
  */
class CommitCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = Seq("vector", "data", "merge", "index", "probe",
    "shard", "query", "token", "alpha", "beta")

  private def records(n: Int, from: Int = 0, salt: String = ""): DataFrame =
    (from until from + n).map { i =>
      VectorRecord(i.toLong, vec(i),
        (0 until 18).map(j => words((i * 3 + j * 5) % words.size)).mkString(" ") +
          s" rare$i$salt")
    }.toDF()

  private def vec(i: Int): Array[Float] =
    Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat)

  private val query = vec(5).map(_ + 0.01f)

  /** read, SEARCHTEXT and SEARCHSIMILAR (exact and probed), as JSON lines. */
  private def answers(db: GraftDatabase, c: String): Seq[(String, Seq[String])] = Seq(
    "read" -> db.read(c).toJSON.collect().sorted.toSeq,
    "SEARCHTEXT" ->
      db.searchText(c, Seq("vector", "rare5", "probe"), k = 10).toJSON.collect().toSeq,
    "SEARCHSIMILAR" -> db.searchSimilar(c, query, k = 5).toJSON.collect().toSeq,
    "SEARCHSIMILAR radius=1" ->
      db.searchSimilar(c, query, k = 5, probeRadius = 1).toJSON.collect().toSeq)

  /** `warm`'s answers equal those of a new handle, whose cache is empty. */
  private def same(warm: GraftDatabase, c: String, what: String): Unit = {
    val fresh = answers(GraftDatabase.open(spark, warm.root.toString), c)
    answers(warm, c).zip(fresh).foreach { case ((answer, got), (_, want)) =>
      if (got != want) fail(s"after $what: the warm handle's $answer differs " +
        s"(${got.size} rows, fresh ${want.size}): ${got.take(3)} vs ${want.take(3)}")
    }
  }

  private def filesListed[T](body: => T): Long = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    body
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
  }

  private def handles(): (GraftDatabase, GraftDatabase) = {
    val a = GraftDatabase.create(spark,
      Files.createTempDirectory("graft_commit").toString, "db")
    (a, GraftDatabase.open(spark, a.root.toString))
  }

  test("every mutation through a second handle reaches the first handle's next read") {
    val (a, b) = handles()
    b.createCollection("docs")
    same(a, "docs", "empty collection")
    val steps: Seq[(String, GraftDatabase => Any)] = Seq(
      "BULKINSERT" -> (_.bulkInsert("docs", records(40))),
      "REINDEX postings" -> (_.reindexPostings("docs", buckets = 4)),
      "INSERT" -> (_.insert("docs", VectorRecord(1000L, vec(1000),
        "vector probe rare5 late arrival"))),
      "postings refresh (append)" -> (_.refreshPostings("docs")),
      "UPDATE" -> (_.update("docs", records(3, 4, salt = "u"))),
      "postings refresh (tombstones)" -> (_.refreshPostings("docs")),
      "postings compact" -> (_.compactPostings("docs")),
      "DELETE" -> (_.delete("docs", $"id" === 7L)),
      "postings refresh (departure only)" -> (_.refreshPostings("docs")),
      "SYNC" -> (_.sync("docs", records(38, 0, salt = "s"))),
      "postings refresh (after SYNC)" -> (_.refreshPostings("docs")),
      "REINDEX sign" -> (_.reindex("docs", nBits = 3)),
      "BULKINSERT into cells" -> (_.bulkInsert("docs", records(4, 2000))),
      "REINDEX kmeans" -> (_.reindexKMeans("docs", k = 3)),
      "REINDEX kmeans trainer=md5" -> (_.reindexKMeansMd5("docs", k = 3)),
      "REINDEX pq" -> (_.reindexPq("docs", m = 2, ksub = 4, nBits = 3)),
      "REINDEX ivfpq" -> (_.reindexIvfPq("docs", m = 2, ksub = 4, kCells = 3)),
      "REINDEX zorder" -> (_.reindexZOrder("docs", "id", "id", bits = 4, nFiles = 2)),
      "quantize" -> (_.quantize("docs")),
      "REINDEX tokenizer" -> (_.trainTokenizer("docs", nMerges = 3)),
      "postings refresh (after layouts)" -> (_.refreshPostings("docs")),
      "REINDEX minhash" -> (_.reindexMinhash("docs", buckets = 4)),
      "INSERT (minhash stale)" -> (_.insert("docs", VectorRecord(1001L, vec(1001),
        "merge shard rare5 another late arrival"))),
      "minhash refresh" -> (_.refreshMinhash("docs")),
      "minhash compact" -> (_.compactMinhash("docs")),
      "REINDEX winsig" -> (_.reindexWinsig("docs", minTokens = 3, buckets = 4)),
      "UPDATE (winsig stale)" -> (_.update("docs", records(2, 10, salt = "w"))),
      "winsig refresh" -> (_.refreshWinsig("docs")),
      "winsig compact" -> (_.compactWinsig("docs")),
      "TAG" -> (_.reindexAttrs("docs")),
      "BULKINSERT (attrs stale)" -> (_.bulkInsert("docs", records(2, 3000))),
      "TAG refresh" -> (_.refreshAttrs("docs")),
      "TAG compact" -> (_.compactAttrs("docs")),
      "TRUNCATEWAL compact" -> (_.compact(Some("docs"), targetFiles = 2)),
      "postings refresh (after compaction)" -> (_.refreshPostings("docs")),
      "SPLIT" -> (_.buildSplits("docs")),
      "ROUTE insert=true" -> (_.routeArrivals("docs", records(3, 4000, salt = "r"))),
      "postings refresh (after ROUTE)" -> (_.refreshPostings("docs")),
      "DROP" -> (_.dropCollection("docs")),
      "re-CREATE" -> { d => d.createCollection("docs"); d.bulkInsert("docs", records(6, 50)) },
      "REINDEX postings after re-create" -> (_.reindexPostings("docs", buckets = 4)))
    steps.foreach { case (what, mutate) =>
      // every answer of `a` is warm here: the previous check served it
      mutate(b)
      if (what != "DROP") same(a, "docs", what)
      else assert(!a.hasCollection("docs"))
    }
    // the checks above ran against a live cache, not around one
    a.read("docs")
    assert(filesListed(a.read("docs")) == 0)
  }

  test("REINDEX dhash through a second handle reaches the first handle") {
    val (a, b) = handles()
    b.createCollection("imgs", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("payload", StringType),
      StructField("media", BinaryType))))
    def imgs(n: Int, from: Int): DataFrame = records(n, from)
      .withColumn("media", unhex(md5(col("payload"))))
    b.bulkInsert("imgs", imgs(12, 0))
    same(a, "imgs", "before dhash")
    b.reindexDhash("imgs", buckets = 2)
    same(a, "imgs", "REINDEX dhash")
    b.bulkInsert("imgs", imgs(2, 100))
    same(a, "imgs", "BULKINSERT (dhash stale)")
  }

  test("two commits a millisecond clock cannot tell apart are two states") {
    val (a, b) = handles()
    b.createCollection("docs")
    b.bulkInsert("docs", records(10))
    b.reindexPostings("docs", buckets = 4)
    same(a, "docs", "warm")
    val fs = a.root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new Path(a.root, "docs")
    val marker = new Path(dir, CommitCache.File)
    val (mt, dt) = (fs.getFileStatus(marker).getModificationTime,
      fs.getFileStatus(dir).getModificationTime)
    b.bulkInsert("docs", records(2, 100))
    // the second commit stamped with the first one's millisecond: only
    // the marker's content tells the states apart
    fs.setTimes(marker, mt, -1)
    fs.setTimes(dir, dt, -1)
    assert(fs.getFileStatus(marker).getModificationTime == mt)
    assert(a.read("docs").count() == 12)
    same(a, "docs", "same-millisecond commit")
    b.refreshPostings("docs")
    fs.setTimes(marker, mt, -1)
    same(a, "docs", "same-millisecond artifact commit")
  }

  test("a database with no commit marker is served uncached until its first commit") {
    val (a, b) = handles()
    b.createCollection("docs")
    b.bulkInsert("docs", records(10))
    b.reindexPostings("docs", buckets = 4)
    // the database as a build without commit markers left it
    val fs = a.root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new Path(a.root, "docs")
    fs.delete(new Path(dir, CommitCache.File), false)
    fs.delete(new Path(dir, s".${CommitCache.File}.crc"), false)
    val old = GraftDatabase.open(spark, a.root.toString)
    same(old, "docs", "no marker")
    assert(filesListed(old.read("docs")) > 0)
    assert(filesListed(old.read("docs")) > 0, "without a marker every read lists")
    // a writer that writes no marker appends: the next read sees it
    records(3, 500).write.mode("append").parquet(dir.toString)
    assert(old.read("docs").count() == 13)
    same(old, "docs", "markerless append")
    // the first commit starts the cache
    b.bulkInsert("docs", records(2, 600))
    same(old, "docs", "first commit")
    old.read("docs")
    assert(filesListed(old.read("docs")) == 0)
    assert(old.read("docs").count() == 15)
  }
}
