package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.VectorRecord

class GraftDatabaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the text artifact's data lives under a generation dir (the atomic
  // compaction pointer) — resolve the CURRENT one for direct-path asserts
  private def genDir(db: graft.core.GraftDatabase, coll: String): String = {
    val base = new java.io.File(s"${db.root}/graft_textindex_$coll")
    base.listFiles().filter(_.getName.startsWith("gen_"))
      .maxBy(_.getName.drop(4).toInt).toString
  }

  private def freshDb(): GraftDatabase = {
    val parent = Files.createTempDirectory("graftdb").toString
    GraftDatabase.create(spark, parent, "testdb")
  }

  test("init creates config + wal, refuses overwrite") {
    val parent = Files.createTempDirectory("graftdb").toString
    GraftDatabase.create(spark, parent, "db1")
    assert(Files.exists(java.nio.file.Paths.get(parent, "db1", "graft_config.json")))
    assert(Files.isDirectory(java.nio.file.Paths.get(parent, "db1", "graft_wal")))
    intercept[IllegalStateException] {
      GraftDatabase.create(spark, parent, "db1")
    }
    // open works; open of a non-db fails
    GraftDatabase.open(spark, s"$parent/db1")
    intercept[IllegalArgumentException] {
      GraftDatabase.open(spark, parent)
    }
  }

  test("create/list/drop collections") {
    val db = freshDb()
    db.createCollection("vecs")
    db.createCollection("docs")
    assert(db.collectionNames() == Seq("docs", "vecs"))
    assert(db.listCollections().as[String].collect().toSeq == Seq("docs", "vecs"))
    intercept[IllegalStateException] { db.createCollection("vecs") }
    db.dropCollection("docs")
    assert(db.collectionNames() == Seq("vecs"))
    intercept[IllegalStateException] { db.dropCollection("docs") }
  }

  test("empty collection reads as empty frame with declared schema") {
    val db = freshDb()
    db.createCollection("vecs")
    val df = db.read("vecs")
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "embedding", "payload"))
  }

  test("insert + bulkInsert + search") {
    val db = freshDb()
    db.createCollection("vecs")
    db.insert("vecs", VectorRecord(1L, Array(1.0f, 0.0f), "alice"))
    db.bulkInsert("vecs", Seq(
      VectorRecord(2L, Array(0.0f, 1.0f), "rabbit"),
      VectorRecord(3L, Array(1.0f, 1.0f), "queen")).toDF())
    assert(db.read("vecs").count() == 3)
    val found = db.search("vecs", expr("payload LIKE 'ra%'"))
    assert(found.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("update upserts and delete filters, copy-on-write") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "a"),
      VectorRecord(2L, Array(0.0f, 1.0f), "b")).toDF())
    // upsert: replace id=2, add id=3
    db.update("vecs", Seq(
      VectorRecord(2L, Array(0.5f, 0.5f), "b2"),
      VectorRecord(3L, Array(1.0f, 1.0f), "c")).toDF())
    val after = db.read("vecs").orderBy("id")
      .select($"id", $"payload").as[(Long, String)].collect().toSeq
    assert(after == Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    db.delete("vecs", expr("id = 1"))
    assert(db.read("vecs").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("sync reconciles to the snapshot; report counts every status") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "a"),
      VectorRecord(2L, Array(0.0f, 1.0f), "b"),
      VectorRecord(3L, Array(1.0f, 1.0f), "c")).toDF())
    // next snapshot: 1 unchanged, 2 edited, 3 removed, 4 added
    val next = Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "a"),
      VectorRecord(2L, Array(0.0f, -1.0f), "b2"),
      VectorRecord(4L, Array(0.5f, 0.5f), "d")).toDF()
    val report = db.sync("vecs", next)
      .as[(String, Long)].collect().toMap
    assert(report == Map("added" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "unchanged" -> 1L))
    val after = db.read("vecs").orderBy("id")
      .select($"id", $"payload").as[(Long, String)].collect().toSeq
    assert(after == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // idempotence: syncing the same snapshot again is all-unchanged
    val again = db.sync("vecs", next).as[(String, Long)].collect().toMap
    assert(again == Map("added" -> 0L, "changed" -> 0L,
      "removed" -> 0L, "unchanged" -> 3L))
    // unknown key fails loud
    intercept[IllegalArgumentException] {
      db.sync("vecs", next, key = "nope")
    }
  }

  test("sync on an indexed quantized collection re-derives the delta's columns") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f, 1.0f), "a"),
      VectorRecord(2L, Array(-1.0f, 1.0f), "b")).toDF())
    db.quantize("vecs")
    db.reindex("vecs", nBits = 2)
    // edit 1's vector into the opposite quadrant; add 3; keep 2
    val next = Seq(
      VectorRecord(1L, Array(-1.0f, -1.0f), "a"),
      VectorRecord(2L, Array(-1.0f, 1.0f), "b"),
      VectorRecord(3L, Array(1.0f, -1.0f), "c")).toDF()
    db.sync("vecs", next)
    val rows = db.read("vecs")
      .select($"id", $"cluster_id".cast("int"),
        $"embedding_q8".getItem(0).cast("int"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // sign buckets over 2 bits: bit i set iff dim i > 0
    assert(rows(1L) == (0, -127), "edited row must re-derive cluster AND q8")
    assert(rows(2L)._1 == 2)
    assert(rows(3L) == (1, 127), "added row gets both derived columns")
    // the sidecar survived: probes still dispatch on the sign layout
    assert(db.indexTypeOf("vecs").contains("sign_bucket"))
  }

  test("postings index: pruned stored path, mutation invalidation, compaction survival") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data merge"),
      VectorRecord(2L, Array(0.0f, 1.0f), "data filler filler"),
      VectorRecord(3L, Array(0.9f, 0.1f), "filler only here")).toDF())
    val direct = db.searchText("docs", Seq("vector", "data"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    db.reindexPostings("docs", buckets = 16)
    val stored = db.searchText("docs", Seq("vector", "data"), k = 5)
    assert(stored.as[(Long, Double, Long)].collect().toSeq == direct,
      "stored postings must score identically to the rescan")
    // the stored plan reads the postings parquet with term_bucket
    // partition pruning — never the collection files
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("textindex_docs") &&
      plan.contains("term_bucket"), s"expected pruned postings scan:\n$plan")
    // any mutation marks the artifact STALE (kept as the refresh diff
    // base, round 11): the fallback rescan must serve
    db.bulkInsert("docs", Seq(
      VectorRecord(4L, Array(0.1f, 0.9f), "vector vector vector")).toDF())
    val after = db.searchText("docs", Seq("vector"), k = 5)
    assert(!after.queryExecution.executedPlan.toString.contains("textindex_docs"),
      "stale postings must never serve after a mutation")
    assert(after.select("id").as[Long].collect().contains(4L),
      "the new row must be retrievable immediately")
    // compaction preserves content, so the artifact legitimately survives
    db.reindexPostings("docs", buckets = 16)
    db.compact(Some("docs"))
    assert(db.searchText("docs", Seq("vector"), k = 5)
      .queryExecution.executedPlan.toString.contains("textindex_docs"),
      "compaction must keep the content-identical postings")
    intercept[IllegalArgumentException] {
      db.reindexPostings("docs", buckets = 7) // 7 does not divide 65536
    }
    // query terms pass through the SAME lowercase [a-z0-9]+ rule the
    // index applied to documents: 'Vector' and the multi-token
    // 'data-merge' must hit on BOTH the stored and rescan paths (they
    // previously returned silently-empty results on each)
    val want = db.searchText("docs", Seq("vector", "data", "merge"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    assert(want.nonEmpty)
    assert(db.searchText("docs", Seq("Vector", "data-MERGE"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq == want,
      "un-normalized query terms must normalize to the tokenizer's rule")
    intercept[IllegalArgumentException] {
      db.searchText("docs", Seq("!!!", "---"), k = 5) // nothing survives
    }
  }

  test("postings refresh: delta segment + tombstones equal a full rebuild") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data merge"),
      VectorRecord(2L, Array(0.0f, 1.0f), "data filler filler"),
      VectorRecord(3L, Array(0.9f, 0.1f), "vector only here"),
      VectorRecord(4L, Array(0.2f, 0.8f), "merge data vector")).toDF())
    db.reindexPostings("docs", buckets = 16)
    // the mutation batch: two arrivals, one content change, one removal
    db.bulkInsert("docs", Seq(
      VectorRecord(5L, Array(0.5f, 0.5f), "fresh vector arrival"),
      VectorRecord(6L, Array(0.6f, 0.4f), "another data doc")).toDF())
    db.update("docs", Seq(
      VectorRecord(2L, Array(0.0f, 1.0f), "rewritten vector text")).toDF())
    db.delete("docs", $"id" === 3L)
    // ground truth while stale = the exact rescan over the mutated corpus
    def q() = db.searchText("docs", Seq("vector", "data", "merge"), k = 10)
    val expected = q().as[(Long, Double, Long)].collect().toSeq
    assert(!q().queryExecution.executedPlan.toString.contains("textindex_docs"),
      "stale artifact must not serve before the refresh")
    // refresh through the COMMAND surface (grammar: mode=refresh)
    graft.commands.CommandExecutor.execute(db,
      graft.commands.CommandParser.parse(Some("docs"), "REINDEX",
        Some("type=postings;mode=refresh"))
        .fold(e => throw new IllegalArgumentException(e.message), identity))
    val served = q()
    assert(served.queryExecution.executedPlan.toString.contains("textindex_docs"),
      "refreshed artifact must serve the stored path again")
    assert(served.as[(Long, Double, Long)].collect().toSeq == expected,
      "incremental refresh must equal the exact rescan row-for-row")
    val ids = served.select("id").as[Long].collect().toSet
    assert(Set(5L).subsetOf(ids), "delta-segment arrivals must serve")
    assert(!ids.contains(3L), "deleted docs must be tombstoned out")
    // the updated doc serves its NEW content: 'rewritten' only exists
    // in the delta segment
    assert(db.searchText("docs", Seq("rewritten"), k = 5)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // idempotence: a refresh with no changes appends nothing
    val dlPath = s"${genDir(db, "docs")}/doclens"
    val before = spark.read.parquet(dlPath).count()
    db.refreshPostings("docs")
    assert(spark.read.parquet(dlPath).count() == before,
      "no-change refresh must not grow the artifact")
    // a SECOND round of mutations refreshes on top of the first delta
    db.update("docs", Seq(
      VectorRecord(5L, Array(0.5f, 0.5f), "twice rewritten arrival")).toDF())
    val expected2 = db.searchText("docs", Seq("vector", "data"), k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    db.refreshPostings("docs")
    assert(db.searchText("docs", Seq("vector", "data"), k = 10)
      .as[(Long, Double, Long)].collect().toSeq == expected2,
      "second incremental round must equal the rescan")
    assert(db.searchText("docs", Seq("twice"), k = 5)
      .select("id").as[Long].collect().toSeq == Seq(5L))
    // refresh ≡ full rebuild: rebuild from scratch and compare
    val stored2 = db.searchText("docs", Seq("vector", "data"), k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    db.reindexPostings("docs", buckets = 16)
    assert(db.searchText("docs", Seq("vector", "data"), k = 10)
      .as[(Long, Double, Long)].collect().toSeq == stored2,
      "segmented view must equal the flat full rebuild")
    // no artifact → loud
    val db2 = freshDb()
    db2.createCollection("other")
    db2.bulkInsert("other", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "some text")).toDF())
    val e = intercept[IllegalArgumentException] { db2.refreshPostings("other") }
    assert(e.getMessage.contains("refresh"))
    // an artifact built over an EMPTY collection stores flat empty
    // frames; refresh after the first rows arrive must take the rebuild
    // path (a partitioned delta append onto a flat dir would conflict
    // partition discovery) and end up serving normally
    val db3 = freshDb()
    db3.createCollection("fresh")
    db3.reindexPostings("fresh", buckets = 16)
    assert(db3.searchText("fresh", Seq("vector"), k = 5).isEmpty,
      "empty stored index must serve an empty result, not crash")
    db3.bulkInsert("fresh", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data here")).toDF())
    db3.refreshPostings("fresh")
    val served3 = db3.searchText("fresh", Seq("vector"), k = 5)
    assert(served3.queryExecution.executedPlan.toString.contains("textindex_fresh"))
    assert(served3.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("postings compact: one flat generation, content-identical, stale guard") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data merge"),
      VectorRecord(2L, Array(0.0f, 1.0f), "data filler filler"),
      VectorRecord(3L, Array(0.9f, 0.1f), "vector only here")).toDF())
    db.reindexPostings("docs", buckets = 16)
    // two churn rounds → multiple segments + tombstones
    db.update("docs", Seq(
      VectorRecord(2L, Array(0.0f, 1.0f), "rewritten vector data")).toDF())
    db.refreshPostings("docs")
    db.delete("docs", $"id" === 3L)
    db.bulkInsert("docs", Seq(
      VectorRecord(4L, Array(0.5f, 0.5f), "late vector arrival")).toDF())
    db.refreshPostings("docs")
    def q() = db.searchText("docs", Seq("vector", "data"), k = 10)
    val before = q().as[(Long, Double, Long)].collect().toSeq
    val dlPath = s"${genDir(db, "docs")}/doclens"
    assert(spark.read.parquet(dlPath).select("seg").distinct().count() > 1,
      "churn must have produced multiple segments")
    graft.commands.CommandExecutor.execute(db,
      graft.commands.CommandParser.parse(Some("docs"), "REINDEX",
        Some("type=postings;mode=compact"))
        .fold(e => throw new IllegalArgumentException(e.message), identity))
    assert(q().as[(Long, Double, Long)].collect().toSeq == before,
      "compaction must be content-preserving")
    assert(q().queryExecution.executedPlan.toString.contains("textindex_docs"),
      "the compacted artifact must keep serving the stored path")
    assert(spark.read.parquet(s"${genDir(db, "docs")}/doclens")
      .select("seg").distinct()
      .as[Int].collect().toSeq == Seq(0), "one flat generation after compact")
    assert(!new java.io.File(
      s"${genDir(db, "docs")}/tombstones").exists(),
      "tombstones clear on compact")
    assert(genDir(db, "docs").endsWith("gen_1"),
      "compaction must have flipped the generation pointer")
    // a further refresh on the compacted artifact still works
    db.update("docs", Seq(
      VectorRecord(4L, Array(0.5f, 0.5f), "twice arrived vector")).toDF())
    // ... but compacting a STALE artifact is refused (it would launder
    // staleness into a confidently-wrong flat index)
    val e = intercept[IllegalArgumentException] { db.compactPostings("docs") }
    assert(e.getMessage.contains("stale"))
    db.refreshPostings("docs")
    val after = db.searchText("docs", Seq("twice"), k = 5)
      .select("id").as[Long].collect().toSeq
    assert(after == Seq(4L))
    db.compactPostings("docs") // live again → compacts cleanly
    assert(db.searchText("docs", Seq("twice"), k = 5)
      .select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("postings live rows: the tombstone anti-join only where tombstones exist") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data merge"),
      VectorRecord(2L, Array(0.0f, 1.0f), "data filler filler"),
      VectorRecord(3L, Array(0.9f, 0.1f), "vector only here")).toDF())
    db.reindexPostings("docs", buckets = 16)
    def q() = db.searchText("docs", Seq("vector", "data"), k = 10)
    def antiJoin(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.toString.contains("LeftAnti")
    }
    assert(!antiJoin(q()), "a fresh build has no tombstones to anti-join")
    // an arrival alone tombstones nothing: still no anti-join
    db.bulkInsert("docs", Seq(
      VectorRecord(4L, Array(0.5f, 0.5f), "late vector arrival")).toDF())
    db.refreshPostings("docs")
    assert(!antiJoin(q()), "a refresh without departures writes no tombstones")
    // departures: the anti-join is back and the stored rows equal the rescan
    db.update("docs", Seq(
      VectorRecord(2L, Array(0.0f, 1.0f), "rewritten vector data")).toDF())
    db.delete("docs", $"id" === 3L)
    val rescan = q().as[(Long, Double, Long)].collect().toSeq
    assert(!q().queryExecution.executedPlan.toString.contains("textindex_docs"))
    db.refreshPostings("docs")
    val served = q()
    assert(served.queryExecution.executedPlan.toString.contains("textindex_docs"))
    assert(antiJoin(served), "tombstoned versions must be anti-joined out")
    assert(served.as[(Long, Double, Long)].collect().toSeq == rescan)
    // compaction folds the tombstones away: no anti-join, same rows
    db.compactPostings("docs")
    val compacted = q()
    assert(compacted.queryExecution.executedPlan.toString.contains("textindex_docs"))
    assert(!antiJoin(compacted), "a compacted generation has no tombstones")
    assert(compacted.as[(Long, Double, Long)].collect().toSeq == rescan)
  }

  test("positional postings: stored phrase match, refresh delta, compaction") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "alpha beta gamma alpha beta"),
      VectorRecord(2L, Array(0.0f, 1.0f), "beta alpha beta gamma"),
      VectorRecord(3L, Array(0.9f, 0.1f), "gamma gamma gamma")).toDF())
    graft.commands.CommandExecutor.execute(db,
      graft.commands.CommandParser.parse(Some("docs"), "REINDEX",
        Some("type=postings;positions=true;buckets=16"))
        .fold(e => throw new IllegalArgumentException(e.message), identity))
    def phrase(p: String) = db.searchPhrase("docs", p.split(" ").toSeq)
    val ab = phrase("alpha beta")
    assert(ab.as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (2L, 1L)))
    val plan = ab.queryExecution.executedPlan.toString
    assert(plan.contains("textindex_docs") && plan.contains("term_bucket"),
      s"stored phrase match must read pruned positions:\n${plan.take(1500)}")
    // a repeated-term phrase constrains two offsets of the SAME list
    assert(phrase("gamma gamma").as[(Long, Long)].collect().toSeq ==
      Seq((3L, 2L)))
    // mutation → stale → the exact rescan serves and sees the new row
    db.bulkInsert("docs", Seq(
      VectorRecord(4L, Array(0.5f, 0.5f), "alpha beta zeta")).toDF())
    val stale = phrase("alpha beta")
    assert(!stale.queryExecution.executedPlan.toString.contains("textindex_docs"))
    assert(stale.as[(Long, Long)].collect().toSeq ==
      Seq((1L, 2L), (2L, 1L), (4L, 1L)))
    // refresh writes the positional DELTA segment too
    db.refreshPostings("docs")
    val refreshed = phrase("alpha beta")
    assert(refreshed.queryExecution.executedPlan.toString.contains("textindex_docs"))
    assert(refreshed.as[(Long, Long)].collect().toSeq ==
      Seq((1L, 2L), (2L, 1L), (4L, 1L)))
    // an update whose new text DROPS the phrase must tombstone the old
    // positional rows
    db.update("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "nothing here now")).toDF())
    db.refreshPostings("docs")
    assert(phrase("alpha beta").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 1L), (4L, 1L)))
    // compaction keeps the positional artifact serving, content-identical
    db.compactPostings("docs")
    val compacted = phrase("alpha beta")
    assert(compacted.queryExecution.executedPlan.toString.contains("textindex_docs"))
    assert(compacted.as[(Long, Long)].collect().toSeq ==
      Seq((2L, 1L), (4L, 1L)))
    // normalization + loud empty contract
    assert(phrase("ALPHA beta!").as[(Long, Long)].collect().toSeq ==
      phrase("alpha beta").as[(Long, Long)].collect().toSeq)
    intercept[IllegalArgumentException] { db.searchPhrase("docs", Seq("!!!")) }
  }

  test("minhash screen: stored bands, stale fallback sees fresh rows, drop") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f),
        (0 until 20).map(i => s"alpha$i").mkString(" ")),
      VectorRecord(2L, Array(0.0f, 1.0f),
        (0 until 20).map(i => s"beta$i").mkString(" "))).toDF())
    graft.commands.CommandExecutor.execute(db,
      graft.commands.CommandParser.parse(Some("docs"), "REINDEX",
        Some("type=minhash"))
        .fold(e => throw new IllegalArgumentException(e.message), identity))
    val batch = Seq((100L, Array(0.0f, 0.0f),
      (0 until 20).map(i => s"alpha$i").mkString(" ") + " x y"))
      .map(t => VectorRecord(t._1, t._2, t._3)).toDF()
      .select($"id", $"payload")
    val got = db.screenDupes("docs", batch)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((100L, 1L)),
      s"near-copy must pair with its stored original, got $got")
    assert(math.abs(got.head._3 - 16.0 / 18.0) < 1e-12)
    // a mutation marks the artifact stale; the fallback RECOMPUTES from
    // the live collection, so a copy of the just-inserted doc is
    // screenable immediately (unlike a stale-serving index could ever be)
    db.bulkInsert("docs", Seq(VectorRecord(3L, Array(0.5f, 0.5f),
      (0 until 20).map(i => s"gamma$i").mkString(" "))).toDF())
    val batch2 = Seq((101L,
      (0 until 20).map(i => s"gamma$i").mkString(" ") + " z"))
      .toDF("id", "payload")
    val got2 = db.screenDupes("docs", batch2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got2.map(r => (r._1, r._2)) == Seq((101L, 3L)),
      "stale fallback must screen against the LIVE collection")
    // re-materialize: the stored path serves the same answer
    db.reindexMinhash("docs")
    assert(db.screenDupes("docs", batch2)
      .as[(Long, Long, Double)].collect().toSeq == got2)
    // parameter persistence across the stale window: a non-default
    // family (shingleN=4) must govern the FALLBACK too — otherwise the
    // candidate sets silently change shape while the artifact is stale
    db.reindexMinhash("docs", shingleN = 4)
    db.bulkInsert("docs", Seq(VectorRecord(5L, Array(0.0f, 1.0f),
      (0 until 20).map(i => s"delta$i").mkString(" "))).toDF()) // → stale
    val b3 = Seq((102L,
      (0 until 20).map(i => s"delta$i").mkString(" ") + " q"))
      .toDF("id", "payload")
    val viaFallback = db.screenDupes("docs", b3)
      .as[(Long, Long, Double)].collect().toSeq
    db.reindexMinhash("docs", shingleN = 4)
    assert(db.screenDupes("docs", b3)
      .as[(Long, Long, Double)].collect().toSeq == viaFallback,
      "stale fallback must screen with the artifact's parameters")
    // 20 words → 17 4-shingles; +1 token → 18, 17 shared: J = 17/18
    assert(viaFallback.map(r => (r._1, r._2)) == Seq((102L, 5L)))
    assert(math.abs(viaFallback.head._3 - 17.0 / 18.0) < 1e-12)
    // batch contract is loud
    val e = intercept[IllegalArgumentException] {
      db.screenDupes("docs", Seq((1L, "x")).toDF("id", "text"))
    }
    assert(e.getMessage.contains("payload"))
    // drop removes the artifact directory
    db.dropCollection("docs")
    assert(!new java.io.File(s"${db.root}/graft_minhash_docs").exists())
  }

  test("winsig screen: stored sigs, stale fallback, recorded width, drop") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f),
        (0 until 20).map(i => s"alpha$i").mkString(" ")),
      VectorRecord(2L, Array(0.0f, 1.0f),
        (0 until 20).map(i => s"beta$i").mkString(" "))).toDF())
    graft.commands.CommandExecutor.execute(db,
      graft.commands.CommandParser.parse(Some("docs"), "REINDEX",
        Some("type=winsig"))
        .fold(e => throw new IllegalArgumentException(e.message), identity))
    // the alpha run is covered exactly (windows spanning fresh tokens
    // are not stored sigs, but every alpha position lies in SOME stored
    // 15-window); fresh wrap tokens survive
    val batch = Seq((100L,
      "x0 x1 " + (0 until 20).map(i => s"alpha$i").mkString(" ") + " y0"))
      .toDF("id", "payload")
    val got = db.screenSubstrings("docs", batch)
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((100L, 23L, 3L, "x0 x1 y0")),
      s"stored-path screening diverged: $got")
    // a mutation marks the artifact stale; the fallback recomputes from
    // the LIVE collection, so just-inserted content screens immediately
    db.bulkInsert("docs", Seq(VectorRecord(3L, Array(0.5f, 0.5f),
      (0 until 20).map(i => s"gamma$i").mkString(" "))).toDF())
    val batch2 = Seq((101L,
      (0 until 20).map(i => s"gamma$i").mkString(" ") + " z"))
      .toDF("id", "payload")
    val got2 = db.screenSubstrings("docs", batch2)
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got2 == Seq((101L, 21L, 1L, "z")),
      "stale fallback must screen against the LIVE collection")
    // re-materialize: the stored path serves the same answer
    db.reindexWinsig("docs")
    assert(db.screenSubstrings("docs", batch2)
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq == got2)
    // width persistence across the stale window: a non-default width (5)
    // must govern the FALLBACK too — under the default 15 this 6-token
    // batch has no windows at all and nothing would be screened
    db.reindexWinsig("docs", minTokens = 5)
    db.bulkInsert("docs", Seq(VectorRecord(5L, Array(0.0f, 1.0f),
      (0 until 10).map(i => s"delta$i").mkString(" "))).toDF()) // → stale
    val b3 = Seq((102L,
      (0 until 5).map(i => s"delta$i").mkString(" ") + " zz"))
      .toDF("id", "payload")
    val viaFallback = db.screenSubstrings("docs", b3)
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(viaFallback == Seq((102L, 6L, 1L, "zz")),
      "stale fallback must screen with the artifact's recorded width")
    db.reindexWinsig("docs", minTokens = 5)
    assert(db.screenSubstrings("docs", b3)
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq == viaFallback)
    // batch contract is loud
    val e = intercept[IllegalArgumentException] {
      db.screenSubstrings("docs", Seq((1L, "x")).toDF("id", "text"))
    }
    assert(e.getMessage.contains("payload"))
    // drop removes the artifact directory
    db.dropCollection("docs")
    assert(!new java.io.File(s"${db.root}/graft_winsig_docs").exists())
    // an artifact built over a collection with NO window-bearing payloads
    // (every doc shorter than the width) reads back empty and screens
    // nothing — the zero-row-artifact lifecycle must round-trip
    db.createCollection("docs")
    db.bulkInsert("docs",
      Seq(VectorRecord(1L, Array(1.0f, 0.0f), "just three tokens")).toDF())
    db.reindexWinsig("docs")
    val untouched = db.screenSubstrings("docs",
        Seq((200L, (0 until 20).map(i => s"w$i").mkString(" ")))
          .toDF("id", "payload"))
      .select("id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(untouched ==
      Seq((200L, 20L, 20L, (0 until 20).map(i => s"w$i").mkString(" "))),
      "an empty window artifact must screen nothing")
  }

  test("winsig refresh: delta segments, shared-sig survival, compaction") {
    val db = freshDb()
    db.createCollection("docs")
    val run = (0 until 15).map(i => s"sh$i").mkString(" ")
    val gamma = (0 until 20).map(i => s"gm$i").mkString(" ")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), run + " a1 a2 a3"),
      VectorRecord(2L, Array(0.0f, 1.0f), "b1 b2 " + run),
      VectorRecord(3L, Array(0.5f, 0.5f), gamma)).toDF())
    db.reindexWinsig("docs")
    def kept(text: String): Long =
      db.screenSubstrings("docs", Seq((900L, text)).toDF("id", "payload"))
        .select("n_kept").as[Long].collect().head
    assert(kept(run + " zz") == 1L, "the shared run must screen")
    // doc 1 deleted: the run sig survives via doc 2 (per-id attribution
    // — a flat distinct table could not distinguish this from full loss)
    db.delete("docs", col("id") === 1L)
    db.refreshWinsig("docs")
    assert(kept(run + " zz") == 1L,
      "a sig carried by a surviving doc must keep screening")
    // last carrier deleted: the sig is gone
    db.delete("docs", col("id") === 2L)
    db.refreshWinsig("docs")
    assert(kept(run + " zz") == 16L,
      "a sig with no live carrier must stop screening")
    // update re-windows only the changed doc: new content screens, the
    // replaced version's windows are tombstoned
    val nu = (0 until 15).map(i => s"nu$i").mkString(" ")
    db.update("docs",
      Seq(VectorRecord(3L, Array(0.5f, 0.5f), nu)).toDF())
    db.refreshWinsig("docs")
    assert(kept(nu + " q") == 1L, "refreshed content must screen")
    assert(kept(gamma + " q") == 21L,
      "the replaced version's windows must stop screening")
    // compaction: same answers through the generation flip, old gen gone
    db.compactWinsig("docs")
    assert(kept(nu + " q") == 1L && kept(gamma + " q") == 21L,
      "compaction must preserve screening content")
    val gens = new java.io.File(s"${db.root}/graft_winsig_docs")
      .listFiles().map(_.getName).filter(_.startsWith("gen_")).toSeq
    assert(gens == Seq("gen_1"), s"only the live generation survives: $gens")
    // loud guards: refresh needs an artifact; compact refuses stale
    db.createCollection("bare")
    db.bulkInsert("bare",
      Seq(VectorRecord(9L, Array(1.0f, 0.0f), "x y z")).toDF())
    intercept[IllegalArgumentException] { db.refreshWinsig("bare") }
    db.bulkInsert("docs",
      Seq(VectorRecord(4L, Array(1.0f, 0.0f), "p q r")).toDF()) // → stale
    intercept[IllegalArgumentException] { db.compactWinsig("docs") }
  }

  test("minhash refresh: delta segments, tombstoned versions, compaction") {
    val db = freshDb()
    db.createCollection("docs")
    def words(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), words("al")),
      VectorRecord(2L, Array(0.0f, 1.0f), words("be"))).toDF())
    db.reindexMinhash("docs")
    def pairsOf(text: String): Seq[(Long, Long)] =
      db.screenDupes("docs", Seq((900L, text)).toDF("id", "payload"))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSeq.sorted
    assert(pairsOf(words("al") + " x") == Seq((900L, 1L)))
    // new doc arrives; refresh indexes ONLY it; the stored path pairs it
    db.bulkInsert("docs", Seq(
      VectorRecord(3L, Array(0.5f, 0.5f), words("ga"))).toDF())
    db.refreshMinhash("docs")
    assert(pairsOf(words("ga") + " y") == Seq((900L, 3L)),
      "refreshed content must pair from the stored path")
    // replace doc 1: its old bands must stop pairing, the new ones start
    db.update("docs",
      Seq(VectorRecord(1L, Array(1.0f, 0.0f), words("nu"))).toDF())
    db.refreshMinhash("docs")
    assert(pairsOf(words("al") + " x").isEmpty,
      "a replaced version's bands must stop pairing")
    assert(pairsOf(words("nu") + " x") == Seq((900L, 1L)))
    // compaction preserves answers, sweeps old generations
    db.compactMinhash("docs")
    assert(pairsOf(words("nu") + " x") == Seq((900L, 1L)) &&
      pairsOf(words("ga") + " y") == Seq((900L, 3L)))
    val gens = new java.io.File(s"${db.root}/graft_minhash_docs")
      .listFiles().map(_.getName).filter(_.startsWith("gen_")).toSeq
    assert(gens == Seq("gen_1"), s"only the live generation survives: $gens")
    // loud guards
    db.createCollection("bare")
    db.bulkInsert("bare",
      Seq(VectorRecord(9L, Array(1.0f, 0.0f), "x y z")).toDF())
    intercept[IllegalArgumentException] { db.refreshMinhash("bare") }
    db.delete("docs", col("id") === 2L) // → stale
    intercept[IllegalArgumentException] { db.compactMinhash("docs") }
  }

  test("searchSimilar returns nearest by cosine") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "x-axis"),
      VectorRecord(2L, Array(0.0f, 1.0f), "y-axis"),
      VectorRecord(3L, Array(0.9f, 0.1f), "near-x")).toDF())
    val top = db.searchSimilar("vecs", Array(1.0f, 0.0f), 2)
      .select("id").as[Long].collect().toSeq
    assert(top == Seq(1L, 3L))
  }

  test("reindex partitions by cluster_id and probe finds neighbors") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 64).map { i =>
      val v = Array(if ((i & 1) == 0) 1.0f else -1.0f,
        if ((i & 2) == 0) 1.0f else -1.0f, i.toFloat / 64)
      VectorRecord(i.toLong, v, s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindexWith("vecs", df =>
      graft.operators.VectorIndex.assignSignBuckets(df, nBits = 2))
    val indexed = db.read("vecs")
    assert(indexed.columns.contains("cluster_id"))
    assert(indexed.select("cluster_id").distinct().count() == 4)
    val probed = graft.operators.VectorIndex.probe(
      indexed, Array(1.0f, 1.0f, 0.5f), k = 3, nBits = 2, radius = 0)
    assert(probed.count() == 3)
    // compaction keeps data
    db.compact(Some("vecs"), targetFiles = 2)
    assert(db.read("vecs").count() == 64)
  }

  test("searchSimilar auto-probes after reindex; mutations preserve the index") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 32).map { i =>
      VectorRecord(i.toLong, Array(
        if ((i & 1) == 0) 1.0f else -1.0f,
        if ((i & 2) == 0) 1.0f else -1.0f,
        i.toFloat / 100 + 0.01f), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindex("vecs", nBits = 2)

    // auto-probe (radius 0 = only the query's own bucket) returns only
    // same-sign-bucket neighbors; exact scan (radius -1) sees everything
    val probed = db.searchSimilar("vecs", Array(1.0f, 1.0f, 0.5f), k = 32,
      probeRadius = 0)
    assert(probed.count() == 8) // 32 ids / 4 buckets
    val exact = db.searchSimilar("vecs", Array(1.0f, 1.0f, 0.5f), k = 32,
      probeRadius = -1)
    assert(exact.count() == 32)

    // delete + compact keep the partition layout and the index sidecar
    db.delete("vecs", expr("id = 0"))
    db.compact(Some("vecs"), targetFiles = 2)
    assert(db.read("vecs").columns.contains("cluster_id"))
    val afterMutation = db.searchSimilar("vecs", Array(1.0f, 1.0f, 0.5f),
      k = 32, probeRadius = 0)
    assert(afterMutation.count() == 7) // id 0 was in this bucket

    // UPDATE on an indexed collection re-assigns buckets (the updated row
    // moves to the bucket its new vector belongs to)
    db.update("vecs", Seq(
      VectorRecord(1L, Array(-1.0f, -1.0f, -0.5f), "moved")).toDF())
    val moved = db.read("vecs").filter($"id" === 1)
      .select($"cluster_id".cast("int")).as[Int].head()
    assert(moved == 0) // both dims negative → sign bucket 0
  }

  test("bulkInsert after reindex keeps rows visible (round-1 verdict repro)") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 32).map { i =>
      VectorRecord(i.toLong, Array(
        if ((i & 1) == 0) 1.0f else -1.0f,
        if ((i & 2) == 0) 1.0f else -1.0f,
        i.toFloat / 100 + 0.01f), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindex("vecs", nBits = 2)
    // the round-1 bug: this append landed in root-level files the
    // partitioned read silently ignored — 32 rows back, id=100 gone
    db.bulkInsert("vecs",
      Seq(VectorRecord(100L, Array(1.0f, 1.0f, 0.5f), "late")).toDF())
    val after = db.read("vecs")
    assert(after.count() == 33, "appended row lost after reindex")
    // and it must carry the sign-bucket code its vector implies (bucket 3)…
    assert(after.filter($"id" === 100)
      .select($"cluster_id".cast("int")).as[Int].head() == 3)
    // …so an index probe of that bucket finds it
    val probed = db.searchSimilar("vecs", Array(1.0f, 1.0f, 0.5f), k = 9,
      probeRadius = 0)
    assert(probed.filter($"id" === 100).count() == 1,
      "probe can't see the appended row")
    // single-record INSERT takes the same path
    db.insert("vecs", VectorRecord(101L, Array(-1.0f, -1.0f, -0.5f), "late2"))
    assert(db.read("vecs").count() == 34)
    assert(db.read("vecs").filter($"id" === 101)
      .select($"cluster_id".cast("int")).as[Int].head() == 0)
  }

  test("kmeans reindex: sidecar centroids drive probe, appends, and update") {
    val db = freshDb()
    db.createCollection("vecs")
    // two well-separated planted clusters
    val rows = (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      VectorRecord(i.toLong, base.updated(2, i.toFloat / 1000), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindexKMeans("vecs", k = 2)
    val indexed = db.read("vecs")
    assert(indexed.columns.contains("cluster_id"))
    assert(indexed.select("cluster_id").distinct().count() == 2)

    // probe of the nearest cell only (nprobe=1) returns that cluster's rows
    val probed = db.searchSimilar("vecs", Array(1.0f, 0.0f, 0.0f), k = 40,
      probeRadius = 0)
    assert(probed.count() == 20)
    assert(probed.select("id").as[Long].collect().forall(_ < 20))

    // append assigns by nearest stored centroid — visible AND probed
    db.bulkInsert("vecs",
      Seq(VectorRecord(100L, Array(0.99f, 0.01f, 0.0f), "late")).toDF())
    assert(db.read("vecs").count() == 41)
    val probed2 = db.searchSimilar("vecs", Array(1.0f, 0.0f, 0.0f), k = 41,
      probeRadius = 0)
    assert(probed2.filter($"id" === 100).count() == 1)

    // update keeps the kmeans index alive (re-assigns, no invalidation):
    // the moved row changes cells
    db.update("vecs", Seq(
      VectorRecord(0L, Array(0.0f, 1.0f, 0.1f), "moved")).toDF())
    val afterUpd = db.read("vecs")
    assert(afterUpd.columns.contains("cluster_id"))
    val probed3 = db.searchSimilar("vecs", Array(0.0f, 1.0f, 0.0f), k = 41,
      probeRadius = 0)
    assert(probed3.filter($"id" === 0).count() == 1,
      "updated row not re-assigned to its new cell")
  }

  test("pq reindex: sidecar codebooks drive the ADC probe, appends, and update") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 40).map { i =>
      val base =
        if (i < 20) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f, 0.0f, 0.0f)
      VectorRecord(i.toLong, base.updated(3, i.toFloat / 1000), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindexPq("vecs", m = 2, ksub = 4, rounds = 1, nBits = 4)
    val indexed = db.read("vecs")
    assert(indexed.columns.contains("cluster_id"), "pq layout must partition")
    assert(indexed.columns.contains("pq_code"), "pq layout must store codes")
    assert(indexed.filter($"pq_code".isNull).count() == 0)

    // managed path ≡ the raw-operator composition: the sidecar round-trip
    // (write JSON, parse back) must reproduce the trained codebooks
    // bit-for-bit, so the ADC ranking is identical
    val cb = graft.operators.ProductQuantization.trainCodebooks(
      rows.toDF(), "id", "embedding", m = 2, ksub = 4, rounds = 1)
    val coded = graft.operators.ProductQuantization.assignCodes(
      rows.toDF(), "embedding", cb)
    val q = Array(1.0f, 0.0f, 0.0f, 0.005f)
    val raw = graft.operators.ProductQuantization.topKAdc(
        rows.toDF(), coded, q, k = 5, shortlist = 40, cb)
      .select($"id", $"score").as[(Long, Double)].collect().toSeq
    val managed = db.searchSimilarPq("vecs", q, k = 5, shortlist = 40)
      .select($"id", $"score").as[(Long, Double)].collect().toSeq
    assert(managed == raw, s"managed $managed != raw $raw")

    // radius-composed probe stays within the hamming ball AND finds the
    // planted nearest (same cell as the query by construction)
    val probed = db.searchSimilarPq("vecs", q, k = 3, shortlist = 40,
      probeRadius = 0)
    assert(probed.select("id").as[Long].collect().forall(_ < 20))

    // append re-derives BOTH derived columns from the sidecar
    db.bulkInsert("vecs",
      Seq(VectorRecord(100L, Array(0.99f, 0.0f, 0.0f, 0.01f), "late")).toDF())
    val after = db.read("vecs")
    assert(after.count() == 41)
    assert(after.filter($"id" === 100 && $"pq_code".isNotNull).count() == 1,
      "appended row missing its pq code")
    val found = db.searchSimilarPq("vecs",
      Array(0.99f, 0.0f, 0.0f, 0.01f), k = 1, shortlist = 41,
      probeRadius = 0)
    assert(found.select("id").as[Long].head() == 100L)

    // update keeps the pq index alive: cells and codes re-derive
    db.update("vecs", Seq(
      VectorRecord(0L, Array(0.0f, 1.0f, 0.0f, 0.5f), "moved")).toDF())
    val afterUpd = db.read("vecs")
    assert(afterUpd.columns.contains("pq_code"))
    val probed3 = db.searchSimilarPq("vecs", Array(0.0f, 1.0f, 0.0f, 0.5f),
      k = 1, shortlist = 41, probeRadius = 0)
    assert(probed3.select("id").as[Long].head() == 0L,
      "updated row not re-coded into its new cell")
  }

  test("ivfpq reindex: coarse + residual sidecar drives probe, appends, update") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 40).map { i =>
      val base =
        if (i < 20) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f, 0.0f, 0.0f)
      VectorRecord(i.toLong, base.updated(3, i.toFloat / 1000), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    db.reindexIvfPq("vecs", m = 2, ksub = 4, rounds = 1, kCells = 2)
    val indexed = db.read("vecs")
    assert(indexed.columns.contains("cluster_id") &&
      indexed.columns.contains("pq_code"))
    assert(indexed.filter($"pq_code".isNull).count() == 0)
    // cells are 1-based coarse cids (the m=1 rule), never the -1 tail
    val cells = indexed.select($"cluster_id").distinct()
      .as[Int].collect().toSet
    assert(cells.subsetOf(Set(1, 2)), s"unexpected cells $cells")

    // probe finds the planted neighborhood through the managed path
    val q = Array(1.0f, 0.0f, 0.0f, 0.005f)
    val got = db.searchSimilarIvfPq("vecs", q, k = 3, shortlist = 40,
      nprobe = 1)
    assert(got.select("id").as[Long].collect().forall(_ < 20),
      "nprobe=1 must stay inside the query's coarse cell")

    // append re-derives cluster AND residual code from the sidecar
    db.bulkInsert("vecs",
      Seq(VectorRecord(100L, Array(0.99f, 0.0f, 0.0f, 0.01f), "late")).toDF())
    val after = db.read("vecs")
    assert(after.count() == 41)
    assert(after.filter($"id" === 100 && $"pq_code".isNotNull &&
      $"cluster_id" >= 1).count() == 1,
      "appended row missing residual code or cell")
    val found = db.searchSimilarIvfPq("vecs",
      Array(0.99f, 0.0f, 0.0f, 0.01f), k = 1, shortlist = 41, nprobe = 1)
    assert(found.select("id").as[Long].head() == 100L)

    // update re-derives both — the layout survives
    db.update("vecs", Seq(
      VectorRecord(0L, Array(0.0f, 1.0f, 0.0f, 0.5f), "moved")).toDF())
    val probed3 = db.searchSimilarIvfPq("vecs",
      Array(0.0f, 1.0f, 0.0f, 0.5f), k = 1, shortlist = 41, nprobe = 1)
    assert(probed3.select("id").as[Long].head() == 0L,
      "updated row not re-coded into its new cell")

    // TRUNCATEWAL compaction keeps the partition layout AND the sidecar:
    // the probe still answers, no rows lost
    db.compact(Some("vecs"), targetFiles = 2)
    assert(db.read("vecs").count() == 41)
    val probed4 = db.searchSimilarIvfPq("vecs",
      Array(0.99f, 0.0f, 0.0f, 0.01f), k = 1, shortlist = 41, nprobe = 1)
    assert(probed4.select("id").as[Long].head() == 100L,
      "compaction must not degrade the ivfpq layout")
  }

  test("searchSimilarPq without a pq sidecar fails loud, never exact-scans") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f, 0.5f, 0.2f), "a")).toDF())
    val e = intercept[IllegalStateException] {
      db.searchSimilarPq("vecs", Array(1.0f, 0.0f, 0.5f, 0.2f), k = 1)
    }
    assert(e.getMessage.contains("sidecar"))
    // a sign-bucket sidecar is not a pq sidecar either
    db.reindex("vecs", nBits = 4)
    val e2 = intercept[IllegalStateException] {
      db.searchSimilarPq("vecs", Array(1.0f, 0.0f, 0.5f, 0.2f), k = 1)
    }
    assert(e2.getMessage.contains("codebooks"))
  }

  test("custom reindexWith layout: appends survive in the unindexed tail") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", (0 until 8).map(i =>
      VectorRecord(i.toLong, Array(i.toFloat, 1.0f), s"p$i")).toDF())
    // a layout the sidecar can't describe (no sidecar at all)
    db.reindexWith("vecs", df =>
      df.withColumn("cluster_id", (col("id") % 3).cast("int")))
    db.bulkInsert("vecs",
      Seq(VectorRecord(50L, Array(9.0f, 1.0f), "late")).toDF())
    val all = db.read("vecs")
    assert(all.count() == 9, "append to unknown layout lost")
    assert(all.filter($"id" === 50)
      .select($"cluster_id".cast("int")).as[Int].head() == -1)
    // exact search (the only path for unknown layouts) sees the row
    val exact = db.searchSimilar("vecs", Array(9.0f, 1.0f), k = 1)
    assert(exact.select("id").as[Long].head() == 50L)
  }

  test("a custom reindexWith after kmeans drops the kmeans layout record") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", (0 until 40).map(i => VectorRecord(i.toLong,
      Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat), s"p$i"))
      .toDF())
    db.reindexKMeans("vecs", k = 4)
    assert(db.indexTypeOf("vecs").contains("kmeans"))
    db.reindexWith("vecs", df =>
      df.withColumn("cluster_id", (col("id") % 7 + 100).cast("int")))
    // the new layout has no record: nothing may still describe the old one
    assert(db.indexTypeOf("vecs").isEmpty)
    assert(!db.listIndexes("vecs").select("index_type").as[String].collect()
      .exists(_.startsWith("vector:")))
    val q = Array(1.0f, 0.2f)
    val exact = db.searchSimilar("vecs", q, k = 5)
      .select("id").as[Long].collect().toSeq
    assert(exact.size == 5)
    assert(db.searchSimilar("vecs", q, k = 5, probeRadius = 1)
      .select("id").as[Long].collect().toSeq == exact,
      "a probe without a layout record must answer exactly")
    db.bulkInsert("vecs", Seq(VectorRecord(99L, Array(0.5f, 0.5f), "late")).toDF())
    assert(db.read("vecs").filter($"id" === 99L)
      .select($"cluster_id".cast("int")).as[Int].head() == -1,
      "an append to a layout without a record lands in the unindexed tail")
  }

  test("rewrite swap crash between renames is recovered on next access") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", (0 until 10).map(i =>
      VectorRecord(i.toLong, Array(1.0f), s"p$i")).toDF())
    // simulate the crash window: the old version moved to trash, the new
    // version never renamed in — the live dir is absent
    val fs = new org.apache.hadoop.fs.Path(db.root, "x")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(db.root, "vecs")
    val trash = new org.apache.hadoop.fs.Path(db.root, "graft_trash_vecs")
    assert(fs.rename(live, trash))
    assert(!db.hasCollection("vecs"))
    // first access recovers the trashed version; no data lost
    assert(db.read("vecs").count() == 10)
    assert(db.hasCollection("vecs"))
    // and a crash AFTER a successful swap (stale trash + live dir both
    // present): the live version wins, stale trash never shadows it
    val trash2 = new org.apache.hadoop.fs.Path(db.root, "graft_trash_vecs")
    fs.mkdirs(trash2)
    db.delete("vecs", expr("id = 0")) // rewrite discards the stale trash
    assert(db.read("vecs").count() == 9)
    assert(!fs.exists(trash2))
  }

  test("ivf × sq8: probed quantized search recovers the exact top-k on both layouts") {
    // two tight clusters with fully-signed leading dims: sign buckets are
    // 0x00 / 0xFF per cluster, so a radius-1 probe of the query's cell is
    // lossless, and KMeans(k=2) separates them identically
    val rnd = new scala.util.Random(11)
    def point(i: Int, sign: Float): VectorRecord = {
      val v = Array.tabulate(16)(d =>
        if (d < 8) sign * (1.0f + 0.1f * rnd.nextGaussian().toFloat)
        else 0.1f * rnd.nextGaussian().toFloat)
      VectorRecord(i.toLong, v, s"p$i")
    }
    val rows = (0 until 100).map(point(_, 1.0f)) ++
      (100 until 200).map(point(_, -1.0f))
    val q = rows(3).embedding

    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", rows.toDF())
    val exact = db.searchSimilar("vecs", q, k = 10)
      .select("id").as[Long].collect().toSeq

    db.reindex("vecs", nBits = 8)
    db.quantize("vecs")
    val signProbed = db.searchSimilarSq8("vecs", q, k = 10, shortlist = 50,
        probeRadius = 1)
      .select("id").as[Long].collect().toSeq
    assert(signProbed == exact,
      "sign-bucket ivf×sq8 must recover the exact top-k on separable data")

    val db2 = freshDb()
    db2.createCollection("vecs")
    db2.bulkInsert("vecs", rows.toDF())
    db2.reindexKMeans("vecs", k = 2)
    db2.quantize("vecs")
    val kmProbed = db2.searchSimilarSq8("vecs", q, k = 10, shortlist = 50,
        probeRadius = 0)
      .select("id").as[Long].collect().toSeq
    assert(kmProbed == exact,
      "kmeans ivf×sq8 must recover the exact top-k on separable data")
  }

  test("quantize: stored sq8 column drives search; appends and updates keep it") {
    val db = freshDb()
    db.createCollection("vecs")
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      VectorRecord(i.toLong, v.map(_ / n), s"p$i")
    }
    db.bulkInsert("vecs", rows.toDF())
    val q = rows(5).embedding
    val exact = db.searchSimilar("vecs", q, k = 10)
      .select("id").as[Long].collect().toSeq

    db.quantize("vecs")
    assert(db.read("vecs").schema("embedding_q8").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val viaStored = db.searchSimilarSq8("vecs", q, k = 10, shortlist = 50)
      .select("id").as[Long].collect().toSeq
    assert(viaStored == exact,
      "sq8-over-stored-column must recover the exact top-k on separable data")

    // appended rows get the quantized copy in the same write pass…
    db.bulkInsert("vecs", Seq(VectorRecord(500L, q, "dup")).toDF())
    val withDup = db.searchSimilarSq8("vecs", q, k = 1, shortlist = 50)
    assert(withDup.select("id").as[Long].head() == 5L ||
      withDup.select("id").as[Long].head() == 500L) // exact dup ties on score
    assert(db.read("vecs").filter($"id" === 500)
      .select(size($"embedding_q8")).as[Int].head() == 16)

    // …and an update re-derives it from the NEW vector
    db.update("vecs", Seq(VectorRecord(5L, rows(7).embedding, "moved")).toDF())
    val q8row = db.read("vecs").filter($"id" === 5)
      .select($"embedding_q8".cast("array<int>")).as[Seq[Int]].head()
    val expected = rows(7).embedding.map(x =>
      math.max(-127, math.min(127, math.floor(x.toDouble * 127 + 0.5).toInt))).toSeq
    assert(q8row == expected, "updated row's quantized copy must track its new vector")
  }

  test("zorder reindex fails loud on a missing column, collection intact") {
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 64).map(i =>
      VectorRecord(i.toLong, Array(i / 64.0f, 1.0f - i / 64.0f), s"p$i"))
    db.bulkInsert("vecs", rows.toDF())
    intercept[Exception] {
      db.reindexZOrder("vecs", "id", "no_such_col", 8, 4)
    }
    assert(db.read("vecs").count() == 64L,
      "a failed rewrite must leave the live collection untouched")
  }

  test("zorder reindex through the command surface: content + sidecar + fallback") {
    import org.apache.spark.sql.functions._
    val db = freshDb()
    db.createCollection("vecs")
    val rows = (0 until 256).map(i =>
      VectorRecord(i.toLong, Array(i / 256.0f, 1.0f - i / 256.0f), s"p$i"))
    db.bulkInsert("vecs", rows.toDF())
    // z-order on (id, a scrambled derivative): exercise via the command
    graft.commands.CommandExecutor.execute(db,
      graft.commands.GraftCommand.Reindex("vecs",
        Some("type=zorder;cols=id,id;bits=8;files=4")))
    val back = db.read("vecs")
    assert(!back.columns.contains("cluster_id"),
      "zorder is a file layout, not a partition layout")
    assert(back.count() == 256L)
    assert(back.select("id").as[Long].collect().toSet == (0L until 256L).toSet)
    // per-file id spans are tight (4 files over 256 ids → ~64 each)
    val spans = back.withColumn("__f", input_file_name())
      .groupBy("__f").agg((max("id") - min("id")).as("span"))
      .select("span").as[Long].collect()
    assert(spans.forall(_ <= 128L),
      s"range-partitioned z layout must bound per-file id spans, got ${spans.toSeq}")
    // probe on a non-geometric layout falls back to exact — same top-k as
    // a brute-force scan, never silently wrong neighbors
    val q = Array(0.5f, 0.5f)
    val probed = db.searchSimilar("vecs", q, 5, probeRadius = 1)
      .select("id").as[Long].collect().toSeq
    val exact = db.searchSimilar("vecs", q, 5)
      .select("id").as[Long].collect().toSeq
    assert(probed == exact)
    // updates keep content; the sidecar (layout intent) survives
    db.update("vecs", Seq(VectorRecord(0L, Array(9f, 9f), "moved")).toDF())
    assert(db.read("vecs").count() == 256L)
    assert(Files.exists(java.nio.file.Paths.get(
      db.root.toString.stripPrefix("file:"), "vecs", "_graft_index.json")),
      "the layout-intent sidecar must survive updates")
  }

  test("delete with NULL-evaluating predicate keeps those rows (SQL semantics)") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      (1L, Array(1.0f), "a"), (2L, Array(1.0f), null), (3L, Array(1.0f), "x")
    ).toDF("id", "embedding", "payload"))
    db.delete("vecs", expr("payload = 'x'")) // NULL payload ⇒ predicate NULL
    assert(db.read("vecs").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L), "row with NULL payload must survive")
  }

  test("tokenizer sidecar: train, tokenize, survive compaction, drop cleanly") {
    val db = freshDb()
    db.createCollection("vecs")
    db.bulkInsert("vecs", Seq(
      VectorRecord(1L, Array(1.0f), "abab abab"),
      VectorRecord(2L, Array(1.0f), "ab")).toDF())
    // no tokenizer yet → loud failure
    intercept[IllegalStateException] { db.tokenize("vecs") }
    db.trainTokenizer("vecs", "payload", nMerges = 5)
    // db-managed tokenize ≡ the raw operator chain (the q129 spec corpus:
    // merges (a,b) then (ab,ab); "abab" → [abab], "ab" → [ab])
    val toks = db.tokenize("vecs").orderBy("id")
      .select("id", "tokens").as[(Long, Seq[String])].collect().toSeq
    assert(toks == Seq(
      (1L, Seq("abab", "abab")),
      (2L, Seq("ab"))), s"tokenization diverged: $toks")
    // the artifact survives compaction (the rewrite swap preserves it)
    db.compact(Some("vecs"), targetFiles = 1)
    assert(db.tokenize("vecs").count() == 2)
    // n_tokens is the fertility numerator
    assert(db.tokenize("vecs").agg(sum("n_tokens")).as[Long].head() == 3L)
    // sidecar parse round-trips the exact merge order
    val merges = TokenizerMeta.parse(
      """{"type": "bpe", "merges": [["a","b"],["ab","ab"]]}""").merges
    assert(merges == Seq(("a", "b"), ("ab", "ab")))

    // the command surface reaches it: REINDEX type=tokenizer retrains
    // (the zorder trained-artifact precedent)
    graft.commands.CommandExecutor.execute(db,
      graft.commands.GraftCommand.Reindex("vecs",
        Some("type=tokenizer;merges=1;col=payload")))
    val oneMerge = db.tokenize("vecs").orderBy("id")
      .select("tokens").as[Seq[String]].collect().toSeq
    // doc 1 = two "abab" words, each → [ab, ab] under the single (a,b) merge
    assert(oneMerge == Seq(Seq("ab", "ab", "ab", "ab"), Seq("ab")),
      s"1-merge retrain must stop at (a,b): $oneMerge")
  }

  test("a refresh refused by a pre-bucket meta materializes nothing and leaks no checkpoint") {
    val db = freshDb()
    db.createCollection("docs")
    db.bulkInsert("docs", (1L to 4L).map(i => VectorRecord(i,
      Array(1.0f, 0.0f), (0 until 20).map(t => s"w${i}_$t").mkString(" ")))
      .toDF())
    db.reindexMinhash("docs", buckets = 4)
    db.reindexWinsig("docs", buckets = 4)
    val base = db.root.toUri.getPath
    def put(kind: String, json: String): Unit = {
      val dir = java.nio.file.Paths.get(base, s"graft_${kind}_docs")
      Files.deleteIfExists(dir.resolve(".meta.json.crc")) // stale checksum
      Files.write(dir.resolve("meta.json"), json.getBytes("UTF-8"))
    }
    // the artifacts as a build before the bucketed layout wrote them
    put("minhash", """{"type":"minhash","shingleN":5,"numHashes":8,"rowsPerBand":2,"gen":0}""")
    put("winsig", """{"type":"winsig","minTokens":15,"gen":0}""")
    // a mutation gives both refreshes arrivals AND departures
    db.update("docs", Seq(VectorRecord(2L, Array(0.0f, 1.0f),
      (0 until 20).map(t => s"changed$t").mkString(" "))).toDF())
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq[() => Unit](() => db.refreshMinhash("docs"),
        () => db.refreshWinsig("docs")).foreach { refresh =>
      val e = intercept[IllegalStateException](refresh())
      assert(e.getMessage.contains("predates the bucketed layout"), e.getMessage)
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"refresh leaked checkpoints: $leaked")
  }
}
