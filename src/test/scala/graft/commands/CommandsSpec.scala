package graft.commands

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.GraftDatabase

class CommandsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import GraftCommand._

  test("parser: keyword match is case-insensitive, routing follows the reference") {
    assert(CommandParser.parse(None, "create", Some("c1")) == Right(CreateCollection("c1")))
    assert(CommandParser.parse(None, "DROP", Some("c1")) == Right(DropCollection("c1")))
    assert(CommandParser.parse(None, "ListCollections", None) == Right(ListCollections))
    // TRUNCATEWAL reads the collection flag as optional target
    assert(CommandParser.parse(Some("c1"), "truncatewal", None) == Right(TruncateWal(Some("c1"))))
    assert(CommandParser.parse(None, "TRUNCATEWAL", None) == Right(TruncateWal(None)))
    assert(CommandParser.parse(Some("c1"), "search", Some("id=1")) == Right(Search("c1", "id=1")))
    assert(CommandParser.parse(Some("c1"), "REINDEX", None) == Right(Reindex("c1", None)))
    assert(CommandParser.parse(Some("c1"), "sync", Some("/p/next.parquet")) ==
      Right(Sync("c1", "/p/next.parquet")))
    assert(CommandParser.parse(None, "SYNC", Some("/p")) ==
      Left(CommandError.MissingCollection("SYNC")))
    assert(CommandParser.parse(Some("c1"), "SYNC", None) ==
      Left(CommandError.MissingArg("SYNC")))
    assert(CommandParser.parse(Some("c1"), "searchtext", Some("terms=a")) ==
      Right(SearchText("c1", "terms=a")))
    assert(CommandParser.parse(Some("c1"), "SEARCHHYBRID", Some("x")) ==
      Right(SearchHybrid("c1", "x")))
    assert(CommandParser.parse(None, "SEARCHTEXT", Some("terms=a")) ==
      Left(CommandError.MissingCollection("SEARCHTEXT")))
    assert(CommandParser.parse(Some("c1"), "listindexes", None) ==
      Right(ListIndexes("c1")))
    assert(CommandParser.parse(None, "LISTINDEXES", None) ==
      Left(CommandError.MissingCollection("LISTINDEXES")))
    // SUMMARIZE: collection required, arg optional (iters/maxsents kv)
    assert(CommandParser.parse(Some("c1"), "summarize", None) ==
      Right(Summarize("c1", None)))
    assert(CommandParser.parse(Some("c1"), "SUMMARIZE", Some("iters=3")) ==
      Right(Summarize("c1", Some("iters=3"))))
    assert(CommandParser.parse(None, "SUMMARIZE", None) ==
      Left(CommandError.MissingCollection("SUMMARIZE")))
    // KEYWORDS: collection required, arg optional (reserved)
    assert(CommandParser.parse(Some("c1"), "keywords", None) ==
      Right(Keywords("c1", None)))
    assert(CommandParser.parse(None, "KEYWORDS", None) ==
      Left(CommandError.MissingCollection("KEYWORDS")))
    // TAG: collection required, arg optional (mode kv)
    assert(CommandParser.parse(Some("c1"), "tag", None) ==
      Right(Tag("c1", None)))
    assert(CommandParser.parse(Some("c1"), "TAG", Some("mode=refresh")) ==
      Right(Tag("c1", Some("mode=refresh"))))
    assert(CommandParser.parse(None, "TAG", None) ==
      Left(CommandError.MissingCollection("TAG")))
    // STATS: collection required, no arg
    assert(CommandParser.parse(Some("c1"), "stats", None) ==
      Right(Stats("c1")))
    assert(CommandParser.parse(None, "STATS", None) ==
      Left(CommandError.MissingCollection("STATS")))
    // SPLIT: collection required, arg optional (slots/val/test kv)
    assert(CommandParser.parse(Some("c1"), "split", None) ==
      Right(Split("c1", None)))
    assert(CommandParser.parse(Some("c1"), "SPLIT", Some("slots=32")) ==
      Right(Split("c1", Some("slots=32"))))
    assert(CommandParser.parse(None, "SPLIT", None) ==
      Left(CommandError.MissingCollection("SPLIT")))
    // ROUTE: collection + arg required
    assert(CommandParser.parse(Some("c1"), "route", Some("batch=/p/b.parquet")) ==
      Right(Route("c1", "batch=/p/b.parquet")))
    assert(CommandParser.parse(Some("c1"), "ROUTE", None) ==
      Left(CommandError.MissingArg("ROUTE")))
  }

  test("executor: LISTINDEXES inventory tracks the stale/rebuild lifecycle") {
    import graft.model.VectorRecord
    val parent = java.nio.file.Files.createTempDirectory("graft_cmd_li").toString
    val db = graft.core.GraftDatabase.create(spark, parent, "lidb")
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f),
        (0 until 20).map(i => s"tok$i").mkString(" "))).toDF())
    def inventory(): Seq[(String, String)] =
      CommandExecutor.execute(db,
        CommandParser.parse(Some("docs"), "LISTINDEXES", None)
          .fold(e => throw new IllegalArgumentException(e.message), identity))
        .orderBy("index_type")
        .as[(String, String)].collect().toSeq
    assert(inventory().isEmpty, "a fresh collection has no artifacts")
    db.reindexPostings("docs")
    db.reindexWinsig("docs")
    assert(inventory() == Seq("postings" -> "live", "winsig" -> "live"))
    db.delete("docs",
      org.apache.spark.sql.functions.col("id") === 99L) // no-op content-wise, still stales
    assert(inventory() == Seq("postings" -> "stale", "winsig" -> "stale"))
    db.reindexWinsig("docs")
    assert(inventory() == Seq("postings" -> "stale", "winsig" -> "live"),
      "rebuilds flip only their own artifact back to live")
  }

  test("executor: SEARCHTEXT and SEARCHHYBRID retrieve through the grammar") {
    import graft.model.VectorRecord
    val parent = java.nio.file.Files.createTempDirectory("graft_cmd_hy").toString
    val db = graft.core.GraftDatabase.create(spark, parent, "hydb")
    db.createCollection("docs")
    db.bulkInsert("docs", Seq(
      VectorRecord(1L, Array(1.0f, 0.0f), "vector data merge"),
      VectorRecord(2L, Array(0.0f, 1.0f), "data filler filler"),
      VectorRecord(3L, Array(0.9f, 0.1f), "filler only here")).toDF())
    def run(cmd: String, arg: String) =
      CommandExecutor.execute(db,
        CommandParser.parse(Some("docs"), cmd, Some(arg))
          .fold(e => throw new IllegalArgumentException(e.message), identity))
    val text = run("SEARCHTEXT", "terms=vector,data;k=5")
      .select("id").as[Long].collect().toSeq
    assert(text.head == 1L && !text.contains(3L),
      "doc with both terms first; termless doc absent")
    val hybrid = run("SEARCHHYBRID", "terms=vector,data;vec=1.0,0.0;k=3;kf=3")
      .select("id", "n_lists").as[(Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(hybrid(1L) == 2L, "doc 1 must appear in BOTH rankings")
    assert(hybrid.contains(3L) && hybrid(3L) == 1L,
      "dense-only neighbor rides in through the cosine list")
    intercept[IllegalArgumentException] { run("SEARCHTEXT", "k=5") }
    intercept[IllegalArgumentException] { run("SEARCHHYBRID", "terms=a") }
  }

  test("parser: error surface (UnrecognizedCommand + missing flag/arg)") {
    assert(CommandParser.parse(None, "EXPLODE", None) ==
      Left(CommandError.UnrecognizedCommand("EXPLODE")))
    assert(CommandParser.parse(None, "INSERT", Some("x")) ==
      Left(CommandError.MissingCollection("INSERT")))
    assert(CommandParser.parse(Some("c1"), "INSERT", None) ==
      Left(CommandError.MissingArg("INSERT")))
    assert(CommandParser.parse(None, "CREATE", None) ==
      Left(CommandError.MissingArg("CREATE")))
  }

  test("executor: full command round-trip on a scratch database") {
    val parent = Files.createTempDirectory("graftcmd").toString
    val db = GraftDatabase.create(spark, parent, "cmdb")
    def exec(coll: Option[String], cmd: String, arg: Option[String]) =
      CommandExecutor.execute(db,
        CommandParser.parse(coll, cmd, arg).fold(e => fail(e.message), identity))

    exec(None, "CREATE", Some("vecs"))
    exec(None, "create", Some("other"))
    assert(exec(None, "LISTCOLLECTIONS", None).as[String].collect().toSeq ==
      Seq("other", "vecs"))

    exec(Some("vecs"), "INSERT", Some("1;1.0,0.0;alice"))
    exec(Some("vecs"), "INSERT", Some("2;0.0,1.0;rabbit"))
    assert(db.read("vecs").count() == 2)

    exec(Some("vecs"), "UPDATE", Some("2;0.9,0.1;rabbit2"))
    val payloads = db.read("vecs").orderBy("id")
      .select("payload").as[String].collect().toSeq
    assert(payloads == Seq("alice", "rabbit2"))

    val hits = exec(Some("vecs"), "SEARCHSIMILAR", Some("k=1;vec=1.0,0.05"))
    assert(hits.select("id").as[Long].head() == 1L)

    val found = exec(Some("vecs"), "SEARCH", Some("payload = 'rabbit2'"))
    assert(found.select("id").as[Long].head() == 2L)

    exec(Some("vecs"), "DELETE", Some("id = 1"))
    assert(db.read("vecs").count() == 1)

    exec(Some("vecs"), "TRUNCATEWAL", None) // compaction path
    assert(db.read("vecs").count() == 1)

    exec(None, "DROP", Some("other"))
    assert(db.collectionNames() == Seq("vecs"))
  }

  test("executor: REINDEX type=kmeans and SEARCHSIMILAR shortlist/radius") {
    val parent = Files.createTempDirectory("graftidx").toString
    val db = GraftDatabase.create(spark, parent, "idxdb")
    def exec(coll: Option[String], cmd: String, arg: Option[String]) =
      CommandExecutor.execute(db,
        CommandParser.parse(coll, cmd, arg).fold(e => fail(e.message), identity))

    exec(None, "CREATE", Some("vecs"))
    (0 until 20).foreach { i =>
      val v = if (i < 10) s"1.0,0.0,0.0${i}1" else s"0.0,1.0,0.0${i}1"
      exec(Some("vecs"), "INSERT", Some(s"$i;$v;p$i"))
    }
    exec(Some("vecs"), "REINDEX", Some("type=kmeans;k=2"))
    assert(db.read("vecs").select("cluster_id").distinct().count() == 2)

    // probe the nearest cell only → the 10 same-cluster rows
    val probed = exec(Some("vecs"), "SEARCHSIMILAR",
      Some("k=20;radius=0;vec=1.0,0.0,0.0"))
    assert(probed.count() == 10)

    // sq8 shortlist path works through the command surface too
    val sq8 = exec(Some("vecs"), "SEARCHSIMILAR",
      Some("k=3;shortlist=10;vec=1.0,0.0,0.0"))
    assert(sq8.count() == 3)
    assert(sq8.select("id").as[Long].collect().forall(_ < 10))

    // bad index type fails loud
    intercept[IllegalArgumentException] {
      exec(Some("vecs"), "REINDEX", Some("type=annoy"))
    }
  }

  test("executor: SEARCHSIMILAR batch= answers every query, strict on shape") {
    val parent = Files.createTempDirectory("graftbatch").toString
    val db = GraftDatabase.create(spark, parent, "batchdb")
    def exec(coll: Option[String], cmd: String, arg: Option[String]) =
      CommandExecutor.execute(db,
        CommandParser.parse(coll, cmd, arg).fold(e => fail(e.message), identity))

    exec(None, "CREATE", Some("vecs"))
    (0 until 20).foreach { i =>
      val v = if (i < 10) s"1.0,0.0,0.0${i}1,0.5" else s"0.0,1.0,0.0${i}1,0.5"
      exec(Some("vecs"), "INSERT", Some(s"$i;$v;p$i"))
    }
    val qdir = Files.createTempDirectory("graftbatchq").toString
    val qpath = qdir + "/q.parquet"
    Seq((0L, Array(1.0f, 0.0f, 0.001f, 0.5f)),
        (1L, Array(0.0f, 1.0f, 0.001f, 0.5f)))
      .toDF("query_id", "query_vec").write.parquet(qpath)

    // flat collection → exact broadcast batch: each query's top-1 is its
    // own planted cluster
    val flat = exec(Some("vecs"), "SEARCHSIMILAR", Some(s"k=3;batch=$qpath"))
    assert(flat.filter($"rank" === 1).count() == 2)
    val top = flat.filter($"rank" === 1)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    assert(top(0L) < 10 && top(1L) >= 10)

    // indexed collection + radius → ONE pruned batch probe
    exec(Some("vecs"), "REINDEX", Some("type=sign;bits=4"))
    val probed = exec(Some("vecs"), "SEARCHSIMILAR",
      Some(s"k=3;radius=0;batch=$qpath"))
    assert(probed.filter($"rank" === 1).count() == 2)

    // mis-shaped batch files fail loud, before any probe runs
    val bad = qdir + "/bad.parquet"
    Seq((0L, "not a vector")).toDF("query_id", "text").write.parquet(bad)
    val e = intercept[IllegalArgumentException] {
      exec(Some("vecs"), "SEARCHSIMILAR", Some(s"k=3;batch=$bad"))
    }
    assert(e.getMessage.contains("query_vec"))
    intercept[IllegalArgumentException] {
      exec(Some("vecs"), "SEARCHSIMILAR", Some("k=3;batch=/tmp/q.csv"))
    }
  }

  test("executor: bulkinsert from the reference text format") {
    val parent = Files.createTempDirectory("graftbulk").toString
    val db = GraftDatabase.create(spark, parent, "bulkdb")
    db.createCollection("vecs")
    val txt = s"$parent/in.txt"
    Files.writeString(java.nio.file.Paths.get(txt),
      "0.1,0.2;hello\n0.3,0.4;world\n")
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", txt))
    val rows = db.read("vecs").orderBy("id")
      .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(rows == Seq((0L, "hello"), (1L, "world")))
  }

  test("executor: bulkinsert normalize= canonicalizes payloads at ingest") {
    val parent = Files.createTempDirectory("graftnorm").toString
    val db = GraftDatabase.create(spark, parent, "normdb")
    db.createCollection("vecs")
    val txt = s"$parent/in.txt"
    // decomposed e+U+0301 in the payload; escapes, not literals
    Files.writeString(java.nio.file.Paths.get(txt),
      "0.1,0.2;cafe\u0301\n0.3,0.4;stra\u00dfe\n")
    CommandExecutor.execute(db,
      GraftCommand.BulkInsert("vecs", s"$txt;normalize=fold"))
    val rows = db.read("vecs").orderBy("id")
      .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(rows == Seq((0L, "cafe"), (1L, "stra\u00dfe")),
      "fold must strip the accent and keep markless eszett")
    // nfc mode composes but keeps the accent
    db.createCollection("vecs2")
    CommandExecutor.execute(db,
      GraftCommand.BulkInsert("vecs2", s"$txt;normalize=nfc"))
    val nfc = db.read("vecs2").orderBy("id")
      .select("payload").as[String].collect().toSeq
    assert(nfc == Seq("caf\u00e9", "stra\u00dfe"))
    // unknown mode fails loudly
    val err = intercept[IllegalArgumentException] {
      CommandExecutor.execute(db,
        GraftCommand.BulkInsert("vecs", s"$txt;normalize=upper"))
    }
    assert(err.getMessage.contains("unknown normalize mode"))
  }

  test("executor: EXPORT writes one id-ordered file per shard; csv refuses arrays") {
    val parent = Files.createTempDirectory("graftexport").toString
    val db = GraftDatabase.create(spark, parent, "exdb")
    db.createCollection("vecs")
    val txt = s"$parent/in.txt"
    Files.writeString(java.nio.file.Paths.get(txt),
      (0 until 40).map(i => s"0.$i,0.2;p$i").mkString("", "\n", "\n"))
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", txt))
    val out = s"$parent/export"
    val audit = CommandExecutor.execute(db,
        GraftCommand.Export("vecs", s"$out;format=jsonl;shards=4"))
      .as[(Long, Long)].collect().toMap
    assert(audit.keySet.subsetOf((0L until 4L).toSet) &&
      audit.values.sum == 40L, s"audit $audit")
    // one data file per shard dir, rows inside in id order
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == audit.size, "one dir per non-empty shard")
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(f => f.getName.endsWith(".json"))
      assert(files.length == 1, s"${d.getName}: one file per shard")
      val ids = scala.io.Source.fromFile(files.head).getLines()
        .map(l => """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(l).get
          .group(1).toLong).toSeq
      assert(ids == ids.sorted, s"${d.getName}: file rows must be id-ordered")
    }
    // round-trip: the export reads back content-identical
    val back = spark.read.json(out)
      .selectExpr("CAST(id AS LONG)", "payload")
      .as[(Long, String)].collect().toSet
    val orig = db.read("vecs").select("id", "payload")
      .as[(Long, String)].collect().toSet
    assert(back == orig)
    // csv cannot represent the embedding array — loud refusal
    val err = intercept[IllegalArgumentException] {
      db.exportCollection("vecs", s"$parent/export_csv", format = "csv")
    }
    assert(err.getMessage.contains("non-atomic"))
    // bad shard counts and formats fail loudly
    assert(intercept[IllegalArgumentException] {
      db.exportCollection("vecs", s"$parent/x", nShards = 7)
    }.getMessage.contains("divide 65536"))
    assert(intercept[IllegalArgumentException] {
      db.exportCollection("vecs", s"$parent/x", format = "xml")
    }.getMessage.contains("format"))
  }

  test("EXPORT: reserved columns refuse, shards= parse is loud, summary never re-runs the write plan") {
    val parent = Files.createTempDirectory("graftexport2").toString
    val db = GraftDatabase.create(spark, parent, "exdb3")
    // a collection that already carries a 'shard' column must refuse —
    // the export would silently overwrite it and re-ingest would
    // reconstitute placement values instead of the user's data
    db.createCollection("shardy", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType))))
    db.bulkInsert("shardy", Seq((0L, 7L)).toDF("id", "shard"))
    assert(intercept[IllegalArgumentException] {
      db.exportCollection("shardy", s"$parent/x")
    }.getMessage.contains("reserved"))
    // malformed shards= at the command layer: the grammar's loud
    // IllegalArgumentException, not a raw NumberFormatException
    db.createCollection("vecs")
    val txt = s"$parent/in.txt"
    Files.writeString(java.nio.file.Paths.get(txt), "0.5,0.25;alpha\n")
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", txt))
    assert(intercept[IllegalArgumentException] {
      CommandExecutor.execute(db,
        GraftCommand.Export("vecs", s"$parent/x;shards=abc"))
    }.getMessage.contains("must be an integer"))
    // the per-shard audit rides the WRITE pass (observe() histogram) —
    // the returned summary is driver-local metrics, touching NO data:
    // zero extra scans per export call (the r15 verdict's item 6)
    val audit = db.exportCollection("vecs", s"$parent/out", nShards = 4)
    audit.collect()
    val p = audit.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("FileScan") && !p.contains("ReadSchema"),
      s"summary must not scan the collection at all:\n${p.take(2000)}")
    assert(!p.contains("REPARTITION_BY_NUM") && !p.contains("Sort ["),
      s"summary must not replay the write repartition/sort:\n${p.take(2000)}")
    // and the audit matches the written data (4 shards of the 1-row
    // collection = one non-empty shard with one row)
    assert(audit.collect().map(r => r.getLong(1)).sum == 1L)
  }

  test("EXPORT of an EMPTY collection: empty audit, observe metrics resolve (no hang)") {
    val parent = Files.createTempDirectory("graftexpempty").toString
    val db = GraftDatabase.create(spark, parent, "exdb9")
    db.createCollection("vecs")
    val audit = db.exportCollection("vecs", s"$parent/out", nShards = 4)
    assert(audit.collect().isEmpty,
      "zero rows → zero non-empty shards in the audit")
  }

  test("EXPORT format=text: NULL payloads refuse with the descriptive per-row error") {
    val parent = Files.createTempDirectory("graftexpnull").toString
    val db = GraftDatabase.create(spark, parent, "exdb4")
    db.createCollection("vecs")
    db.bulkInsert("vecs",
      Seq((0L, Array(0.5f), Option("ok")), (1L, Array(0.25f), None))
        .toDF("id", "embedding", "payload"))
    val err = intercept[Exception] {
      db.exportCollection("vecs", s"$parent/out", format = "text",
        nShards = 1)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("NULL payload or embedding")),
      s"got: ${messages(err)}")
  }

  test("SEARCHHYBRID batch on a STALE postings artifact is loud, not a silent corpus tokenize") {
    val parent = Files.createTempDirectory("graftstale").toString
    val db = GraftDatabase.create(spark, parent, "staledb")
    db.createCollection("docs")
    val txt = s"$parent/in.txt"
    Files.writeString(java.nio.file.Paths.get(txt),
      "0.5,0.25;vector data\n-1.5,2.0;join scan\n")
    CommandExecutor.execute(db, GraftCommand.BulkInsert("docs", txt))
    db.reindexPostings("docs", buckets = 4)
    val qs = Seq((0L, Seq("vector"), Array(0.5f, 0.25f)))
    // live artifact serves
    assert(db.searchHybridBatch("docs", qs, k = 2, kf = 2).count() > 0)
    // a mutation marks it stale — the batch path must refuse with the
    // refresh hint (the dense branch's loudness, sparse edition)
    db.delete("docs", org.apache.spark.sql.functions.col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      db.searchHybridBatch("docs", qs, k = 2, kf = 2).collect()
    }
    assert(e.getMessage.contains("stale") &&
      e.getMessage.contains("mode=refresh"))
    // refreshed artifact serves again
    db.refreshPostings("docs")
    assert(db.searchHybridBatch("docs", qs, k = 2, kf = 2).count() > 0)
  }

  test("DECON grammar: missing queries= and malformed numerics are loud; screen flags a planted duplicate") {
    val parent = Files.createTempDirectory("graftdecon").toString
    val db = GraftDatabase.create(spark, parent, "dcdb")
    db.createCollection("train", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))))
    db.bulkInsert("train", Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(0.6f, 0.8f)))
      .toDF("id", "embedding"))
    assert(intercept[IllegalArgumentException] {
      CommandExecutor.execute(db, GraftCommand.Decon("train", "threshold=0.5"))
    }.getMessage.contains("queries="))
    val qf = s"$parent/eval.parquet"
    Seq((10L, Array(1f, 0f)), (11L, Array(-1f, 0f)))
      .toDF("query_id", "query_vec").write.parquet(qf)
    assert(intercept[IllegalArgumentException] {
      CommandExecutor.execute(db,
        GraftCommand.Decon("train", s"queries=$qf;threshold=abc"))
    }.getMessage.contains("must be numeric"))
    // exact screen: the duplicate of train id 0 flags, the opposite
    // vector does not
    val out = CommandExecutor.execute(db,
        GraftCommand.Decon("train", s"queries=$qf"))
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(10L) == ((0L, 1.0, 1L)))
    assert(out(11L)._3 == 0L)
  }

  test("EXPORT format=text round-trips the reference line format; framing-corrupting payloads refuse") {
    val parent = Files.createTempDirectory("graftexptext").toString
    val db = GraftDatabase.create(spark, parent, "exdb2")
    db.createCollection("vecs")
    val txt = s"$parent/in.txt"
    Files.writeString(java.nio.file.Paths.get(txt),
      "0.5,0.25;alpha\n-1.5,2.0;beta\n")
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", txt))
    db.exportCollection("vecs", s"$parent/out", format = "text", nShards = 1)
    // the exported bytes ARE the reference's vec;payload lines, id-ordered
    val files = new java.io.File(s"$parent/out/shard=0").listFiles()
      .filter(_.getName.endsWith(".txt"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines == Seq("0.5,0.25;alpha", "-1.5,2.0;beta"), lines.toString)
    // round-trip through the BULKINSERT text reader
    db.createCollection("back")
    CommandExecutor.execute(db, GraftCommand.BulkInsert("back", s"$parent/out"))
    assert(db.read("back").orderBy("id")
      .select("payload").as[String].collect().toSeq ==
      Seq("alpha", "beta"))
    // a payload carrying the line format's own delimiter refuses per row
    db.update("vecs",
      Seq((0L, Array(0.5f, 0.25f), "bad;payload"))
        .toDF("id", "embedding", "payload"))
    val err = intercept[Exception] {
      db.exportCollection("vecs", s"$parent/out2", format = "text",
        nShards = 1)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("unrepresentable")),
      s"got: ${messages(err)}")
  }

  test("executor: bulkinsert from csv, commas and quotes in payload survive") {
    val parent = Files.createTempDirectory("graftcsv").toString
    val db = GraftDatabase.create(spark, parent, "csvdb")
    db.createCollection("vecs")
    val csv = s"$parent/in.csv"
    val src = Seq(
      (0L, Array(0.1f, 0.2f), "plain"),
      (1L, Array(-0.5f, 1.25f), "has, comma and \"quotes\"")
    ).toDF("id", "embedding", "payload")
    graft.sources.CsvVectorFormat.write(src, csv)
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", csv))
    val rows = db.read("vecs").orderBy("id")
      .select("id", "embedding", "payload")
      .as[(Long, Seq[Float], String)].collect().toSeq
    assert(rows == Seq(
      (0L, Seq(0.1f, 0.2f), "plain"),
      (1L, Seq(-0.5f, 1.25f), "has, comma and \"quotes\"")),
      "floats and quoted payloads must round-trip exactly")
  }

  test("csv source: empty/null vectors and newline payloads round-trip") {
    val parent = Files.createTempDirectory("graftcsvedge").toString
    val csv = s"$parent/edge.csv"
    val src = Seq(
      (0L, Some(Seq.empty[Float]), "empty vec"),
      (1L, None, "null vec collapses to empty"),
      (2L, Some(Seq(0.5f)), "line one\nline two"),
      (3L, Some(Seq(1.0f, 2.0f)), "plain")
    ).toDF("id", "embedding", "payload")
    graft.sources.CsvVectorFormat.write(src, csv)
    val rows = graft.sources.CsvVectorFormat.read(spark, csv)
      .orderBy("id")
      .as[(Long, Seq[Float], String)].collect().toSeq
    assert(rows == Seq(
      (0L, Seq.empty[Float], "empty vec"),
      (1L, Seq.empty[Float], "null vec collapses to empty"),
      (2L, Seq(0.5f), "line one\nline two"),
      (3L, Seq(1.0f, 2.0f), "plain")),
      "edge vectors/payloads must round-trip (null -> empty, documented)")
  }

  test("executor: bulkinsert from jsonl, exact floats and JSON-escaped payloads") {
    val parent = Files.createTempDirectory("graftjsonl").toString
    val db = GraftDatabase.create(spark, parent, "jsonldb")
    db.createCollection("vecs")
    val path = s"$parent/in.jsonl"
    val src = Seq(
      (0L, Some(Seq(0.1f, -0.25f)), "plain"),
      (1L, Some(Seq(1.5f)), "quote \" brace { and newline\nsurvive"),
      (2L, None, "null vec collapses to empty"),
      (3L, Some(Seq.empty[Float]), "empty vec")
    ).toDF("id", "embedding", "payload")
    graft.sources.JsonVectorFormat.write(src, path)
    CommandExecutor.execute(db, GraftCommand.BulkInsert("vecs", path))
    val rows = db.read("vecs").orderBy("id")
      .select("id", "embedding", "payload")
      .as[(Long, Seq[Float], String)].collect().toSeq
    assert(rows == Seq(
      (0L, Seq(0.1f, -0.25f), "plain"),
      (1L, Seq(1.5f), "quote \" brace { and newline\nsurvive"),
      (2L, Seq.empty[Float], "null vec collapses to empty"),
      (3L, Seq.empty[Float], "empty vec")),
      "jsonl records must round-trip exactly through the command surface")
  }

  test("executor: SEARCHSIMILAR radius= composes the cell probe on the SQ8 path") {
    val parent = Files.createTempDirectory("graftsq8probe").toString
    val db = GraftDatabase.create(spark, parent, "sq8probedb")
    val recs = (0 until 200).map { i =>
      graft.model.VectorRecord(i.toLong,
        Array.tabulate(6)(j => math.cos(i * 0.37 + j * 1.1).toFloat), s"p$i")
    }.toDF()
    // a stored row's own vector: its cell is never empty, so the probed
    // scan survives planning (an empty shortlist folds the scan away)
    val vec = Array.tabulate(6)(j => math.cos(17 * 0.37 + j * 1.1).toFloat)
    Seq[(String, GraftDatabase => Unit)](
      "signq" -> (_.reindex("signq", nBits = 4)),
      "kmq" -> (_.reindexKMeans("kmq", k = 4))
    ).foreach { case (coll, layout) =>
      db.createCollection(coll)
      db.bulkInsert(coll, recs)
      layout(db)
      db.quantize(coll)
      Seq(0, 1).foreach { r =>
        val got = CommandExecutor.execute(db, GraftCommand.SearchSimilar(coll,
          s"k=10;radius=$r;shortlist=40;vec=${vec.mkString(",")}"))
        val want = db.searchSimilar(coll, vec, 10, probeRadius = r, shortlist = 40)
        val rows = got.collect().toSeq
        assert(rows.nonEmpty && rows == want.collect().toSeq, s"$coll radius=$r")
        val plan = got.queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
          s"$coll radius=$r must prune cells:\n$plan")
      }
    }
  }

  test("executor: SEARCHSIMILAR shortlist= returns one schema with or without radius=") {
    val parent = Files.createTempDirectory("graftsq8schema").toString
    val db = GraftDatabase.create(spark, parent, "sq8schemadb")
    val recs = (0 until 60).map { i =>
      graft.model.VectorRecord(i.toLong,
        Array.tabulate(4)(j => math.cos(i * 0.37 + j * 1.1).toFloat), s"p$i")
    }.toDF()
    val vec = Array.tabulate(4)(j => math.cos(5 * 0.37 + j * 1.1).toFloat)
    Seq[(String, GraftDatabase => Unit)](
      "signs" -> (_.reindex("signs", nBits = 3)),
      "kms" -> (_.reindexKMeans("kms", k = 3))
    ).foreach { case (coll, layout) =>
      db.createCollection(coll)
      db.bulkInsert(coll, recs)
      layout(db)
      db.quantize(coll)
      def schema(radius: String) = CommandExecutor.execute(db,
          GraftCommand.SearchSimilar(coll,
            s"k=5;${radius}shortlist=20;vec=${vec.mkString(",")}"))
        .schema
      val probed = schema("radius=1;")
      assert(probed.fieldNames.contains("approx_score"), s"$coll: $probed")
      assert(schema("") == probed, s"$coll: the columns must not depend on radius=")
    }
  }
}
