package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Derived scale knobs (round-12 verdict item 6): the derivation must be
  * sane, and — the load-bearing property — knob values must be
  * RESULT-invariant, pinned here at two widths per knob so auto-derived
  * defaults can never change an answer.
  */
class ScaleKnobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("snmChunkChars: covers the session's slots, clamped to [1, min(3, keyLen)]") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val c = ScaleKnobs.snmChunkChars(docs, keyLen = 40)
    assert(c >= 1 && c <= 3)
    // local[4]: 36^1 = 36 >= 4 slots, so the derived width is 1
    assert(c === 1)
    assert(ScaleKnobs.snmChunkChars(docs, keyLen = 1) === 1,
      "a 1-char key can never chunk wider than 1")
  }

  test("postingsBuckets: power of two dividing 65536, within [16, 4096]") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val b = ScaleKnobs.postingsBuckets(docs)
    assert(b >= 16 && b <= 4096)
    assert(65536 % b === 0)
    assert(Integer.bitCount(b) === 1, s"$b must be a power of two")
  }

  test("SNM pairs are chunk-invariant: derived default ≡ explicit widths 1 and 2") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    def pairs(c: Int) = Dedup.sortedNeighborhoodPairs(
        docs, "doc_id", "text", window = 5, chunkChars = c)
      .orderBy("a_id", "b_id", "gap").collect().map(_.toString).toSeq
    val derived = Dedup.sortedNeighborhoodPairs(
        docs, "doc_id", "text", window = 5)
      .orderBy("a_id", "b_id", "gap").collect().map(_.toString).toSeq
    assert(derived === pairs(1))
    assert(derived === pairs(2))
  }

  test("SEARCHTEXT is bucket-invariant: derived default ≡ explicit 16 and 256") {
    def build(buckets: Int): Seq[String] = {
      val db = graft.core.GraftDatabase.create(spark,
        java.nio.file.Files.createTempDirectory("graft_knobs").toString,
        "kdb")
      db.createCollection("docs", StructType(Seq(
        StructField("id", LongType),
        StructField("payload", StringType))))
      db.bulkInsert("docs", graft.Tables.documents(spark, TestSpark.sf)
        .select(col("doc_id").as("id"), col("text").as("payload")))
      if (buckets == -1) db.reindexPostings("docs")
      else db.reindexPostings("docs", buckets = buckets)
      db.searchText("docs", Seq("vector", "data"), k = 20)
        .collect().map(_.toString).toSeq
    }
    val derived = build(-1)
    assert(derived === build(16))
    assert(derived === build(256))
  }

  test("sigBuckets: power of two dividing 65536, within [8, 4096]") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val b = ScaleKnobs.sigBuckets(docs)
    assert(b >= 8 && b <= 4096)
    assert(65536 % b === 0)
    assert(Integer.bitCount(b) === 1, s"$b must be a power of two")
  }

  test("bucket derivations: stat-less fallbacks 64/8/16; a sized plan takes the power-of-two rule") {
    // an RDD-backed frame carries no size statistics: its estimate is the
    // session default, the stat-less case
    val statless = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      StructType(Seq(StructField("id", LongType))))
    assert(statless.queryExecution.optimizedPlan.stats.sizeInBytes ===
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    assert(ScaleKnobs.postingsBuckets(statless) === 64)
    assert(ScaleKnobs.exportShards(statless) === 8)
    assert(ScaleKnobs.sigBuckets(statless) === 16)
    // a Range plan estimates 8 bytes a row: 800 MB here, never executed
    val sized = spark.range(100000000L).toDF()
    val size = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    // the derivation as each knob spelled it out before sharing a helper:
    // the smallest power of two from `lo` covering size / target + 1,
    // capped at 4096
    def formula(targetBytes: Long, lo: Int): Int = {
      val want = (size / targetBytes).toLong + 1
      var b = lo
      while (b < 4096 && b < want) b *= 2
      b
    }
    val mb = 1024L * 1024
    assert(ScaleKnobs.postingsBuckets(sized) === formula(8 * mb, 16))
    assert(ScaleKnobs.exportShards(sized) === formula(64 * mb, 1))
    assert(ScaleKnobs.sigBuckets(sized) === formula(32 * mb, 8))
    assert((ScaleKnobs.postingsBuckets(sized), ScaleKnobs.exportShards(sized),
      ScaleKnobs.sigBuckets(sized)) === ((128, 16, 32)))
  }

  private def screenDb(tag: String) = {
    val db = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory(tag).toString, "kdb")
    db.createCollection("docs", StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StringType))))
    db.bulkInsert("docs", graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id").as("id"), col("text").as("payload")))
    db
  }

  private def screenBatch = graft.Tables.documents(spark, TestSpark.sf)
    .filter(col("doc_id") % 7 === 3)
    .select((col("doc_id") + 500000L).as("id"), col("text").as("payload"))

  test("SCREEN dupes is bucket-invariant: derived default ≡ explicit 8 and 64") {
    def run(buckets: Int): Seq[String] = {
      val db = screenDb("graft_mhknobs")
      if (buckets == -1) db.reindexMinhash("docs")
      else db.reindexMinhash("docs", buckets = buckets)
      db.screenDupes("docs", screenBatch)
        .orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    }
    val derived = run(-1)
    assert(derived.nonEmpty, "the 1-in-7 replay batch must hit stored docs")
    assert(derived === run(8))
    assert(derived === run(64))
  }

  test("SCREEN substrings is bucket-invariant: derived default ≡ explicit 8 and 64") {
    def run(buckets: Int): Seq[String] = {
      val db = screenDb("graft_wsknobs")
      if (buckets == -1) db.reindexWinsig("docs")
      else db.reindexWinsig("docs", buckets = buckets)
      db.screenSubstrings("docs", screenBatch)
        .orderBy("id").collect().map(_.toString).toSeq
    }
    val derived = run(-1)
    assert(derived.nonEmpty)
    assert(derived === run(8))
    assert(derived === run(64))
  }

  test("dhash incoming screen is bucket-invariant: unbucketed ≡ widths 8 and 64") {
    import org.apache.spark.sql.functions.{conv => _, _}
    val media = graft.Tables.events(spark, TestSpark.sf)
      .select(col("event_id").cast("long").as("id"),
        Multimodal.sceneGridPayload(col("event_id") % 50,
          col("event_id")).as("media"))
    val corpus = media.filter(col("id") % 3 =!= 0)
    val batch = media.filter(col("id") % 3 === 0)
    def run(buckets: Int): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_dhknobs")
        .toString + "/bands"
      val bands = Multimodal.dhashBands(corpus, "id", "media", buckets)
      val writer = bands.write.mode("overwrite")
      (if (buckets >= 1) writer.partitionBy("band", "key_bucket")
       else writer.partitionBy("band")).parquet(dir)
      Multimodal.incomingDhashDups(spark.read.parquet(dir), batch,
          "id", "media", maxHamming = 10, corpusBuckets = buckets)
        .orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    }
    val unbucketed = run(-1)
    assert(unbucketed === run(8))
    assert(unbucketed === run(64))
  }

  test("bucketed band probe prunes the stored scan to the batch's buckets") {
    val db = screenDb("graft_mhprune")
    db.reindexMinhash("docs", buckets = 64)
    val stored = spark.read.parquet(
      new org.apache.hadoop.fs.Path(db.root,
        "graft_minhash_docs/gen_0/bands").toString)
    // one-doc batch: its band rows touch ≤ 4 of 64 buckets, so the
    // cap-and-switch must push an IN partition filter into the scan
    val probe = Dedup.incomingNearDups(stored,
      graft.Tables.documents(spark, TestSpark.sf)
        .select(col("doc_id").as("id"), col("text").as("payload")),
      graft.Tables.documents(spark, TestSpark.sf).limit(1)
        .select((col("doc_id") + 900000L).as("id"),
          col("text").as("payload")),
      "id", "payload", materialize = false, corpusBuckets = 64)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("band_bucket"),
      s"stored scan must carry the bucket partition column:\n${p.take(1500)}")
    assert(p.contains("PartitionFilters: [") && (
      "PartitionFilters: \\[[^\\]]*band_bucket".r.findFirstIn(p).isDefined),
      s"the batch's bucket set must prune the stored scan:\n${p.take(1500)}")
  }

  test("managed dhash screen is bucket-invariant: derived ≡ explicit 4 and 64, stale falls back") {
    import org.apache.spark.sql.types._
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val corpus = docs.select(col("doc_id").as("id"),
      Multimodal.sceneGridPayload(col("doc_id"), col("doc_id")).as("media"))
    val batch = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("id"),
        Multimodal.sceneGridPayload(col("doc_id"), col("doc_id") + 500000L)
          .as("media"))
    def mkDb(buckets: Int): graft.core.GraftDatabase = {
      val d = graft.core.GraftDatabase.create(spark,
        java.nio.file.Files.createTempDirectory("graft_dhmanaged").toString,
        "db")
      d.createCollection("imgs", StructType(Seq(
        StructField("id", LongType), StructField("media", BinaryType))))
      d.bulkInsert("imgs", corpus)
      d.reindexDhash("imgs", buckets = buckets)
      d
    }
    def screen(d: graft.core.GraftDatabase): Seq[String] =
      d.screenImages("imgs", batch).orderBy("a_id", "b_id")
        .collect().map(_.toString).toSeq
    val derived = screen(mkDb(-1))
    assert(derived.nonEmpty)
    assert(derived === screen(mkDb(4)))
    val d64 = mkDb(64)
    assert(derived === screen(d64))
    // a mutation marks the artifact stale → the screen falls back to the
    // in-query recompute with IDENTICAL rows (only cost changes)
    d64.delete("imgs", col("id") === -1L)
    assert(d64.listIndexes("imgs").collect()
      .exists(r => r.getString(0) == "dhash" && r.getString(1) == "stale"))
    assert(derived === screen(d64))
    // REINDEX restores live serving
    d64.reindexDhash("imgs")
    assert(d64.listIndexes("imgs").collect()
      .exists(r => r.getString(0) == "dhash" && r.getString(1) == "live"))
    assert(derived === screen(d64))
  }

  test("managed dhash probe prunes the stored scan to the batch's key buckets") {
    import org.apache.spark.sql.types._
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val d = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_dhprune").toString,
      "db")
    d.createCollection("imgs", StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType))))
    d.bulkInsert("imgs", docs.select(col("doc_id").as("id"),
      Multimodal.sceneGridPayload(col("doc_id"), col("doc_id")).as("media")))
    d.reindexDhash("imgs", buckets = 64)
    // one-image batch: its 4 band keys touch ≤ 4 of 64 buckets, so the
    // cap-and-switch must push an IN partition filter into the scan
    val tiny = docs.filter(col("doc_id") === 3)
      .select((col("doc_id") + 500000L).as("id"),
        Multimodal.sceneGridPayload(col("doc_id"), col("doc_id") + 500000L)
          .as("media"))
    val p = d.screenImages("imgs", tiny)
      .queryExecution.executedPlan.toString
    assert(p.contains("key_bucket"),
      s"stored scan must carry the bucket partition column:\n${p.take(1500)}")
    assert("PartitionFilters: \\[[^\\]]*key_bucket".r.findFirstIn(p).isDefined,
      s"the batch's bucket set must prune the stored scan:\n${p.take(1500)}")
  }

  test("exportShards: sane derivation; derived ≡ explicit content") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val b = ScaleKnobs.exportShards(docs)
    assert(b >= 1 && b <= 4096 && 65536 % b === 0)
    assert(Integer.bitCount(b) === 1, s"$b must be a power of two")
    // shard count changes layout, never rows: derived vs explicit widths
    // read back content-identical (shard VALUES differ by modulus — only
    // the (id, payload) content is layout-invariant)
    def export(shards: Int): Set[String] = {
      val db = screenDb("graft_exknobs")
      val out = java.nio.file.Files.createTempDirectory("graft_exout")
        .toString + "/e"
      db.exportCollection("docs", out, format = "jsonl", nShards = shards)
      spark.read.json(out).selectExpr("CAST(id AS LONG)", "payload")
        .collect().map(_.toString).toSet
    }
    val derived = export(-1)
    assert(derived.nonEmpty)
    assert(derived === export(4))
  }

  test("refresh + compact preserve the bucketed artifact layouts") {
    import org.apache.spark.sql.functions.countDistinct
    // r13 verdict item 8: segment appends (refresh) and the compacted
    // generation must both land under the artifact's recorded bucket
    // layout — a divergent segment would mix flat files with partition
    // dirs (read error) or silently change the probe's pruned candidates.
    val db = screenDb("graft_bucketedrefresh")
    db.reindexMinhash("docs", buckets = 16)
    db.reindexWinsig("docs", buckets = 16)
    // the q225 mutation script: insert shifted twins, rewrite id 0,
    // delete a slice — refresh then hashes only the delta
    db.bulkInsert("docs", graft.Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 1000000L).as("id"),
        concat(col("text"), lit(" graftrefresh")).as("payload")))
    import spark.implicits._
    db.update("docs",
      Seq((0L, "graftrefresh vector data payload")).toDF("id", "payload"))
    db.delete("docs", col("id") % 97 === 3)
    db.refreshMinhash("docs")
    db.refreshWinsig("docs")
    val rootPath = db.root.toUri.getPath
    def meta(artifact: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        rootPath, artifact, "meta.json")), "UTF-8")
    def bucketsOf(artifact: String): Int =
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(meta(artifact))
        .map(_.group(1).toInt).getOrElse(-1)
    assert(bucketsOf("graft_minhash_docs") === 16)
    assert(bucketsOf("graft_winsig_docs") === 16)
    // the refresh SEGMENT (seg > 0) must read back with partition-dir
    // bucket values spread over the 16-wide layout — reading the
    // partition column back is only possible if the segment's files
    // landed under band_bucket=/sig_bucket= dirs
    val refreshedBands = spark.read.parquet(
        s"$rootPath/graft_minhash_docs/gen_0/bands")
      .filter(col("seg") > 0)
    assert(refreshedBands.count() > 0, "refresh must append a segment")
    assert(refreshedBands.filter(
      col("band_bucket") < 0 || col("band_bucket") >= 16).count() === 0L)
    assert(refreshedBands.agg(countDistinct("band_bucket")).head.getLong(0)
      > 1L, "a corpus-sized segment must spread over the bucket layout")
    val refreshedSigs = spark.read.parquet(
        s"$rootPath/graft_winsig_docs/gen_0/sigs")
      .filter(col("seg") > 0)
    assert(refreshedSigs.count() > 0)
    assert(refreshedSigs.agg(countDistinct("sig_bucket")).head.getLong(0)
      > 1L)
    // compaction must carry the layout into the next generation
    db.compactMinhash("docs")
    db.compactWinsig("docs")
    assert(bucketsOf("graft_minhash_docs") === 16)
    assert(bucketsOf("graft_winsig_docs") === 16)
    def bucketDirs(rel: String, layer: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(rootPath, rel))
        .filter(p => p.getFileName.toString.startsWith(layer)).count()
    assert(bucketDirs("graft_minhash_docs/gen_1/bands", "band_bucket=") > 1,
      "compacted generation must keep the band_bucket partition layer")
    assert(bucketDirs("graft_winsig_docs/gen_1/sigs", "sig_bucket=") > 1,
      "compacted generation must keep the sig_bucket partition layer")
    // result invariance across the maintained lifecycle: the compacted
    // 16-bucket artifacts screen exactly like fresh builds at a DIFFERENT
    // width over the same final corpus
    val twin = graft.core.GraftDatabase.create(spark,
      java.nio.file.Files.createTempDirectory("graft_bucketedtwin")
        .toString, "kdb")
    twin.createCollection("docs", StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StringType))))
    twin.bulkInsert("docs", db.read("docs").select("id", "payload"))
    twin.reindexMinhash("docs", buckets = 8)
    twin.reindexWinsig("docs", buckets = 8)
    def rows(d: graft.core.GraftDatabase): (Seq[String], Seq[String]) = (
      d.screenDupes("docs", screenBatch).orderBy("a_id", "b_id")
        .collect().map(_.toString).toSeq,
      d.screenSubstrings("docs", screenBatch).orderBy("id")
        .collect().map(_.toString).toSeq)
    assert(rows(db) === rows(twin))
  }

  test("REINDEX type=minhash with no count records a derived power-of-two layout") {
    val db = screenDb("graft_mhmeta")
    db.reindexMinhash("docs")
    // the derived count must land in meta (refresh segments must share
    // the generation's layout)...
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(db.root.toUri.getPath,
        "graft_minhash_docs", "meta.json")), "UTF-8")
    val b = """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(meta)
      .map(_.group(1).toInt)
    assert(b.isDefined, s"meta must record the derived bucket count: $meta")
    assert(Integer.bitCount(b.get) === 1 && 65536 % b.get === 0,
      s"derived count ${b.get} must be a power of two dividing 65536")
    // ...and the band segment dirs must carry the band_bucket partitions
    val bandsDir = java.nio.file.Paths.get(db.root.toUri.getPath,
      "graft_minhash_docs", "gen_0", "bands")
    val hasBucketDirs = java.nio.file.Files.walk(bandsDir)
      .anyMatch(p => p.getFileName.toString.startsWith("band_bucket="))
    assert(hasBucketDirs, "band dirs must sub-partition by band_bucket")
  }
}
