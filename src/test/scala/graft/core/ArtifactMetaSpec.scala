package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every `meta.json` shape a graft database can hold on disk parses to the
  * values its writer meant and renders back byte-for-byte; metas written
  * through [[ArtifactMeta]] read back identically; and a meta missing a
  * required field fails loudly with the family's own message.
  */
class ArtifactMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (literal as an earlier build wrote it, expected typed record). */
  private val shapes: Seq[(String, ArtifactMeta)] = Seq(
    """{"type":"postings","buckets":16,"positions":false,"gen":0}""" ->
      ArtifactMeta("postings", Seq("buckets" -> 16, "positions" -> false),
        gen = Some(0)),
    """{"type":"postings","buckets":64,"positions":true,"gen":3}""" ->
      ArtifactMeta("postings", Seq("buckets" -> 64, "positions" -> true),
        gen = Some(3)),
    """{"type":"minhash","shingleN":5,"numHashes":8,"rowsPerBand":2,"buckets":16,"gen":1}""" ->
      ArtifactMeta("minhash", Seq("shingleN" -> 5, "numHashes" -> 8,
        "rowsPerBand" -> 2, "buckets" -> 16), gen = Some(1)),
    // pre-bucket layouts
    """{"type":"minhash","shingleN":5,"numHashes":8,"rowsPerBand":2,"gen":0}""" ->
      ArtifactMeta("minhash", Seq("shingleN" -> 5, "numHashes" -> 8,
        "rowsPerBand" -> 2), gen = Some(0)),
    """{"type":"winsig","minTokens":15,"buckets":32,"gen":2}""" ->
      ArtifactMeta("winsig", Seq("minTokens" -> 15, "buckets" -> 32),
        gen = Some(2)),
    """{"type":"winsig","minTokens":12,"gen":0}""" ->
      ArtifactMeta("winsig", Seq("minTokens" -> 12), gen = Some(0)),
    """{"type":"dhash","mediaCol":"media","buckets":16}""" ->
      ArtifactMeta("dhash", Seq("mediaCol" -> "media", "buckets" -> 16)),
    """{"type":"attrs","gen":0,"max_seg":0}""" ->
      ArtifactMeta("attrs", gen = Some(0), maxSeg = Some(0)),
    """{"type":"attrs","gen":4,"max_seg":17}""" ->
      ArtifactMeta("attrs", gen = Some(4), maxSeg = Some(17)),
    // attrs from before the segment hint
    """{"type":"attrs","gen":1}""" -> ArtifactMeta("attrs", gen = Some(1)),
    // splits without any pin, then one per edge family
    """{"type":"splits","slots":16,"val":1,"test":1,"gen":0}""" ->
      ArtifactMeta("splits", Seq("slots" -> 16, "val" -> 1, "test" -> 1),
        gen = Some(0)),
    """{"type":"splits","slots":16,"val":1,"test":1,"family":"minhash","gen":2}""" ->
      ArtifactMeta("splits", Seq("slots" -> 16, "val" -> 1, "test" -> 1,
        "family" -> "minhash"), gen = Some(2)),
    """{"type":"splits","slots":32,"val":2,"test":3,"family":"embedding","bits":6,"gen":0}""" ->
      ArtifactMeta("splits", Seq("slots" -> 32, "val" -> 2, "test" -> 3,
        "family" -> "embedding", "bits" -> 6), gen = Some(0)),
    """{"type":"splits","slots":16,"val":1,"test":1,"family":"winsig","min_tokens":20,"gen":1}""" ->
      ArtifactMeta("splits", Seq("slots" -> 16, "val" -> 1, "test" -> 1,
        "family" -> "winsig", "min_tokens" -> 20), gen = Some(1)),
    """{"type":"splits","slots":16,"val":1,"test":1,"family":"dhash","max_hamming":3,"gen":0}""" ->
      ArtifactMeta("splits", Seq("slots" -> 16, "val" -> 1, "test" -> 1,
        "family" -> "dhash", "max_hamming" -> 3), gen = Some(0)),
    // a StageStore stage (no type key)
    """{"stage":"s1_curated","gen":0}""" ->
      ArtifactMeta("", Seq("stage" -> "s1_curated"), gen = Some(0)))

  test("every on-disk meta shape parses to its values and renders back byte-for-byte") {
    shapes.foreach { case (literal, expected) =>
      val m = ArtifactMeta.parse(literal)
      assert(m == expected, literal)
      assert(m.json == literal)
      assert(ArtifactMeta.parse(m.json) == m)
    }
  }

  test("typed accessors and whitespace-tolerant parsing") {
    val m = ArtifactMeta.parse(
      """{ "type" : "postings", "buckets" : 16, "positions" : true, "gen" : 2 }""")
    assert(m.kind == "postings" && m.gen.contains(2) && m.maxSeg.isEmpty)
    assert(m.int("buckets").contains(16) && m.bool("positions").contains(true))
    assert(m.int("positions").isEmpty && m.string("buckets").isEmpty)
    assert(m.requireInt("buckets", "unused") == 16)
    assert(intercept[IllegalStateException](m.requireInt("slots", "no slots"))
      .getMessage == "no slots")
    intercept[IllegalStateException](ArtifactMeta.parse("[1, 2]"))
  }

  test("metas written by the database read back through the same record") {
    val parent = Files.createTempDirectory("graft_metas").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    d.bulkInsert("docs", (1L to 6L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta doc$i")).toDF("id", "payload"))
    d.reindexPostings("docs", buckets = 4, positions = true)
    d.reindexMinhash("docs", buckets = 4)
    d.reindexWinsig("docs", minTokens = 3, buckets = 8)
    d.reindexAttrs("docs")
    d.buildSplitsWinsig("docs")
    def meta(kind: String): String = new String(Files.readAllBytes(
      Paths.get(d.root.toUri.getPath, s"graft_${kind}_docs", "meta.json")), UTF_8)
    assert(meta("textindex") ==
      """{"type":"postings","buckets":4,"positions":true,"gen":0,"max_seg":0}""")
    assert(meta("minhash") ==
      """{"type":"minhash","shingleN":5,"numHashes":8,"rowsPerBand":2,"buckets":4,"gen":0,"max_seg":0}""")
    assert(meta("winsig") ==
      """{"type":"winsig","minTokens":3,"buckets":8,"gen":0,"max_seg":0}""")
    assert(meta("attrs") == """{"type":"attrs","gen":0,"max_seg":0}""")
    assert(meta("splits") ==
      """{"type":"splits","slots":16,"val":1,"test":1,"family":"winsig","min_tokens":3,"gen":0}""")
    Seq("textindex", "minhash", "winsig", "attrs", "splits").foreach { k =>
      assert(ArtifactMeta.parse(meta(k)).json == meta(k))
    }
  }

  test("a meta missing a required field fails loudly with the family's message") {
    val parent = Files.createTempDirectory("graft_badmeta").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    d.bulkInsert("docs", Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "payload"))
    // a hand edit: the stale checksum sibling goes with it
    def put(kind: String, json: String): Unit = {
      val dir = Paths.get(d.root.toUri.getPath, s"graft_${kind}_docs")
      Files.deleteIfExists(dir.resolve(".meta.json.crc"))
      Files.write(dir.resolve("meta.json"), json.getBytes(UTF_8))
    }
    d.reindexPostings("docs", buckets = 4)
    put("textindex", """{"type":"postings","positions":false,"gen":0}""")
    assert(intercept[IllegalStateException](d.searchText("docs", Seq("alpha")))
      .getMessage.contains("text index meta has no buckets field"))
    d.reindexMinhash("docs", buckets = 4)
    put("minhash", """{"type":"minhash","numHashes":8,"rowsPerBand":2,"buckets":4,"gen":0}""")
    assert(intercept[IllegalStateException](d.compactMinhash("docs"))
      .getMessage.contains("minhash meta has no shingleN field"))
    put("minhash", """{"type":"minhash","shingleN":5,"numHashes":8,"rowsPerBand":2,"gen":0}""")
    assert(intercept[IllegalStateException](d.compactMinhash("docs"))
      .getMessage.contains("has no buckets field (artifact predates the bucketed layout)"))
    d.reindexWinsig("docs", minTokens = 3, buckets = 4)
    put("winsig", """{"type":"winsig","buckets":4,"gen":0}""")
    assert(intercept[IllegalStateException](d.compactWinsig("docs"))
      .getMessage.contains("winsig meta has no minTokens field on docs"))
    d.buildSplits("docs")
    put("splits", """{"type":"splits","val":1,"test":1,"gen":0}""")
    assert(intercept[IllegalStateException](d.compactSplits("docs"))
      .getMessage.contains("splits meta has no slots field"))
  }
}
