package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.IndexLayout.{IvfPqKMeans, KMeans, Pq, SignBucket, ZOrder}
import graft.model.VectorRecord

/** Every sidecar shape a graft database or export can hold on disk — the
  * literal bytes the writers of earlier builds produced — parses to the
  * values its writer meant and renders back byte-for-byte (the
  * ArtifactMetaSpec contract for the JSON sidecars); member order is free
  * on read; a malformed sidecar fails loudly, naming its file.
  */
class SidecarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A layout as plain values (arrays compared by content). */
  private def canon(l: IndexLayout): Any = l match {
    case SignBucket(b) => ("sign_bucket", b)
    case KMeans(k, t, c) => ("kmeans", k, t, c.map(_.toSeq).toSeq)
    case Pq(b, m, ks, cb) => ("pq", b, m, ks, cb.map(_.map(_.toSeq).toSeq).toSeq)
    case IvfPqKMeans(m, ks, k, cb, c) => ("ivfpq_kmeans", m, ks, k,
      cb.map(_.map(_.toSeq).toSeq).toSeq, c.map(_.toSeq).toSeq)
    case ZOrder(cols, b) => ("zorder", cols, b)
  }

  private val cb = Array(
    Array(Array(0.125, -0.5), Array(1.0E-4, 3.0)),
    Array(Array(-2.25, 0.0), Array(0.7071067811865476, 12.5)))
  private val cents = Array(Array(0.5, -1.25, 2.0), Array(1.0E-7, 0.1, -0.3))

  /** (literal as an earlier build wrote it, expected typed record). */
  private val layouts: Seq[(String, IndexLayout)] = Seq(
    """{"type": "sign_bucket", "bits": 4}""" -> SignBucket(4),
    """{"type": "sign_bucket", "bits": 8}""" -> SignBucket(8),
    """{"type": "kmeans", "k": 2, "centroids": [[0.5,-1.25,2.0],[1.0E-7,0.1,-0.3]]}""" ->
      KMeans(2, None, cents),
    """{"type": "kmeans", "trainer": "md5", "k": 2, "centroids": [[0.5,-1.25,2.0],[1.0E-7,0.1,-0.3]]}""" ->
      KMeans(2, Some("md5"), cents),
    """{"type": "pq", "bits": 8, "m": 2, "ksub": 2, "codebooks": [[[0.125,-0.5],[1.0E-4,3.0]],[[-2.25,0.0],[0.7071067811865476,12.5]]]}""" ->
      Pq(8, 2, 2, cb),
    """{"type": "ivfpq_kmeans", "m": 2, "ksub": 2, "k": 2, "codebooks": [[[0.125,-0.5],[1.0E-4,3.0]],[[-2.25,0.0],[0.7071067811865476,12.5]]], "centroids": [[0.5,-1.25,2.0],[1.0E-7,0.1,-0.3]]}""" ->
      IvfPqKMeans(2, 2, 2, cb, cents),
    """{"type": "zorder", "cols": ["id", "score"], "bits": 8}""" ->
      ZOrder(Seq("id", "score"), 8))

  test("every index layout shape parses to its values and renders back byte-for-byte") {
    layouts.foreach { case (literal, expected) =>
      val l = IndexLayout.parse(literal)
      assert(canon(l) == canon(expected), literal)
      assert(l.json == literal)
      assert(expected.json == literal)
    }
    // Double.toString numbers, the non-finite ones unquoted as written
    val odd = """{"type": "kmeans", "k": 1, "centroids": [[NaN,-Infinity,-0.0,1.0E300]]}"""
    assert(IndexLayout.parse(odd).json == odd)
  }

  test("an ivfpq record with its centroids before its codebooks parses to the same layout") {
    val canonical = layouts.collectFirst { case (j, l: IvfPqKMeans) => (j, l) }.get
    val reordered = """{"type": "ivfpq_kmeans", "m": 2, "ksub": 2, "k": 2, "centroids": [[0.5,-1.25,2.0],[1.0E-7,0.1,-0.3]], "codebooks": [[[0.125,-0.5],[1.0E-4,3.0]],[[-2.25,0.0],[0.7071067811865476,12.5]]]}"""
    val l = IndexLayout.parse(reordered)
    assert(canon(l) == canon(canonical._2))
    assert(l.json == canonical._1, "renders in the writer's member order")
  }

  test("tokenizer, export-meta and routed-marker shapes round-trip byte-for-byte") {
    Seq(
      """{"type": "bpe", "merges": [["a","b"],["ab","ab"]]}""" ->
        Seq(("a", "b"), ("ab", "ab")),
      """{"type": "bpe", "merges": []}""" -> Seq.empty[(String, String)]
    ).foreach { case (literal, merges) =>
      assert(TokenizerMeta.parse(literal) == TokenizerMeta(merges))
      assert(TokenizerMeta(merges).json == literal)
    }
    Seq(
      """{"format": "jsonl", "shards": 8, "split": "", "exclude": "", "attrs": ""}""" ->
        ExportMeta("jsonl", 8, "", "", ""),
      """{"format": "parquet", "shards": 16, "split": "train", "exclude": "", "attrs": ""}""" ->
        ExportMeta("parquet", 16, "train", "", ""),
      """{"format": "csv", "shards": 4, "split": "", "exclude": "verdicts", "attrs": "lang=en, quality>=0.5"}""" ->
        ExportMeta("csv", 4, "", "verdicts", "lang=en, quality>=0.5")
    ).foreach { case (literal, pin) =>
      assert(ExportMeta.parse(literal).contains(pin))
      assert(pin.json == literal)
    }
    // a pin without the filter keys (none pinned) reads as unfiltered
    assert(ExportMeta.parse("""{"format": "text", "shards": 2}""")
      .contains(ExportMeta("text", 2, "", "", "")))
    Seq("""{"batch":"mb-0007.a_b"}""" -> RoutedMarker(Some("mb-0007.a_b")),
      "" -> RoutedMarker(None)).foreach { case (literal, marker) =>
      assert(RoutedMarker.parse(literal, "routed_0.done") == marker)
      assert(marker.json == literal)
    }
  }

  test("a malformed sidecar fails loudly and names its file") {
    Seq(
      """{"type": "sign_bucket"}""",
      """{"type": "sign_bucket", "bits": "8"}""",
      """{"type": "kmeans", "k": 2, "centroids": [[0.5, "x"]]}""",
      """{"type": "hnsw", "m": 16}""",
      """{"type": "pq", "bits": 8""",
      """[1, 2]"""
    ).foreach { json =>
      val e = intercept[IllegalStateException](IndexLayout.parse(json, "/x/_graft_index.json"))
      assert(e.getMessage.contains("/x/_graft_index.json"), json)
    }
    intercept[IllegalStateException](TokenizerMeta.parse("""{"merges": [["a"]]}"""))
    assert(ExportMeta.parse("""{"format": "jsonl"}""").isEmpty)

    // through the database: each reader names the file it could not read
    val parent = Files.createTempDirectory("graft_badsidecar").toString
    val db = GraftDatabase.create(spark, parent, "db")
    db.createCollection("vecs")
    db.bulkInsert("vecs", (0 until 4).map(i =>
      VectorRecord(i.toLong, Array(i.toFloat, 1f), s"w$i w$i")).toDF())
    val dir = Paths.get(db.root.toUri.getPath, "vecs")
    def put(p: Path, json: String): Unit = Files.write(p, json.getBytes(UTF_8))
    put(dir.resolve(IndexLayout.File), """{"type": "kmeans", "k": 2}""")
    assert(intercept[IllegalStateException](db.indexTypeOf("vecs"))
      .getMessage.contains(s"vecs/${IndexLayout.File}"))
    put(dir.resolve(TokenizerMeta.File), """{"type": "bpe", "merges": 3}""")
    assert(intercept[IllegalStateException](db.tokenize("vecs"))
      .getMessage.contains(s"vecs/${TokenizerMeta.File}"))
    val out = Files.createTempDirectory("graft_badpin").resolve("e").toString
    Files.createDirectories(Paths.get(out))
    put(Paths.get(out, ExportMeta.File), """{"format": "jsonl", "shards": "8"}""")
    assert(intercept[IllegalArgumentException](
        db.exportCollectionResumable("vecs", out))
      .getMessage.contains(s"malformed _export_meta.json at $out"))
  }

  test("layout records the database writes read back through the same record") {
    val parent = Files.createTempDirectory("graft_layouts").toString
    val db = GraftDatabase.create(spark, parent, "db")
    val recs = (0 until 24).map(i => VectorRecord(i.toLong,
      Array.tabulate(4)(j => math.cos(i * 0.9 + j).toFloat), s"p$i")).toDF()
    def record(coll: String): String = new String(Files.readAllBytes(
      Paths.get(db.root.toUri.getPath, coll, IndexLayout.File)), UTF_8)
    Seq[(String, GraftDatabase => Unit, String)](
      ("s", _.reindex("s", nBits = 3), """{"type": "sign_bucket", "bits": 3}"""),
      ("k", _.reindexKMeansMd5("k", k = 2),
        """{"type": "kmeans", "trainer": "md5", "k": 2, "centroids": [["""),
      ("p", _.reindexPq("p", m = 2, ksub = 2, nBits = 2),
        """{"type": "pq", "bits": 2, "m": 2, "ksub": 2, "codebooks": [[["""),
      ("i", _.reindexIvfPq("i", m = 2, ksub = 2, kCells = 2),
        """{"type": "ivfpq_kmeans", "m": 2, "ksub": 2, "k": 2, "codebooks": [[["""),
      ("z", _.reindexZOrder("z", "id", "id", bits = 4, nFiles = 2),
        """{"type": "zorder", "cols": ["id", "id"], "bits": 4}""")
    ).foreach { case (coll, reindex, head) =>
      db.createCollection(coll)
      db.bulkInsert(coll, recs)
      reindex(db)
      val json = record(coll)
      assert(json.startsWith(head), json)
      assert(IndexLayout.parse(json).json == json)
      // a mutation carries the record over unchanged
      db.delete(coll, org.apache.spark.sql.functions.expr("id = 0"))
      assert(record(coll) == json, coll)
    }
  }
}
