package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The TAG attribute sidecar ("tag once, filter many"):
  *
  *  - TAG scores the corpus ONCE (token count, language, quality, PII)
  *    and commits the per-id attribute table under a generation pointer;
  *  - mutations mark it stale; ONE refresh heals at delta price via the
  *    (id, payload_md5) diff — appended docs tag into a NEW segment,
  *    updated payloads re-tag (their md5 changed), deleted docs
  *    tombstone; untouched docs never re-score;
  *  - the filtering consumer (`EXPORT attrs=`) is an id-keyed semi-join
  *    against the STORED attributes and refuses a missing or stale
  *    sidecar loudly — the text is never silently re-scored;
  *  - compaction folds segments flat, values unchanged;
  *  - the streaming twin appends + refreshes per micro-batch, with
  *    structural replay idempotency (ids are write-once via an id
  *    anti-join — a replayed batch re-appends nothing).
  */
class AttrsLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docEn = (1L, "the cat sat on the mat")
  private val docDe = (2L, "der hund und die katze ist nicht das haus")
  private val docPii = (3L, "mail a@b.com or +1-555-1234 at 10.0.0.1 now!")

  private def db(rows: Seq[(Long, String)]): GraftDatabase = {
    val parent = Files.createTempDirectory("graft_attrs").toString
    val d = GraftDatabase.create(spark, parent, "db")
    d.createCollection("docs", StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    d.bulkInsert("docs", rows.toDF("id", "payload"))
    d
  }

  /** The quality formula replayed on the spec's own inputs (the q254
    * doctrine: never assert an algebraic value, replay the IEEE ops).
    * Spark round == BigDecimal HALF_UP on doubles.
    */
  private def expQuality(text: String): Double = {
    val toks = "\\S+".r.findAllIn(text.toLowerCase).toSeq
    val stopset = Set("the", "a", "an", "and", "of", "to", "in", "is")
    val stop =
      if (toks.isEmpty) 0.0 else toks.count(stopset).toDouble / toks.size
    val punct =
      if (text.isEmpty) 0.0
      else (text.length -
        text.replaceAll("[^A-Za-z0-9\\s]", "").length).toDouble / text.length
    val raw = math.min(math.max(
      math.min(text.length / 200.0, 1.0) * (1.0 - punct) * (0.5 + stop),
      0.0), 1.0)
    BigDecimal(raw + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def attrsMap(d: GraftDatabase): Map[Long, (Long, String, Double, Long)] =
    d.docAttrs("docs").as[(Long, Long, String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("TAG: hand-computed attributes (tokens, lang argmax, quality, PII)") {
    val d = db(Seq(docEn, docDe, docPii))
    d.reindexAttrs("docs")
    val a = attrsMap(d)
    assert(a.keySet == Set(1L, 2L, 3L))
    // doc 1: 6 tokens, 'the' twice → en wins; no PII
    assert(a(1L)._1 == 6L && a(1L)._2 == "en" && a(1L)._4 == 0L)
    assert(a(1L)._3 == expQuality(docEn._2))
    // doc 2: der/und/die/ist/nicht/das → de beats en's lone 'is'... which
    // is absent here ('ist' is not 'is'): de 6, en 0
    assert(a(2L)._1 == 9L && a(2L)._2 == "de")
    // doc 3: one email + one phone + one IP
    assert(a(3L)._4 == 3L, a(3L).toString)
    assert(a(3L)._3 == expQuality(docPii._2))
  }

  test("refresh heals insert+update+delete in one pass, delta-only segments") {
    val d = db(Seq(docEn, docDe))
    d.reindexAttrs("docs")
    // full mutation surface: append doc 3, change doc 2's payload,
    // delete doc 1
    d.bulkInsert("docs", Seq(docPii).toDF("id", "payload"))
    d.update("docs", Seq((2L, "la que es un dia")).toDF("id", "payload"))
    d.delete("docs", col("id") === 1L)
    d.refreshAttrs("docs")
    val a = attrsMap(d)
    assert(a.keySet == Set(2L, 3L))
    assert(a(2L)._2 == "es", s"updated payload must re-tag: ${a(2L)}")
    assert(a(3L)._4 == 3L)
    // delta discipline: seg 0 holds the ORIGINAL two rows untouched; the
    // refresh segment holds exactly the two arrivals (new + re-tagged)
    val raw = spark.read.parquet(
      s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_0/attrs")
      .select("id", "seg").as[(Long, Int)].collect().toSet
    assert(raw == Set((1L, 0), (2L, 0), (2L, 1), (3L, 1)), raw.toString)
  }

  test("mutations mark stale; EXPORT attrs= refuses; refresh heals; missing refuses") {
    val d = db(Seq(docEn, docDe))
    val out = Files.createTempDirectory("graft_attrs_out").toString
    // no sidecar at all → loud
    val e0 = intercept[IllegalArgumentException](
      d.exportCollection("docs", s"$out/e0", attrs = Some("lang=en")))
    assert(e0.getMessage.contains("run TAG first"))
    d.reindexAttrs("docs")
    assert(d.listIndexes("docs").as[(String, String)].collect()
      .contains(("attrs", "live")))
    d.bulkInsert("docs", Seq(docPii).toDF("id", "payload"))
    assert(d.listIndexes("docs").as[(String, String)].collect()
      .contains(("attrs", "stale")))
    val e1 = intercept[IllegalArgumentException](
      d.exportCollection("docs", s"$out/e1", attrs = Some("lang=en")))
    assert(e1.getMessage.contains("stale"))
    // docAttrs stays readable while stale (values were true when tagged)
    assert(d.docAttrs("docs").count() == 2L)
    d.refreshAttrs("docs")
    val audit = d.exportCollection("docs", s"$out/e2", format = "jsonl",
      nShards = 4, attrs = Some("n_pii=0"))
    assert(audit.agg(sum("n_rows")).head().getLong(0) == 2L,
      "the PII doc must be filtered out")
  }

  test("attrs filter grammar: unknown attr, bad value, quote all refuse") {
    val d = db(Seq(docEn))
    d.reindexAttrs("docs")
    val out = Files.createTempDirectory("graft_attrs_gram").toString
    def bad(spec: String): String =
      intercept[IllegalArgumentException](
        d.exportCollection("docs", s"$out/x", attrs = Some(spec))).getMessage
    assert(bad("bogus=3").contains("cannot parse"))
    assert(bad("n_tokens>=abc").contains("cannot parse"))
    assert(bad("quality~0.5").contains("cannot parse"))
    assert(bad("lang=\"en\"").contains("\""))
    assert(bad(" , ").contains("empty"))
  }

  test("compact: values unchanged, one flat segment, refuses stale") {
    val d = db(Seq(docEn, docDe))
    d.reindexAttrs("docs")
    d.bulkInsert("docs", Seq(docPii).toDF("id", "payload"))
    val e = intercept[IllegalArgumentException](d.compactAttrs("docs"))
    assert(e.getMessage.contains("stale"))
    d.refreshAttrs("docs")
    val before = attrsMap(d)
    d.compactAttrs("docs")
    assert(attrsMap(d) == before)
    val gen1 = s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_1"
    val segs = spark.read.parquet(s"$gen1/attrs")
      .select("seg").distinct().as[Int].collect().toSet
    assert(segs == Set(0))
    // the old generation is swept
    assert(!new java.io.File(
      s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_0").exists)
  }

  test("refresh auto-compacts past the segment threshold, values unchanged") {
    val d = db(Seq(docEn))
    d.reindexAttrs("docs")
    spark.conf.set("spark.graft.attrs.autoCompactSegments", "2")
    try {
      // three refreshes with arrivals → segments 1, 2, then 3 trips the
      // conf-lowered threshold and folds the artifact flat
      Seq(21L, 22L, 23L).foreach { id =>
        d.bulkInsert("docs", Seq((id, s"doc $id von und")).toDF("id", "payload"))
        d.refreshAttrs("docs")
      }
      val before = attrsMap(d)
      assert(before.keySet == Set(1L, 21L, 22L, 23L))
      val gen1 = s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_1"
      assert(new java.io.File(gen1).exists,
        "the third segment must have triggered an auto-compaction")
      val segs = spark.read.parquet(s"$gen1/attrs")
        .select("seg").distinct().as[Int].collect().toSet
      assert(segs == Set(0), s"compaction must fold segments flat: $segs")
      // and a fresh refresh on the compacted generation still works
      d.bulkInsert("docs", Seq((24L, "der hund ist")).toDF("id", "payload"))
      d.refreshAttrs("docs")
      assert(attrsMap(d).keySet == Set(1L, 21L, 22L, 23L, 24L))
    } finally spark.conf.unset("spark.graft.attrs.autoCompactSegments")
  }

  test("tagSummary: per-language doc/token/clean counts") {
    val d = db(Seq(docEn, docDe, docPii))
    d.reindexAttrs("docs")
    val s0 = d.tagSummary("docs").as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1+3 tag en (doc 3: 'or'/'at'/'now!' carry no profile hits but
    // en is the argmax fallback order only when scores tie at 0 → doc 3
    // scores 0 everywhere → 'de' (first profile) wins ties
    assert(s0.values.map(_._1).sum == 3L)
    assert(s0("en")._1 == 1L && s0("en")._2 == 6L && s0("en")._3 == 1L)
    // the PII doc is not clean wherever it landed
    assert(s0.values.map(_._3).sum == 2L)
  }

  test("ROUTE admission keeps a live attribute sidecar current (delta append)") {
    val d = db(Seq(docEn, docDe))
    d.reindexMinhash("docs", buckets = 4)
    d.buildSplits("docs")
    d.reindexAttrs("docs")
    d.routeArrivals("docs",
      Seq((50L, "la que es un dia bueno")).toDF("id", "payload"))
    // the admission tags JUST the batch (delta append — no corpus diff)
    // and clears the marker its own insert set
    assert(d.listIndexes("docs").as[(String, String)].collect()
      .contains(("attrs", "live")))
    val a = attrsMap(d)
    assert(a.keySet == Set(1L, 2L, 50L) && a(50L)._2 == "es", a.toString)
    val raw = spark.read.parquet(
      s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_0/attrs")
      .select("id", "seg").as[(Long, Int)].collect().toSet
    assert(raw == Set((1L, 0), (2L, 0), (50L, 1)),
      s"admission must append exactly the batch as a new segment: $raw")
  }

  test("a stale marker predating ROUTE triggers the full heal, not a blind clear") {
    val d = db(Seq(docEn, docDe))
    d.reindexMinhash("docs", buckets = 4)
    d.buildSplits("docs")
    d.reindexAttrs("docs")
    // an UNHEALED mutation before the ROUTE: the marker predates the
    // admission, so the route must leave the sidecar stale (clearing it
    // would hide doc 60 from the attribute table while claiming live)
    d.bulkInsert("docs", Seq((60L, "el la que")).toDF("id", "payload"))
    d.routeArrivals("docs",
      Seq((51L, "la que es un dia bueno")).toDF("id", "payload"))
    // the already-stale path runs the FULL refresh heal instead — both
    // the outside insert and the routed arrival end up tagged and live
    assert(d.listIndexes("docs").as[(String, String)].collect()
      .contains(("attrs", "live")))
    assert(attrsMap(d).keySet == Set(1L, 2L, 51L, 60L))
  }

  test("null payload: values null-propagate, the diff key is stable (no churn)") {
    val d = db(Seq(docEn))
    d.bulkInsert("docs", Seq((9L, null.asInstanceOf[String]))
      .toDF("id", "payload"))
    d.reindexAttrs("docs")
    // a second refresh on an unchanged corpus must find NO delta: the
    // coalesce(md5(payload), '<null>') key gives the null-payload row a
    // stable non-null key instead of churning (tombstone + re-tag every
    // refresh)
    d.refreshAttrs("docs")
    val raw = spark.read.parquet(
      s"${d.root}/${GraftDatabase.ReservedPrefix}attrs_docs/gen_0/attrs")
      .select("id", "seg").as[(Long, Int)].collect().toSet
    assert(raw == Set((1L, 0), (9L, 0)),
      s"no refresh segment may appear on an unchanged corpus: $raw")
    val a = d.docAttrs("docs").filter(col("id") === 9L)
      .select("n_tokens", "lang", "quality", "n_pii").head()
    // counts null-propagate; quality clamps to 0.0 (least/greatest SKIP
    // nulls — the r12 rule, identical in DuckDB) and lang falls back to
    // the fold's first profile — pinned so a change is loud
    assert(a.isNullAt(0) && a.isNullAt(3) &&
      a.getString(1) == "de" && a.getDouble(2) == 0.0,
      s"null-payload attribute row drifted: $a")
  }

  test("''<->NULL payload updates re-tag: the diff key keeps them distinct") {
    val d = db(Seq(docEn, (7L, "")))
    d.reindexAttrs("docs")
    val before = attrsMap(d)
    assert(before(7L)._1 == 0L, s"'' payload tags n_tokens=0: ${before(7L)}")
    // flip '' -> NULL: the attribute VALUES differ (0 vs null), so the
    // refresh MUST see an arrival — a key of md5(coalesce(payload, ''))
    // would conflate the two states and silently keep the stale row
    d.update("docs", Seq((7L, null.asInstanceOf[String]))
      .toDF("id", "payload"))
    d.refreshAttrs("docs")
    val after = d.docAttrs("docs").filter(col("id") === 7L)
      .select("n_tokens").head()
    assert(after.isNullAt(0),
      s"NULL payload after the update must re-tag to null counts: $after")
  }

  test("docAttrs plans as a stored-artifact scan — no text re-scoring") {
    val d = db(Seq(docEn, docDe))
    d.reindexAttrs("docs")
    val p = d.docAttrs("docs").queryExecution.executedPlan.toString
    // the consumer reads the SIDECAR, never the corpus text: no tagging
    // expression may appear in the plan, and the scan must be the attrs
    // artifact (the whole point of tag-once-filter-many)
    assert(!p.contains("regexp_extract_all"), p.take(1500))
    assert(p.contains("attrs_docs"), "must read the attribute sidecar")
  }

  test("resumable export pins the attrs filter (no silent unfiltered resume)") {
    val d = db(Seq(docEn, docDe))
    d.reindexAttrs("docs")
    val out = Files.createTempDirectory("graft_attrs_resume").toString + "/e"
    d.exportCollectionResumable("docs", out, nShards = 4,
      attrs = Some("lang=en"))
    // same spec resumes fine (write-once no-op)
    d.exportCollectionResumable("docs", out, nShards = 4,
      attrs = Some("lang=en"))
    val e = intercept[IllegalArgumentException](
      d.exportCollectionResumable("docs", out, nShards = 4, attrs = None))
    assert(e.getMessage.contains("attrs"))
  }

  test("a refresh after a crash between segment append and record keeps the fresh version") {
    val d = db(Seq(docEn, docDe))
    d.reindexAttrs("docs")
    d.update("docs", Seq((2L, "la que es un dia")).toDF("id", "payload"))
    d.refreshAttrs("docs") // doc 2 v2 lands as seg 1, (2, 0) tombstoned
    // the state a crash right after that append left under a
    // record-after-append segment rule: the meta still at max_seg 0 and
    // none of that refresh's tombstones written
    val dir = java.nio.file.Paths.get(d.root.toUri.getPath,
      s"${GraftDatabase.ReservedPrefix}attrs_docs")
    Files.deleteIfExists(dir.resolve(".meta.json.crc")) // stale checksum
    Files.write(dir.resolve("meta.json"),
      """{"type":"attrs","gen":0,"max_seg":0}""".getBytes("UTF-8"))
    val tombs = dir.resolve("gen_0").resolve("tombstones")
    assert(Files.exists(tombs))
    Files.walk(tombs).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    // doc 2 changes again: its v3 must not take a segment number whose
    // (id, seg) the same refresh tombstones
    d.update("docs", Seq((2L, "the dog and the cat")).toDF("id", "payload"))
    d.refreshAttrs("docs")
    val a = attrsMap(d)
    assert(a.keySet == Set(1L, 2L), a.toString)
    assert(a(2L)._2 == "en" && a(2L)._1 == 5L, s"doc 2 must be v3: ${a(2L)}")
  }
}
