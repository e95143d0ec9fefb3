package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f g"),          // 3 distinct 5-shingles
    (2L, "a b c d e f g"),          // exact dup of 1
    (3L, "a b c d e f h"),          // near dup of 1 (2 of 3 shingles differ? no: shares 'a b c d e','b c d e f')
    (4L, "x y z w q r t"),          // unrelated
    (5L, "short one")               // < 5 tokens → no shingles
  ).toDF("doc_id", "text")

  test("wordShingles: counts, distinctness, short-doc empty") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 5).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b c d e", "b c d e f", "c d e f g"))
    assert(sh(5L).isEmpty)
    // repeated tokens still give distinct shingles
    val rep = Seq((9L, "a a a a a a")).toDF("doc_id", "text")
      .select(Dedup.wordShingles($"text", 5)).as[Seq[String]].head()
    assert(rep == Seq("a a a a a"))
  }

  test("minhash LSH: exact dup always a candidate, unrelated never") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "identical docs share every band")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L },
      "doc 4 shares no shingle with anything")
  }

  test("decontaminate: overlap counts, threshold, self-exclusion") {
    // eval doc 1 ("a b c d e f g", shingles S1={abcde,bcdef,cdefg})
    val evalSet = docs.filter($"doc_id" === 1L)
    val hits = Dedup.decontaminate(docs, evalSet, "doc_id", "text",
        shingleN = 5, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    // doc 2 is an exact dup (3 shared), doc 3 shares exactly 2
    assert(hits == Set((2L, 1L, 3L), (3L, 1L, 2L)),
      s"expected docs 2 and 3 flagged against eval doc 1, got $hits")
    // raising the threshold to 3 drops the near-dup, keeps the exact dup
    val strict = Dedup.decontaminate(docs, evalSet, "doc_id", "text",
        shingleN = 5, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(strict == Set((2L, 1L, 3L)))
    // a doc never contaminates itself even when the corpus contains the
    // eval docs; shuffle-join fallback agrees with the broadcast path
    assert(!hits.exists(h => h._1 == h._2))
    val shuffled = Dedup.decontaminate(docs, evalSet, "doc_id", "text",
        shingleN = 5, minShared = 2, broadcastEval = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(shuffled == hits, "broadcast and shuffle paths must agree")
  }

  test("decontaminate: boilerplate shingles across the eval suite are capped") {
    // three eval docs all contain the same boilerplate passage; one also
    // shares a RARE passage with a corpus doc
    // "common header one two three four" = 2 distinct 5-grams, present in
    // every eval doc; the rare passage = 2 distinct 5-grams, in one
    val evalDocs = Seq(
      (101L, "common header one two three four x1 y1"),
      (102L, "common header one two three four x2 y2"),
      (103L, "common header one two three four rare unique signal passage here today")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "common header one two three four a b"),  // only boilerplate
      (2L, "rare unique signal passage here today and more") // real contamination
    ).toDF("doc_id", "text")
    // cap = 2: the boilerplate shingles (in all 3 eval docs) are dropped,
    // the rare passage (1 eval doc) survives
    val hits = Dedup.decontaminate(corpus, evalDocs, "doc_id", "text",
        shingleN = 5, minShared = 2, maxEvalFreq = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(hits.map(h => (h._1, h._2)) == Set((2L, 103L)),
      s"boilerplate must be capped, rare overlap kept — got $hits")
    // without the cap, doc 1 is (wrongly, at scale: explosively) flagged
    val uncapped = Dedup.decontaminate(corpus, evalDocs, "doc_id", "text",
        shingleN = 5, minShared = 2, maxEvalFreq = 1000)
      .as[(Long, Long, Long)].collect().toSet
    assert(uncapped.exists(_._1 == 1L))
  }

  test("simhash: identical docs get identical codes, disjoint docs differ") {
    val codes = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(codes(1L) == codes(2L))
    assert(codes(1L) != codes(4L))
    assert(codes.values.forall(c => c >= 0 && c < (1L << 16)))
  }

  test("ngram jaccard: dup pair = 1.0, near pair in (0,1), respects threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    // docs 1,3 share 2 of 4 distinct shingles → J = 2/4 = 0.5
    assert(math.abs(pairs((1L, 3L)) - 0.5) < 1e-12)
    assert(!pairs.contains((1L, 4L)))
  }

  test("candidateJaccard scores every candidate; verifiedNearDups is its filtered subset") {
    val all = Dedup.candidateJaccard(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val verified = Dedup.verifiedNearDups(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // the identical pair scores exactly 1.0 in the unfiltered view
    assert(all((1L, 2L)) == 1.0)
    // the filter keeps exactly the >= threshold slice, same scores
    assert(verified == all.filter(_._2 >= 0.5))
    // every candidate the banding emitted got a score (none dropped by
    // the shared-shingle join)
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(all.keySet == cands)
  }

  test("jaccardOfPairs: extra columns ride through; shingle-less members score 0") {
    // docs 10/11 are too short for 5-shingles but CAN collide under
    // token-level simhash — the pair must score 0, not vanish
    val short = Seq((10L, "tiny doc"), (11L, "tiny doc"),
      (1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 99L), (10L, 11L, 7L))
      .toDF("a_id", "b_id", "tag")
    val got = Dedup.jaccardOfPairs(short, "doc_id", "text", pairs)
      .select("a_id", "b_id", "tag", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 99L, 1.0), (10L, 11L, 7L, 0.0)),
      "tags must ride through; identical docs 1.0; shingle-less pair 0.0")
  }

  test("jaccardOfPairs: duplicated candidate rows don't inflate the score") {
    // an ARBITRARY candidate frame may repeat a pair (e.g. one row per
    // colliding band); pre-fix the dup multiplied __shared through both
    // shingle joins and jaccard exceeded 1
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0), (1L, 2L, 1), (1L, 2L, 2))
      .toDF("a_id", "b_id", "band")
    val got = Dedup.jaccardOfPairs(docs, "doc_id", "text", pairs)
      .select("a_id", "b_id", "band", "jaccard")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0, 1.0), (1L, 2L, 1, 1.0), (1L, 2L, 2, 1.0)),
      "each duplicate row rides through with the singly-counted score")
  }

  test("candidatePairs: a degenerate hot bucket is dropped with bounded state") {
    // one adversarial bucket with 300 members (would emit ~45k pairs and,
    // pre-fix, buffer all 300 ids in one agg buffer) + one healthy pair
    val banded = (
      (0 until 300).map(i => (i.toLong, 0, "hot")) ++
        Seq((1000L, 0, "ok"), (1001L, 0, "ok"))
      ).toDF("doc_id", "band", "band_key")
    val pairs = Dedup.candidatePairs(banded, "doc_id", maxBucketSize = 50)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1000L, 1001L)),
      "hot bucket must contribute nothing; healthy bucket must survive")
    // the cap must live INSIDE the aggregation (bounded partial buffers),
    // with no extra window/sort stage in front of it
    val plan = Dedup.candidatePairs(banded, "doc_id", maxBucketSize = 50)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("boundeddistinctsetagg"),
      s"bounded aggregator missing from plan:\n$plan")
    assert(!plan.contains("Window"), s"cap must not need a window stage:\n$plan")
  }

  test("candidatePairs: bucket exactly at the cap is kept whole") {
    val banded = (0 until 50).map(i => (i.toLong, 0, "full"))
      .toDF("doc_id", "band", "band_key")
    val n = Dedup.candidatePairs(banded, "doc_id", maxBucketSize = 50).count()
    assert(n == 50L * 49 / 2, "cap-sized bucket must emit all its pairs")
  }

  test("simhashPairs: banding finds identical docs, excludes distant ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // identical → hamming 0
      (3L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val asSet = Dedup.simhashPairs(corpus, "doc_id", "text", 16, 4, 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(asSet.contains((1L, 2L, 0)), s"identical docs must pair at hamming 0: $asSet")
    // the unrelated doc's code differs in far more than 3 bits from both
    assert(!asSet.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not appear: $asSet")
    // pigeonhole precondition enforced loudly
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", 16, 4, maxHamming = 4)
    }
    // the production default (64-bit codes, 16-bit chunks) behaves the same
    val at64 = Dedup.simhashPairs(corpus, "doc_id", "text")
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(at64.contains((1L, 2L, 0)))
    assert(!at64.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embeddingPairs only scores within sign buckets") {
    val vecs = Seq(
      (1L, Array(0.5f, 0.5f)), (2L, Array(0.6f, 0.4f)),   // bucket 3
      (3L, Array(-0.5f, -0.5f))                            // bucket 0
    ).toDF("id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "id", "embedding", nBits = 2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 > 0.9)
  }

  test("embeddingPairs: a degenerate hot bucket is dropped with bounded state") {
    // every positive-quadrant vector lands in bucket 3 → 120 members would
    // quadratically self-join (~7k pairs); the cap drops the bucket whole
    // while the healthy negative-quadrant pair survives
    val vecs = (
      (0 until 120).map(i => (i.toLong, Array(0.5f + i * 0.001f, 0.5f))) ++
        Seq((500L, Array(-0.5f, -0.5f)), (501L, Array(-0.4f, -0.6f)))
      ).toDF("id", "embedding")
    val capped = Dedup.embeddingPairs(vecs, "id", "embedding", nBits = 2,
      maxBucketSize = 50)
    assert(capped.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((500L, 501L)),
      "hot bucket must contribute nothing; healthy bucket must survive")
    // cap inside the aggregation: bounded partial buffers, no window stage
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("boundeddistinctsetagg"),
      s"bounded aggregator missing from plan:\n$plan")
    assert(!plan.contains("Window"), s"cap must not need a window stage:\n$plan")
    // a bucket exactly at the cap keeps all its pairs
    val atCap = Dedup.embeddingPairs(vecs, "id", "embedding", nBits = 2,
      maxBucketSize = 120).count()
    assert(atCap == 120L * 119 / 2 + 1,
      "cap-sized bucket must emit all its pairs")
  }

  test("semDeDup: drops in-cell near-dups, hot cells skip dedup whole") {
    // cell 1: 20 identical vectors (every pair cosine 1.0) — OVER the
    // cap of 10 → kept whole, no drops. cell 2: three vectors, two
    // identical → the higher id of the identical pair drops.
    val rows =
      (1L to 20L).map(i => (i, 1, Array(1.0f, 0.0f))) ++
      Seq((21L, 2, Array(0.0f, 1.0f)), (22L, 2, Array(0.0f, 1.0f)),
        (23L, 2, Array(1.0f, 0.0f)))
    val df = rows.toDF("id", "cid", "embedding")
    val out = Dedup.semDeDup(df, "id", "embedding", "cid",
      threshold = 0.9, maxCellSize = 10)
    val droppedIds = out.filter($"semdup_drop")
      .select("id").as[Long].collect().toSet
    assert(droppedIds == Set(22L),
      s"only the higher id of the small cell's identical pair drops: $droppedIds")
    assert(out.count() == 23, "annotation must preserve every input row")
    // the same data under a cap that admits the hot cell: ids 2..20 all
    // have the lower-id twin 1 → all drop
    val uncapped = Dedup.semDeDup(df, "id", "embedding", "cid",
      threshold = 0.9, maxCellSize = 100)
    assert(uncapped.filter($"semdup_drop").count() == 20,
      "cap raised → hot cell dedups (19 twins of id 1) + id 22")
    // cap inside the aggregation, never a window
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("boundeddistinctsetagg"),
      s"bounded aggregator missing from plan:\n${plan.take(1500)}")
    // loud contract: non-integral ids fail fast
    intercept[IllegalArgumentException] {
      Dedup.semDeDup(df.withColumn("id", $"id".cast("string")),
        "id", "embedding", "cid", 0.9)
    }
  }

  test("spanDedup: repeated spans drop everywhere, survivors keep order") {
    // spanSize=2 spans: doc 1 = [a b][c d][e f], doc 2 = [c d][x y],
    // doc 3 = [c d] — "c d" occurs 3× ⇒ dropped from ALL docs;
    // doc 3 becomes empty (kept as a row, text "")
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "c d")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanSize = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "a b e f"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, "")),
      s"span dedup semantics diverged: $out")

    // maxFreq=3 keeps the triplicated span
    val kept = Dedup.spanDedup(docs, "doc_id", "text",
        spanSize = 2, maxFreq = 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(kept == Seq("a b c d e f", "c d x y", "c d"))
  }

  test("exactSubstringDedup: window coverage reproduces suffix-array removal") {
    // minTokens=3. Scenarios (token alphabets disjoint per scenario):
    //  docs 1/2 share EXACTLY a 3-run "c d e"  → those 3 go from both;
    //  doc 3 self-repeats "p q r"              → fully covered, text "";
    //  doc 4 is shorter than L                 → untouched;
    //  docs 5/6 share only a 2-run "n o" (< L) → untouched;
    //  docs 7/8 share a 4-run (two overlapping dup windows) → the UNION
    //    of the windows (all 4 tokens) goes, not 3.
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x c d e y z w"),
      (3L, "p q r p q r"),
      (4L, "a b"),
      (5L, "m n o j"),
      (6L, "n o q m"),
      (7L, "u1 c0 d0 e0 f0 u2"),
      (8L, "v1 v2 c0 d0 e0 f0")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(docs, "doc_id", "text", minTokens = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 7L, 4L, "a b f g"),
      (2L, 7L, 4L, "x y z w"),
      (3L, 6L, 0L, ""),
      (4L, 2L, 2L, "a b"),
      (5L, 4L, 4L, "m n o j"),
      (6L, 4L, 4L, "n o q m"),
      (7L, 6L, 2L, "u1 u2"),
      (8L, 6L, 2L, "v1 v2")),
      s"exact-substring semantics diverged: $out")
  }

  test("exactSubstringStats: run merging, self-repeat, zero-coverage doc") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // shares exactly "c d e" with doc 2
      (2L, "x c d e y z w"),
      (3L, "p q r p q r"),     // self-repeat: fully covered, ONE run
      (4L, "a b"),             // shorter than L: zero coverage
      (5L, "m1 m2 m3 z1 z2 z3 z4 n1 n2 n3"), // TWO disjoint shared runs
      (6L, "m1 m2 m3 o n1 n2 n3 oo pp qq")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringStats(docs, "doc_id", "text", minTokens = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_covered", "n_runs", "max_run",
        "covered_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 7L, 3L, 1L, 3L, 3.0 / 7),
      (2L, 7L, 3L, 1L, 3L, 3.0 / 7),
      (3L, 6L, 6L, 1L, 6L, 1.0),
      (4L, 2L, 0L, 0L, 0L, 0.0),
      (5L, 10L, 6L, 2L, 3L, 0.6),
      (6L, 10L, 6L, 2L, 3L, 0.6)),
      s"duplication profile diverged: $out")
  }

  test("spanDedupKeepFirst: first corpus-order copy survives, later drop") {
    // "c d" occurs 3x — first occurrence is doc 1 chunk 1, so doc 1 is
    // untouched while docs 2/3 lose their copies; a WITHIN-doc repeat
    // keeps only its earliest chunk.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "c d"),
      (4L, "k l k l")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupKeepFirst(docs, "doc_id", "text", spanSize = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 3L, "a b c d e f"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 1L, "k l")),
      s"keep-first semantics diverged: $out")
  }

  test("incomingCoveredText: stored-window probe, corpus-only screening") {
    val corpus = Seq((1L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val sigs = Dedup.windowSigs(corpus, "doc_id", "text", minTokens = 3)
    // corpus exposes 3 window sigs; the artifact is distinct
    assert(sigs.count() == 3L)
    val batch = Seq(
      (10L, "x1 w2 w3 w4 x2"), // interior hit -> covers pos 1-3
      (11L, "w2 w3 z"),        // 3-token window, NOT in corpus
      (12L, "q1 q2 q3"),       // batch-internal dup pair: NOT screened
      (13L, "q1 q2 q3"),
      (14L, "a b")             // shorter than L
    ).toDF("doc_id", "text")
    val out = Dedup.incomingCoveredText(sigs, batch, "doc_id", "text",
        minTokens = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (10L, 5L, 2L, "x1 x2"),
      (11L, 3L, 3L, "w2 w3 z"),
      (12L, 3L, 3L, "q1 q2 q3"),
      (13L, 3L, 3L, "q1 q2 q3"),
      (14L, 2L, 2L, "a b")),
      s"screening semantics diverged: $out")
  }

  test("cdcSpans: content-defined boundaries survive an insertion") {
    // A long synthetic doc and the same doc with one token inserted near
    // the front: fixed-size chunking shifts EVERY later chunk; CDC must
    // leave every span after the insertion point byte-identical.
    val words = (1 to 400).map(i => s"w${i % 37}x${i % 11}")
    val base = words.mkString(" ")
    val bumped = (words.take(3) :+ "INSERTED").++(words.drop(3)).mkString(" ")
    val docs = Seq((1L, base), (2L, bumped)).toDF("doc_id", "text")
    val spans = TextAnalysis.cdcSpans(docs, "doc_id", "text", divisor = 16)
    val sigs1 = spans.filter($"doc_id" === 1).orderBy("chunk_id")
      .select("chunk_sig").as[String].collect().toSeq
    val sigs2 = spans.filter($"doc_id" === 2).orderBy("chunk_id")
      .select("chunk_sig").as[String].collect().toSeq
    assert(sigs1.size > 10, s"expected many spans, got ${sigs1.size}")
    // all spans after the perturbed one are identical (suffix sets match)
    val shared = sigs1.toSet.intersect(sigs2.toSet)
    assert(shared.size >= sigs1.size - 2,
      s"CDC must localize the insertion: only ${shared.size} of " +
        s"${sigs1.size} spans survived")
    // sanity: fixed 16-token windows share (almost) nothing after the
    // insertion — the contrast that motivates CDC
    val fixed = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 16, 16)
    val f1 = fixed.filter($"doc_id" === 1).select("chunk_sig")
      .as[String].collect().toSet
    val f2 = fixed.filter($"doc_id" === 2).select("chunk_sig")
      .as[String].collect().toSet
    assert(f1.intersect(f2).size < shared.size,
      "fixed windows should lose far more spans to the shift than CDC")
    // reassembly is exact: dedup with maxFreq high enough keeps all text
    val rebuilt = Dedup.spanDedupSpans(spans, "doc_id", maxFreq = 10)
      .filter($"doc_id" === 1).select("text").as[String].head()
    assert(rebuilt == base, "span reassembly must reproduce the document")
  }

  test("containmentPairs: directed snippets, exact 3/4 boundary, no reverse") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 6 shingles
      (2L, "a b c d e f g h"),     // 4 shingles, all inside doc 1
      (3L, "z y x w v u t s"),     // unrelated
      (4L, "a b c d e f g q"))     // 4 shingles, 3 inside doc 1
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 5, num = 3, den = 4)
      .as[(Long, Long, Long, Double)].collect().toSet
    // doc 2 fully contained in 1; doc 4 exactly at the 3/4 boundary;
    // 2 and 4 mutually share 3 of their 4 shingles (both directions);
    // C(1→2) = 4/6 < 3/4 so the reverse row never appears
    assert(got == Set(
      (2L, 1L, 4L, 1.0),
      (4L, 1L, 3L, 0.75),
      (2L, 4L, 3L, 0.75),
      (4L, 2L, 3L, 0.75)), s"got $got")
  }

  test("dbscanClusters: core/border/noise roles, min-rep clusters") {
    // all vectors share sign bucket (+,+); similarities controlled by
    // direction: 1,2,3 tightly aligned (each ≥ 2 close neighbors →
    // core); 4 near only 3 (one neighbor → border of 3's cluster);
    // 5 orthogonal-ish to all (noise)
    def v8(x: Float, y: Float) =
      Array(x, y, 0f, 0f, 0f, 0f, 0f, 0f)
    val vecs = Seq(
      (1L, v8(1.0f, 0.10f)),
      (2L, v8(1.0f, 0.12f)),
      (3L, v8(1.0f, 0.14f)),
      (4L, v8(1.0f, 0.60f)),
      (5L, v8(0.05f, 1.0f))).toDF("vec_id", "embedding")
    // at 0.92: 1-2/1-3/2-3 and 3-4 are edges (3-4 = 0.9205); 4's only
    // neighbor is 3 → border; 5 peaks at 0.557 → noise
    val got = Dedup.dbscanClusters(vecs, "vec_id", "embedding",
        minSim = 0.92, minPts = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(1L) == (("core", Some(1L))), s"got $got")
    assert(got(2L) == (("core", Some(1L))))
    assert(got(3L) == (("core", Some(1L))))
    assert(got(4L) == (("border", Some(1L))), s"got ${got(4L)}")
    assert(got(5L) == (("noise", None)))
  }

  test("incomingNovelty: known shingles don't count, fresh ones do") {
    val stored = Seq("a b c d e", "b c d e f").toDF("shingle")
    val batch = Seq(
      (1L, "a b c d e f"),       // both shingles known → novelty 0
      (2L, "a b c d e f g"),     // 2 known + 1 new → 1/3
      (3L, "v w x y z")).toDF("doc_id", "text") // all new → 1
    val got = TextAnalysis.incomingNovelty(stored, batch, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2L, 0L, 0.0)), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 1L, 1.0 / 3)), s"got ${got(2L)}")
    assert(got(3L) == ((1L, 1L, 1.0)))
  }

  test("noveltyScores: min-id ownership, shared grams charge the later doc") {
    val docs = Seq(
      (1L, "a b c d e f"),       // 2 shingles, both first here
      (2L, "a b c d e f g"),     // 3 shingles: 2 owned by doc 1, 1 new
      (3L, "q r s t u v"))       // 2 shingles, all its own
      .toDF("doc_id", "text")
    val got = TextAnalysis.noveltyScores(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2L, 2L, 1.0)), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 1L, 1.0 / 3)), s"got ${got(2L)}")
    assert(got(3L) == ((2L, 2L, 1.0)))
  }

  test("prefixJaccardPairs: finds every qualifying pair, exact threshold") {
    // same universe conventions as ngramJaccardPairs → identical output
    // at the same rational threshold (1/2 here)
    val exhaustive = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val prefixed = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        num = 1, den = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(prefixed == exhaustive,
      "prefix filter must lose no qualifying pair and add none")
    assert(prefixed((1L, 2L)) == 1.0 && prefixed((1L, 3L)) == 0.5)
    // threshold boundary is EXACT integer math: J(1,3) = 2/4, so it is in
    // at t = 1/2 (above) but out at t = 2/3
    val strict = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        num = 2, den = 3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(strict.contains((1L, 2L)) && !strict.contains((1L, 3L)))
    // t = 1 keeps a 1-shingle prefix per doc and still finds exact dups
    val ones = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        num = 1, den = 1)
      .as[(Long, Long, Double)].collect()
    assert(ones.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", num = 3, den = 2)
    }
  }

  test("prefix join: length filter prunes the skewed candidate, output unchanged") {
    // frequency-engineered corpus: docs 11/13 (identical, 3 shingles)
    // share prefix shingle C = "c3 c4 c5 c6 s1" with the 13-shingle doc
    // 12 — fillers 20..26 make 11's other shingles frequent (so C leads
    // 11's rarity order) and the twin e-chains 30/31 make 12's tail
    // frequent (so C lands inside 12's 7-shingle prefix).
    val es = (1 to 17).map(i => s"e$i").mkString(" ")
    val skew = (Seq(
      (11L, "c1 c2 c3 c4 c5 c6 s1"),
      (12L, "c3 c4 c5 c6 s1 " + (1 to 12).map(i => s"e$i").mkString(" ")),
      (13L, "c1 c2 c3 c4 c5 c6 s1"),
      (30L, es), (31L, es)) ++
      (20L to 26L).map(i => (i, s"c1 c2 c3 c4 c5 c6 f$i")))
      .toDF("doc_id", "text")
    // at a permissive threshold the skewed pair IS discoverable through
    // the shared prefix shingle (non-vacuity of the pruning assertion)
    val loose = Dedup.prefixCandidates(skew, "doc_id", "text",
        num = 1, den = 100)
      .as[(Long, Long)].collect().toSet
    assert(loose.contains((11L, 12L)),
      "shared prefix shingle must surface the pair when nothing prunes")
    // at t = 1/2 the length filter kills it: |A| = 3, |B| = 13,
    // 1·13 > 2·3 — the pair never reaches verification
    val cands = Dedup.prefixCandidates(skew, "doc_id", "text",
        num = 1, den = 2)
      .as[(Long, Long)].collect().toSet
    assert(!cands.contains((11L, 12L)),
      "length filter must prune the size-skewed pair")
    assert(cands.contains((11L, 13L)), "the exact dup must survive pruning")
    // and the final output is STILL exactly the exhaustive join's
    val out = Dedup.prefixJaccardPairs(skew, "doc_id", "text",
        num = 1, den = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    val want = Dedup.ngramJaccardPairs(skew, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(out == want && out.contains((11L, 13L)))
  }

  test("sortedNeighborhoodPairs: adjacency by normalized key, exact window cost") {
    // normalized keys sort as: "aaa x1" (1), "aaa, X1!" (2 — formatting
    // collapses to the same prefix, tie-break id), "bbb" (3), "zzz" (4)
    val corpus = Seq(
      (1L, "aaa x1"), (2L, "aaa, X1!"), (3L, "bbb"), (4L, "zzz"))
      .toDF("doc_id", "text")
    val w2 = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
        window = 2)
      .as[(Long, Long, Long)].collect().toSet
    // window 2 = sort-adjacent only: exactly n-1 pairs, all gap 1
    assert(w2 == Set((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)))
    val w3 = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
        window = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(w3 == w2 ++ Set((1L, 3L, 2L), (2L, 4L, 2L)))
    // chunking must not change the rank: more chunks, same pairs — the
    // chunk is a prefix of the sort key, so ANY width yields the global
    // rank (the scale knob is pure parallelism, proven at 2 and 3)
    for (cc <- Seq(2, 3)) {
      val chunked = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
          window = 3, chunkChars = cc)
        .as[(Long, Long, Long)].collect().toSet
      assert(chunked == w3,
        s"two-phase rank at chunkChars=$cc must equal the single sort")
    }
    // NULL text is excluded EXPLICITLY (the pinned convention, mirrored
    // in the q190/q192 oracles): ranks are over non-null rows only —
    // before the explicit filter, a NULL row silently vanished from the
    // join but still shifted every real rank by one via the offsets
    // window, breaking the documented N·(window−1) cost accounting
    val withNull = corpus.union(Seq((99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val nulled = Dedup.sortedNeighborhoodPairs(withNull, "doc_id", "text",
        window = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(nulled == w3, "null-text rows must not rank, pair, or shift ranks")
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text", window = 1)
    }
  }

  test("knnEdges/mutualKnnEdges: ranks, asymmetric-link drop, bucket bound") {
    // all strictly-positive vectors share one 2-bit sign bucket (a zero
    // component would clear its sign bit and split the bucket)
    val vecs = Seq(
      (1L, Array(1.0f, 0.01f)),
      (2L, Array(0.98f, 0.2f)),   // nearest to 1
      (3L, Array(0.2f, 0.98f)),   // nearest to 4
      (4L, Array(0.01f, 1.0f)),
      (9L, Array(-1.0f, -1.0f))   // different bucket — no edges to others
    ).toDF("vec_id", "embedding")
    val knn = Dedup.knnEdges(vecs, "vec_id", "embedding", k = 1, nBits = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(knn == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L),
      "top-1 neighbors by cosine within the bucket")
    // k = 2: node 1's list is (2, then 3 or 4) — 2 must rank first
    val k2 = Dedup.knnEdges(vecs, "vec_id", "embedding", k = 2, nBits = 2)
      .filter($"src_id" === 1L).orderBy("rank")
      .as[(Long, Long, Long, Double)].collect().map(_._2).toSeq
    assert(k2.head == 2L && k2.size == 2)
    // mutual at k=1 keeps exactly the reciprocated pairs
    val mut = Dedup.mutualKnnEdges(vecs, "vec_id", "embedding",
        k = 1, nBits = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(mut == Set((1L, 2L), (3L, 4L)))
    // asymmetry drops: at k=1 node 2's top is 1, but make 2 the hub
    // target of 3 by shrinking the set — 3's top-1 becomes 2 while 2's
    // stays 1 → {2,3} must NOT survive mutuality
    val tri = Seq((1L, Array(1.0f, 0.05f)), (2L, Array(0.95f, 0.3f)),
      (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val triMut = Dedup.mutualKnnEdges(tri, "vec_id", "embedding",
        k = 1, nBits = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(triMut == Set((1L, 2L)),
      "the unreciprocated hub link must drop")
    intercept[IllegalArgumentException] {
      Dedup.knnEdges(vecs, "vec_id", "embedding", k = 0)
    }
  }

  test("clusterSplit: no pair ever crosses the split, singletons fall back") {
    val docs = (1L to 40L).toDF("doc_id")
    // chain clusters {1..4}, {10,11}, everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.clusterSplit(docs, "doc_id", pairs)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 40)
    // whole cluster shares one rep and one side — the leakage guarantee
    Seq(Seq(1L, 2L, 3L, 4L), Seq(10L, 11L)).foreach { cl =>
      assert(cl.map(got(_)).distinct.size == 1,
        s"cluster $cl must share rep and split")
      assert(got(cl.head)._1 == cl.min, "rep is the cluster min id")
    }
    // singletons are their own rep
    assert(got(25L)._1 == 25L)
    // both sides are populated at an 80/20 residue rule over 36 clusters
    val sides = got.values.map(_._2).toSet
    assert(sides == Set("train", "test"))
    intercept[IllegalArgumentException] {
      Dedup.clusterSplit(Seq("a").toDF("doc_id"), "doc_id", pairs)
    }
  }

  test("incomingNearDups: stored-band probe, cross jaccard, same-id, hot cap") {
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val corpus = Seq(
      (1L, words("alpha", 20)),
      (2L, words("beta", 20)),
      (3L, words("gamma", 20))).toDF("doc_id", "text")
    val bands = Dedup.bandKeys(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 8),
      "doc_id", 8, 2)
    // batch: a near-copy of doc 1 (two appended tokens), an update of
    // doc 2 under ITS OWN id, and an unrelated doc
    val batch = Seq(
      (100L, words("alpha", 20) + " x y"),
      (2L, words("beta", 20) + " z"),
      (9L, words("omega", 20))).toDF("doc_id", "text")
    val got = Dedup.incomingNearDups(bands, corpus, batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // 20 words → 16 shingles; +2 tokens → 18, all 16 shared: J = 16/18
    assert(got.keySet == Set((100L, 1L), (2L, 2L)),
      s"expected the near-copy and the same-id update, got ${got.keySet}")
    assert(math.abs(got((100L, 1L)) - 16.0 / 18.0) < 1e-12)
    // +1 token → 17 shingles, 16 shared: J = 16/17
    assert(math.abs(got((2L, 2L)) - 16.0 / 17.0) < 1e-12)
    // hot-bucket cap: 4 identical corpus docs share every band key; at
    // maxBucketSize = 3 the key drops and an arriving copy finds nothing
    val hot = (10L to 13L).map(i => (i, words("dup", 20))).toDF("doc_id", "text")
    val hotBands = Dedup.bandKeys(
      Dedup.minhashSignatures(hot, "doc_id", "text", 5, 8),
      "doc_id", 8, 2)
    val probe = Seq((99L, words("dup", 20))).toDF("doc_id", "text")
    assert(Dedup.incomingNearDups(hotBands, hot, probe, "doc_id", "text",
      maxBucketSize = 3).isEmpty, "capped bucket must emit no candidates")
    assert(Dedup.incomingNearDups(hotBands, hot, probe, "doc_id", "text",
      maxBucketSize = 4).count() == 4L, "under the cap all four pair up")
  }

  test("incomingNearDups: materialized screen ≡ lazy plan-inspection path") {
    // the materialized path checkpoints the candidate pairs and the
    // corpus-side candidate shingles (r17: the banded probe re-ran 3x and
    // the corpus re-tokenized 2x per screened batch without this) — the
    // seams are cost-only, so both paths must emit identical rows
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val corpus = (1L to 8L).map(i =>
      (i, words(s"w${i % 3}", 20))).toDF("doc_id", "text")
    val bands = Dedup.bandKeys(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 8),
      "doc_id", 8, 2)
    val batch = Seq(
      (100L, words("w1", 20) + " x"),
      (101L, words("w2", 20)),
      (102L, words("fresh", 20))).toDF("doc_id", "text")
    def rows(materialize: Boolean) =
      Dedup.incomingNearDups(bands, corpus, batch, "doc_id", "text",
          threshold = 0.3, materialize = materialize)
        .orderBy("a_id", "b_id")
        .as[(Long, Long, Double)].collect().toSeq
    val eager = rows(materialize = true)
    assert(eager.nonEmpty)
    assert(eager === rows(materialize = false))
  }

  test("incomingNearDups: empty and non-empty screens emit ONE schema") {
    // the empty-candidates fast path must be schema-identical (names,
    // types, nullability) to the verified path — a path-dependent schema
    // breaks unionByName across screened batches and strict encoder reuse
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val corpus = (1L to 8L).map(i =>
      (i, words(s"w${i % 3}", 20))).toDF("doc_id", "text")
    val bands = Dedup.bandKeys(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 8),
      "doc_id", 8, 2)
    val hit = Seq((100L, words("w1", 20))).toDF("doc_id", "text")
    val miss = Seq((200L, words("zz", 20))).toDF("doc_id", "text")
    val hitOut = Dedup.incomingNearDups(bands, corpus, hit,
      "doc_id", "text", threshold = 0.3)
    val missOut = Dedup.incomingNearDups(bands, corpus, miss,
      "doc_id", "text", threshold = 0.3)
    assert(hitOut.count() > 0 && missOut.count() == 0)
    assert(missOut.schema === hitOut.schema,
      s"path-dependent screen schema: ${missOut.schema.treeString} vs " +
        hitOut.schema.treeString)
  }

  // The pre-kernel signature formula, kept as the reference the kernel
  // must reproduce: explode the distinct shingles, one md5 each, and
  // group them back per document to the min of each 4-hex chunk.
  private def refSignatures(df: org.apache.spark.sql.DataFrame, n: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    val hashed = Dedup.explodeShingles(df, "doc_id", "text", n)
      .withColumn("__h", md5(col("shingle")))
    val mins = (0 until k).map(s =>
      min(substring(col("__h"), s * 4 + 1, 4)).as(s"mh$s"))
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("minhash signature kernel equals the explode/md5/groupBy formula, codegen and interpreted") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val fixed = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "café au lait café noir café crème café au lait",
      "日本語 の テキスト 処理 日本語 の テキスト 処理 です",
      "𝄞 music 😀 smile 𝄞 music 😀 smile 𝄞",
      // every byte Java's \s matches separates; runs collapse
      "a\tb\nc\u000Bd\fe\rf  g \t\n h",
      // U+00A0 is NOT a separator: "a\u00A0b" is one token
      "a\u00A0b c\u00A0d e f g\u00A0h",
      "  leading and trailing whitespace around the words  ",
      "x x x x x x x x",
      "", "   ", null)
    val modes = Seq(
      "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false"),
      "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for (n <- Seq(1, 3, 5)) {
      // exactly n−1 tokens (no signature) and exactly n (one shingle)
      val texts = fixed ++ Seq(words(n - 1), words(n), words(n) + "\t")
      // an RDD-backed frame: a local relation would be folded by the
      // optimizer's interpreted projection and never reach codegen
      val df = spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2)
        .toDF("doc_id", "text")
      for ((mode, conf) <- modes; k <- Seq(1, 4, 8)) withConf(conf: _*) {
        val got = Dedup.minhashSignatures(df, "doc_id", "text", n, k)
        val rows = got.collect()
        // the final adaptive plan marks whole-stage-codegen'd operators *(n)
        val plan = got.queryExecution.executedPlan.toString
        assert(plan.contains("*(") == (mode == "CODEGEN_ONLY"),
          s"$mode picked the wrong evaluation path:\n$plan")
        def byId(rs: Array[org.apache.spark.sql.Row]) =
          rs.map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
        val want = byId(refSignatures(df, n, k).collect())
        assert(got.columns.toSeq == "doc_id" +: (0 until k).map(s => s"mh$s"))
        assert(byId(rows) == want, s"$mode n=$n k=$k")
        // one row per qualifying document; the short ones, empty and null get none
        assert(rows.length == want.size)
        assert(!want.contains(texts.indexOf(words(n - 1)).toLong))
        assert(want.contains(texts.indexOf(words(n)).toLong))
      }
    }
  }

  test("minhash signature kernel: text that is not valid UTF-8 tokenizes like the regex path") {
    // a lone continuation byte, a truncated lead byte and an encoded
    // surrogate, around ASCII separators
    val df = Seq(
      (1L, "80 61 62 20 63 c3 20 64 65 0a ed a0 80 66 20 67 68"),
      (2L, "ff fe 20 61 20 62 09 63 20 e2 82 20 64 20 65"))
      .toDF("doc_id", "hex")
      .select(col("doc_id"),
        unhex(regexp_replace(col("hex"), " ", "")).cast("string").as("text"))
    for (n <- Seq(1, 3)) {
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
      val want = rows(refSignatures(df, n, 8))
      assert(want.nonEmpty)
      assert(rows(Dedup.minhashSignatures(df, "doc_id", "text", n, 8)) == want, s"n=$n")
    }
  }

  test("minhash signature plan: one per-row kernel, no generator, no per-document shuffle") {
    val corpus = graft.Tables.documents(spark, TestSpark.sf)
    val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 8)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"signatures must not explode shingles into rows:\n$plan")
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"signatures must not shuffle shingles back to their document:\n$plan")
    val exprs = sig.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
    def count(name: String) =
      exprs.map(_.collect { case e if e.getClass.getSimpleName == name => e }.size).sum
    assert(count("MinhashSignature") == 1,
      s"the kernel must be evaluated once per row:\n${sig.queryExecution.optimizedPlan}")
    assert(count("Md5") == 0)
  }

  test("minhash signature kernel rejects out-of-range parameters") {
    intercept[IllegalArgumentException](Dedup.minhashSignatures(docs, "doc_id", "text", 0, 8))
    intercept[IllegalArgumentException](Dedup.minhashSignatures(docs, "doc_id", "text", 5, 9))
    intercept[IllegalArgumentException](Dedup.minhashSignatures(docs, "doc_id", "text", 5, 0))
  }
}
