package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis column builders for corpus curation: token counting,
  * quality scoring, language identification, and content fingerprinting.
  * All pure codegen'd column expressions — they run inside the scan at any
  * scale, and every one is reproducible in plain SQL (see TextQueries'
  * oracles).
  */
object TextAnalysis {

  /** Whitespace-delimited token count. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("long")

  /** BPE-ish subword count: alphabetic chunks of ≤4 chars + every
    * non-alpha, non-space symbol counts as one piece — a cheap, stable
    * proxy for tokenizer budget at corpus scale.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** ALL word n-grams of `text` (with repeats — the distinct set is
    * [[Dedup.wordShingles]]'s job). Empty array under n tokens; the
    * explicit guard matters because `sequence(1, 0)` counts DOWN.
    */
  def wordNgrams(text: Column, n: Int): Column =
    ngramsFromTokens(regexp_extract_all(text, lit("\\S+"), lit(0)), n)

  /** N-grams from an ALREADY-TOKENIZED array column. Callers that explode
    * the result should materialize the token array in a projection first
    * ([[graft.operators.Dedup.explodeShingles]] does): the expression
    * references its input three times, and a generator re-evaluates its
    * input per reference — with the regex inlined that is 3× the
    * tokenization cost per row.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    when(cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), cnt),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Fraction of n-gram occurrences that repeat an earlier occurrence
    * within the SAME document — the intra-document repetition signal of
    * published quality-filter rule sets (looping generations, boilerplate,
    * scraped nav bars all score high). `1 − distinct/total`; 0.0 for docs
    * under n tokens. Pure codegen column math over one token array.
    */
  def duplicateNgramFrac(text: Column, n: Int): Column = {
    val grams = wordNgrams(text, n)
    val total = size(grams)
    when(total <= 0, 0.0).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") / total)
  }

  /** The FULL Gopher repetition table (Rae et al. 2021, Table A1) as one
    * document-grain frame — the within-document repetition signals a
    * curation pipeline cuts on, beyond [[gopherQuality]]'s single 2-gram
    * flag: fraction of characters in the most frequent word {2,3,4}-gram
    * and in duplicated word {5..10}-grams, plus duplicate-LINE fraction
    * and duplicate-line character fraction. Definitions (mirrored exactly
    * by the q166 oracle; they deviate from the paper only where the paper
    * is ambiguous):
    *   - tokens: `\S+` over the lowercased text; an n-gram's character
    *     length is the sum of its token lengths (inner joins excluded);
    *     the denominator is the document's non-whitespace character count.
    *   - top-n fraction: occurrences × char-length of THE most frequent
    *     n-gram (ties: highest count, then lexicographically greatest
    *     gram — `max(struct(count, gram))` ≡ `ORDER BY c DESC, gram DESC`).
    *   - dup-n fraction: Σ over n-grams seen c ≥ 2 times of
    *     (c − 1) × char-length (occurrences beyond the first; overlapping
    *     spans are NOT unioned — each repeat occurrence counts its full
    *     length).
    *   - lines: newline-split, trimmed, empties dropped; dup_line_frac =
    *     (lines − distinct lines)/lines, dup_line_char_frac counts the
    *     characters of occurrences beyond each line's first.
    * Every fraction is a SINGLE division of exact integer counts —
    * engine-exact with no rounding (the q120 doctrine) — and every
    * threshold flag compares those exact doubles, so the keep verdict can
    * never disagree across engines. Thresholds are the paper's: top-n ≤
    * {0.20, 0.18, 0.16}, dup-n ≤ {0.15, 0.14, 0.13, 0.12, 0.11, 0.10},
    * dup-line ≤ 0.30, dup-line-chars ≤ 0.20.
    *
    * Scale shape: ONE explode over (n, gram) pairs for all nine n values
    * → a (doc, n, gram) count table with map-side partial counts → a
    * doc-grain conditional aggregation; the line stats are a second,
    * far smaller explode. Everything keyed by doc id — no global state,
    * no window wider than a document's grams.
    */
  // the Gopher Table A1 thresholds, shared by both repetition variants
  private val topNs = Seq(2, 3, 4)
  private val dupNs = Seq(5, 6, 7, 8, 9, 10)
  private val topThresh = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val dupThresh = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
    9 -> 0.11, 10 -> 0.10)

  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val allNs = topNs ++ dupNs
    val base = df.select(col(idCol),
        regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0))
          .as("__toks"),
        length(regexp_replace(col(textCol), "\\s+", "")).cast("long")
          .as("__chars"),
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= "").as("__lines"))
    // one generator for every n: (n, gram) structs, flattened
    val entries = flatten(array(allNs.map { n =>
      transform(ngramsFromTokens(col("__toks"), n),
        g => struct(lit(n).as("n"), g.as("gram")))
    }: _*))
    // explode_outer + null filter, NOT explode: InferFiltersFromGenerate
    // would re-plant `size(entries) > 0` at the scan with the whole
    // 9-way tokenization chain inlined (the q119 winnowing lesson)
    val gramCounts = base
      .select(col(idCol), explode_outer(entries).as("e"))
      .filter(col("e").isNotNull)
      .select(col(idCol), col("e.n").as("n"), col("e.gram").as("gram"))
      .groupBy(idCol, "n", "gram").agg(count(lit(1)).as("c"))
      // char length of the gram = total length minus the n−1 joiners
      .withColumn("__len", (length(col("gram")) - (col("n") - 1)).cast("long"))
    val aggs = topNs.map { n =>
      // the winner rides as (count, gram): struct max = highest count,
      // then lexicographically greatest gram — the documented tie-break
      max(when(col("n") === n, struct(col("c"), col("gram"))))
        .as(s"__top$n")
    } ++ dupNs.map { n =>
      sum(when(col("n") === n && col("c") >= 2,
        (col("c") - 1) * col("__len")).otherwise(0L)).as(s"__dup$n")
    }
    val perDoc = gramCounts.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val lineCounts = base
      .select(col(idCol), explode_outer(col("__lines")).as("__line"))
      .filter(col("__line").isNotNull)
      .groupBy(idCol, "__line").agg(count(lit(1)).as("lc"))
      .groupBy(idCol).agg(
        sum("lc").as("__nlines"),
        sum(col("lc") * length(col("__line"))).as("__linechars"),
        sum(col("lc") - 1).as("__duplines"),
        sum((col("lc") - 1) * length(col("__line"))).as("__duplinechars"))
    def frac(num: Column, den: Column): Column =
      when(den.isNull || den === 0L || num.isNull, lit(0.0))
        .otherwise(num.cast("double") / den)
    val joined = base.select(col(idCol), col("__chars"))
      .join(perDoc, Seq(idCol), "left")
      .join(lineCounts, Seq(idCol), "left")
    val topFracs = topNs.map { n =>
      val gramLen = (length(col(s"__top$n.gram")) - (n - 1)).cast("long")
      frac(col(s"__top$n.c") * gramLen, col("__chars"))
        .as(s"top${n}_frac")
    }
    val dupFracs = dupNs.map { n =>
      frac(col(s"__dup$n"), col("__chars")).as(s"dup${n}_frac")
    }
    val lineFracs = Seq(
      frac(col("__duplines"), col("__nlines")).as("dup_line_frac"),
      frac(col("__duplinechars"), col("__linechars"))
        .as("dup_line_char_frac"))
    val withFracs = joined.select(
      col(idCol) +: (topFracs ++ dupFracs ++ lineFracs): _*)
    val keep = (topNs.map(n => col(s"top${n}_frac") <= topThresh(n)) ++
      dupNs.map(n => col(s"dup${n}_frac") <= dupThresh(n)) ++
      Seq(col("dup_line_frac") <= 0.30, col("dup_line_char_frac") <= 0.20))
      .reduce(_ && _)
    withFracs.withColumn("keep", keep)
  }

  /** [[repetitionStats]] as PURE PER-ROW column math — the streaming
    * form. The batch operator chains two aggregations (gram counts →
    * doc roll-up), which Structured Streaming cannot run in append mode;
    * but every statistic is a function of the single document, so the
    * stateless reformulation counts each distinct gram with a
    * higher-order filter over the doc's own gram array and folds the
    * duplicate-char sums with `aggregate` — zero shuffle, zero state,
    * identical output row for row (spec-pinned, and q167 reuses q166's
    * oracle text verbatim — the q102 → q96 stateless-gate pattern).
    *
    * The per-row gram counting is a SORT + one linear run-length fold
    * per n (r18: was a higher-order filter scan per distinct gram —
    * O(distinct × total) string compares; the sorted fold is
    * O(total log total) compares and emits the identical (count, gram)
    * extremum and duplicate-char sum, since each run of the sorted
    * array IS one distinct gram's exact occurrence count, the best-run
    * struct comparison is the same (c, gram) ordering array_max used,
    * and every quantity stays exact-integer). The regime knob is DOC
    * LENGTH, not corpus size — per-row cost is near-linearithmic in a
    * document's tokens and independent of how many documents surround
    * it. Measured (round-11 A/B, sf0.01 + sf0.1 interleaved min-rep,
    * BENCH_ADJUDICATION_r11.md): 0.81–0.93× of [[repetitionStats]] for
    * the quadratic form already;
    * the sorted fold only widens that — this form is the batch default
    * too (q166). Tie-breaks, divisions, and thresholds are the same
    * exact-integer arithmetic, so stream and batch can never disagree
    * on a keep verdict.
    */
  def repetitionStatsStateless(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den.isNull || den === 0L || num.isNull, lit(0.0))
        .otherwise(num.cast("double") / den)
    // materialize the token array and the line arrays in their OWN
    // projections: each is referenced per element by a downstream lambda
    // (the ngramsFromTokens / q90 re-evaluation lesson). Each __r$n
    // roll-up is likewise its own projection — the top/dup fracs below
    // reference it 3× and CollapseProject keeps the alias.
    var out = df
      .withColumn("__toks",
        regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)))
      .withColumn("__chars",
        length(regexp_replace(col(textCol), "\\s+", "")).cast("long"))
      .withColumn("__lines",
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= ""))
      .withColumn("__dlines", array_distinct(col("__lines")))
    topNs.foreach { n =>
      out = out.withColumn(s"__r$n", topRunStats(col("__toks"), n))
    }
    dupNs.foreach { n =>
      out = out.withColumn(s"__r$n", dupRunStats(col("__toks"), n))
    }
    val topFracs = topNs.map { n =>
      val r = col(s"__r$n")
      val gramLen = (length(r.getField("gram")) - (n - 1)).cast("long")
      frac(r.getField("c") * gramLen, col("__chars")).as(s"top${n}_frac")
    }
    val dupFracs = dupNs.map { n =>
      frac(col(s"__r$n"), col("__chars")).as(s"dup${n}_frac")
    }
    val nLines = size(col("__lines")).cast("long")
    val dupLines = nLines - size(col("__dlines")).cast("long")
    val lineChars = aggregate(col("__lines"), lit(0L),
      (acc, l) => acc + length(l).cast("long"))
    val dupLineChars = lineChars - aggregate(col("__dlines"), lit(0L),
      (acc, l) => acc + length(l).cast("long"))
    val lineFracs = Seq(
      frac(dupLines, when(nLines === 0, lit(null)).otherwise(nLines))
        .as("dup_line_frac"),
      frac(dupLineChars, when(lineChars === 0, lit(null)).otherwise(lineChars))
        .as("dup_line_char_frac"))
    val withFracs = out.select(
      col(idCol) +: (topFracs ++ dupFracs ++ lineFracs): _*)
    val keep = (topNs.map(n => col(s"top${n}_frac") <= topThresh(n)) ++
      dupNs.map(n => col(s"dup${n}_frac") <= dupThresh(n)) ++
      Seq(col("dup_line_frac") <= 0.30, col("dup_line_char_frac") <= 0.20))
      .reduce(_ && _)
    withFracs.withColumn("keep", keep)
  }

  /** Per-document top-gram roll-up as a sorted run-length fold: sort the
    * gram array, walk it once tracking the current run (gram, count),
    * and finalize each run into the best (count, gram) struct —
    * `greatest` on the struct is exactly the (c desc, gram desc)
    * tie-break `array_max(struct(c, gram))` and the grouped
    * `max(struct)` use. O(L log L) string compares instead of the
    * O(distinct × L) per-distinct filter scan. All lambda inputs are
    * bound variables (acc, x) — no outer-expression re-evaluation.
    * Empty gram arrays (docs under n tokens) yield (c=0, gram=null),
    * which the frac guards map to 0.0 exactly as the previous
    * array_max-of-empty → null did. The `x === prev` branch is tested
    * first (null-safe: the first element sees prev = null → falls
    * through to the cnt = 0 branch).
    */
  private def topRunStats(toks: Column, n: Int): Column = {
    val grams = array_sort(ngramsFromTokens(toks, n))
    val zero = struct(
      lit(null).cast("string").as("prev"),
      lit(0L).as("cnt"),
      struct(lit(0L).as("c"), lit(null).cast("string").as("gram"))
        .as("best"))
    def runStruct(cnt: Column, prev: Column): Column =
      struct(cnt.as("c"), prev.as("gram"))
    aggregate(grams, zero,
      (acc, x) => {
        val prev = acc.getField("prev")
        val cnt = acc.getField("cnt")
        when(x === prev, struct(prev.as("prev"), (cnt + 1L).as("cnt"),
            acc.getField("best").as("best")))
          .when(cnt === 0L, struct(x.as("prev"), lit(1L).as("cnt"),
            acc.getField("best").as("best")))
          .otherwise(struct(x.as("prev"), lit(1L).as("cnt"),
            greatest(acc.getField("best"), runStruct(cnt, prev)).as("best")))
      },
      acc => {
        val prev = acc.getField("prev")
        val cnt = acc.getField("cnt")
        // finalize the last run; empty input keeps the (0, null) zero,
        // which can never beat a real run (every run has c ≥ 1)
        when(cnt === 0L, acc.getField("best"))
          .otherwise(greatest(acc.getField("best"), runStruct(cnt, prev)))
      })
  }

  /** The duplicate-char half of the roll-up alone (n ∈ dupNs never needs
    * the best-gram struct): same sorted run walk, scalar accumulator
    * fields only.
    */
  private def dupRunStats(toks: Column, n: Int): Column = {
    val grams = array_sort(ngramsFromTokens(toks, n))
    val zero = struct(
      lit(null).cast("string").as("prev"),
      lit(0L).as("cnt"),
      lit(0L).as("dup"))
    // chars the finished run (cnt × prev) adds to the duplicate sum
    def dupAdd(cnt: Column, prev: Column): Column =
      when(cnt >= 2L,
        (cnt - 1L) * (length(prev) - (n - 1)).cast("long")).otherwise(0L)
    aggregate(grams, zero,
      (acc, x) => {
        val prev = acc.getField("prev")
        val cnt = acc.getField("cnt")
        when(x === prev, struct(prev.as("prev"), (cnt + 1L).as("cnt"),
            acc.getField("dup").as("dup")))
          .when(cnt === 0L, struct(x.as("prev"), lit(1L).as("cnt"),
            acc.getField("dup").as("dup")))
          .otherwise(struct(x.as("prev"), lit(1L).as("cnt"),
            (acc.getField("dup") + dupAdd(cnt, prev)).as("dup")))
      },
      acc => acc.getField("dup") +
        dupAdd(acc.getField("cnt"), acc.getField("prev")))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every `k`-char gram,
    * take the minimum hash of each `w`-wide window, distinct the minima.
    * Guarantees at least one shared fingerprint for any shared substring
    * of length ≥ k + w − 1, at ~1/w the storage of the full hash list —
    * the partial-overlap detector that whole-document fingerprints
    * ([[fingerprint]]) can't provide. Pure column math; hashes are md5
    * prefixes so any SQL engine recomputes the exact set (window minima
    * compare lexicographically, deterministic both sides).
    */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    winnowFromHashes(kgramHashes(text, k), w)

  /** The hash array of every `k`-char gram of `text` (md5 prefixes —
    * engine-reproducible). AT SCALE, MATERIALIZE THIS IN ITS OWN
    * PROJECTION before winnowing (q90 does): [[winnowFromHashes]]'s
    * window lambda references its input array per window, and a
    * higher-order function re-evaluates a nested expression per element —
    * inlining this transform there is O(n²) md5 calls per document.
    * [[winnowingFingerprints]] is the nested convenience form for small
    * inputs and tests only.
    */
  def kgramHashes(text: Column, k: Int): Column = {
    require(k >= 1, s"k must be positive, got $k")
    val n = length(text) - (k - 1)
    when(n <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), n),
        i => substring(md5(text.substr(i, lit(k))), 1, 8)))
  }

  /** Distinct per-window minima over an ALREADY-MATERIALIZED gram-hash
    * array column — linear in the hash count.
    */
  def winnowFromHashes(hashes: Column, w: Int): Column = {
    require(w >= 1, s"w must be positive, got $w")
    val nw = size(hashes) - (w - 1)
    when(nw <= 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), nw),
        j => array_min(slice(hashes, j, lit(w))))))
  }

  /** Fraction of characters that are not alphanumeric/whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("double")
        / length(text))

  /** Fraction of tokens that are (English) stopwords — corpus-quality
    * heuristic; the stopword list is deliberately tiny and frozen since the
    * score only needs to be monotone in "natural prose-ness".
    */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  def stopwordRatio(text: Column): Column =
    stopwordRatioFromToks(regexp_extract_all(lower(text), lit("\\S+"), lit(0)))

  /** The same ratio over an ALREADY-TOKENIZED lowercased array — the
    * single source of the stopword math, so a caller that materializes
    * the token array once (the attrs tagger) cannot de-sync from this
    * definition.
    */
  def stopwordRatioFromToks(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks))

  /** Composite quality score in [0,1]: length-fit × (1 - punct noise) with a
    * stopword-presence bonus. Deliberately simple + frozen: the value is
    * that it is deterministic and monotone, not that it is clever.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(text, punctRatio(text), stopwordRatio(text))

  /** The same formula over pre-materialized ratio columns — the single
    * source of the constants, so callers that compute the ratios once (to
    * avoid re-deriving the regexps per output column) can't de-sync from
    * this definition.
    */
  def qualityScoreFrom(text: Column, punct: Column, stop: Column): Column = {
    val lenFit = least(length(text).cast("double") / 200.0, lit(1.0))
    least(greatest(lenFit * (lit(1.0) - punct) * (lit(0.5) + stop), lit(0.0)), lit(1.0))
  }

  /** Readability scoring — Flesch Reading Ease (Flesch 1948) and the
    * Flesch–Kincaid grade level (Kincaid et al. 1975), the length-class
    * quality signals corpus pipelines bucket prose by (alongside the
    * Gopher rules' ratios): both are fixed linear forms over
    * words-per-sentence and syllables-per-word.
    *
    * Engine-replayable definitions (the heuristics themselves, pinned):
    *  - words: `[a-z]+` runs of the lowercased text (numbers carry no
    *    syllables, so the word list is alphabetic-only);
    *  - sentences: `[.!?]+` terminator runs, floored at 1 (a fragment is
    *    one sentence);
    *  - syllables per word: `[aeiouy]+` vowel-group runs, floored at 1
    *    (the standard one-pass approximation — no silent-e handling,
    *    deliberately, so SQL replays it verbatim).
    *
    * Determinism: word/sentence/syllable totals are exact integer sums
    * (the syllable fold adds bounded ints — no float accumulation);
    * W/S and Syl/W are single exact-integer divisions; the two linear
    * forms are fixed-order chains over those with the coefficients
    * written as literals on BOTH sides (never pre-folded — the q136
    * doctrine). Wordless docs emit NULL scores rather than a division
    * by zero. One projection, no shuffle — pure codegen column math.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))
    val out = df
      .select(col(idCol), col(textCol).as("__t"), words.as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_sents",
        greatest(lit(1L),
          size(regexp_extract_all(col("__t"), lit("[.!?]+"), lit(0)))
            .cast("long")))
      .withColumn("n_syll", aggregate(col("__w"), lit(0L),
        (acc, w) => acc + greatest(lit(1),
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))).cast("long")))
    val ws = col("n_words").cast("double") / col("n_sents")
    val sw = col("n_syll").cast("double") / col("n_words")
    out
      .withColumn("fk_grade", when(col("n_words") === 0L, lit(null)
          .cast("double"))
        .otherwise(lit(0.39) * ws + lit(11.8) * sw - lit(15.59)))
      .withColumn("reading_ease", when(col("n_words") === 0L, lit(null)
          .cast("double"))
        .otherwise(lit(206.835) - lit(1.015) * ws - lit(84.6) * sw))
      .select(col(idCol), col("n_words"), col("n_sents"), col("n_syll"),
        col("fk_grade"), col("reading_ease"))
  }

  /** MATTR — moving-average type-token ratio (Covington & McFall 2010),
    * the length-robust lexical-diversity score: plain TTR (types/tokens)
    * falls with document length by Heaps' law, so corpora can't be
    * compared on it; MATTR slides a fixed `window` over the token stream
    * and averages the per-window TTR, making the score length-invariant.
    * The quality-filtering signal beside the Gopher repetition table:
    * low MATTR = templated/looping text even when no single n-gram
    * repeats enough to trip the duplicate-gram fractions.
    *
    * Determinism (the q120 doctrine): every per-window distinct count is
    * an exact integer; their sum over windows is exact-integer; mattr =
    * d_sum / (n_windows · window) is ONE division of exact integers —
    * engine-exact, NO rounding anywhere. Docs shorter than the window
    * fall back to whole-doc TTR (d_sum = distinct types, n_windows = 0
    * flags the fallback); empty docs emit NULL.
    *
    * Scale shape: pure per-row column math over a SELF-materialized
    * token array (the round-4 HOF rule — the window transform references
    * the array n times, so it gets its own projection) — zero shuffle,
    * embarrassingly parallel, and the SAME body runs unchanged on a
    * streaming frame (the q245/q252 stream-twin shape). Per-row cost is
    * O(n · window); window is a constant.
    */
  def mattr(df: DataFrame, idCol: String, textCol: String,
      window: Int = 25): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val toks = df.select(col(idCol),
      normalizedTokens(col(textCol)).as("__toks"))
    toks
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        when(col("n_tokens") >= window,
            aggregate(
              transform(
                sequence(lit(1), col("n_tokens").cast("int") - (window - 1)),
                i => size(array_distinct(
                    slice(col("__toks"), i, lit(window)))).cast("long")),
              lit(0L), (acc, x) => acc + x))
          .otherwise(size(array_distinct(col("__toks"))).cast("long"))
          .as("d_sum"),
        when(col("n_tokens") >= window, col("n_tokens") - (window - 1))
          .otherwise(lit(0L)).as("n_windows"))
      .withColumn("mattr",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .when(col("n_windows") > 0L,
            col("d_sum") / (col("n_windows") * window))
          .otherwise(col("d_sum") / col("n_tokens")))
  }

  /** TextRank extractive summarization (Mihalcea & Tarau 2004): rank
    * each document's sentences by weighted PageRank over the sentence-
    * similarity graph and emit the top sentence — the model-free
    * summary/teaser extractor of a curation pipeline (and the
    * text-side sibling of the dedup-cluster representative picks:
    * q177 chooses among DOCUMENTS, this chooses within one).
    *
    * Sentences split on `[.!?]+` runs at their original positions (the
    * [[readability]] convention); a sentence participates iff it has
    * ≥ 1 distinct `[a-z0-9]+` word; positions ≥ `maxSents` are dropped
    * (the hot-cell rule — the per-doc pair enumeration is quadratic in
    * sentence count, so it is CAPPED, mirrored by any oracle).
    * Similarity = Jaccard of the distinct word sets, computed as
    * i / (na + nb − i) — exact integers, ONE division (the ln-free
    * variant of the paper's overlap/log-length weight, chosen because
    * it is engine-exact).
    *
    * Weighted PageRank, the q177 exactness scheme per doc:
    * out-weight sums round once (+1e-15, `scaleDigits`); each edge's
    * normalized weight w/W is then a bit-identical single division;
    * per round r'(i) = round((1−d)/n + d·Σ enorm·r(j) + 1e-15, ·) —
    * only the accumulation points ever round, both engines re-enter
    * every round bit-identical. Sentences with no edges keep base
    * rank (still summarizable: a one-sentence doc emits it).
    *
    * Scale shape: everything is keyed by (doc, sentence) — the pair
    * join, the per-round contribution join+sum, and the final
    * per-doc argmax window are all doc-partitioned with `maxSents`-
    * bounded cells; the loop keeps the [[Graph.pageRank]] checkpoint
    * discipline.
    *
    * Output: (idCol, sent_idx, rank, sent) — one row per document
    * with ≥ 1 eligible sentence; ties break to the EARLIEST sentence.
    */
  def textRankSummary(df: DataFrame, idCol: String, textCol: String,
      iters: Int = 5, damping: Double = 0.85, maxSents: Int = 64,
      scaleDigits: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    require(maxSents >= 1, s"maxSents must be >= 1, got $maxSents")
    // let-binding idiom: evaluate `bound` ONCE per row, reference it as a
    // lambda variable in `body` — HOF lambda variables are runtime VALUES,
    // so this is immune to the q90/q119 CollapseProject-inlining
    // re-evaluation trap without any checkpoint barrier.
    def let(bound: Column, body: Column => Column): Column =
      element_at(transform(array(bound), v => body(v)), 1)
    val sentsRaw = df
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), "[.!?]+")).as(Seq("sidx", "__s")))
      .filter(col("sidx") < maxSents)
      .select(col("doc"), col("sidx").cast("long").as("sidx"),
        trim(col("__s")).as("sent"),
        array_distinct(regexp_extract_all(lower(col("__s")),
          lit("[a-z0-9]+"), lit(0))).as("__w"))
      .filter(size(col("__w")) >= 1)
    // ONE aggregation per doc; the graph build, all `iters` PageRank
    // rounds, and the argmax are per-row HOF math over maxSents-bounded
    // arrays (the per-position joins + per-round driver loop of the
    // original shape paid ~3·iters shuffles and checkpoints; this is one
    // shuffle total). Every float op keeps the identical structural
    // order — Jaccard is the same single division of exact integers,
    // out-weight sums and per-round ranks round at the same points
    // (+1e-15, scaleDigits) where the q177 scheme already makes
    // accumulation order immaterial — so ranks are value-identical to
    // the joined form and the oracle's unrolled rounds replay unchanged.
    val perDoc = sentsRaw.groupBy(col("doc"))
      .agg(array_sort(collect_list(
        struct(col("sidx"), col("sent"), col("__w")))).as("__ss"))
    val n = size(col("__ss"))
    def sAt(i: Column) = element_at(col("__ss"), i + 1)
    // undirected pairs (i, j < i ... i < j) with ≥ 1 shared word;
    // w = |∩| / (|a| + |b| − |∩|) — exact integers, one division
    val prExpr = filter(
      when(n >= 2,
        flatten(transform(sequence(lit(0), n - 2), i =>
          transform(sequence(i + 1, n - 1), j =>
            let(size(array_intersect(sAt(i).getField("__w"),
                sAt(j).getField("__w"))).cast("long"), ix =>
              struct(i.as("i"), j.as("j"),
                (ix.cast("double") /
                  ((size(sAt(i).getField("__w")) +
                    size(sAt(j).getField("__w"))).cast("long") - ix))
                  .as("w"),
                ix.as("ix")))))))
        .otherwise(array().cast(
          "array<struct<i:int,j:int,w:double,ix:bigint>>")),
      p => p.getField("ix") >= 1)
    // per node: rounded out-weight sum, then incoming (source, w/ws(src))
    def wsExpr(pr: Column): Column =
      transform(sequence(lit(0), n - 1), k =>
        round(aggregate(
          filter(pr, p => p.getField("i") === k || p.getField("j") === k),
          lit(0.0), (acc, p) => acc + p.getField("w")) + lit(1e-15),
          scaleDigits))
    def adjExpr(pr: Column, ws: Column): Column =
      transform(sequence(lit(0), n - 1), k =>
        transform(
          filter(pr, p => p.getField("i") === k || p.getField("j") === k),
          p => let(when(p.getField("i") === k, p.getField("j"))
              .otherwise(p.getField("i")), other =>
            struct(other.as("o"),
              (p.getField("w") / element_at(ws, other + 1)).as("en")))))
    val ranksExpr = let(prExpr, pr => let(wsExpr(pr), ws =>
      let(adjExpr(pr, ws), adj =>
        aggregate(sequence(lit(1), lit(iters)),
          transform(sequence(lit(1), n), _ => lit(1.0) / n),
          (r, _) => transform(sequence(lit(0), n - 1), k =>
            round((lit(1.0) - damping) / n +
              lit(damping) * aggregate(element_at(adj, k + 1), lit(0.0),
                (acc, a) => acc + a.getField("en") *
                  element_at(r, a.getField("o") + 1)) + lit(1e-15),
              scaleDigits))))))
    val bestExpr = let(col("__r"), r => array_max(
      transform(sequence(lit(0), n - 1), k =>
        struct(element_at(r, k + 1).as("rank"),
          (-sAt(k).getField("sidx")).as("negidx"),
          sAt(k).getField("sidx").as("sidx"),
          sAt(k).getField("sent").as("sent")))))
    perDoc
      .withColumn("__r", ranksExpr)
      .withColumn("__b", bestExpr)
      .select(col("doc").as(idCol), col("__b.sidx").as("sent_idx"),
        col("__b.rank").as("rank"), col("__b.sent").as("sent"))
  }

  /** Corpus-wide SENTENCE dedup — the C4 "discard every repeated
    * three-sentence span"/MassiveText line-dedup rule at sentence
    * grain: every occurrence of a sentence EXCEPT its corpus-first one
    * ((min doc, min pos) under the exact integer order) is dropped,
    * and each document reassembles from its kept sentences in original
    * order. This is the boilerplate killer ("subscribe to our
    * newsletter" survives exactly once corpus-wide) complementing
    * span dedup's within-pair scrub.
    *
    * Conventions: sentences split positionally on `[.!?]+` (the
    * readability/TextRank rule), trimmed, empties dropped BEFORE
    * counting; the dedup key is the trimmed sentence string (exact
    * match — near-dup sentences are [[Dedup]]'s job). Reassembly is
    * the order-preserving parity pattern (collect_list skips the
    * non-kept nulls ≡ a FILTER'd ordered string_agg; "" for docs that
    * keep nothing). All exact integer math.
    *
    * Scale shape: one explode, one sentence-keyed min agg (map-side
    * combined — a repeated sentence's partial min is one struct), one
    * sentence-keyed join back, one doc-keyed reassembly agg. Nothing
    * quadratic, no windows over the corpus.
    *
    * Output: (idCol, n_sents, n_kept, cleaned_text).
    */
  def sentenceDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sents = sentenceRows(df, idCol, textCol)
    val first = sents.groupBy("__sent")
      .agg(min(struct(col("__doc"), col("__p"))).as("__f"))
    sents.join(first, Seq("__sent"))
      .withColumn("__keep",
        col("__f.__doc") === col("__doc") && col("__f.__p") === col("__p"))
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__p"), col("__sent"))))),
          x => x.getField("__sent")), " ").as("cleaned_text"))
  }

  /** The positional sentence table shared by [[sentenceDedup]] and
    * [[incomingSentenceScreen]]: `[.!?]+` split at original positions,
    * trimmed, empties dropped. Output: (__doc, __p, __sent).
    */
  private def sentenceRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), "[.!?]+")).as(Seq("__p", "__s")))
      .select(col("__doc"), col("__p").cast("long").as("__p"),
        trim(col("__s")).as("__sent"))
      .filter(col("__sent") =!= "")

  /** Ingest-time sentence screening — [[sentenceDedup]]'s rule at the
    * ingest boundary (the q204 incremental family at SENTENCE grain):
    * the corpus's distinct sentences are a STORED artifact, and each
    * arriving document drops the sentences the corpus already owns,
    * keeping only its genuinely new ones — the streaming-ingest
    * boilerplate filter.
    *
    * Shape: one stream-compatible LEFT OUTER join against the stored
    * set (the marker pattern — an anti-join would lose the rows the
    * per-doc counts need), then ONE aggregation doing counts and the
    * order-preserving reassembly together (streaming cannot chain
    * aggregations; this has exactly one, so the same operator body
    * serves batch and stream). All exact integer math.
    *
    * `stored` carries one `sent` column (distinct trimmed sentences).
    * Output: (idCol, n_sents, n_kept, cleaned_text).
    */
  def incomingSentenceScreen(stored: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    sentenceRows(batch, idCol, textCol)
      .join(stored.select(col("sent").as("__sent"),
        lit(true).as("__known")), Seq("__sent"), "left_outer")
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__known").isNull,
            struct(col("__p"), col("__sent"))))),
          x => x.getField("__sent")), " ").as("cleaned_text"))

  /** Ingest-time NOVELTY of an arriving batch against the corpus's
    * STORED distinct-shingle set — "how much genuinely new text does
    * this batch bring": per arriving doc, the fraction of its distinct
    * shingles absent from the stored set. The admission-decision
    * companion of [[noveltyScores]] (which ranks WITHIN a corpus) and
    * the q204 family's metric member.
    *
    * Shape: shingle projection (stream-safe — no Parallelism probe, no
    * window), ONE marker left join against the stored set, ONE
    * aggregation — the same body serves batch and stream (the
    * incomingSentenceScreen discipline). Exact counts, novelty ONE
    * exact-integer division.
    *
    * `stored` carries one `shingle` column. Output:
    * (idCol, n_shingles, n_new, novelty).
    */
  def incomingNovelty(stored: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 5): DataFrame =
    batch
      .select(col(idCol).as("__doc"),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("__doc"),
        explode(array_distinct(
          ngramsFromTokens(col("__toks"), shingleN))).as("__sh"))
      .join(stored.select(col("shingle").as("__sh"),
        lit(true).as("__known")), Seq("__sh"), "left_outer")
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col(idCol), col("n_shingles"), col("n_new"),
        (col("n_new") / col("n_shingles")).as("novelty"))

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * shingles whose corpus-wide FIRST OCCURRENCE (min doc id) is this
    * document — the ordering/selection signal behind dedup-aware
    * curriculum: high-novelty documents introduce new text, low-novelty
    * ones restate what earlier documents already contributed (boiler-
    * plate, syndication, near-copies downstream of span dedup's
    * threshold). The id order stands in for ingestion order — callers
    * with a true timestamp should re-key first.
    *
    * Exactness: ownership is min over exact ids; both counts are exact
    * integers; novelty is ONE exact-integer division (q120 doctrine,
    * unrounded).
    *
    * Scale shape: one explode, one gram-keyed min agg (map-side
    * combined), one gram-keyed join back, one doc-keyed count — all
    * linear, no windows, no caps needed (the min agg is insensitive to
    * gram frequency).
    *
    * Output: (idCol, n_shingles BIGINT, n_first BIGINT, novelty).
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    val sh = Dedup.explodeShingles(df, idCol, textCol, shingleN)
    val own = sh.groupBy("shingle")
      .agg(min(col(idCol)).as("__owner"))
    sh.join(own, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__owner") === col(idCol), 1L).otherwise(0L))
          .as("n_first"))
      .select(col(idCol), col("n_shingles"), col("n_first"),
        (col("n_first") / col("n_shingles")).as("novelty"))
  }

  /** Language-ID by signature-token voting: per language, count hits of its
    * signature tokens; predict the argmax (ties broken by language code
    * order). N-gram-profile language ID reduced to its decision core so the
    * same profiles can live verbatim in a SQL oracle.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht", "das"),
    "en" -> Seq("the", "and", "is", "of", "to", "in"),
    "es" -> Seq("el", "la", "que", "de", "es", "un"),
    "fr" -> Seq("le", "la", "et", "est", "que", "des"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我"))

  def langId(text: Column): Column =
    langIdFromToks(regexp_extract_all(lower(text), lit("\\S+"), lit(0)))

  /** The language argmax over an ALREADY-TOKENIZED lowercased array —
    * the single source of the decision (strict >, profile order =
    * first-wins tie-break), shared by [[langId]] and the attrs tagger
    * so the stored attribute can never de-sync from q39's semantics.
    * Callers should materialize `toks` in its own projection first
    * (the expression references it once per profile).
    *
    * Shape (r18): `array_max(struct(score, −index))` — max score, ties
    * to the smallest index = the first profile, EXACTLY the previous
    * when-chain fold's strict-> semantics. The fold duplicated each
    * profile's HOF-filter score expression through every later
    * comparison branch (up to 2^(k−1) copies of score_1 in the final
    * tree — interpreted HOFs have no cross-branch subexpression
    * elimination), which multiplied the per-row token scans ~6× in the
    * attrs tagger; here every score evaluates exactly once.
    */
  def langIdFromToks(toks: Column): Column = {
    val entries = langProfiles.zipWithIndex.map { case ((_, prof), i) =>
      struct(size(filter(toks, t => t.isin(prof: _*))).cast("long").as("s"),
        lit(-i).as("ni"))
    }
    val best = array_max(array(entries: _*))
    element_at(lit(langProfiles.map(_._1).toArray),
      (-best.getField("ni")) + 1)
  }

  /** Lowercased alphanumeric word extraction — the normalization used for
    * vocabulary building (tokenizer-training prep): case-folded, punctuation
    * acts as a separator, so "Word," and "word" count as one vocabulary
    * entry.
    */
  def normalizedTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Per-phrase hit-count expressions over ONE document's own normalized
    * tokens — pure column math (an HOF filter over start positions with a
    * conjunction of element_at probes), so both consumers stay stateless:
    * the census explodes them to rows, the scrub filters on their sum,
    * and the SAME operator runs unchanged on a streaming frame (the
    * q245/q252 stream-twin shape). The `sequence(1, 0)` descending trap
    * is guarded by the n ≥ m gate.
    */
  private def phraseHitExprs(toks: Column, n: Column,
      phrases: Seq[Seq[String]]): Seq[(String, Column)] =
    phrases.map { ps =>
      val m = ps.length
      val matchAt = (i: Column) => ps.zipWithIndex.map { case (p, j) =>
        element_at(toks, (i + lit(j + 1)).cast("int")) === lit(p)
      }.reduce(_ && _)
      ps.mkString(" ") ->
        when(n >= m,
          size(filter(sequence(lit(0), (n - m).cast("int")), matchAt)))
          .otherwise(lit(0)).cast("long")
    }

  /** Multi-token blocklist/keyword census (the C4 "bad words" pass at
    * PHRASE grain): occurrences of each normalized phrase (consecutive
    * [[normalizedTokens]] match) per document — one row per
    * (document, phrase), zero-hit rows included so the census pins
    * absence too. Scale shape: per-row column math inside the scan, no
    * shuffle before the caller's aggregation; the phrase list is a plan
    * literal (compliance lists are small — thousands at most).
    */
  def blocklistCensus(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "phraseHits: need at least one non-empty phrase")
    require(phrases.map(_.mkString(" ")).distinct.size == phrases.size,
      "phraseHits: duplicate phrases")
    // materialize the token array in its OWN projection (the round-4
    // CollapseProject rule): every phrase expression reads it
    val base = df
      .select(col(idCol), normalizedTokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("__n"))
    val structs = phraseHitExprs(col("__toks"), col("__n"), phrases)
      .map { case (p, e) =>
        struct(lit(p).as("phrase"), e.as("n_hits"))
      }
    base.select(col(idCol), explode(array(structs: _*)).as("__ph"))
      .select(col(idCol), col("__ph.phrase").as("phrase"),
        col("__ph.n_hits").as("n_hits"))
  }

  /** Blocklist scrub: drop every document containing ANY of the phrases
    * (whole-doc removal — the C4 rule). STATELESS per-row math (the
    * doc's own tokens decide), so the identical operator screens a
    * stream with no watermark or state (gated stream ≡ batch).
    */
  def blocklistScrub(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "blocklistScrub: need at least one non-empty phrase")
    val toks = normalizedTokens(col(textCol))
    val withToks = df.withColumn("__toks", toks)
      .withColumn("__bn", size(col("__toks")).cast("long"))
    val total = phraseHitExprs(col("__toks"), col("__bn"), phrases)
      .map(_._2).reduce(_ + _)
    withToks.filter(total === 0L).drop("__toks", "__bn")
  }

  /** Deterministic T5 span corruption (Raffel et al. 2020 §3.1.4's
    * denoising objective, derandomized the house way): a whitespace
    * token at position p STARTS a corruption span when its seeded
    * 16-bit md5 slice ≡ 0 (mod `divisor`), the span covers `spanLen`
    * positions (clipped at the doc end), overlapping spans merge, and
    * each maximal masked run k is replaced by the sentinel
    * `<extra_id_k>` in the input while the target lists
    * `<extra_id_k> …masked tokens…` per run plus the closing sentinel
    * `<extra_id_K>` (K = run count; zero-run docs target exactly
    * `<extra_id_0>`). Defaults divisor=20, spanLen=3 ≈ the paper's 15%
    * noise density with mean span 3.
    *
    * Output per document with ≥ 1 token: (id, n_tokens, n_masked,
    * n_spans, input_sig, target_sig) — the md5 signatures pin the FULL
    * reconstructed input/target strings (the q96 convention: the
    * signature carries the text, keeping the gate payload bounded).
    *
    * Scale shape: one explode + doc-partitioned windows (coverage,
    * island numbering) + one aggregation — no corpus-scale window, no
    * shuffle beyond the doc key.
    */
  def spanCorruption(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 20, spanLen: Int = 3,
      seed: String = "t5"): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    val toks = df.select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__nt"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
    val started = toks.withColumn("__start",
      conv(substring(md5(concat(lit(seed + ":"),
        col(idCol).cast("string"), lit(":"), col("pos").cast("string"))),
        1, 4), 16, 10).cast("long") % divisor === 0L)
    val wCov = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(-(spanLen - 1), 0)
    val wPos = Window.partitionBy(idCol).orderBy("pos")
    val wCum = wPos.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val marked = started
      .withColumn("__cov",
        max(when(col("__start"), 1).otherwise(0)).over(wCov) === 1)
      .withColumn("__prev",
        coalesce(lag(col("__cov"), 1).over(wPos), lit(false)))
      .withColumn("__ist", col("__cov") && !col("__prev"))
      .withColumn("__k",
        sum(when(col("__ist"), 1L).otherwise(0L)).over(wCum) - 1L)
      .withColumn("__ip",
        when(!col("__cov"), col("tok"))
          .when(col("__ist"),
            concat(lit("<extra_id_"), col("__k").cast("string"), lit(">"))))
      .withColumn("__tp",
        when(col("__cov") && col("__ist"),
          concat(lit("<extra_id_"), col("__k").cast("string"), lit("> "),
            col("tok")))
          .when(col("__cov"), col("tok")))
    def body(piece: String) = array_join(transform(array_sort(
      collect_list(when(col(piece).isNotNull,
        struct(col("pos"), col(piece).as("p"))))), x => x.getField("p")),
      " ")
    marked.groupBy(col(idCol))
      .agg(max(col("__nt")).as("n_tokens"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("__ist"), 1L).otherwise(0L)).as("n_spans"),
        md5(body("__ip")).as("input_sig"),
        body("__tp").as("__tbody"))
      .withColumn("target_sig", md5(
        when(col("n_spans") === 0L, lit("<extra_id_0>"))
          .otherwise(concat(col("__tbody"), lit(" <extra_id_"),
            col("n_spans").cast("string"), lit(">")))))
      .drop("__tbody")
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022 "Efficient
    * Training of Language Models to Fill in the Middle", derandomized):
    * split each selected document at two character positions into
    * (prefix, middle, suffix) and emit the PSM rearrangement
    * `<PRE>prefix<SUF>suffix<MID>middle` — the infilling-objective
    * export beside [[spanCorruption]]'s T5 denoising objective. The
    * paper applies FIM to a fixed fraction of documents (its "FIM
    * rate") and keeps the rest verbatim for left-to-right learning.
    *
    * Derandomization (the [[spanCorruption]] precedent, all
    * SQL-recomputable): the rate coin is a 16-bit md5 slice
    * `< rate16` (rates are exact multiples of 1/65536 — the q82
    * convention); the two cut points are independent 32-bit md5 slices
    * mod (n+1), so every boundary (empty prefix/middle/suffix) is
    * reachable. The residual modulo bias is ≤ n/2³² per point —
    * documented, deterministic, and identical in both engines.
    * Character positions are code-point-grain; the ASCII corpus keeps
    * both engines' `length`/`substr` trivially aligned (non-BMP input
    * would diverge on Spark's UTF-16 units — a documented boundary).
    *
    * Output: (id, n_chars, fimmed, lo, hi, out_len, out_sig) — the md5
    * signature pins the FULL transformed string (the q96 bounded-
    * payload convention); lo/hi are NULL on pass-through rows.
    *
    * Scale shape: pure per-row column math, zero shuffle — the SAME
    * body runs unchanged on a streaming frame (the q245/q252 twin
    * shape).
    */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      rate16: Int = 32768, seed: String = "fim"): DataFrame = {
    require(rate16 >= 0 && rate16 <= 65536,
      s"rate16 must be in [0, 65536], got $rate16")
    def slice(tag: String, width: Int) =
      conv(substring(md5(concat(lit(s"$seed:$tag:"),
        col(idCol).cast("string"))), 1, width), 16, 10).cast("long")
    val n = length(col(textCol)).cast("long")
    val base = df.select(col(idCol), col(textCol).as("__t"),
        n.as("n_chars"),
        (slice("coin", 4) < rate16 && n >= 2L).as("fimmed"),
        slice("a", 8).as("__ua"), slice("b", 8).as("__ub"))
      .withColumn("lo", when(col("fimmed"),
        least(col("__ua") % (col("n_chars") + 1L),
          col("__ub") % (col("n_chars") + 1L))))
      .withColumn("hi", when(col("fimmed"),
        greatest(col("__ua") % (col("n_chars") + 1L),
          col("__ub") % (col("n_chars") + 1L))))
    val psm = concat(lit("<PRE>"),
      col("__t").substr(lit(1), col("lo").cast("int")),
      lit("<SUF>"),
      col("__t").substr((col("hi") + 1L).cast("int"),
        (col("n_chars") - col("hi")).cast("int")),
      lit("<MID>"),
      col("__t").substr((col("lo") + 1L).cast("int"),
        (col("hi") - col("lo")).cast("int")))
    base
      .withColumn("__out", when(col("fimmed"), psm).otherwise(col("__t")))
      .select(col(idCol), col("n_chars"),
        col("fimmed").cast("long").as("fimmed"), col("lo"), col("hi"),
        length(col("__out")).cast("long").as("out_len"),
        md5(col("__out")).as("out_sig"))
  }

  /** PII redaction patterns: (class, regex, replacement token). The regexes
    * deliberately use only the syntax subset where Java regex (Spark) and
    * RE2 (DuckDB, Go, etc.) agree — character classes, bounded repetition,
    * greedy quantifiers; no alternation inside a match (leftmost-first vs
    * leftmost-longest divergence), no lookaround (absent from RE2) — so the
    * scrub is reproducible across engines, which a compliance pipeline
    * needs even more than a stats query does.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  /** k-anonymity audit over quasi-identifier columns (Sweeney 2002) —
    * the dataset-RELEASE privacy screen beside [[scrubPii]]'s in-text
    * redaction: group rows by their quasi-identifier combination
    * (equivalence classes); any class smaller than k re-identifies its
    * members by linkage. Returns the one-row release report: class
    * count, row count, classes/rows below k, and the smallest class —
    * the numbers a data-release checklist quotes.
    *
    * Determinism: pure exact-integer aggregation (no rounding
    * anywhere). Scale shape: ONE groupBy on the quasi columns, then an
    * aggregate over the class-level frame (class count ≤ the quasi
    * domain product, never corpus-row-sized for real quasi columns).
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity: no quasi-identifier columns")
    require(k >= 2, s"k must be >= 2, got $k")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum("__n").as("n_rows"),
      sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_risk_classes"),
      sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("n_risk_rows"),
      min("__n").as("min_class_size"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — [[kAnonymity]]'s
    * companion: a class can be k-anonymous yet leak its SENSITIVE
    * attribute when every member shares one value (the homogeneity
    * attack). Per quasi-identifier class, the distinct sensitive-value
    * count; the report counts classes below the diversity floor l and
    * the worst class. Pure exact-integer aggregation: one
    * (quasi, sensitive) distinct pass, one class-grain count, one
    * report aggregate.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity: no quasi-identifier columns")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    val classes = df
      .select((quasiCols :+ sensitiveCol).map(col): _*)
      .distinct()
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__nd"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("__nd") < l, 1L).otherwise(0L)).as("n_risk_classes"),
      min("__nd").as("min_diversity"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * leg of the release-privacy trilogy ([[kAnonymity]], [[lDiversity]]):
    * a class can be diverse yet still leak when its sensitive-value
    * DISTRIBUTION differs sharply from the corpus (the skewness
    * attack). Per quasi-identifier class, the total-variation distance
    * ½ Σ_v |p_class(v) − p_global(v)| (the paper's categorical ground
    * distance). Values absent from a class fold in algebraically —
    * Σ_v = 1 + Σ_{present} (|pc − pg| − pg), the q288 dispersion
    * identity — so no class×value grid materializes.
    *
    * Per-term math is exact divisions in ONE fixed op order; only the
    * cross-value sum rounds (+1e-9, 6). Output one row per class:
    * (quasi columns…, n, tvd), class-catalog sized.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness: no quasi-identifier columns")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    val csv = df
      .groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val ctot = csv.groupBy(quasiCols.map(col): _*)
      .agg(sum("__n").as("__nc"))
    val gv = csv.groupBy(col(sensitiveCol)).agg(sum("__n").as("__gv"))
    val gt = gv.agg(sum("__gv").as("__g"))
    csv
      .join(ctot, quasiCols)
      .join(broadcast(gv), Seq(sensitiveCol))
      .crossJoin(broadcast(gt))
      .withColumn("__contrib",
        abs(col("__n") / col("__nc") - col("__gv") / col("__g")) -
          col("__gv") / col("__g"))
      .groupBy(quasiCols.map(col): _*)
      .agg(max("__nc").as("n"),
        round(((lit(1.0) + sum(col("__contrib"))) / 2) + lit(1e-9), 6)
          .as("tvd"))
      .orderBy(quasiCols.map(col): _*)
  }

  /** Occurrences of one PII class (by name from [[piiPatterns]]). */
  def piiCount(text: Column, cls: String): Column = {
    val pat = piiPatterns.collectFirst { case (`cls`, p, _) => p }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown PII class '$cls' (known: ${piiPatterns.map(_._1).mkString(", ")})"))
    size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
  }

  /** Replace every PII occurrence with its class token. Emails are scrubbed
    * first (they may embed digit runs), then phones, then IPs; replacement
    * tokens contain no digits, so later passes can't re-match earlier
    * replacements. Pure codegen'd regexp_replace chain — runs inside the
    * scan.
    */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, pat, repl)) =>
      regexp_replace(t, pat, repl)
    }

  /** Content fingerprint: md5 over the normalized text (lowercased,
    * punctuation stripped, whitespace collapsed) — robust to formatting-only
    * edits, exact otherwise.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " ")))

  /** Sequence packing for training batches: assign documents to token-budget
    * bins, deterministically. Docs are packed in (partitionCol, id) order;
    * a doc opens a new bin when the running token total before it has
    * filled ≥ one budget's worth — i.e. `bin = floor((cumsum − tokens) /
    * budget)` over the running sum, the greedy contiguous packing every
    * data loader uses. Oversized single docs simply occupy bins alone
    * (never dropped silently).
    *
    * Packing is per `partitionCol` (e.g. source), so the window
    * parallelizes across partitions rather than serializing the corpus;
    * within a partition the assignment is a single running-sum window.
    * Output: one row per doc with (bin, n_tokens).
    */
  def packBins(df: DataFrame, idCol: String, textCol: String,
      budget: Long, partitionCol: String): DataFrame =
    packBinsByCount(
      df.withColumn("n_tokens", tokenCount(col(textCol))),
      idCol, "n_tokens", budget, partitionCol)

  /** [[packBins]] generalized to an ALREADY-COMPUTED token-count column —
    * the tokenizer-grain packer: real pipelines budget bins by the
    * trained tokenizer's token count ([[bpeSegment]] symbols), not by
    * whitespace words. Same greedy contiguous assignment, same
    * per-`partitionCol` window parallelism; the count column rides
    * through unchanged.
    */
  def packBinsByCount(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, partitionCol: String): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    val w = Window.partitionBy(partitionCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("bin",
        floor((col("__cum") - col(tokensCol)) / lit(budget)).cast("long"))
      .drop("__cum")
  }

  /** The Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1,
    * thresholds adapted to this corpus's scale): named boolean flags per
    * rule plus the conjunction `keep` — a pipeline wants the per-rule
    * breakdown (which rule rejected how much), not just the verdict.
    * Rules: word count in [20, 100 000]; mean word length in [3, 10];
    * punctuation ratio ≤ 0.2; ≥ 2 distinct stopwords present (the
    * "contains common English words" test); 2-gram repetition ≤ 0.3.
    *
    * Every ratio is a SINGLE division of exact integer counts, so both
    * engines land on the identical double and the threshold comparisons
    * can never disagree — no rounding needed where no accumulation
    * happens. Pure column math; runs inside the scan.
    */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df
      .withColumn("__toks",
        regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      // mean word length = non-whitespace chars / words (exact ints)
      .withColumn("__mwl", when(col("__n") === 0, lit(0.0)).otherwise(
        length(regexp_replace(col(textCol), "\\s+", "")).cast("double") /
          col("__n")))
      .withColumn("__punct", punctRatio(col(textCol)))
      .withColumn("__nstop", size(array_intersect(
        array_distinct(col("__toks")), lit(stopwords.toArray))).cast("long"))
      .withColumn("__dup2", duplicateNgramFrac(col(textCol), 2))
      .select(col(idCol), col("__n").as("n_words"),
        (col("__n") >= 20 && col("__n") <= 100000).as("flag_word_count"),
        (col("__mwl") >= 3.0 && col("__mwl") <= 10.0).as("flag_word_len"),
        (col("__punct") <= 0.2).as("flag_punct"),
        (col("__nstop") >= 2).as("flag_stopwords"),
        (col("__dup2") <= 0.3).as("flag_repetition"),
        ((col("__n") >= 20 && col("__n") <= 100000) &&
          (col("__mwl") >= 3.0 && col("__mwl") <= 10.0) &&
          (col("__punct") <= 0.2) && (col("__nstop") >= 2) &&
          (col("__dup2") <= 0.3)).as("keep"))

  /** Deterministic word-dropout augmentation: drop each token with
    * probability `1/dropDenom`, the decision a pure function of
    * (seed, doc id, token position) via a 16-bit md5 slice — augmented
    * corpora must be REPRODUCIBLE (a rerun or a retried task has to emit
    * the identical augmented text, and the oracle has to recompute it).
    * Pass an ALREADY-MATERIALIZED token array (the [[ngramsFromTokens]]
    * caveat); the per-element hash is inherent O(tokens) work, not
    * re-evaluation waste. Returns the kept-token array.
    *
    * Bias note: the decision is `hash16 % dropDenom == 0` over a 16-bit
    * slice, so unless `dropDenom` divides 65536 the realized drop rate
    * deviates from 1/dropDenom by up to `(65536 mod dropDenom)/65536`
    * (~0.009% at the default 10) — negligible for augmentation and fully
    * reproducible (the oracle mirrors the same arithmetic), unlike the
    * sharding/bucketing paths ([[graft.operators.Importance.hashBucket]],
    * shard export) where modulo bias is a correctness issue and divisors
    * of 65536 are REQUIRED. Pass a power of two if exactness matters.
    */
  def wordDropout(toks: Column, id: Column, dropDenom: Int = 10,
      seed: String = "aug"): Column = {
    require(dropDenom >= 2, s"dropDenom must be >= 2, got $dropDenom")
    filter(toks, (_, i) =>
      conv(substring(md5(concat(lit(seed + ":"), id.cast("string"),
        lit(":"), i.cast("string"))), 1, 4), 16, 10).cast("long")
        % dropDenom >= 1)
  }

  /** Adjacent character-pair counts weighted by word frequency — the
    * candidate table of the FIRST BPE merge (Sennrich et al. 2016:
    * tokenizer training repeatedly merges the most frequent adjacent
    * symbol pair; this computes that frequency table from raw text). The
    * iterated merge loop changes the symbol sequences per round and
    * belongs in a driver loop; the count table is the per-round primitive
    * and the thing worth gating exactly.
    *
    * Scale shape: the corpus collapses to its word-frequency table FIRST
    * (vocabulary-sized — the standard BPE trick: identical words share
    * one row), then pairs explode off the VOCABULARY, each weighted by
    * the word's corpus frequency. Pair counting is a partial-agg sum;
    * nothing pair-shaped ever scans the corpus.
    *
    * Output: one row per adjacent pair with `n` = Σ_words freq(word) ×
    * occurrences(pair in word).
    */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .select(explode(normalizedTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__freq"))
    vocab
      .withColumn("__len", length(col("word")))
      .filter(col("__len") >= 2)
      .select(col("__freq"),
        explode(transform(sequence(lit(1), col("__len") - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(sum("__freq").as("n"))
  }

  /** Iterative BPE training (Sennrich, Haddow, Birch 2016) — the merge
    * LOOP on top of [[bpePairCounts]]'s single table: count adjacent
    * symbol pairs over the vocabulary (weighted by word frequency,
    * overlapping positions counted — the reference implementation's
    * `get_stats`), merge the best pair everywhere, recount; `nMerges`
    * rounds. Returns the merge SEQUENCE ((a, b, count) in merge order —
    * order is the tokenizer, not the set), stopping early if the
    * vocabulary runs out of pairs.
    *
    * Determinism: counts are exact integer sums; the best pair ties
    * break lexicographically on (a, b) — so any engine replays the exact
    * sequence (the q129 oracle does, as nMerges generated CTE layers).
    *
    * Representation is the key trick: a word's segmentation is a string
    * of DOUBLE-SPACE-joined symbols with single-space wraps
    * (`" a  b  c "`). Each symbol carries its own boundary spaces, so
    * merging pair (a,b) is a plain left-to-right non-overlapping
    * `replace(seg, " a  b ", " ab ")` — exactly the greedy merge rule,
    * safe against substring false-matches (symbols can't contain
    * spaces), and IDENTICAL semantics in Spark and any SQL engine's
    * `replace`. No fold lambda, no UDF — the merge step is one codegen'd
    * string op.
    *
    * Scale shape: the loop state is the VOCABULARY frame (collapsed
    * word-freq table — tokens, not corpus rows) plus, on the delta path,
    * the PAIR-COUNT frame, both kept flat by the lazy-localCheckpoint
    * discipline ([[graft.operators.Dedup]]): each round is ONE action —
    * the bounded top-1 pair pick materializes that round's checkpoints.
    * `incremental = true` maintains pair counts by delta update (the
    * reference implementation's `get_stats` trick as dataframes): only
    * segments containing the merged pair contribute −old/+new counts.
    * Per-round cost is O(|pair table| + hit set) either way, because the
    * union+regroup rewrites the whole maintained table every round — the
    * delta path only narrows PAIR GENERATION (explode the hit set, not
    * every segment). MEASURED regimes (incremental-vs-recount A/B,
    * 256-merge budget, numbers in SURVEY.md §6): on the gate corpora the
    * recount WINS (0.179 vs 0.226 s/round at sf0.01, ratio 0.79; 0.81 at sf0.1)
    * — at vocabularies of a few thousand words the explode is cheaper
    * than the maintained table's rewrite, so the default here is the
    * recount. The delta path's regime is million-word vocabularies where
    * the per-round explode dominates; it stays available and both paths
    * are pinned identical by spec AND by the unchanged q129/q130 oracles.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
      incremental: Boolean = false,
      byteLevel: Boolean = false,
      store: Option[graft.core.StageStore] = None)
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    if (store.isDefined)
      return bpeTrainStaged(df, textCol, nMerges, incremental, byteLevel,
        store.get)
    val chars = baseSymbols(col("word"), byteLevel)
    // byte-level pairs with the RAW case-and-punctuation-preserving
    // pre-tokenization (the GPT-2 setup): the closed byte alphabet makes
    // normalization unnecessary for coverage, so the tokenizer sees the
    // text it will actually encode
    val toks =
      if (byteLevel) regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
      else normalizedTokens(col(textCol))
    var vocab = df
      .select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "), array_join(chars, "  "), lit(" ")).as("seg"))
      .localCheckpoint(false)
    // the maintained (a, b, n) table; seeded by ONE full count, then
    // delta-updated per merge
    var counts = segPairCounts(vocab).localCheckpoint(false)
    // superseded checkpoints freed one round late — the successor's pick
    // job must run before its parents' blocks can go (the
    // farthestPointSample discipline). The pick on counts_{r+1} reads
    // counts_r, vocab_r (old pairs of the hit set) and materializes
    // vocab_{r+1} (new pairs re-derive the hit set's
    // post-merge segments from vocab_r directly, so no scratch column
    // rides the checkpoints), so after it both
    // parents are safe to free.
    var prev: Seq[DataFrame] = Nil
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val best =
        (if (incremental) counts
         else segPairCounts(vocab))
          .orderBy(desc("n"), col("a"), col("b")).limit(1)
          .collect()
      prev.foreach(GraftSqlShims.unpersistCheckpoint)
      prev = Nil
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += ((a, b, n))
        r += 1
        if (r < nMerges) {
          val pat = s" $a  $b "
          val merged = s" $a$b "
          val hit = vocab.filter(col("seg").contains(pat))
          val updated = vocab
            .withColumn("seg", org.apache.spark.sql.functions.replace(
              col("seg"), lit(pat), lit(merged)))
            .localCheckpoint(false)
          if (incremental) {
            // only hit segments change: their pre-merge pairs leave the
            // table, their post-merge pairs enter; everything else is
            // untouched — exact integer deltas, so the maintained table
            // equals the full recount row for row
            val oldPairs = segPairCounts(hit)
              .select(col("a"), col("b"), (-col("n")).as("n"))
            val newPairs = segPairCounts(hit.withColumn("seg",
              org.apache.spark.sql.functions.replace(
                col("seg"), lit(pat), lit(merged))))
            val nextCounts = counts.unionByName(oldPairs)
              .unionByName(newPairs)
              .groupBy("a", "b").agg(sum("n").as("n"))
              .filter(col("n") =!= 0L)
              .localCheckpoint(false)
            prev = Seq(counts, vocab)
            counts = nextCounts
          } else {
            prev = Seq(vocab)
          }
          vocab = updated
        }
      }
    }
    GraftSqlShims.unpersistCheckpoint(vocab)
    GraftSqlShims.unpersistCheckpoint(counts)
    prev.foreach(GraftSqlShims.unpersistCheckpoint)
    merges.toSeq
  }

  /** [[bpeTrain]] under a [[graft.core.StageStore]] (r14 verdict item
    * 2): the word-frequency table (the ONE corpus read) and every
    * round's 1-row merge pick COMMIT through the generation pointer, so
    * a preempted training resumes at merge grain — committed picks read
    * back without running any pair-count job, and the in-session
    * segmentation state rebuilds from the staged word table by replaying
    * the committed merges as ONE left-assoc replace-chain projection
    * (replace is confluent here: each pick's ` a  b ` pattern is exactly
    * what the per-round replace consumed, so the chain equals the
    * round-by-round rewrites). Output and pick order are byte-identical
    * to the unstaged loop — q129's oracle gates both shapes.
    */
  private def bpeTrainStaged(df: DataFrame, textCol: String, nMerges: Int,
      incremental: Boolean, byteLevel: Boolean,
      st: graft.core.StageStore): Seq[(String, String, Long)] = {
    val chars = baseSymbols(col("word"), byteLevel)
    val toks =
      if (byteLevel) regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
      else normalizedTokens(col(textCol))
    lazy val wordsBase = st.stage("bpe_words") {
      df.select(explode(toks).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          concat(lit(" "), array_join(chars, "  "), lit(" ")).as("seg"))
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var vocabOpt: Option[DataFrame] = None
    var countsOpt: Option[DataFrame] = None
    var prev: Seq[DataFrame] = Nil
    // first demand AFTER a resume: replay the committed merges onto the
    // staged word table in one projection, then maintain incrementally
    // exactly like the unstaged loop
    def vocabState(): DataFrame = vocabOpt.getOrElse {
      val segCol = merges.foldLeft(col("seg")) { case (c, (a, b, _)) =>
        org.apache.spark.sql.functions.replace(
          c, lit(s" $a  $b "), lit(s" $a$b "))
      }
      val v = wordsBase.select(col("freq"), segCol.as("seg"))
        .localCheckpoint(false)
      vocabOpt = Some(v)
      if (incremental)
        countsOpt = Some(segPairCounts(v).localCheckpoint(false))
      v
    }
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val best = st.stage(s"bpe_merge_${r + 1}") {
        (if (incremental) { vocabState(); countsOpt.get }
         else segPairCounts(vocabState()))
          .orderBy(desc("n"), col("a"), col("b")).limit(1)
      }.collect()
      prev.foreach(GraftSqlShims.unpersistCheckpoint)
      prev = Nil
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += ((a, b, n))
        r += 1
        // maintain the in-session state only if it exists — a committed
        // pick on a resume never materializes the segmentation at all
        if (r < nMerges && vocabOpt.isDefined) {
          val vocab = vocabOpt.get
          val pat = s" $a  $b "
          val merged = s" $a$b "
          val updated = vocab
            .withColumn("seg", org.apache.spark.sql.functions.replace(
              col("seg"), lit(pat), lit(merged)))
            .localCheckpoint(false)
          if (incremental) {
            val hit = vocab.filter(col("seg").contains(pat))
            val oldPairs = segPairCounts(hit)
              .select(col("a"), col("b"), (-col("n")).as("n"))
            val newPairs = segPairCounts(hit.withColumn("seg",
              org.apache.spark.sql.functions.replace(
                col("seg"), lit(pat), lit(merged))))
            val nextCounts = countsOpt.get.unionByName(oldPairs)
              .unionByName(newPairs)
              .groupBy("a", "b").agg(sum("n").as("n"))
              .filter(col("n") =!= 0L)
              .localCheckpoint(false)
            prev = Seq(countsOpt.get, vocab)
            countsOpt = Some(nextCounts)
          } else {
            prev = Seq(vocab)
          }
          vocabOpt = Some(updated)
        }
      }
    }
    (vocabOpt.toSeq ++ countsOpt.toSeq ++ prev)
      .foreach(GraftSqlShims.unpersistCheckpoint)
    merges.toSeq
  }

  /** WordPiece-style tokenizer training (Schuster & Nakajima 2012; the
    * scoring Wu et al. 2016 describe): the merge loop of [[bpeTrain]]
    * with LIKELIHOOD selection — each round merges the pair maximizing
    * `count(ab) / (count(a) · count(b))`, the unigram-LM likelihood gain
    * of fusing the pair, where BPE takes the raw count. Rare-but-always-
    * together symbol pairs merge before frequent-but-promiscuous ones
    * (the suffix/stem behavior WordPiece is chosen for). Same
    * symbolization and merge mechanics as [[bpeTrain]] (lowercase
    * [a-z0-9]+ words, space-wrapped segment strings, full recount per
    * round — the regime the round-9 A/B picked); ## continuation
    * markers are presentation, not mechanics, and are deliberately not
    * modeled.
    *
    * Determinism: all three counts are exact frequency-weighted
    * integers; the score is ONE division of exact integers (the q120
    * doctrine — engine-exact, never rounded); ties break on (a, b).
    *
    * Scale shape: per round one explode-count over the vocabulary table
    * (word-type-sized, not corpus-sized), two symbol-keyed joins onto a
    * symbol-type-sized count frame, one TakeOrdered pick. The corpus is
    * read ONCE to build the vocabulary.
    *
    * Output: the merge sequence in order —
    * (a, b, n, ca, cb, score) per round.
    */
  def wordPieceTrain(df: DataFrame, textCol: String, nMerges: Int,
      store: Option[graft.core.StageStore] = None)
      : Seq[(String, String, Long, Long, Long, Double)] = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    if (store.isDefined)
      return wordPieceTrainStaged(df, textCol, nMerges, store.get)
    val chars = baseSymbols(col("word"), byteLevel = false)
    var vocab = df
      .select(explode(normalizedTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "), array_join(chars, "  "), lit(" ")).as("seg"))
      .localCheckpoint(false)
    val merges =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long, Double)]()
    var prev: Option[DataFrame] = None
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val syms = segSymbolCounts(vocab)
      val best = segPairCounts(vocab)
        .join(syms.select(col("sym").as("a"), col("c").as("ca")), Seq("a"))
        .join(syms.select(col("sym").as("b"), col("c").as("cb")), Seq("b"))
        .select(col("a"), col("b"), col("n"), col("ca"), col("cb"),
          (col("n") / (col("ca") * col("cb"))).as("score"))
        .orderBy(desc("score"), col("a"), col("b")).limit(1)
        .collect()
      prev.foreach(GraftSqlShims.unpersistCheckpoint)
      prev = None
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (a, b) = (row.getString(0), row.getString(1))
        merges += ((a, b, row.getLong(2), row.getLong(3), row.getLong(4),
          row.getDouble(5)))
        r += 1
        if (r < nMerges) {
          val updated = vocab.withColumn("seg",
              org.apache.spark.sql.functions.replace(col("seg"),
                lit(s" $a  $b "), lit(s" $a$b ")))
            .localCheckpoint(false)
          prev = Some(vocab)
          vocab = updated
        }
      }
    }
    GraftSqlShims.unpersistCheckpoint(vocab)
    prev.foreach(GraftSqlShims.unpersistCheckpoint)
    merges.toSeq
  }

  /** [[wordPieceTrain]] under a [[graft.core.StageStore]] — the
    * [[bpeTrainStaged]] discipline with the likelihood pick: the word
    * table and every round's 1-row (a, b, n, ca, cb, score) pick commit
    * through the generation pointer; a resume replays committed merges
    * as one replace-chain projection over the staged words and never
    * re-reads the corpus. q239's oracle gates both shapes.
    */
  private def wordPieceTrainStaged(df: DataFrame, textCol: String,
      nMerges: Int, st: graft.core.StageStore)
      : Seq[(String, String, Long, Long, Long, Double)] = {
    val chars = baseSymbols(col("word"), byteLevel = false)
    lazy val wordsBase = st.stage("wp_words") {
      df.select(explode(normalizedTokens(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          concat(lit(" "), array_join(chars, "  "), lit(" ")).as("seg"))
    }
    val merges =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long, Double)]()
    var vocabOpt: Option[DataFrame] = None
    var prev: Option[DataFrame] = None
    def vocabState(): DataFrame = vocabOpt.getOrElse {
      val segCol = merges.foldLeft(col("seg")) { case (c, (a, b, _, _, _, _)) =>
        org.apache.spark.sql.functions.replace(
          c, lit(s" $a  $b "), lit(s" $a$b "))
      }
      val v = wordsBase.select(col("freq"), segCol.as("seg"))
        .localCheckpoint(false)
      vocabOpt = Some(v)
      v
    }
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val best = st.stage(s"wp_merge_${r + 1}") {
        val vocab = vocabState()
        val syms = segSymbolCounts(vocab)
        segPairCounts(vocab)
          .join(syms.select(col("sym").as("a"), col("c").as("ca")), Seq("a"))
          .join(syms.select(col("sym").as("b"), col("c").as("cb")), Seq("b"))
          .select(col("a"), col("b"), col("n"), col("ca"), col("cb"),
            (col("n") / (col("ca") * col("cb"))).as("score"))
          .orderBy(desc("score"), col("a"), col("b")).limit(1)
      }.collect()
      prev.foreach(GraftSqlShims.unpersistCheckpoint)
      prev = None
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (a, b) = (row.getString(0), row.getString(1))
        merges += ((a, b, row.getLong(2), row.getLong(3), row.getLong(4),
          row.getDouble(5)))
        r += 1
        if (r < nMerges && vocabOpt.isDefined) {
          val vocab = vocabOpt.get
          val updated = vocab.withColumn("seg",
              org.apache.spark.sql.functions.replace(col("seg"),
                lit(s" $a  $b "), lit(s" $a$b ")))
            .localCheckpoint(false)
          prev = Some(vocab)
          vocabOpt = Some(updated)
        }
      }
    }
    (vocabOpt.toSeq ++ prev.toSeq)
      .foreach(GraftSqlShims.unpersistCheckpoint)
    merges.toSeq
  }

  /** Frequency-weighted symbol counts of a segmented vocabulary frame —
    * [[wordPieceTrain]]'s denominator primitive. Output: (sym, c).
    */
  private def segSymbolCounts(segs: DataFrame): DataFrame =
    segs
      .select(col("freq"), split(trim(col("seg")), "  ").as("__l"))
      .select(explode(col("__l")).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").as("c"))

  /** Frequency-weighted adjacent-pair counts of a segmented vocabulary
    * frame (`freq`, `seg` in [[bpeTrain]]'s wrapped representation) —
    * the per-round primitive shared by the full-recount and incremental
    * training paths. Output: (a, b, n).
    */
  private def segPairCounts(segs: DataFrame): DataFrame =
    segs
      .select(col("freq"), split(trim(col("seg")), "  ").as("__l"))
      .filter(size(col("__l")) >= 2)
      .select(col("freq"),
        explode(sequence(lit(1), size(col("__l")) - 1)).as("__i"),
        col("__l"))
      .select(element_at(col("__l"), col("__i")).as("a"),
        element_at(col("__l"), col("__i") + 1).as("b"),
        col("freq"))
      .groupBy("a", "b").agg(sum("freq").as("n"))

  /** The BPE ENCODER: apply a learned merge sequence (in order) to a
    * word column, returning its symbol array — a fixed chain of
    * `nMerges` codegen'd string replaces over the wrapped representation
    * ([[bpeTrain]]'s), no UDF, runs inside the scan.
    */
  def bpeSegment(word: Column,
      merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column = {
    val chars = baseSymbols(word, byteLevel)
    val wrapped = concat(lit(" "), array_join(chars, "  "), lit(" "))
    val applied = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      org.apache.spark.sql.functions.replace(
        s, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(applied), "  ")
  }

  /** Base symbolization shared by [[bpeTrain]] and [[bpeSegment]]:
    * char-level (one symbol per character) or BYTE-level — each UTF-8
    * byte rendered as a fixed-width uppercase hex pair, the identical
    * output of Spark's `hex(encode(w, 'UTF-8'))` and DuckDB's
    * `hex(encode(w))`, and order-isomorphic to the byte values (hex
    * digits 0-9A-F sort like the nibbles they encode), so lexicographic
    * tie-breaks agree across engines AND across representations. The
    * byte alphabet is CLOSED at 256 symbols: any Unicode word segments
    * with zero OOV by construction, and [[bpeBytesDecode]] inverts any
    * segmentation back to the exact original string.
    */
  private def baseSymbols(word: Column, byteLevel: Boolean): Column =
    if (byteLevel)
      regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0))
    else regexp_extract_all(word, lit("."), lit(0))

  /** Inverse of byte-level [[bpeSegment]]: hex-pair symbols → bytes →
    * UTF-8 string. Merged symbols are concatenations of whole hex pairs,
    * so the concat of ANY segmentation is the word's full hex rendering.
    */
  def bpeBytesDecode(symbols: Column): Column =
    decode(unhex(concat_ws("", symbols)), "UTF-8")

  /** Sliding-window document chunking — the context-length segmenter every
    * training/RAG pipeline runs before tokenization proper: whitespace
    * tokens in windows of `size` advancing by `stride` (overlap =
    * `size − stride` tokens), the final window keeping the tail even when
    * short. Output: one row per chunk with (`idCol`, chunk_id, n_tokens,
    * chunk_sig, chunk — the token slice rejoined).
    *
    * Chunk count is `1 + max(ceil((n − size) / stride), 0)` in exact
    * integer math (never float division), so engines can recompute the
    * boundary exactly; `chunk_sig` is md5 over the space-rejoined slice so
    * SQL oracles can verify content without hauling full chunk text.
    *
    * Scale shape: narrow per-row explode — no shuffle, no window, runs
    * inside the scan; output row count is ~`n/stride` per doc, linear in
    * corpus size. The token array and each chunk slice are materialized in
    * their own projections (a generator re-evaluates nested expressions
    * per reference — the [[ngramsFromTokens]] lesson).
    */
  /** Good-Turing frequency spectrum (Gale & Sampson 1995) per group:
    * how many distinct tokens occur exactly r times (`n_r`), and the
    * Turing adjusted count r* = (r+1)·N_{r+1}/N_r — the quantity
    * Good-Turing smoothing discounts LM counts by (null when no token
    * occurs r+1 times: the raw spectrum is reported, not an
    * interpolated fit — smoothing choices belong to the caller).
    * Exact integer products and ONE division per row — engine-exact
    * with no rounding.
    *
    * Scale shape: one explode + two count aggregations (token counts,
    * then count-of-counts) and a spectrum-sized self-join on
    * (group, r+1) — the spectrum has at most max-frequency rows per
    * group, catalog-sized next to the corpus.
    */
  def frequencySpectrum(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val counts = df
      .select(col(groupCol), explode(normalizedTokens(col(textCol)))
        .as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("r"))
    val spec = counts.groupBy(groupCol, "r")
      .agg(count(lit(1)).as("n_r"))
    val next = spec.select(col(groupCol), (col("r") - 1).as("r"),
      col("n_r").as("__n_next"))
    spec.join(next, Seq(groupCol, "r"), "left")
      .select(col(groupCol), col("r"), col("n_r"),
        ((col("r") + 1) * col("__n_next") / col("n_r")).as("gt_rstar"))
  }

  /** Zipf rank–frequency slope per group (Zipf 1949; the standard
    * least-squares fit of ln freq against ln rank over the top `topR`
    * tokens): the corpus-health number that flags template-heavy or
    * degenerate sources (natural text sits near −1). Ranks break count
    * ties by token ascending (deterministic under any partitioning);
    * the fit runs over ≤ topR rows per group, outputs rounded 6dp (+1e-9
    * first — the ln-sum doctrine: accumulation-order ulps must not flip
    * the hash).
    *
    * Scale shape: the token count table shuffles once; ranking is a
    * window PARTITIONED by group over the vocabulary (per-group state,
    * never corpus-global); the regression is one 5-sum aggregation over
    * ≤ topR rows per group.
    */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
      topR: Int = 100): DataFrame = {
    require(topR >= 2, s"topR must be >= 2, got $topR")
    val counts = df
      .select(col(groupCol), explode(normalizedTokens(col(textCol)))
        .as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("cnt").desc, col("token"))
    val ranked = counts
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topR)
      .withColumn("__x", log(col("rank").cast("double")))
      .withColumn("__y", log(col("cnt").cast("double")))
    lnLeastSquares(ranked, groupCol)
      .select(col(groupCol), col("__n").cast("long").as("n_terms"),
        round(col("__slope") + lit(1e-9), 6).as("slope"),
        round(col("__icept") + lit(1e-9), 6).as("intercept"))
  }

  /** Per-group least squares of `__y` on `__x` — the shared fit of
    * [[zipfSlope]] and [[heapsFit]]. Returns the raw (unrounded)
    * `(__n, __slope, __icept)` per group; callers round at their output
    * boundary (the ln-sum doctrine). One 5-sum aggregation; the slope
    * and intercept expressions are parenthesized exactly as the oracles
    * write them.
    */
  /** RAKE keyword extraction (Rose et al. 2010 "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal runs of non-stopword tokens; each word scores
    * deg(w)/freq(w) over the document's own candidates (deg counts the
    * full length of every phrase the occurrence sits in, so words that
    * travel in long collocations outscore isolated ones); a phrase
    * scores the sum of its words' scores; the document's keyword is the
    * top phrase. The model-free keyword/topic tagger beside
    * [[textRankSummary]] (which ranks whole sentences) — per-doc
    * document tagging for corpus triage, dataset cards, and mixture
    * diagnostics.
    *
    * Determinism: deg/freq are exact integers and each word score is
    * ONE division (engine-exact); the per-phrase sum accumulates in
    * engine order so it rounds (+1e-9, 6 — the q97 doctrine); rank ties
    * break to the EARLIEST phrase (min token position, unique within a
    * doc). Phrase text reassembles under the collect-skips-nulls ≡
    * ordered string_agg parity (round-6 convention). Docs whose tokens
    * are all stopwords (or empty) emit nothing.
    *
    * Scale shape: every window and aggregation is doc-keyed (the q272
    * islands pattern) — phrase ids via one cumsum window, lengths and
    * word stats as doc-grain aggs, the final argmax a doc-partitioned
    * row_number. No corpus-scale shuffle beyond the doc key; stopwords
    * ride as literals.
    */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
      stops: Seq[String] = stopwords): DataFrame = {
    require(stops.nonEmpty, "rakeKeywords: empty stopword list")
    val tok = df.select(col(idCol),
        posexplode(normalizedTokens(col(textCol))).as(Seq("pos", "word")))
      .withColumn("__stop", col("word").isin(stops: _*))
    val wCum = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val body = tok
      .withColumn("__pid",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(wCum))
      .filter(!col("__stop"))
      .select(col(idCol), col("__pid"), col("pos"), col("word"))
    val plen = body.groupBy(col(idCol), col("__pid"))
      .agg(count(lit(1)).as("__plen"))
    val occ = body.join(plen, Seq(idCol, "__pid"))
    val ws = occ.groupBy(col(idCol), col("word"))
      .agg(sum("__plen").as("__deg"), count(lit(1)).as("__freq"))
    val phrases = occ.join(ws, Seq(idCol, "word"))
      .withColumn("__wscore", col("__deg") / col("__freq"))
      .groupBy(col(idCol), col("__pid"))
      .agg(round(sum(col("__wscore")) + lit(1e-9), 6).as("score"),
        count(lit(1)).as("n_words"),
        min("pos").as("__ppos"),
        array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("word").as("w")))),
          x => x.getField("w")), " ").as("phrase"))
    val wTop = Window.partitionBy(idCol).orderBy(desc("score"),
      col("__ppos"))
    phrases
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("phrase"), col("score"), col("n_words"))
  }

  /** Windowed PPMI word associations (Church & Hanks 1990; the
    * count-based distributional-semantics prep of Levy & Goldberg
    * 2014): co-occurrence counts over a ±`window` token context,
    * PMI = ln(p(a,b) / (p(a)·p(b))) over the pair multiset, top-k
    * positive associations above a support floor. [[graft.operators
    * .NgramLm.collocations]] mines ADJACENT pairs; this is the
    * skip-gram generalization whose margins are exactly the counts a
    * PPMI vector model factorizes.
    *
    * Pairs generate as per-row HOF math over a self-materialized token
    * array (no self-join): anchor i pairs with positions i+1..i+window,
    * unordered (lexicographic canonicalization; both CASE branches
    * alias identical struct field names — the round-10 trap). Margins
    * count each pair at BOTH endpoints (M = 2T by construction;
    * same-word pairs contribute twice to their word, correctly).
    *
    * Determinism: every count is exact-integer; pmi computes three
    * exact divisions + one multiply + one divide in ONE fixed op order
    * inside the ln (the q97 parity doctrine), rounds (+1e-9, 6), and
    * ranks on the ROUNDED value with the (a, b) tie-break.
    *
    * Scale shape: one explode into a (a, b)-keyed count (map-side
    * combinable), vocabulary-keyed margin joins (the q100 class),
    * 1×1 totals broadcast, bounded top-k.
    */
  def ppmiAssociations(df: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5, k: Int = 30): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    require(minCount >= 1, s"minCount must be positive, got $minCount")
    require(k >= 1, s"k must be positive, got $k")
    val toks = df.select(normalizedTokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val pairStructs = flatten(transform(
      sequence(lit(1), size(col("__toks")) - 1),
      i => transform(slice(col("__toks"), i + 1, lit(window)), x =>
        when(element_at(col("__toks"), i) <= x,
          struct(element_at(col("__toks"), i).as("a"), x.as("b")))
        .otherwise(
          struct(x.as("a"), element_at(col("__toks"), i).as("b"))))))
    val pairs = toks.select(explode(pairStructs).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
    val nab = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val margins = nab.select(col("a").as("w"), col("n_ab"))
      .unionByName(nab.select(col("b").as("w"), col("n_ab")))
      .groupBy("w").agg(sum("n_ab").as("n_w"))
    val tot = nab.agg(sum("n_ab").as("__t"))
    val m = margins.agg(sum("n_w").as("__m"))
    nab.filter(col("n_ab") >= minCount)
      .join(margins.select(col("w").as("a"), col("n_w").as("n_a")),
        Seq("a"))
      .join(margins.select(col("w").as("b"), col("n_w").as("n_b")),
        Seq("b"))
      .crossJoin(broadcast(tot.crossJoin(broadcast(m))))
      .withColumn("pmi", round(log(
        (col("n_ab") / col("__t")) /
          ((col("n_a") / col("__m")) * (col("n_b") / col("__m"))))
        + lit(1e-9), 6))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b"))
      .limit(k)
  }

  /** Gries' DP dispersion ("deviation of proportions", Gries 2008) for
    * the corpus's top-N terms across parts (sources): DP_t = ½ Σ_p
    * |obs_{t,p} − exp_p| where exp_p is part p's share of all tokens
    * and obs_{t,p} is the term's share of its own occurrences falling
    * in p. DP ≈ 0 = the term is spread exactly like the corpus (a
    * function word); DP → 1 = the term lives in one part (a topical /
    * bursty term) — the dispersion axis the raw frequency spectrum
    * can't see, and a mixture-weighting input beside [[keynessScores]]
    * (which contrasts ONE part against the rest; DP summarizes all
    * parts at once).
    *
    * Zero-count parts are folded in algebraically instead of generated:
    * Σ_p |obs−exp| = 1 + Σ_{p: c>0} (|obs−exp| − exp), so the sum runs
    * over EXISTING (term, part) rows only — no part×vocab grid
    * materializes. Each row's contribution is exact-division IEEE math
    * in ONE fixed op order; only the cross-part accumulation rounds
    * (+1e-9, 6 — the q97 doctrine). Top-N selection is by exact counts
    * with a term tie-break.
    *
    * Scale shape: one token-count shuffle keyed (part, term); the
    * part-size and top-N frames are catalog/constant sized and
    * broadcast. Output is topN rows.
    */
  def dispersionDP(df: DataFrame, groupCol: String, textCol: String,
      topN: Int = 30): DataFrame = {
    require(topN >= 1, s"topN must be positive, got $topN")
    val tok = df.select(col(groupCol).as("__p"),
      explode(normalizedTokens(col(textCol))).as("term"))
    val ctp = tok.groupBy("__p", "term").agg(count(lit(1)).as("__c"))
    val ct = ctp.groupBy("term").agg(sum("__c").as("n_total"))
    val sp = ctp.groupBy("__p").agg(sum("__c").as("__s"))
    val tot = sp.agg(sum("__s").as("__tot"))
    val top = ct.orderBy(desc("n_total"), col("term")).limit(topN)
    ctp
      .join(broadcast(top), Seq("term"))
      .join(broadcast(sp), Seq("__p"))
      .crossJoin(broadcast(tot))
      .withColumn("__contrib",
        abs(col("__c") / col("n_total") - col("__s") / col("__tot")) -
          col("__s") / col("__tot"))
      .groupBy("term")
      .agg(max("n_total").as("n_total"),
        round(((lit(1.0) + sum(col("__contrib"))) / 2) + lit(1e-9), 6)
          .as("dp"))
      .orderBy("term")
  }

  /** Pairwise cross-group VOCABULARY overlap — the source-composition
    * diagnostic of a corpus-mixing pipeline (Kilgarriff 2001's corpus-
    * similarity question at type grain): for every group pair a < b,
    * the distinct-type intersection, both vocabulary sizes, Jaccard,
    * and both directed containments. Near-identical crawls show as
    * high containment of the smaller vocabulary; a genuinely new
    * source shows low Jaccard against every incumbent — the
    * mixture-design signal q200's gated selection consumes upstream.
    *
    * Determinism (the q120 doctrine): every count is exact-integer;
    * Jaccard = i/(|Va|+|Vb|−i) and each containment are ONE division
    * of exact integers — engine-exact, no rounding.
    *
    * Scale shape: one distinct (group, type) pass (map-side
    * combinable), then a type-keyed self-join whose per-type fan-out
    * is bounded by (#groups choose 2) — #groups is source-catalog
    * sized, never corpus sized, so the join output is ≤ |V_union| ·
    * #groups². Pairs sharing zero types drop out (inner join) —
    * callers wanting the zero rows outer-join against the group
    * catalog. Output column order pinned by an explicit final select
    * (the round-11 using-join rule).
    */
  def vocabularyOverlap(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val d = df.select(col(groupCol).as("__g"),
        explode(normalizedTokens(col(textCol))).as("__tok"))
      .distinct()
    val sizes = d.groupBy("__g").agg(count(lit(1)).as("__v"))
    val inter = d.select(col("__g").as("a"), col("__tok"))
      .join(d.select(col("__g").as("b"), col("__tok")), Seq("__tok"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("__g").as("a"), col("__v").as("n_a"))),
        Seq("a"))
      .join(broadcast(sizes.select(col("__g").as("b"), col("__v").as("n_b"))),
        Seq("b"))
      .select(col("a"), col("b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jaccard"),
        (col("n_common") / col("n_a")).as("containment_a"),
        (col("n_common") / col("n_b")).as("containment_b"))
  }

  private def lnLeastSquares(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .withColumn("__slope",
        (col("__sxy") - col("__sx") * col("__sy") / col("__n")) /
          (col("__sxx") - col("__sx") * col("__sx") / col("__n")))
      .withColumn("__icept",
        col("__sy") / col("__n") - col("__slope") * (col("__sx") / col("__n")))

  /** Distinctive-term extraction per group ("Fightin' Words": Monroe,
    * Colaresi & Quinn 2008 — log-odds with an informative Dirichlet
    * prior): for each (group, token), the z-scored log-odds of the token
    * in the group vs the REST of the corpus under a uniform prior
    * `alpha` per token, top-`topK` tokens per group by the ROUNDED z
    * (ranks must never hang on accumulation ulps — and here there is no
    * accumulation at all: every z is a per-row chain of ln/sqrt over
    * exact integer counts, identical on any engine).
    *
    * Scale shape: three count tables off one explode (per-group-token,
    * per-token, per-group), joined back token-keyed; corpus totals ride
    * in as a single-row broadcast; the top-k is a window PARTITIONED by
    * group over the group's vocabulary.
    *
    * Output: `(groupCol, rank, token, cnt, z)`, topK rows per group.
    */
  def keynessScores(df: DataFrame, groupCol: String, textCol: String,
      alpha: Double = 0.01, topK: Int = 10): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df.select(col(groupCol),
      explode(normalizedTokens(col(textCol))).as("token"))
    val c = toks.groupBy(groupCol, "token").agg(count(lit(1)).as("y"))
    val tt = toks.groupBy("token").agg(count(lit(1)).as("yall"))
    val gt = toks.groupBy(groupCol).agg(count(lit(1)).as("ng"))
    val tot = toks.agg(count(lit(1)).as("n"),
      countDistinct(col("token")).as("v"))
    val s = c.join(tt, "token").join(gt, Seq(groupCol))
      .crossJoin(broadcast(tot))
    val a = lit(alpha)
    val delta =
      log((col("y") + a) / (col("ng") + a * col("v") - col("y") - a)) -
        log((col("yall") - col("y") + a) /
          (col("n") - col("ng") + a * col("v") -
            (col("yall") - col("y")) - a))
    val sigma2 = lit(1.0) / (col("y") + a) +
      lit(1.0) / (col("yall") - col("y") + a)
    val scored = s.withColumn("z",
      round(delta / sqrt(sigma2) + lit(1e-9), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("z").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col(groupCol), col("rank").cast("long").as("rank"),
        col("token"), col("y").as("cnt"), col("z"))
  }

  /** Heaps'-law vocabulary growth per group: after each document (in
    * `idCol` order within the group), the cumulative token count and the
    * cumulative DISTINCT-token count. A token's first occurrence is its
    * minimum doc id (set once by an aggregation, not a scan order); the
    * running totals use the two-phase chunked-cumsum discipline
    * (sliceSequences' pattern with the doc id itself as the order key:
    * the chunk `id DIV chunkSize` is a prefix of the order, so per-chunk
    * windows + a per-group chunk-catalog stitch reproduce the global
    * cumsum exactly — no corpus-scale window partition). `chunkSize`
    * bounds the local window's partition; raise it only with the id
    * range (the SNM chunkChars knob doctrine).
    *
    * Output: one row per (group, doc with >= 1 token):
    * `(groupCol, idCol, n_tokens, n_new, cum_tokens, cum_vocab)`.
    */
  def heapsGrowth(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, chunkSize: Long = 4096): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(df.schema(idCol).dataType),
      s"heapsGrowth needs an integral id column, got " +
        df.schema(idCol).dataType.simpleString)
    val toks = df.select(col(groupCol), col(idCol),
      explode(normalizedTokens(col(textCol))).as("__tok"))
    val perDoc = toks.groupBy(groupCol, idCol)
      .agg(count(lit(1)).as("n_tokens"))
    val firstDoc = toks.groupBy(groupCol, "__tok")
      .agg(min(col(idCol)).as("__fd"))
    val perDocNew = firstDoc.groupBy(groupCol, "__fd")
      .agg(count(lit(1)).as("n_new"))
      .withColumnRenamed("__fd", idCol)
    val joined = perDoc.join(perDocNew, Seq(groupCol, idCol), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("__chunk", expr(s"$idCol DIV $chunkSize"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__chunk")).orderBy(col(idCol))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val local = joined
      .withColumn("__lt", sum("n_tokens").over(wLocal))
      .withColumn("__ln", sum("n_new").over(wLocal))
    // per-group chunk catalog: bounded by id-range/chunkSize, never
    // corpus-row-sized
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__chunk"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = joined.groupBy(groupCol, "__chunk")
      .agg(sum("n_tokens").as("__ct"), sum("n_new").as("__cn"))
      .withColumn("__ot", coalesce(sum("__ct").over(wOff), lit(0L)))
      .withColumn("__on", coalesce(sum("__cn").over(wOff), lit(0L)))
      .select(col(groupCol), col("__chunk"), col("__ot"), col("__on"))
    local.join(broadcast(offsets), Seq(groupCol, "__chunk"))
      .select(col(groupCol), col(idCol), col("n_tokens"), col("n_new"),
        (col("__ot") + col("__lt")).as("cum_tokens"),
        (col("__on") + col("__ln")).as("cum_vocab"))
  }

  /** Heaps'-law fit per group: V = K·n^β ⇒ ln V = ln K + β·ln n, least
    * squares over the [[heapsGrowth]] curve's per-doc points. Natural
    * text sits at β ≈ 0.4–0.6; β near 0 flags a closed vocabulary
    * (template corpus), β near 1 flags near-unique tokens (ids, hashes).
    * Output: `(groupCol, n_points, beta, ln_k)`, rounded 6dp.
    */
  def heapsFit(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, chunkSize: Long = 4096): DataFrame = {
    val curve = heapsGrowth(df, groupCol, idCol, textCol, chunkSize)
      .withColumn("__x", log(col("cum_tokens").cast("double")))
      .withColumn("__y", log(col("cum_vocab").cast("double")))
    lnLeastSquares(curve, groupCol)
      .select(col(groupCol), col("__n").cast("long").as("n_points"),
        round(col("__slope") + lit(1e-9), 6).as("beta"),
        round(col("__icept") + lit(1e-9), 6).as("ln_k"))
  }

  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be positive, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride (chunkSize $chunkSize)")
    val toks = regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
    val base = df
      .select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      // exact integer chunk count; the empty guard matters because
      // sequence(0, -1) counts DOWN
      .withColumn("__nc", when(col("__n") <= 0, lit(0L)).otherwise(
        lit(1L) + greatest(
          expr(s"(__n - $chunkSize + ${stride - 1}) DIV $stride"), lit(0L))))
    base
      .select(col(idCol), col("__toks"),
        explode(when(col("__nc") > 0, sequence(lit(0L), col("__nc") - 1))
          .otherwise(array().cast("array<bigint>"))).as("chunk_id"))
      .withColumn("__chunk", slice(col("__toks"),
        (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
      // rejoin once in its own projection: chunk text feeds BOTH the
      // signature and the output column
      .withColumn("chunk", array_join(col("__chunk"), " "))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(col("chunk")).as("chunk_sig"), col("chunk"))
  }

  /** BM25 ranking (Robertson–Spärck Jones; the Lucene practical form
    * with +1 inside the log so idf stays positive): score every document
    * against a literal bag of query terms,
    * `Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))` with
    * `idf_t = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)` — the classic
    * sparse-retrieval counterpart to the dense [[graft.operators
    * .SimilaritySearch]] path (hybrid retrieval runs both).
    *
    * Scale shape: ONE corpus pass computes each doc's length and its
    * per-term counts (a fixed handful of codegen'd array filters — the
    * query is request-sized); corpus stats (N, avgdl, per-term df) are a
    * single-row re-aggregation of that doc-grain frame riding back in as
    * a broadcast; the final cut is a bounded top-k on the ROUNDED score
    * (accumulation over nTerms varies in order → round before ranking,
    * the q97/q100 ln-parity discipline).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25: empty term list")
    require(terms.distinct == terms, s"bm25: duplicate terms in $terms")
    require(k >= 1, s"k must be positive, got $k")
    val perDoc = df
      .select(col(idCol), normalizedTokens(col(textCol)).as("__toks"))
      .select(col(idCol) +:
        size(col("__toks")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), x => x === t)).cast("long").as(s"__tf_$i")
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).as("__n"),
      (sum("dl").cast("double") / count(lit(1))).as("__avgdl") +:
        terms.indices.map(i =>
          sum((col(s"__tf_$i") > 0).cast("long")).as(s"__df_$i")): _*)
    val contrib = terms.indices.map { i =>
      val tf = col(s"__tf_$i")
      val idf = log((col("__n") - col(s"__df_$i") + 0.5) /
        (col(s"__df_$i") + 0.5) + 1)
      when(tf > 0, idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"__tf_$i")).reduce(_ + _) > 0)
      .withColumn("bm25", round(contrib + lit(1e-9), 6))
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
      .select(col(idCol), col("bm25"), col("dl"))
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty 2001)
    * — the language-model retrieval family beside [[bm25]]'s
    * probabilistic one: score(d) = Σ_t ln((tf_t + μ·(ctf_t/|C|)) /
    * (dl + μ)) over the query terms, where ctf_t is the term's
    * collection frequency and |C| the total token count. Unlike BM25,
    * ZERO-tf terms still contribute (the smoothing mass) — only docs
    * with at least one query-term occurrence rank (the standard
    * implementation cut).
    *
    * Determinism: tf/ctf/|C|/dl are exact integers; ctf/|C| is a single
    * exact division; the μ arithmetic is written in ONE fixed op order
    * mirrored verbatim by the oracle (the q136 never-pre-fold rule);
    * the ≤|terms| ln-sum accumulates in fixed column order and rounds
    * (+1e-9, 6) — ranks can never flip on ulps (the q97 doctrine).
    * Scale shape = [[bm25]]'s: one corpus pass, single-row stats
    * broadcast, bounded top-k.
    */
  def dirichletQL(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], mu: Double = 2000.0, k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "dirichletQL: empty term list")
    require(terms.distinct == terms, s"dirichletQL: duplicate terms in $terms")
    require(k >= 1, s"k must be positive, got $k")
    require(mu > 0, s"mu must be positive, got $mu")
    val perDoc = qlPerDocRescan(df, idCol, textCol, terms)
    qlRank(perDoc, qlStatsOf(perDoc, terms.size), idCol, terms.size,
      k)(dirichletContrib(mu))
  }

  /** Jelinek–Mercer-smoothed query likelihood (Zhai & Lafferty 2001's
    * other smoother — linear interpolation instead of [[dirichletQL]]'s
    * Dirichlet prior): score(q,d) = Σ_t ln(λ·tf_t/dl + (1−λ)·ctf_t/|C|).
    * JM mixes a FIXED collection-model weight per term regardless of
    * document length (favors verbose queries; Dirichlet's length-adaptive
    * prior favors keyword queries — Zhai & Lafferty §5's finding), so the
    * two families legitimately rank differently on the same corpus.
    *
    * Determinism: tf/dl and ctf/|C| are each ONE division of exact
    * integers (engine-exact, the q120 doctrine); λ and (1 − λ) are
    * written unfolded in the oracle (the q136 rule); the ln-sum
    * accumulates in fixed column order and rounds (+1e-9, 6). Scale
    * shape = [[bm25]]'s: one corpus pass, single-row broadcast stats,
    * bounded top-k.
    */
  def jelinekMercerQL(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], lambda: Double = 0.7, k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "jelinekMercerQL: empty term list")
    require(terms.distinct == terms,
      s"jelinekMercerQL: duplicate terms in $terms")
    require(k >= 1, s"k must be positive, got $k")
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val perDoc = qlPerDocRescan(df, idCol, textCol, terms)
    qlRank(perDoc, qlStatsOf(perDoc, terms.size), idCol, terms.size,
      k)(jmContrib(lambda))
  }

  /** Rescan per-doc frame shared by the QL family: dl + one exact tf
    * column per query term, in term order.
    */
  private def qlPerDocRescan(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = df
    .select(col(idCol), normalizedTokens(col(textCol)).as("__toks"))
    .select(col(idCol) +:
      size(col("__toks")).cast("long").as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        size(filter(col("__toks"), x => x === t)).cast("long").as(s"__tf_$i")
      }: _*)

  /** Collection stats for the QL family: |C| + one ctf column per term. */
  private def qlStatsOf(perDoc: DataFrame, nTerms: Int): DataFrame =
    perDoc.agg(
      sum("dl").as("__cs"),
      (0 until nTerms).map(i => sum(col(s"__tf_$i")).as(s"__ctf_$i")): _*)

  /** [[dirichletQL]] over a STORED postings artifact ([[bm25FromIndex]]'s
    * sibling): tf per (doc, term) from ≤|terms| pruned partitions, ctf as
    * their sums, |C| from the doclens companion — no corpus scan,
    * bit-identical to the rescan. `corpus` known up front
    * ([[bm25FromIndex]]) makes |C| a plan literal; its dfs are unused.
    */
  def dirichletQLFromIndex(postings: DataFrame, doclens: DataFrame,
      idCol: String, terms: Seq[String], mu: Double = 2000.0,
      k: Int = 20, corpus: Option[CorpusStats] = None): DataFrame = {
    require(terms.nonEmpty, "dirichletQLFromIndex: empty term list")
    require(terms.distinct == terms,
      s"dirichletQLFromIndex: duplicate terms in $terms")
    require(k >= 1 && mu > 0, s"bad k/mu: $k/$mu")
    val (perDoc, stats) = qlStoredFrames(postings, doclens, idCol, terms,
      corpus)
    qlRank(perDoc, stats, idCol, terms.size, k)(dirichletContrib(mu))
  }

  /** Stored-artifact (perDoc, stats) frames shared by the QL family. */
  private def qlStoredFrames(postings: DataFrame, doclens: DataFrame,
      idCol: String, terms: Seq[String],
      corpus: Option[CorpusStats]): (DataFrame, DataFrame) = {
    // explicit isNotNull: the same ReusedExchange-enabling filter as
    // bm25FromIndex (the doclens inner join pushes it into one branch
    // only otherwise; a no-op on values — postings ids are non-null)
    val hits = postings.filter(col("term").isin(terms: _*) &&
      col(idCol).isNotNull)
    val perDocAgg = hits.groupBy(col(idCol))
      .agg(terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
        }.head,
        terms.zipWithIndex.tail.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
        }: _*)
    val perDoc = perDocAgg.join(doclens, Seq(idCol))
    // collection term frequencies re-aggregate the PER-DOC table:
    // Σ_docs(per-doc Σ tf) ≡ Σ_rows tf exactly (integer sums regrouped),
    // and both consumers now share the hits→groupBy(id) exchange, so the
    // pruned postings partitions are scanned ONCE per probe (the
    // bm25FromIndex r18 restructure)
    val ctfs = perDocAgg.agg(
      terms.indices.map { i =>
        sum(col(s"__tf_$i")).as(s"__ctf_$i")
      }.head,
      terms.indices.tail.map { i =>
        sum(col(s"__tf_$i")).as(s"__ctf_$i")
      }: _*)
    // |C| = Σdl: a literal from the known corpus stats (null over an
    // empty doclens, as sum gives), else aggregated in-plan, with an
    // explicit broadcast on the 1×1 stats cross (the bm25FromIndex rule)
    (perDoc, corpus match {
      case Some(CorpusStats(n, sumDl, _)) => ctfs.select(col("*"),
        (if (n == 0) lit(null).cast("long") else lit(sumDl)).as("__cs"))
      case None => doclens.agg(sum("dl").as("__cs")).crossJoin(broadcast(ctfs))
    })
  }

  /** [[jelinekMercerQL]] over a STORED postings artifact — the
    * [[dirichletQLFromIndex]] frames with the JM contribution: tf per
    * (doc, term) from ≤ |terms| pruned partitions, ctf as their sums,
    * |C| from the doclens companion. Bit-identical to the rescan.
    */
  def jelinekMercerQLFromIndex(postings: DataFrame, doclens: DataFrame,
      idCol: String, terms: Seq[String], lambda: Double = 0.7,
      k: Int = 20, corpus: Option[CorpusStats] = None): DataFrame = {
    require(terms.nonEmpty, "jelinekMercerQLFromIndex: empty term list")
    require(terms.distinct == terms,
      s"jelinekMercerQLFromIndex: duplicate terms in $terms")
    require(k >= 1, s"k must be positive, got $k")
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val (perDoc, stats) = qlStoredFrames(postings, doclens, idCol, terms,
      corpus)
    qlRank(perDoc, stats, idCol, terms.size, k)(jmContrib(lambda))
  }

  /** Shared QL scoring tail: per-doc tf columns × broadcast (cs, ctf)
    * stats → rounded ln-sum → bounded top-k. The stored path's perDoc
    * only holds docs with Σtf > 0 already; the rescan filters here —
    * both end on the identical eligible set.
    */
  private def qlRank(perDoc: DataFrame, stats: DataFrame, idCol: String,
      nTerms: Int, k: Int)(contribOf: Int => Column): DataFrame = {
    val contrib = (0 until nTerms).map(contribOf).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .filter((0 until nTerms).map(i => col(s"__tf_$i")).reduce(_ + _) > 0)
      .withColumn("ql", round(contrib + lit(1e-9), 6))
      .orderBy(desc("ql"), col(idCol))
      .limit(k)
      .select(col(idCol), col("ql"), col("dl"))
  }

  /** The Dirichlet per-term ln contribution — μ arithmetic in ONE fixed
    * op order mirrored verbatim by the oracle (the q136 rule).
    */
  private def dirichletContrib(mu: Double)(i: Int): Column =
    log((col(s"__tf_$i") + lit(mu) * (col(s"__ctf_$i") / col("__cs"))) /
      (col("dl") + lit(mu)))

  /** The Jelinek–Mercer per-term ln contribution: λ·tf/dl + (1−λ)·ctf/|C|,
    * each ratio ONE exact-integer division, (1 − λ) never pre-folded.
    */
  private def jmContrib(lambda: Double)(i: Int): Column =
    log(lit(lambda) * (col(s"__tf_$i") / col("dl")) +
      (lit(1.0) - lit(lambda)) * (col(s"__ctf_$i") / col("__cs")))

  /** WEIGHTED BM25 over a DATA-SIZED term set — the join-based sibling
    * of [[bm25]] for queries whose terms are not compile-time literals
    * (relevance-feedback expansion, query logs, learned term weights).
    * [[bm25]] pivots each term into its own column — right for a
    * handful of literal terms, wrong for a term FRAME; here the terms
    * ride in as a broadcast (term, w) join against the exploded
    * token-frequency table, so hundreds of weighted terms cost one
    * hash probe per posting, not one column each.
    *
    * Arithmetic parity: the per-term contribution is [[bm25]]'s chain
    * verbatim with the weight multiplied on the LEFT; the per-doc sum
    * accumulates join rows in engine order, so it rounds (+1e-9, 6) —
    * the q97 identical-inputs-then-round doctrine (where [[bm25]]'s
    * fixed column order made rounding belt-and-braces, here it is the
    * load-bearing convention, mirrored by any oracle).
    */
  def bm25Weighted(df: DataFrame, idCol: String, textCol: String,
      weightedTerms: Seq[(String, Double)], k1: Double = 1.2,
      b: Double = 0.75, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    bm25WeightedScores(df, idCol, textCol, weightedTerms, k1, b)
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
      .select(col(idCol), col("bm25"), col("dl"))
  }

  /** [[bm25Weighted]] WITHOUT the top-k cut — every row with ≥ 1 term
    * hit and its rounded score: the building block for aggregations
    * OVER the scored set (per-document max-pooling of passage scores,
    * score histograms) where a shortlist would lose rows. Output:
    * (idCol, dl, bm25).
    */
  def bm25WeightedScores(df: DataFrame, idCol: String, textCol: String,
      weightedTerms: Seq[(String, Double)], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(weightedTerms.nonEmpty, "bm25Weighted: empty term list")
    require(weightedTerms.map(_._1).distinct.size == weightedTerms.size,
      s"bm25Weighted: duplicate terms in ${weightedTerms.map(_._1)}")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol),
      normalizedTokens(col(textCol)).as("__t"))
    val stats = toks
      .select(size(col("__t")).cast("long").as("dl"))
      .agg(count(lit(1)).as("__n"),
        (sum("dl").cast("double") / count(lit(1))).as("__avgdl"))
    val tf = toks
      .select(col(idCol), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val hits = tf.join(
      broadcast(weightedTerms.toDF("term", "w")), Seq("term"))
    val dfq = hits.groupBy("term").agg(count(lit(1)).as("__dfq"))
    val c = col("w") *
      log((col("__n") - col("__dfq") + 0.5) / (col("__dfq") + 0.5) + 1) *
      (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) *
        (lit(1.0) - b + lit(b) * col("dl") / col("__avgdl")))
    hits.join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), c.as("__c"))
      .groupBy(col(idCol), col("dl"))
      .agg(round(sum("__c") + lit(1e-9), 6).as("bm25"))
      .select(col(idCol), col("dl"), col("bm25"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971; the
    * RM-style term weighting of Lavrenko & Croft 2001): retrieve a
    * feedback set with the original query, mine its strongest terms,
    * re-retrieve with the expanded weighted query — the classic fix for
    * vocabulary mismatch (a query about "vectors" also pulling docs
    * that say "embedding"), and the sparse sibling of q236's dense MMR
    * post-processing.
    *
    * Stages: (1) feedback set = [[bm25]] top `fbK` on the original
    * terms (literal terms — the fixed-order column formulation);
    * (2) expansion score per candidate term = Σ_{d ∈ fb} tf(t,d)/dl(d)
    * — each addend ONE exact-integer division, the sum over ≤ fbK docs
    * rounded (+1e-9, 6), rank on the ROUNDED score with term-asc
    * tie-break, original terms excluded, top `nExpand` taken (a
    * bounded driver collect — the cap-and-switch precedent);
    * (3) final retrieval = [[bm25Weighted]] with originals at weight
    * 1.0 and expansion terms at `expWeight` (default 1/2 — dyadic).
    *
    * Scale shape: stage 1/3 are corpus scans with broadcast term sets
    * (or swap in the stored-postings index for both); stage 2 touches
    * ONLY the fbK feedback documents.
    */
  def prfExpandedBm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], fbK: Int = 10, nExpand: Int = 5,
      expWeight: Double = 0.5, k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20): DataFrame = {
    require(nExpand >= 1, s"nExpand must be positive, got $nExpand")
    require(fbK >= 1, s"fbK must be positive, got $fbK")
    val fb = bm25(df, idCol, textCol, terms, k1, b, fbK)
      .select(col(idCol))
    val expansion = df
      .select(col(idCol), normalizedTokens(col(textCol)).as("__t"))
      .join(broadcast(fb), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .filter(!col("term").isin(terms: _*))
      .groupBy("term")
      .agg(round(sum(col("tf").cast("double") / col("dl")) + lit(1e-9), 6)
        .as("__es"))
      .orderBy(desc("__es"), col("term"))
      .limit(nExpand)
      .collect().map(_.getString(0)).toSeq
    bm25Weighted(df, idCol, textCol,
      terms.map((_, 1.0)) ++ expansion.map((_, expWeight)), k1, b, k)
  }

  /** Inverted index build — the sparse-retrieval sibling of the vector
    * side's stored codes: one corpus pass materializes term-grain
    * postings `(term, idCol, tf)` (tf ≥ 1 by construction — absent
    * terms have no row), so queries touch ONLY their terms' postings
    * instead of re-tokenizing the corpus per query ([[bm25]]'s shape).
    * Store it partitioned/bucketed by term and a query reads a few
    * postings lists — the classic search-engine layout.
    */
  def invertedIndex(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(normalizedTokens(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL postings — [[invertedIndex]] at occurrence grain:
    * `(term, idCol, pos)` with 0-based token positions, the layout that
    * answers PHRASE queries (and proximity scoring) without touching
    * the documents. One narrow explode (posexplode keeps the position
    * for free); size ≈ corpus token count — the classic positional
    * index trade.
    */
  def invertedIndexPositional(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(normalizedTokens(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col(idCol), col("pos").cast("long").as("pos"))

  /** PROXIMITY retrieval over POSITIONAL postings — the classic minimal
    * cover span: for every document containing ALL `terms`, the width of
    * the smallest token window holding at least one occurrence of each
    * (the positional-index ranking signal between pure BM25 and exact
    * phrase match). The optimal window starts at some term occurrence,
    * so per doc: sorted position arrays per term (one aggregation over
    * the ≤ |terms| pruned postings lists), then pure HOF math —
    * span(p) = max_t min{x ∈ A_t : x ≥ p} − p + 1 over every occurrence
    * p, minimized. All exact integer math (rank cuts can never flip);
    * per-doc cost O(occ² · m) with occ bounded by doc length, constant
    * at corpus scale.
    *
    * Output: (idCol, min_span BIGINT, n_occs BIGINT = total term
    * occurrences); callers rank (min_span ASC, id) and cut.
    */
  def minCoverSpans(positional: DataFrame, idCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2 && terms.distinct == terms,
      s"minCoverSpans needs >= 2 distinct terms, got $terms")
    val idx = terms.indices
    val arrs = positional.filter(col("term").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(when(col("term") === terms.head,
          col("pos")))).as("__p0"),
        idx.tail.map(i => sort_array(collect_list(when(
          col("term") === terms(i), col("pos")))).as(s"__p$i")): _*)
      .filter(idx.map(i => size(col(s"__p$i")) > 0).reduce(_ && _))
      // the starts array materializes in its OWN projection (round-4
      // CollapseProject rule: the span transform reads it per element)
      .withColumn("__starts",
        flatten(array(idx.map(i => col(s"__p$i")): _*)))
    def minGE(i: Int, p: Column) =
      array_min(filter(col(s"__p$i"), x => x >= p))
    val span = (p: Column) => {
      val mins = idx.map(i => minGE(i, p))
      when(mins.map(_.isNotNull).reduce(_ && _),
        mins.reduce((a, b) => greatest(a, b)) - p + 1)
    }
    arrs
      .withColumn("min_span",
        array_min(filter(transform(col("__starts"), span),
          x => x.isNotNull)).cast("long"))
      .select(col(idCol), col("min_span"),
        size(col("__starts")).cast("long").as("n_occs"))
  }

  /** Exact phrase match over POSITIONAL postings: docs containing the
    * consecutive normalized-token sequence `phrase`, with occurrence
    * counts. Term i's postings join term 0's on (doc, pos + i) — m−1
    * hash equi-joins that each touch ONE term's postings list
    * (partition-prunable under the stored layout), never the corpus.
    * Repeated-term phrases ("data data") work — each leg constrains a
    * distinct offset of the SAME list. Output: (idCol, n_hits ≥ 1).
    */
  def phraseHits(positional: DataFrame, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseHits: empty phrase")
    val anchors = positional.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(anchors) {
      case (acc, (t, i)) =>
        acc.join(
          positional.filter(col("term") === t)
            .select(col(idCol), (col("pos") - i).as("pos")),
          Seq(idCol, "pos"))
    }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** A stored index's corpus statistics, known before a query plans:
    * N and Σdl over the live doclens rows, and the document frequency of
    * each query term over the live postings rows (a live document has one
    * postings row per term it contains, so a term's df is its row count).
    * [[bm25FromIndex]] needs the dfs of all its terms; the QL scorers read
    * N and Σdl only.
    */
  final case class CorpusStats(n: Long, sumDl: Long,
      dfs: Map[String, Long] = Map.empty)

  /** BM25's corpus stats as literals from (N, Σdl): `__n` = N and
    * `__avgdl` = Σdl / N — the one IEEE division the in-plan
    * `cast(sum(dl) as double) / count` performs, null over an empty
    * doclens as that aggregation gives.
    */
  private[graft] def bm25StatCols(corpus: (Long, Long)): Seq[Column] = {
    val (n, sumDl) = corpus
    Seq(lit(n).as("__n"),
      (if (n == 0) lit(null).cast("double") else lit(sumDl.toDouble / n.toDouble))
        .as("__avgdl"))
  }

  /** Per-doc lengths — the index's companion frame ([[bm25FromIndex]]
    * needs `dl` and the corpus stats derive from it).
    */
  def docLengths(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(normalizedTokens(col(textCol))).cast("long").as("dl"))

  /** BM25 over a STORED [[invertedIndex]] — value-identical to [[bm25]]
    * (the q193 gate runs it against q136's oracle text): per-doc tfs
    * come back from the postings via a term-pivoting aggregation (exact
    * integer sums — order-free), and the score is the SAME fixed-order
    * contribution expression as [[bm25]], so the doubles are
    * bit-identical, not merely rounded-equal. Cost shape: the postings
    * scan reads |terms| lists (partition-prunable when the index is
    * stored partitioned by term), and the cut is the same bounded top-k
    * on the rounded score. Without `corpus` the stats and dfs are two
    * broadcast-sized aggregations in the plan.
    *
    * `corpus` = the [[CorpusStats]] of `postings` and `doclens`, when the
    * caller already knows them (a database caches them per committed
    * index state): N and avgdl then enter as plan literals
    * ([[bm25StatCols]]) instead of an in-plan doclens aggregation — the
    * same values, the same IEEE division — and so do the dfs, leaving the
    * plan one scoring pass over the per-doc tfs with no aggregation and no
    * broadcast of its own.
    */
  def bm25FromIndex(postings: DataFrame, doclens: DataFrame, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20, corpus: Option[CorpusStats] = None): DataFrame = {
    require(terms.nonEmpty, "bm25FromIndex: empty term list")
    require(terms.distinct == terms, s"bm25FromIndex: duplicate terms in $terms")
    require(k >= 1, s"k must be positive, got $k")
    // the explicit isNotNull matches the filter the doclens inner join
    // pushes into ITS branch — without it the dfs branch's subtree
    // differs by exactly that filter and AQE ReusedExchange cannot dedup
    // the two postings scans (ids are non-null by postings construction,
    // so the filter is a no-op on values)
    val hits = postings.filter(col("term").isin(terms: _*) &&
      col(idCol).isNotNull)
    val perDocAgg = hits.groupBy(col(idCol))
      .agg(terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
        }.head,
        terms.zipWithIndex.tail.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
        }: _*)
    val perDoc = perDocAgg.join(doclens, Seq(idCol))
    // document frequencies re-aggregate the PER-DOC table, not the hits:
    // a live doc has exactly one posting row per term it contains (the
    // segment tombstones guarantee one live version), so
    // count(rows with term t) ≡ count(docs with __tf_t > 0) EXACTLY —
    // and both dfs and the score join now sit above the SAME
    // hits→groupBy(id) exchange, which AQE ReusedExchange dedups: the
    // pruned postings partitions are scanned ONCE per probe instead of
    // twice (r18, guide §2.4); analyzed only when no corpus is given
    def dfs = perDocAgg.agg(
      terms.indices.map { i =>
        sum(when(col(s"__tf_$i") > 0L, 1L).otherwise(0L)).as(s"__df_$i")
      }.head,
      terms.indices.tail.map { i =>
        sum(when(col(s"__tf_$i") > 0L, 1L).otherwise(0L)).as(s"__df_$i")
      }: _*)
    // explicit broadcast: the 1×1 stats cross must never plan as a
    // CartesianProduct when auto-broadcast is disabled (hint survives
    // spark.sql.autoBroadcastJoinThreshold = -1)
    val scored = corpus match {
      case Some(c) =>
        require(terms.forall(c.dfs.contains),
          s"bm25FromIndex: corpus stats without the dfs of ${terms.filterNot(c.dfs.contains)}")
        perDoc.select(col("*") +: (bm25StatCols((c.n, c.sumDl)) ++ terms.zipWithIndex.map {
          case (t, i) => lit(c.dfs(t)).as(s"__df_$i")
        }): _*)
      case None => perDoc.crossJoin(broadcast(doclens.agg(
          count(lit(1)).as("__n"),
          (sum("dl").cast("double") / count(lit(1))).as("__avgdl"))
        .crossJoin(broadcast(dfs))))
    }
    // the contribution chain is copied from bm25() operation-for-
    // operation (the q136 never-pre-fold rule: identical ARITHMETIC)
    val contrib = terms.indices.map { i =>
      val tf = col(s"__tf_$i")
      val idf = log((col("__n") - col(s"__df_$i") + 0.5) /
        (col(s"__df_$i") + 0.5) + 1)
      when(tf > 0, idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    scored
      .withColumn("bm25", round(contrib + lit(1e-9), 6))
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
      .select(col(idCol), col("bm25"), col("dl"))
  }

  /** Content-defined chunking (the Rabin/Gear CDC idea at token
    * granularity): a token closes its span when its seeded 16-bit md5
    * slice ≡ 0 (mod `divisor`) — boundaries are a function of CONTENT,
    * not position, so inserting or deleting a token perturbs only the
    * span it lands in while every later span keeps its exact bytes (and
    * its dedup signature). That insertion-robustness is why storage
    * dedup uses CDC over fixed blocks, and it carries over verbatim to
    * corpus span-dedup ([[graft.operators.Dedup.spanDedupSpans]]).
    * Expected span length ≈ `divisor` tokens; `divisor` must divide
    * 65536 (the house no-modulo-bias rule — here the bias would skew
    * span-length statistics, not just a probability).
    *
    * Output matches [[chunkDocuments]]: `(idCol, chunk_id, chunk,
    * chunk_sig)` — span ids count the boundaries BEFORE each token, so
    * a boundary token is the LAST token of its span.
    *
    * Scale shape: posexplode is narrow; the running boundary count is a
    * window partitioned BY DOCUMENT (millions of tiny partitions — the
    * q19 sessionize shape, parallel across docs, never a global sort);
    * reassembly buffers are bounded by the doc's own token count.
    */
  def cdcSpans(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16, seed: String = "cdc"): DataFrame = {
    require(divisor >= 2 && 65536 % divisor == 0,
      s"divisor must divide 65536 (no modulo bias), got $divisor")
    val toks = regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
    df.select(col(idCol), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("__bd",
        (conv(substring(md5(concat(lit(seed + ":"), col("tok"))), 1, 4),
          16, 10).cast("long") % divisor === 0).cast("long"))
      .withColumn("chunk_id", coalesce(
        sum("__bd").over(Window.partitionBy(idCol).orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(idCol, "chunk_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk"))
      .withColumn("chunk_sig", md5(col("chunk")))
  }
}
