package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation (BASELINE
  * "north_star" extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * and embedding-cosine near-dup.
  *
  * Everything is codegen'd: built-ins over an explode → aggregate shape
  * where rows must meet (shingle-keyed verification, band buckets), and
  * one per-row kernel where they need not — a MinHash signature depends
  * on one document only, so [[graft.functions.MinhashSignature]] hashes
  * its shingles in place, with no shingle rows and no shuffle. Candidate
  * pairs come from equi-joins on small derived keys (band buckets / LSH
  * codes) — never an all-pairs product. Hash functions are md5-based so
  * the exact same signatures are reproducible in any engine (the DuckDB
  * oracles recompute them with the explode/groupBy formula).
  *
  * Scale notes (100 TB corpus):
  *  - shingling and signatures are embarrassingly parallel; the only
  *    MinHash shuffle is groupBy(band/bucket) for candidates;
  *  - band buckets are power-law-ish: a pathological hot bucket (e.g. the
  *    empty document) would quadratically blow up its pair list, so
  *    candidatePairs caps per-bucket membership (`maxBucketSize`) the way
  *    production LSH dedup pipelines drop degenerate buckets.
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column, as array<string>.
    * Docs shorter than n tokens yield an empty array (the short-doc guard
    * lives in [[TextAnalysis.wordNgrams]]).
    */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.wordNgrams(text, n))

  /** (id, shingle) pairs, one row per distinct shingle per doc. Shingling
    * is CPU-bound, so the input is widened to full core parallelism first
    * (see [[Parallelism.ensure]]).
    */
  def explodeShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    Parallelism.ensure(df)
      // tokenize ONCE in a projection; the generator expression references
      // its token input three times (size guard + transform), and inlining
      // the regex there would re-run it per reference
      .select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .select(col(idCol),
        explode(array_distinct(
          TextAnalysis.ngramsFromTokens(col("__toks"), n))).as("shingle"))

  /** MinHash signature per doc: hash function s is the lexicographic min of
    * hex chunk s (4 hex chars = 16 bits) of a SINGLE md5 per shingle — one
    * digest feeds all `numHashes ≤ 8` hash functions, which is 8× fewer
    * digests than an md5-per-seed family at the cost of 16-bit (vs 128-bit)
    * min-wise values; at shingle-set sizes in the hundreds the collision
    * effect on Jaccard estimation is negligible, and the scheme stays
    * engine-reproducible (any SQL dialect can substring an md5).
    *
    * One row per input row: the per-document kernel
    * ([[graft.functions.MinhashSignature]]) hashes a document's shingles
    * where the text is, so the plan has no generator and no shuffle
    * (ids are unique in every caller). Documents shorter than
    * `shingleN` tokens have no shingle and get no row; the cheap
    * [[graft.functions.HasTokens]] screen drops them before any digest.
    * The input is widened to full core parallelism first (see
    * [[Parallelism.ensure]]). Output: (id, mh0..mh{numHashes-1}).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    val text = GraftSqlShims.expression(col(textCol))
    val sig = GraftSqlShims.column(
      graft.functions.MinhashSignature(text, shingleN, numHashes))
    Parallelism.ensure(df)
      .filter(GraftSqlShims.column(graft.functions.HasTokens(text, shingleN)))
      // its own projection: the signature is read numHashes times below,
      // and CollapseProject keeps a non-cheap alias instead of inlining it
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +: (0 until numHashes).map(s =>
        col("__sig").getItem(s).as(s"mh$s")): _*)
  }

  /** LSH banding: band b's key is md5 over the band's `rowsPerBand`
    * signature components. Docs sharing any band key become candidates.
    * Output: (id, band, band_key).
    */
  def bandKeys(signatures: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", lit(b) +: parts: _*)).as("band_key"))
    }
    signatures
      .select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Bias-free LAYOUT bucket of an md5-hex key: the first 4 hex chars
    * are a uniform 16-bit slice and the bucket count must divide 65536
    * (the q82 no-modulo-bias rule — REINDEX enforces it), so
    * `slice % buckets` is exactly uniform. Pure column math — any probe
    * recomputes the artifact's bucket from the key alone, which is what
    * lets an ingest batch push its own bucket set as a partition filter
    * into the stored band/signature scan.
    */
  def sigBucket(key: Column, buckets: Int): Column =
    (conv(substring(key, 1, 4), 16, 10).cast("int") % buckets).cast("int")

  /** Candidate pairs (a < b) from shared band keys. One pass: buckets are
    * aggregated (sorted member sets), degenerate hot buckets
    * (> maxBucketSize members) dropped — at corpus scale those are
    * near-always an artifact (empty/boilerplate docs) that would emit O(n²)
    * pairs — and pairs enumerated from each surviving set with array
    * combinatorics. A self-join formulation would recompute the entire
    * upstream shingle→signature pipeline once per join side; this shape
    * computes it once and shuffles each (band, key) group to a single
    * reducer.
    *
    * The cap is enforced INSIDE the aggregation: [[BoundedDistinctSetAgg]]
    * keeps at most cap+1 distinct ids in every partial buffer and merge, so
    * no executor ever materializes a degenerate bucket (an adversarial
    * corpus can't OOM through `collect_set`) and the plan stays a single
    * shuffle with map-side partial trimming — no extra window sort stage.
    * The overflow test stays exact: an original bucket exceeds the cap iff
    * its capped size is cap+1, and buckets at or under the cap are kept
    * whole, so results equal an unbounded collect + size filter (the
    * oracle SQL's plain HAVING-BETWEEN mirrors it).
    *
    * Ids aggregate as longs (graft's id convention throughout).
    */
  def candidatePairs(banded: DataFrame, idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    // ids aggregate as longs; reject non-integral id columns up front (an
    // ANSI runtime cast error — or silent nulls with ANSI off — would be
    // far less legible than this)
    banded.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"candidatePairs requires an integral id column, got $idCol: $other " +
          "(hash string ids to int64 first)")
    }
    val bounded = udaf(new BoundedDistinctSetAgg(maxBucketSize + 1))
    val bucketed = banded
      .groupBy("band", "band_key")
      .agg(bounded(col(idCol).cast("long")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    bucketed
      .select(explode(flatten(
        transform(col("ids"), (x, i) =>
          transform(
            slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
  }

  /** Full MinHash-LSH candidate generation pipeline. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 8, rowsPerBand: Int = 2,
      maxBucketSize: Int = 1000): DataFrame =
    candidatePairs(
      bandKeys(
        minhashSignatures(df, idCol, textCol, shingleN, numHashes),
        idCol, numHashes, rowsPerBand),
      idCol, maxBucketSize)

  /** SimHash (nBits ≤ 64): bit j of the code is the sign of the sum over
    * tokens of ±1, where the ±1 is the high bit of hex digit j of
    * md5(token) (digits 33–64 come from a second digest, md5(token · '#')).
    * Term frequency weights tokens naturally (explode keeps duplicates).
    * Output: (id, simhash long).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      nBits: Int = 16): DataFrame = {
    require(nBits <= 64, "one long holds at most 64 bits")
    val base = Parallelism.ensure(df).select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val tokens = // second digest only when the code actually uses it
      if (nBits > 32) base.withColumn("h2", md5(concat(col("tok"), lit("#"))))
      else base
    def digit(j: Int) = // 1-based hex digit j across the two digests
      if (j <= 32) substring(col("h"), j, 1) else substring(col("h2"), j - 32, 1)
    val bitSums = (1 to nBits).map { j =>
      sum(when(digit(j) >= "8", 1).otherwise(-1)).as(s"s$j")
    }
    val code = (1 to nBits)
      .map(j => when(col(s"s$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
    tokens.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), code.as("simhash"))
  }

  /** Verified n-gram Jaccard pairs: candidates from shared shingles (an
    * equi-join on the shingle value — no all-pairs), exact Jaccard =
    * |A∩B| / (|A|+|B|-|A∩B|), thresholded.
    *
    * Ubiquitous shingles (corpus frequency > maxShingleFreq — boilerplate)
    * are removed from the universe FIRST, and both the intersection and the
    * set sizes are computed over that filtered universe, so the reported
    * value is a true Jaccard of the filtered shingle sets (mixing filtered
    * intersections with unfiltered sizes would deflate exact duplicates
    * below 1.0).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, threshold: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    val sh = explodeShingles(df, idCol, textCol, shingleN)
    // corpus frequency via aggregate + join, NOT a window over every
    // occurrence: partial aggregation compresses map-side to distinct
    // shingles before the shuffle, and the equi-join back is a hash join —
    // no full sort of the (huge) occurrence list
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("sh_freq"))
      .filter(col("sh_freq") <= maxShingleFreq)
    // the filtered shingle table feeds three subtrees (both intersection
    // legs + sizes) and sized two — materialize once (the jaccardOfPairs
    // trade: one tokenization+freq pass against three)
    val rare = Materialize.corpusScale(sh.join(freq, Seq("shingle")))
    val sized = Materialize.corpusScale(
      rare.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh")))
    val shared = rare.select(col(idCol).as("a_id"), col("shingle"))
      .join(rare.select(col(idCol).as("b_id"), col("shingle")), Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    shared
      .join(sized.select(col(idCol).as("a_id"), col("n_sh").as("a_n")), Seq("a_id"))
      .join(sized.select(col(idCol).as("b_id"), col("n_sh").as("b_n")), Seq("b_id"))
      .withColumn("jaccard",
        col("shared") / (col("a_n") + col("b_n") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995's SNM,
    * the record-linkage classic) — the THIRD candidate-generation family
    * beside probabilistic LSH ([[minhashCandidates]]/[[simhashPairs]])
    * and guarantee-carrying prefix filtering ([[prefixJaccardPairs]]):
    * sort the corpus on a LOCALITY-PRESERVING key (here the first
    * `keyLen` chars of the normalized text — formatting-robust, so
    * near-identical docs sort adjacent) and emit every pair within
    * `window` consecutive sort positions. Cost is exactly
    * N·(window−1) candidate pairs — fixed, skew-proof, tunable — at the
    * price of recall limited to sort-adjacent duplicates (a PREFIX edit
    * moves a doc far away; that is SNM's documented blind spot, and why
    * production linkage runs multi-pass SNM with different keys).
    *
    * Scale shape: the global sort rank is the [[TrainExport
    * .md5RankChunked]] two-phase discipline on the KEY axis — the chunk
    * is a PREFIX of the key, so (chunk, key) order is key order: per-
    * chunk windows + a broadcast stitch of the chunk-count catalog, no
    * single-reducer window. The neighbor join is an equi-join on rank
    * (each row generates its `window−1` successor ranks), never a range
    * scan. Output: (a_id, b_id) with a_id < b_id, plus the rank
    * distance `gap` (1 = sort-adjacent). Rows with NULL `textCol` are
    * excluded (see the in-body note; DedupSpec + the q190/q192 oracles
    * pin the convention).
    *
    * `chunkChars` is the rank-phase parallelism knob: the sort fans out
    * over ~36^chunkChars key-prefix chunks (after normalization the
    * first characters are [a-z0-9 ]). The default (-1) DERIVES the
    * width from the session's task slots ([[ScaleKnobs.snmChunkChars]]:
    * 1 below ~37 slots, 2 up to ~1.3k, 3 beyond) so a 100 TB user no
    * longer has to remember the 36^c rule; pass an explicit width to
    * override. Output is chunk-invariant — the chunk is a PREFIX of the
    * sort key, so any width yields the identical global rank (DedupSpec
    * proves 1 ≡ 2 ≡ derived row-for-row), and skew within a chunk is
    * bounded by how many keys share that prefix, not by corpus size.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 10, keyLen: Int = 40,
      chunkChars: Int = -1): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    // -1 (the default) derives the width from the session's task slots
    // (ScaleKnobs.snmChunkChars) — result-invariant because the chunk is
    // a PREFIX of the sort key (DedupSpec proves width 1 ≡ 2 ≡ derived
    // row-for-row), so the knob is pure parallelism
    val chunks =
      if (chunkChars == -1) ScaleKnobs.snmChunkChars(df, keyLen)
      else chunkChars
    require(keyLen >= 1 && chunks >= 1 && chunks <= keyLen,
      s"need 1 <= chunkChars <= keyLen, got $chunks/$keyLen")
    // NULL-text rows are excluded EXPLICITLY (pinned convention, mirrored
    // by the q190/q192 oracles and DedupSpec): a NULL sort key has no
    // locality to preserve, and leaving it implicit made the exclusion an
    // accident of join semantics (NULL __chunk never matched the offsets
    // catalog) while the offsets window counted the rows — real ranks
    // started at nNulls+1 and the documented N·(window−1) candidate count
    // silently referred to non-null N.
    val key = substring(trim(regexp_replace(regexp_replace(
      lower(col(textCol)), "[^a-z0-9\\s]", " "), "\\s+", " ")), 1, keyLen)
    val keyed = df.filter(col(textCol).isNotNull)
      .select(col(idCol), key.as("__key"))
      .withColumn("__chunk", substring(col("__key"), 1, chunks))
      // consumed by the rank window AND the chunk-count catalog — one
      // key-normalization pass instead of two
      .localCheckpoint(true)
    val wLocal = Window.partitionBy(col("__chunk"))
      .orderBy(col("__key"), col(idCol))
    val local = keyed.withColumn("__lrn",
      row_number().over(wLocal).cast("long"))
    val counts = keyed.groupBy("__chunk").agg(count(lit(1)).as("__cn"))
    val wOff = Window.orderBy("__chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cn")).over(wOff), lit(0L)))
      .select("__chunk", "__off")
    val ranked = local.join(broadcast(offsets), Seq("__chunk"))
      .select(col(idCol), (col("__off") + col("__lrn")).as("__rn"))
      // both sides of the rank-neighbor join read this — materialize
      // the two-column rank table instead of running the window twice
      .localCheckpoint(true)
    // neighbor join: each row meets its window-1 successors by rank.
    // sequence(rn+1, rn+window-1) is never empty (window >= 2), so the
    // descending-sequence trap can't fire.
    val succ = ranked.select(col(idCol).as("__ia"), col("__rn").as("__ra"),
      explode(sequence(col("__rn") + 1,
        col("__rn") + lit(window - 1))).as("__rb"))
    succ.join(ranked.select(col(idCol).as("__ib"), col("__rn").as("__rb")),
        Seq("__rb"))
      .select(least(col("__ia"), col("__ib")).as("a_id"),
        greatest(col("__ia"), col("__ib")).as("b_id"),
        (col("__rb") - col("__ra")).as("gap"))
  }

  /** Exact set-similarity join via PREFIX FILTERING (Bayardo, Ma &
    * Srikant 2007's All-Pairs; the SSJoin/PPJoin family) — the
    * EXACT-recall sibling of [[minhashCandidates]]: where LSH banding
    * finds qualifying pairs with high probability, the prefix filter
    * finds EVERY pair with Jaccard ≥ `num/den`, guaranteed, still
    * without an all-pairs product.
    *
    * The filter: order each doc's shingles by GLOBAL rarity (corpus
    * frequency asc, shingle asc — one total order for everyone); a doc
    * with n shingles keeps only its first `n − ⌈t·n⌉ + 1` as its
    * prefix. Any pair with J ≥ t has |A∩B| ≥ ⌈t·|A|⌉ (the union is at
    * least |A|), so the globally-smallest common shingle must sit
    * inside BOTH prefixes — if it sat past A's prefix, the ≥ n−⌈t·n⌉+1
    * shingles before it would all miss B, leaving at most ⌈t·n⌉−1
    * common. Candidates therefore come from a prefix×prefix equi-join,
    * and exact verification keeps J ≥ t as pure integer math
    * (`shared·den ≥ num·(|A|+|B|−shared)` — no float threshold, the
    * q101/q120 doctrine).
    *
    * Universe convention: shingles over `maxShingleFreq` corpus
    * frequency are dropped FIRST and Jaccard is computed over the
    * filtered universe — identical to [[ngramJaccardPairs]], so at the
    * same parameters the output Jaccard-≥-t set is IDENTICAL (the q187
    * gate runs this against q33's exhaustive oracle to prove zero
    * false negatives under the oracle, not self-reported).
    *
    * Scale shape: prefixes are built with ONE doc-partitioned window
    * (doc-bounded sort, no global sort); the candidate join keys on the
    * RAREST tokens in the corpus — bucket sizes are the frequency of
    * globally-rare shingles, orders of magnitude smaller than LSH band
    * buckets — and verification touches candidates only. Prefix size
    * shrinks as t grows (t = 0.9 keeps ~10% of each doc), so the knob
    * that raises precision also cuts the join. Candidates are further
    * pruned row-wise by the LENGTH filter (num·max(|A|,|B|) ≤
    * den·min(|A|,|B|)) and Xiao et al. 2008's POSITIONAL filter
    * (prefix-position overlap upper bound vs the required overlap
    * α = ⌈num·(|A|+|B|)/(num+den)⌉) — both exactness-preserving
    * theorems (DedupSpec pins the pruning AND the unchanged output).
    * All exact math; the threshold is a rational, never a float.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, num: Int = 1, den: Int = 2,
      maxShingleFreq: Int = 1000): DataFrame =
    prefixJaccardFrom(df, idCol, textCol, shingleN, num, den,
      maxShingleFreq)._2

  /** The candidate frame of [[prefixJaccardPairs]] (post length +
    * positional pruning) — exposed so specs and the q192 cost sheet can
    * measure the pruning without loosening the operator's contract.
    */
  private[graft] def prefixCandidates(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 5, num: Int = 1, den: Int = 2,
      maxShingleFreq: Int = 1000): DataFrame =
    prefixJaccardFrom(df, idCol, textCol, shingleN, num, den,
      maxShingleFreq)._1

  private def prefixJaccardFrom(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, num: Int, den: Int,
      maxShingleFreq: Int): (DataFrame, DataFrame) = {
    require(num >= 1 && den >= 1 && num <= den,
      s"threshold must be a rational in (0, 1]: got $num/$den")
    val sh = explodeShingles(df, idCol, textCol, shingleN)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("__f"))
      .filter(col("__f") <= maxShingleFreq)
    // the rare-shingle table feeds the prefix window + both verification
    // legs, sized three subtrees — materialize both (18 scans in the
    // q187 plan without it, r17 all-plans audit). The prefix frame stays
    // LAZY: its doc-partitioned window is the q187 plan-audit pin.
    val rare = Materialize.corpusScale(sh.join(freq, Seq("shingle")))
    val sized = Materialize.corpusScale(
      rare.groupBy(col(idCol)).agg(count(lit(1)).as("__n")))
    // prefix = the n − ⌈t·n⌉ + 1 globally-rarest shingles of each doc;
    // ⌈n·num/den⌉ as exact integer math (modulus-free DIV form)
    val prefix = rare
      .withColumn("__pos", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("__f"), col("shingle"))))
      .join(sized, Seq(idCol))
      .filter(col("__pos") <=
        col("__n") - expr(s"(__n * $num + ${den - 1}) DIV $den") + 1)
    // candidate pruning BEFORE the distinct, per matching prefix row —
    // both filters are exactness-preserving theorems, not heuristics:
    //  - length filter: J ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ num/den
    //    requires num·max ≤ den·min (pure integer compare);
    //  - positional filter (Xiao et al. 2008's PPJoin bound, generalized
    //    to any matching token): common tokens before position p number
    //    at most min(pa,pb)−1 and from p on at most
    //    min(|A|−pa, |B|−pb)+1, so overlap ≤ the sum; J ≥ t needs
    //    overlap ≥ α = ⌈num·(|A|+|B|)/(num+den)⌉. For the pair's
    //    SMALLEST common token the before-count is 0 and the bound is
    //    ≥ the true overlap, so a qualifying pair always keeps at least
    //    that row — no false negative, while hopeless rows never reach
    //    the distinct or the verification join.
    val cands = prefix
      .select(col(idCol).as("a_id"), col("shingle"),
        col("__pos").as("__pa"), col("__n").as("__na"))
      .join(prefix.select(col(idCol).as("b_id"), col("shingle"),
        col("__pos").as("__pb"), col("__n").as("__nb")), Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .filter(lit(num) * greatest(col("__na"), col("__nb")) <=
        lit(den) * least(col("__na"), col("__nb")))
      .filter(least(col("__pa"), col("__pb")) - 1 +
        least(col("__na") - col("__pa"), col("__nb") - col("__pb")) + 1 >=
        expr(s"((__na + __nb) * $num + ${num + den - 1}) DIV ${num + den}"))
      .select("a_id", "b_id").distinct()
    // exact verification over the candidates only — full filtered-universe
    // intersection counts, integer cross-multiplied threshold
    val shared = cands
      .join(rare.select(col(idCol).as("a_id"), col("shingle")), Seq("a_id"))
      .join(rare.select(col(idCol).as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__shared"))
    val verified = shared
      .join(sized.select(col(idCol).as("a_id"), col("__n").as("__an")), Seq("a_id"))
      .join(sized.select(col(idCol).as("b_id"), col("__n").as("__bn")), Seq("b_id"))
      .filter(col("__shared") * den >=
        lit(num) * (col("__an") + col("__bn") - col("__shared")))
      .withColumn("jaccard",
        col("__shared") / (col("__an") + col("__bn") - col("__shared")))
      .select(col("a_id"), col("b_id"), col("jaccard"))
    (cands, verified)
  }

  /** DIRECTED shingle-containment join — asymmetric near-dup detection:
    * C(A→B) = |A∩B| / |A| ≥ num/den over the filtered shingle universe
    * finds documents mostly CONTAINED in another (quotes, excerpts,
    * partial copies, page-of-a-site duplicates) that symmetric Jaccard
    * misses entirely: a 30-token snippet inside a 500-token page has
    * J ≈ 0.06 but containment 1.0. The scrub rule that follows is
    * "drop the contained copy, keep the container".
    *
    * Prefix-filter recall theorem (the [[prefixJaccardPairs]] family,
    * containment-adapted): C ≥ t needs overlap α = ⌈t·|A|⌉, so any
    * qualifying B shares at least one of A's |A| − α + 1 globally-
    * rarest shingles — A-side prefixes probe the FULL rare-shingle
    * table (the container side cannot be prefixed: containment does
    * not bound |B| from above, only below via den·|B| ≥ num·|A|, the
    * length filter applied before the distinct). Xiao-style positional
    * pruning needs both sides ranked and is deliberately not applied.
    *
    * Universe convention: shingles over `maxShingleFreq` corpus
    * frequency are dropped FIRST (identical to [[ngramJaccardPairs]]);
    * an exhaustive oracle over the same universe must hash-match —
    * recall is proven, not self-reported. All exact integer math; the
    * emitted containment is ONE exact-integer division (q120).
    *
    * Scale shape: prefixes via one doc-partitioned window; the probe
    * join keys on rare shingles (bucket size ≤ maxShingleFreq);
    * verification touches candidates only. Output: directed
    * (a_id contained, b_id container, shared BIGINT, containment).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, num: Int = 3, den: Int = 4,
      maxShingleFreq: Int = 1000): DataFrame = {
    require(num >= 1 && den >= 1 && num <= den,
      s"threshold must be a rational in (0, 1]: got $num/$den")
    val sh = explodeShingles(df, idCol, textCol, shingleN)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("__f"))
      .filter(col("__f") <= maxShingleFreq)
    // the rare-shingle table feeds FOUR subtrees (prefix window, the
    // probe's container side, both verification legs) and sized three —
    // materialize both (32 scans in the q246 plan without it, r17
    // all-plans audit); prefix stays LAZY (its doc-partitioned window is
    // the q246 plan-audit pin)
    val rare = Materialize.corpusScale(sh.join(freq, Seq("shingle")))
    val sized = Materialize.corpusScale(
      rare.groupBy(col(idCol)).agg(count(lit(1)).as("__n")))
    val prefix = rare
      .withColumn("__pos", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("__f"), col("shingle"))))
      .join(sized, Seq(idCol))
      .filter(col("__pos") <=
        col("__n") - expr(s"(__n * $num + ${den - 1}) DIV $den") + 1)
    val cands = prefix
      .select(col(idCol).as("a_id"), col("shingle"), col("__n").as("__na"))
      .join(rare.select(col(idCol).as("b_id"), col("shingle")),
        Seq("shingle"))
      .filter(col("a_id") =!= col("b_id"))
      .join(sized.select(col(idCol).as("b_id"), col("__n").as("__nb")),
        Seq("b_id"))
      .filter(lit(den) * col("__nb") >= lit(num) * col("__na"))
      .select("a_id", "b_id").distinct()
    cands
      .join(rare.select(col(idCol).as("a_id"), col("shingle")), Seq("a_id"))
      .join(rare.select(col(idCol).as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .join(sized.select(col(idCol).as("a_id"), col("__n").as("__na")),
        Seq("a_id"))
      .filter(col("shared") * den >= lit(num) * col("__na"))
      .select(col("a_id"), col("b_id"), col("shared"),
        (col("shared") / col("__na")).as("containment"))
  }

  /** Eval-set contamination detection — the decontamination pass every
    * training-data pipeline runs before a model ever sees the corpus:
    * find corpus documents sharing at least `minShared` distinct
    * `shingleN`-gram word shingles with any document of a held-out eval
    * set (the n-gram-overlap criterion of published LLM decontamination
    * procedures).
    *
    * Scale shape: the corpus side streams — one shingle explode, one hash
    * join, one partial-aggregated count; it is never self-joined. The eval
    * side is broadcast by default: eval sets are small by definition
    * (10³–10⁴ docs against a 100 TB corpus → a shingle set of ~10⁶ rows,
    * comfortably under executor memory), so the join ships NO corpus
    * bytes. Pass `broadcastEval = false` for an unusually large eval
    * suite and it degrades to an ordinary shuffle hash join on the
    * shingle key.
    *
    * Output: (`idCol`, eval_id, n_shared) — one row per contaminated
    * (corpus doc, eval doc) pair; self-pairs are excluded so the corpus
    * frame may contain the eval docs themselves. `n_shared` counts
    * DISTINCT shared shingles (both explode sides are distinct per doc).
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 5, minShared: Int = 2,
      broadcastEval: Boolean = true, maxEvalFreq: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val docSh = explodeShingles(corpus, idCol, textCol, shingleN)
    val evalCapped = evalShinglesCapped(
      evalSet, idCol, textCol, shingleN, maxEvalFreq)
    val evalSh = if (broadcastEval) broadcast(evalCapped) else evalCapped
    docSh.join(evalSh, Seq("shingle"))
      .filter(col(idCol) =!= col("eval_id"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The capped eval-shingle set shared by [[decontaminate]] and
    * [[decontaminateBloom]]. Skips explodeShingles' parallelism widening:
    * the frame is about to be broadcast, and a repartition shuffle of a
    * request-sized frame would be pure overhead.
    *
    * Hot-shingle cap (the embeddingPairs/candidatePairs discipline): a
    * shingle present in more than maxEvalFreq eval docs multiplies EVERY
    * corpus occurrence by its eval multiplicity in the join — and a
    * shingle that ubiquitous across a held-out suite is boilerplate, not
    * contamination signal. The frequency filter runs entirely on the
    * (small) eval side; the cap is mirrored in the q81/q87/q89 oracles.
    */
  private def evalShinglesCapped(evalSet: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxEvalFreq: Int): DataFrame = {
    val evalShRaw = evalSet
      .select(col(idCol).as("eval_id"),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("eval_id"), explode(array_distinct(
        TextAnalysis.ngramsFromTokens(col("__toks"), shingleN))).as("shingle"))
    val evalOk = evalShRaw.groupBy("shingle")
      .agg(count(lit(1)).as("__ef"))
      .filter(col("__ef") <= maxEvalFreq)
      .select("shingle")
    evalShRaw.join(evalOk, Seq("shingle"))
  }

  /** [[decontaminate]] with an md5-Bloom pre-filter on the corpus side —
    * the 100 TB shape: at real scale the corpus shingle stream dwarfs the
    * eval set by many orders of magnitude, and even a broadcast hash join
    * must MATERIALIZE every corpus shingle as a probe. The Bloom bits
    * (built from the capped eval shingles, [[Sketches.bloomBuild]])
    * reject ~all non-matching shingles INSIDE the scan as codegen'd
    * column math, so only the ~matching sliver reaches the join. Bloom
    * filters have no false negatives, so the output is IDENTICAL to
    * [[decontaminate]] — the q113 gate runs this against q81's exact
    * oracle text to prove it.
    */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 5, minShared: Int = 2,
      maxEvalFreq: Int = 100, bloomM: Int = 65536,
      bloomK: Int = 3): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val evalCapped = evalShinglesCapped(
      evalSet, idCol, textCol, shingleN, maxEvalFreq)
    val bits = Sketches.bloomBuild(
      evalCapped.select("shingle"), "shingle", bloomM, bloomK)
    val docSh = explodeShingles(corpus, idCol, textCol, shingleN)
      .filter(Sketches.bloomMightContain(col("shingle"), bits, bloomK))
    docSh.join(broadcast(evalCapped), Seq("shingle"))
      .filter(col(idCol) =!= col("eval_id"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash near-dup pairs: candidates from a banded equi-join on code
    * chunks, verified with the exact Hamming distance. Pigeonhole makes the
    * banding EXACT, not approximate: splitting an nBits code into `bands`
    * chunks, any pair within Hamming distance < bands must agree on at
    * least one whole chunk — so the chunk equi-join finds every qualifying
    * pair and never compares all pairs.
    *
    * Scale note — size the code to the corpus: the join key space is
    * bands × 2^(nBits/bands), and each bucket holds ~N / 2^(nBits/bands)
    * docs, paired quadratically. The 64-bit/4-band default gives 16-bit
    * chunks (65k values per band): at N = 10⁸ that is ~1.5k docs per
    * bucket — ~10⁶ comparisons per bucket, linear-ish overall. A 16-bit
    * code (oracle-scale demos, q72) has only 16 values per chunk and is
    * quadratic beyond ~10⁴ docs — never use small codes on a large corpus.
    * (maxHamming must be < bands for the pigeonhole guarantee.)
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      nBits: Int = 64, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands, got $maxHamming >= $bands")
    require(nBits % bands == 0, "bands must divide nBits")
    val chunkBits = nBits / bands
    val codes = simhash(df, idCol, textCol, nBits)
    val chunked = codes.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("chunk_idx"),
          col("simhash").bitwiseAND(lit(((1L << chunkBits) - 1) << (b * chunkBits)))
            .as("chunk_val"))
      }: _*)).as("c"))
      .select(col(idCol), col("simhash"),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk_val").as("chunk_val"))
    val a = chunked.select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("a_id"), col("simhash").as("a_code"))
    val b = chunked.select(col("chunk_idx"), col("chunk_val"),
      col(idCol).as("b_id"), col("simhash").as("b_code"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_code").bitwiseXOR(col("b_code"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The production near-dup pipeline, composed end-to-end: MinHash-LSH as
    * the DISCOVERY stage (never all-pairs, hot buckets capped) and exact
    * n-gram Jaccard as the VERIFICATION stage — computed only for the LSH
    * candidates, so the expensive exact set intersection touches
    * O(candidates) pairs instead of O(shared-shingle pairs). This is the
    * composition [[ngramJaccardPairs]]'s scale note points at: shared-
    * shingle joins verify; LSH discovers.
    *
    * Shingles are recomputed per consuming branch rather than cached:
    * shingling is stateless map-side CPU (no added shuffle), while caching
    * the exploded shingle set at corpus scale would hold many × the input
    * in memory.
    *
    * Output: (a_id, b_id, jaccard) for candidates with exact full-set
    * Jaccard ≥ threshold.
    */
  /** Exact shingle-set Jaccard for EVERY LSH candidate pair (no
    * threshold cut) — the measurement surface behind
    * [[verifiedNearDups]] and the q154 precision gate: how good are the
    * bucket collisions BEFORE verification filters them.
    */
  /** Exact shingle-set Jaccard for an ARBITRARY candidate-pair frame
    * (`a_id`, `b_id` + any extra columns, which ride through): the
    * measurement core shared by the minhash (q154) and simhash (q159)
    * precision gates. A candidate with ZERO shared shingles — or whose
    * members have no shingles at all (short docs CAN collide under
    * token-level simhash) — scores jaccard 0 via left joins, never
    * silently drops: the verifier paid for every collision.
    */
  def jaccardOfPairs(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, shingleN: Int = 5): DataFrame = {
    // materialize both inputs once: the candidate frame is typically a
    // whole discovery pipeline referenced twice (the distinct + the
    // final join), and the shingle table feeds THREE subtrees (sizes +
    // both sides of the intersection join) — without this the r17 plan
    // audit measured q190 re-running SNM discovery twice and
    // re-tokenizing the corpus three times. Candidates are
    // candidate-sized; the shingle table is one tokenization pass
    // traded against three.
    val p = pairs.localCheckpoint(true)
    val sh = explodeShingles(df, idCol, textCol, shingleN)
      .localCheckpoint(true)
    val sized = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__nsh"))
    // distinct BEFORE the shingle joins: a duplicated (a_id, b_id) row in an
    // arbitrary candidate frame would otherwise multiply __shared through
    // both joins (jaccard > 1); each input row still rides through the final
    // join and gets the correct, singly-counted score
    val shared = p.select("a_id", "b_id").distinct()
      .join(sh.select(col(idCol).as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col(idCol).as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__shared"))
    p
      .join(shared, Seq("a_id", "b_id"), "left")
      .join(sized.select(col(idCol).as("a_id"), col("__nsh").as("__an")),
        Seq("a_id"), "left")
      .join(sized.select(col(idCol).as("b_id"), col("__nsh").as("__bn")),
        Seq("b_id"), "left")
      .withColumn("__s", coalesce(col("__shared"), lit(0L)))
      .withColumn("__den", coalesce(col("__an"), lit(0L))
        + coalesce(col("__bn"), lit(0L)) - col("__s"))
      .withColumn("jaccard",
        when(col("__den") === 0L, lit(0.0))
          .otherwise(col("__s") / col("__den")))
      .drop("__shared", "__an", "__bn", "__s", "__den")
  }

  def candidateJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 8, rowsPerBand: Int = 2,
      maxBucketSize: Int = 1000): DataFrame =
    jaccardOfPairs(df, idCol, textCol,
      minhashCandidates(df, idCol, textCol, shingleN, numHashes,
        rowsPerBand, maxBucketSize), shingleN)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** [[jaccardOfPairs]] across TWO frames: `a_id` keys into `batch`,
    * `b_id` into `corpus` (whose ids may overlap the batch's — an
    * updated doc legitimately pairs with its own stored version). The
    * corpus side shingles ONLY the candidate rows (an id-keyed
    * semi-join cuts it down before tokenization), so verification cost
    * follows the candidate count, never the corpus. Zero-overlap and
    * shingle-less candidates score 0 via left joins — the verifier pays
    * for every collision, exactly like the single-frame form.
    */
  def crossJaccardOfPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, pairs: DataFrame,
      shingleN: Int = 5): DataFrame =
    crossJaccardWithShingles(corpus,
      explodeShingles(batch, idCol, textCol, shingleN),
      idCol, textCol, pairs, shingleN)

  /** [[crossJaccardOfPairs]] with the batch side's shingles supplied —
    * so a caller that already computed them (candidate generation did)
    * never tokenizes the batch twice.
    */
  private[operators] def crossJaccardWithShingles(corpus: DataFrame,
      shA: DataFrame, idCol: String, textCol: String, pairs: DataFrame,
      shingleN: Int): DataFrame = {
    val candB = corpus.join(
      pairs.select(col("b_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val shB = explodeShingles(candB, idCol, textCol, shingleN)
    crossJaccardFromParts(pairs, shA, shB, idCol)
  }

  /** The cross-set verification math over pre-built parts (candidate
    * pairs + both sides' shingle tables) — shared by the lazy
    * plan-inspection path and [[incomingNearDups]]' materialized screen
    * path, which checkpoints the parts first (each is referenced by 2–3
    * subtrees below).
    */
  private def crossJaccardFromParts(pairs: DataFrame, shA: DataFrame,
      shB: DataFrame, idCol: String): DataFrame = {
    val aSizes = shA.groupBy(col(idCol)).agg(count(lit(1)).as("__an"))
    val bSizes = shB.groupBy(col(idCol)).agg(count(lit(1)).as("__bn"))
    val shared = pairs.select("a_id", "b_id").distinct()
      .join(shA.select(col(idCol).as("a_id"), col("shingle")), Seq("a_id"))
      .join(shB.select(col(idCol).as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__s0"))
    pairs
      .join(shared, Seq("a_id", "b_id"), "left")
      .join(aSizes.select(col(idCol).as("a_id"), col("__an")),
        Seq("a_id"), "left")
      .join(bSizes.select(col(idCol).as("b_id"), col("__bn")),
        Seq("b_id"), "left")
      .withColumn("__s", coalesce(col("__s0"), lit(0L)))
      .withColumn("__den", coalesce(col("__an"), lit(0L))
        + coalesce(col("__bn"), lit(0L)) - col("__s"))
      .withColumn("jaccard",
        when(col("__den") === 0L, lit(0.0))
          .otherwise(col("__s") / col("__den")))
      .drop("__s0", "__an", "__bn", "__s", "__den")
  }

  /** INCREMENTAL near-dup: an arriving batch against a STORED corpus
    * signature table — the ingest-time dedup shape. The corpus is
    * shingled exactly once, when its banded signatures ([[bandKeys]]
    * output: `idCol`, band, band_key — md5-derived, so any engine
    * recomputes them) were materialized; every arriving batch then pays
    * ONLY its own shingling + one band-keyed equi-join against the
    * stored table + verification of the candidates it actually hit.
    * At 100 TB that is the difference between a per-batch corpus pass
    * and a per-batch index probe (partition the stored bands by `band`
    * and the join prunes further).
    *
    * `shingleN`/`numHashes`/`rowsPerBand` MUST match the parameters the
    * stored bands were built with — md5 band keys from different
    * parameters simply never collide (silent empty result), so the
    * caller owns that contract.
    *
    * Hot-bucket discipline: corpus band keys with more than
    * `maxBucketSize` members are dropped (one aggregation over the
    * stored table; mirrored in the q204 oracle) — a degenerate key
    * (empty/boilerplate docs) would otherwise fan every arriving doc
    * into O(bucket) candidates.
    *
    * Output: (a_id = batch doc, b_id = corpus doc, jaccard) for
    * verified pairs with exact cross-set Jaccard ≥ `threshold`; an
    * updated doc pairs with its own stored version (same id) by design.
    */
  def incomingNearDups(corpusBands: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleN: Int = 5, numHashes: Int = 8,
      rowsPerBand: Int = 2, maxBucketSize: Int = 1000,
      materialize: Boolean = true, corpusBuckets: Int = -1): DataFrame = {
    // the batch's shingles feed every verification subtree: materialize
    // them ONCE (eager, delta-sized — the refreshPostings arrivals
    // discipline) so none re-runs the tokenization chain. Candidate
    // generation reads the batch text directly (the per-document
    // signature kernel needs no shingle rows). Released before returning
    // — the OUTPUT is checkpointed instead (below), so a long-lived
    // serving session screening many batches doesn't accumulate one
    // shingle-table cache per call.
    val shA = explodeShingles(batch, idCol, textCol, shingleN)
      .localCheckpoint(true)
    val batchBands = bandKeys(
      minhashSignatures(batch, idCol, textCol, shingleN, numHashes),
      idCol, numHashes, rowsPerBand)
    // stored-layout pruning (cap-and-switch): when the corpus bands are
    // bucket-partitioned (band_bucket = sigBucket(band_key, n) — the
    // ScaleKnobs-derived REINDEX layout), the batch's own bucket set is
    // pushed as a literal IN filter so the artifact scan prunes to
    // matching partitions instead of reading every band row. The collect
    // is ≤ corpusBuckets ints over the batch's signatures (the q79
    // collected-In-filter discipline); a batch whose bands touch
    // every bucket switches back to the full read. Layout-only: the same
    // (band, band_key) pairs survive either way, so results are
    // bucket-count invariant (spec-pinned at two widths).
    val corpusLive =
      if (corpusBuckets >= 1 && corpusBands.columns.contains("band_bucket")) {
        val bks = batchBands
          .select(sigBucket(col("band_key"), corpusBuckets).as("__bb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (bks.size < corpusBuckets)
          corpusBands.filter(col("band_bucket").isin(bks: _*))
        else corpusBands
      } else corpusBands
    val okKeys = corpusLive.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select("band", "band_key")
    val pairs = batchBands
      .select(col(idCol).as("a_id"), col("band"), col("band_key"))
      .join(corpusLive
        .select(col(idCol).as("b_id"), col("band"), col("band_key"))
        .join(okKeys, Seq("band", "band_key"), "left_semi"),
        Seq("band", "band_key"))
      .select("a_id", "b_id").distinct()
    // materialize=false is for PLAN INSPECTION only (PlanAuditSpec reads
    // the probe/verification join shapes, which a checkpointed result
    // would hide behind a flat block scan); it leaves shA's checkpoint
    // live because the returned lineage still reads it
    if (!materialize)
      crossJaccardWithShingles(corpus, shA, idCol, textCol, pairs, shingleN)
        .filter(col("jaccard") >= threshold)
        // using-column joins float their keys to the front in join order
        // (b_id ends up first) — pin the documented column order
        .select(col("a_id"), col("b_id"), col("jaccard"))
    else {
      // the candidate frame feeds THREE verification subtrees (the b-side
      // semi-join, the intersection join, the final score join) and the
      // corpus-side candidate shingles TWO (sizes + intersection) — AQE
      // reuse covers neither after per-branch pruning, so without these
      // checkpoints the banded probe re-ran 3x and the corpus was
      // re-scanned + re-tokenized 2x PER SCREENED BATCH (r17 plan audit,
      // q349). Both frames are candidate-sized, never corpus-sized.
      val p = pairs.localCheckpoint(true)
      // no candidates — the common steady-state screen outcome: skip
      // verification entirely (no corpus semi-join, no shB, no join
      // jobs). Also required for clean frees: with an empty side, AQE's
      // empty-relation propagation completes the final join BEFORE the
      // intersection's sibling shuffle stages finish, and their orphaned
      // in-flight tasks would read the just-freed checkpoint blocks
      // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND task errors — harmless but
      // indistinguishable from a real data-path failure in the logs)
      if (p.isEmpty) {
        GraftSqlShims.unpersistCheckpoint(shA)
        GraftSqlShims.unpersistCheckpoint(p)
        return corpus.sparkSession.createDataFrame(
          corpus.sparkSession.sparkContext
            .emptyRDD[org.apache.spark.sql.Row],
          // id types AND nullability follow the caller's id column (p
          // carries them — never flip nullable, or the screen's output
          // schema becomes path-dependent and unionByName/encoder
          // consumers can observe it); jaccard is the verification
          // division's double, nullable like every Divide (x/0 → null
          // under non-ANSI) — spec-pinned schema-identical to the
          // verified path
          org.apache.spark.sql.types.StructType(Seq(
            p.schema("a_id"),
            p.schema("b_id"),
            org.apache.spark.sql.types.StructField("jaccard",
              org.apache.spark.sql.types.DoubleType, nullable = true))))
      }
      val candB = corpus.join(
        p.select(col("b_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      val shB = explodeShingles(candB, idCol, textCol, shingleN)
        .localCheckpoint(true)
      // materialize the (verified-pairs-sized) result so every screen
      // checkpoint can be freed NOW rather than leaking per screened batch
      val out = crossJaccardFromParts(p, shA, shB, idCol)
        .filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .localCheckpoint(true)
      GraftSqlShims.unpersistCheckpoint(shA)
      GraftSqlShims.unpersistCheckpoint(p)
      GraftSqlShims.unpersistCheckpoint(shB)
      out
    }
  }

  def verifiedNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame =
    candidateJaccard(df, idCol, textCol, shingleN, numHashes, rowsPerBand,
      maxBucketSize)
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** Connected components over a candidate-pair graph → dedup clusters:
    * every document gets the smallest doc id reachable through candidate
    * edges as its cluster representative (so "keep one per cluster" =
    * `filter(id === cluster_rep)`). Ids must be integral (every caller
    * passes pair ids); the output is (id, cluster_rep) in the wider of
    * the two id types, one row per id that appears in an edge (a
    * self-pair included). Edges with a null endpoint are ignored.
    *
    * Two phases:
    *  1. Partition-local union-find. The edges are checkpointed as long
    *     pairs, counted and cut into partitions of about 1M each; in
    *     every partition a union-find over primitive arrays (sorted
    *     distinct ids, an int parent array, union toward the smaller id,
    *     path halving) labels each id with the smallest id of its LOCAL
    *     component. With one partition — every graph under ~1M edges,
    *     near-dup graphs in practice — those are the graph's components:
    *     two jobs of its own (the count, which runs the upstream
    *     pipeline, and the result checkpoint) and no shuffle.
    *  2. Only with more partitions: distributed min-label propagation
    *     over the star edges (id, local label), which have the same
    *     connectivity as the input, seeded with each id's smallest
    *     local label. Each round every node adopts the minimum label in
    *     its closed neighborhood — one join + one aggregation on the
    *     label-sized frames, O(component diameter) rounds. At extreme
    *     graph sizes a dedicated graph engine would slot in behind the
    *     same signature.
    *
    * The result is checkpointed and self-contained (a directly freeable
    * frame: `GraftSqlShims.unpersistCheckpoint` releases it).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, 1000000L)

  /** [[connectedComponents]] with the union-find partition size as a
    * parameter — specs shrink it to drive the propagation phase.
    */
  private[operators] def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int, edgesPerPartition: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    val (aF, bF) = (pairs.schema(aCol), pairs.schema(bCol))
    require(integral.contains(aF.dataType) && integral.contains(bF.dataType),
      s"connectedComponents requires integral id columns; '$aCol' is " +
        s"${aF.dataType}, '$bCol' is ${bF.dataType} — hash or re-key " +
        "non-numeric ids first")
    val idType = integral(math.max(integral.indexOf(aF.dataType),
      integral.indexOf(bF.dataType)))
    // the pair projection is read twice (count, then the union-find
    // pass): checkpoint it as primitive pairs so the count is the one job
    // that runs the upstream candidate pipeline and stores the edges (a
    // Dataset cache re-plans over the cached table: two more jobs)
    val edgeRdd = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .rdd.flatMap(r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), r.getLong(1))))
      .localCheckpoint()
    val spark = pairs.sparkSession
    def result(labels: DataFrame): DataFrame =
      labels.select(col("id").cast(idType).as("id"),
        col("label").cast(idType).as("cluster_rep"))
    val (ufParts, local) = try {
      val nEdges = edgeRdd.count()
      // union-find partitions are sized by edges alone (bounded task
      // memory, ~64 bytes per edge)
      val ufParts = math.max(1L, nEdges / edgesPerPartition + 1L).toInt
      val rows = (if (ufParts == 1) edgeRdd.coalesce(1)
        else edgeRdd.repartition(ufParts)).mapPartitions(localComponents)
      val df = spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType, aF.nullable || bF.nullable),
        // as the result, nullable like the propagation phase's min()
        // output; as the star edges' endpoint, non-null like the ids
        StructField("label", LongType, nullable = ufParts == 1))))
      // one partition's components are the graph's components: the
      // union-find output IS the result
      (ufParts, (if (ufParts == 1) result(df) else df).localCheckpoint(true))
    } finally edgeRdd.unpersist(blocking = false)
    if (ufParts == 1) return local
    // the propagation phase is capped at the cluster's parallelism: its
    // per-round fixed cost (shuffles of a few-KB frame) otherwise
    // dominates the wall clock
    val parts = math.min(spark.sparkContext.defaultParallelism, ufParts)
    // localCheckpoint (not cache) for everything the loop re-reads: each
    // round's logical plan would otherwise carry the WHOLE iteration
    // lineage — caching cuts physical recompute but Catalyst still
    // re-analyzes the growing plan every round (quadratic planning cost),
    // and an unpersist at the end would hand the caller a result that
    // recomputes the entire pipeline on first use (this was ~2× the q65
    // wall clock). Checkpointed frames are self-contained: rounds plan
    // against a flat scan, and the returned frame is materialized.
    //
    // Leak + action discipline (round-3 fix): checkpoint blocks live in the
    // RDD's own storage, outside the CacheManager, so every superseded
    // round's frame must be freed explicitly (GraftSqlShims
    // .unpersistCheckpoint) or the driver's block manager grows without
    // bound across calls. And each round runs exactly ONE job: the
    // checkpoint is LAZY and the convergence count is the action that
    // materializes it — an eager checkpoint + separate isEmpty was two
    // scheduled jobs per round of a frame that fits in one.
    //
    // seeds: an id's smallest local label is a member of its component
    // and no smaller than the component's minimum, so propagation from
    // it converges to that minimum
    var labels = local.groupBy("id").agg(min("label").as("label"))
      .repartition(parts, col("id")).localCheckpoint(true)
    val star = local.filter(col("id") =!= col("label"))
      .select(col("id").as("src"), col("label").as("dst"))
    val edges = star.unionByName(
      star.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("dst")).localCheckpoint(true)
    GraftSqlShims.unpersistCheckpoint(local)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one join + ONE aggregation per round: neighbor label contributions
      // and each vertex's own label meet in a single min — the self row is
      // tagged so the aggregation recovers the previous label for the
      // convergence count in the same pass (a labels⋈neighborMin
      // carry-join here was a whole extra shuffle of the label frame per
      // round). `max(when(is_self, label))` sees exactly one non-null per
      // id, and the count both materializes the lazy checkpoint and
      // answers convergence in one job.
      val contrib = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "n_label"), Seq("dst"))
        .select(col("src").as("id"), col("n_label").as("label"),
          lit(false).as("is_self"))
        .unionByName(labels.select(col("id"), col("label"),
          lit(true).as("is_self")))
      val next = contrib
        .groupBy("id")
        .agg(min("label").as("label"),
          max(when(col("is_self"), col("label"))).as("old"))
        .select(col("id"), col("old"), col("label"))
        .localCheckpoint(false)
      val nChanged = next.filter(col("label") =!= col("old")).count()
      converged = nChanged == 0L
      GraftSqlShims.unpersistCheckpoint(labels)
      labels = next
      iter += 1
    }
    // the edge frame is not reachable from the labels — free it now
    GraftSqlShims.unpersistCheckpoint(edges)
    // fail LOUD on non-convergence: a silently non-minimal label would
    // diverge from the exact transitive-closure oracle only at the scale
    // that trips the cap (the failure class the oracle conventions forbid)
    if (!converged) {
      // free the last round's checkpoint on the error path too — a
      // long-lived driver catching this must not inherit the blocks
      GraftSqlShims.unpersistCheckpoint(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds the cap; raise maxIter")
    }
    // a directly checkpointed result (not a projection over the last
    // round), so callers can free it
    val out = result(labels).localCheckpoint(true)
    GraftSqlShims.unpersistCheckpoint(labels)
    out
  }

  /** One partition's union-find over its (src, dst) long edges: emits
    * (id, smallest id of its local component) per distinct id. Ids sort
    * into a primitive array and edges union by index, so the smaller
    * index — the smaller id — is always the root.
    */
  private def localComponents(edges: Iterator[(Long, Long)])
      : Iterator[org.apache.spark.sql.Row] = {
    var src = new Array[Long](1024)
    var dst = new Array[Long](1024)
    var m = 0
    edges.foreach { case (a, b) =>
      if (m == src.length) {
        src = java.util.Arrays.copyOf(src, m * 2)
        dst = java.util.Arrays.copyOf(dst, m * 2)
      }
      src(m) = a
      dst(m) = b
      m += 1
    }
    val ids = new Array[Long](2 * m)
    System.arraycopy(src, 0, ids, 0, m)
    System.arraycopy(dst, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < m) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, src(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, dst(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 1
    }
    Iterator.tabulate(n)(j => org.apache.spark.sql.Row(ids(j), ids(find(j))))
  }

  /** Embedding-cosine near-dup pairs, LSH-prefiltered: only pairs sharing a
    * sign-bucket code are scored (the bucket join is the scale guard; the
    * cosine is codegen'd). Returns all scored pairs; callers threshold or
    * top-k.
    *
    * Hot-bucket cap (same discipline as [[candidatePairs]]): a degenerate
    * bucket — 2^nBits buckets over a corpus-scale table means an average
    * bucket holds N/2^nBits rows, and a skewed one far more — would blow
    * up quadratically in the self-join. Bucket membership is counted with
    * [[BoundedDistinctSetAgg]] (≤ cap+1 ids per partial buffer, so an
    * adversarial corpus can't OOM an executor), buckets over
    * `maxBucketSize` are dropped whole, and buckets at or under it are
    * kept whole — exact semantics a SQL oracle reproduces with a plain
    * count filter. LSH dedup pipelines drop degenerate buckets for recall
    * reasons anyway: a bucket holding 1% of the corpus carries no
    * near-dup signal.
    */
  /** Leakage-free train/test split: partition at NEAR-DUP-CLUSTER grain,
    * not document grain. A doc-grain md5 split puts near-copies of test
    * documents into train (the contamination Lee et al. 2021 measure —
    * the eval set leaks through its duplicates); deciding the split on
    * each doc's [[connectedComponents]] representative keeps every
    * near-dup neighborhood on ONE side by construction. Documents
    * outside any pair are their own singleton cluster (rep = own id).
    *
    * The split class is the q140 md5-residue rule (`% trainMod <
    * trainLt`, default 8/10) keyed on the REP, so membership is a pure
    * function of (data, seed) — reproducible under retries, engine-
    * recomputable, and stable when new singletons arrive (an existing
    * cluster never flips because unrelated data grew).
    *
    * Scale shape: the components run is the q65 machinery (partition-
    * local union-find, label propagation only past ~1M edges); the rep
    * attach is one id-keyed left join (pair-covered docs are a small
    * minority, so the cc frame usually broadcasts); the split itself is
    * scan-side hash math. Output: the input columns plus `cluster_rep` and `split`.
    */
  def clusterSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      seed: String = "csplit", trainMod: Int = 10,
      trainLt: Int = 8): DataFrame = {
    require(trainMod >= 1 && trainLt >= 0 && trainLt <= trainMod,
      s"split rule must be 0 <= trainLt <= trainMod, got $trainLt/$trainMod")
    requireIntegralId(df, idCol, "clusterSplit")
    val cc = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    df.join(cc, Seq(idCol), "left_outer")
      .withColumn("cluster_rep",
        coalesce(col("cluster_rep"), col(idCol).cast("long")))
      .withColumn("split",
        when(conv(substring(md5(concat(lit(seed + ":"),
            col("cluster_rep").cast("string"))), 1, 4), 16, 10)
            .cast("long") % trainMod < trainLt, "train")
          .otherwise("test"))
  }

  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"$op requires an integral id column; '$idCol' is $idType" +
        " — hash or re-key non-numeric ids first")
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup WITHIN clustering
    * cells — pairwise cosine only between rows sharing `cidCol`, and any
    * row with a lower-id neighbor scoring ≥ `threshold` is marked
    * dropped. Appends `semdup_drop` (boolean); callers filter or count.
    *
    * Hot-cell cap — the [[embeddingPairs]] discipline applied to the
    * cells: the within-cell self-join is quadratic in cell size, so cell
    * membership is counted with [[BoundedDistinctSetAgg]] (bounded
    * partial buffers — an adversarial clustering can't OOM an executor)
    * and cells over `maxCellSize` SKIP pairwise dedup entirely (kept
    * whole, `semdup_drop` = false — exact semantics a SQL oracle mirrors
    * with a count filter). The paper's cost model wants k ∝ N precisely
    * so cells stay ~constant-size: at 100 TB, pick k ≈ N / (intended
    * cell size) and the cap is the loud guard that the clustering
    * actually delivered it, not a silent quadratic cliff.
    *
    * The clustering rides in as a column, not a callable — pair it with
    * [[VectorIndex.lloydOnce]] (engine-recomputable, the q124 gate),
    * [[VectorIndex.lloydIterate]], or [[VectorIndex.kmeansAssign]].
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
      cidCol: String, threshold: Double,
      maxCellSize: Int = 1000): DataFrame = {
    requireIntegralId(df, idCol, "semDeDup")
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    val ids = col(idCol).cast("long")
    val bounded = udaf(new BoundedDistinctSetAgg(maxCellSize + 1))
    val surviving = df.groupBy(col(cidCol))
      .agg(bounded(ids).as("__ids"))
      .filter(size(col("__ids")) >= 2 && size(col("__ids")) <= maxCellSize)
      .select(col(cidCol), explode(col("__ids")).as("__mid"))
    val members = df
      .select(col(cidCol), ids.as("__mid"), col(vecCol).as("__v"))
      .join(surviving, Seq(cidCol, "__mid"))
    val dropped = members
      .select(col(cidCol), col("__mid").as("__a"), col("__v").as("__va"))
      .join(members.select(col(cidCol), col("__mid").as("__b"),
        col("__v").as("__vb")), Seq(cidCol))
      .filter(col("__a") < col("__b"))
      .filter(round(graft.functions.cosine_sim(col("__va"), col("__vb")), 6)
        >= threshold)
      .select(col("__b").as("__did")).distinct()
    df.join(dropped, ids === col("__did"), "left")
      .withColumn("semdup_drop", col("__did").isNotNull)
      .drop("__did")
  }

  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 8, maxBucketSize: Int = 1000): DataFrame = {
    // NARROWED CONTRACT: the bounded bucket-membership aggregation buffers
    // ids as Long (flat Array buffer — the Kryo/TreeSet trap), so the id
    // column must be an integral type; a silent cast would turn string ids
    // into nulls and emit NO pairs. Fail loud instead.
    val idType = df.schema(idCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"embeddingPairs requires an integral id column; '$idCol' is $idType" +
        " — hash or re-key non-numeric ids first")
    val coded = df.select(col(idCol).cast("long").as(idCol), col(vecCol),
      VectorIndex.signBucket(col(vecCol), nBits).as("bucket"))
    val bounded = udaf(new BoundedDistinctSetAgg(maxBucketSize + 1))
    val surviving = coded.groupBy("bucket")
      .agg(bounded(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(col("bucket"), explode(col("ids")).as(idCol))
    val members = coded.join(surviving, Seq("bucket", idCol))
    val a = members.select(col("bucket"), col(idCol).as("a_id"), col(vecCol).as("a_vec"))
    val b = members.select(col("bucket"), col(idCol).as("b_id"), col(vecCol).as("b_vec"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.cosine_sim(col("a_vec"), col("b_vec")).as("score"))
  }

  /** Density-based clustering (DBSCAN, Ester et al. 1996) over the
    * BUCKETED similarity graph — the clustering family member kmeans
    * (centroid), mutual-kNN components (connectivity), and SemDeDup
    * (in-cell pairs) don't cover: clusters are DENSITY-reachable
    * regions of arbitrary shape, and points in no dense region are
    * NOISE rather than force-assigned — the right tool for "find the
    * organic content groups and leave the stragglers alone".
    *
    * Neighborhoods come from [[embeddingPairs]]' sign-bucket candidates
    * (the documented LSH recall contract — a neighbor in a different
    * bucket is not seen, exactly as every bucketed operator here), with
    * similarity ≥ `minSim` on the ROUNDED cosine. A point is CORE with
    * ≥ `minPts` such neighbors; clusters are connected components over
    * core–core edges (min-id representative, isolated cores their own
    * singleton); a non-core point with a core neighbor is a BORDER of
    * the smallest rep among its core neighbors (deterministic
    * tie-break); everything else is NOISE (rep NULL).
    *
    * Scale shape: bucket-capped pair enumeration, edge-keyed degree
    * count, the q65 component machinery on the (much sparser) core
    * subgraph, one join-back for borders. All exact integer/rounded-
    * compare math.
    *
    * Output: one row per input id — (idCol, role, cluster_rep).
    */
  def dbscanClusters(df: DataFrame, idCol: String, vecCol: String,
      minSim: Double, minPts: Int = 2, nBits: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    // the filtered neighborhood pairs feed sym (×2), coreEdges, and —
    // through sym — core and borders: materialize once (edge-bounded),
    // or the bucket self-join re-runs per consumer (45 corpus scans in
    // q258's plan, r17 all-plans audit); core likewise gates three
    // downstream joins (node-bounded)
    val pairs = embeddingPairs(df, idCol, vecCol, nBits, maxBucketSize)
      .select(col("a_id"), col("b_id"),
        round(col("score") + lit(1e-9), 6).as("__s"))
      .filter(col("__s") >= minSim)
      .select("a_id", "b_id")
      .localCheckpoint(true)
    val sym = pairs.unionByName(pairs.select(col("b_id").as("a_id"),
      col("a_id").as("b_id")))
    val core = sym.groupBy(col("a_id").as("id"))
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts).select("id")
      .localCheckpoint(true)
    val coreEdges = pairs
      .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(core.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
      .select("a_id", "b_id")
    val cc = connectedComponents(coreEdges)
    val coreAll = core.join(cc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("cluster_rep"), col("id")).as("__rep"))
    val borders = sym
      .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_anti")
      .join(coreAll.select(col("id").as("b_id"), col("__rep")),
        Seq("b_id"))
      .groupBy(col("a_id").as("id")).agg(min("__rep").as("__brep"))
    df.select(col(idCol).cast("long").as("id"))
      .join(coreAll, Seq("id"), "left_outer")
      .join(borders, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        when(col("__rep").isNotNull, "core")
          .when(col("__brep").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("__rep"), col("__brep")).as("cluster_rep"))
  }

  /** k-nearest-neighbor graph over an embedding column — the curation
    * primitive behind cluster discovery, SemDeDup-style pruning, and
    * manifold methods: each node keeps its `k` highest-cosine IN-BUCKET
    * neighbors ([[embeddingPairs]]' sign-bucket LSH bounds the candidate
    * set; hot buckets capped, so no node ranks more than
    * `maxBucketSize` candidates). Ranks order by the ROUNDED score
    * (6 dp, neighbor-id tie-break — the rank doctrine), per-node windows
    * are bucket-bounded, and the output is directed: `(src_id, dst_id,
    * rank, score)` with rank 1..k. Compose with [[mutualKnnEdges]] for
    * the symmetric, noise-robust variant.
    */
  def knnEdges(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 8, maxBucketSize: Int = 1000): DataFrame =
    knnEdgesWithSeam(df, idCol, vecCol, k, nBits, maxBucketSize)._1

  /** [[knnEdges]] plus a handle on its internal pair-pipeline seam, so a
    * composing caller that MATERIALIZES the edges ([[mutualKnnEdges]])
    * can free the seam instead of stacking never-released checkpoints
    * (r18 ADVICE item). The plain [[knnEdges]] return is lazy over the
    * seam by design (its window shape is the q238 audit surface), so its
    * per-call retention is the seam block set — documented, and bounded
    * by the capped pair count.
    */
  private[operators] def knnEdgesWithSeam(df: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be positive, got $k")
    // the LSH pair pipeline feeds both union legs — materialize once
    // (pair-bounded; the jaccardOfPairs seam rule: without it every
    // downstream consumer re-runs the bucket self-join, and composed
    // graph operators multiply that fan-out — the r17 all-plans audit
    // measured 144 corpus scans in q238's final plan)
    val pairs = embeddingPairs(df, idCol, vecCol, nBits, maxBucketSize)
      .select(col("a_id"), col("b_id"),
        round(col("score") + lit(1e-9), 6).as("score"))
      .localCheckpoint(true)
    val sym = pairs.unionByName(pairs.select(col("b_id").as("a_id"),
      col("a_id").as("b_id"), col("score")))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(desc("score"), col("b_id"))
    val edges = sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
        col("rank"), col("score"))
    (edges, pairs)
  }

  /** Mutual-kNN edges: keep {a, b} only when EACH is in the other's
    * top-k ([[knnEdges]] both ways) — the standard robustification that
    * drops hub-attracted asymmetric links. Output is the house pair
    * shape (a_id < b_id, plus the rounded score), ready for
    * [[connectedComponents]] / [[graft.operators.Graph]].
    */
  def mutualKnnEdges(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 8, maxBucketSize: Int = 1000): DataFrame = {
    // consumed by both sides of the mutuality join (n·k rows). The
    // incomingNearDups discipline (r18 ADVICE item): materialize the
    // final edge set and free BOTH intermediates before returning, so a
    // serving session calling this repeatedly accumulates nothing — on
    // the failure path as well, hence the finally blocks.
    val (edges, pairsSeam) =
      knnEdgesWithSeam(df, idCol, vecCol, k, nBits, maxBucketSize)
    val knn =
      try edges.localCheckpoint(true)
      finally GraftSqlShims.unpersistCheckpoint(pairsSeam)
    try knn.filter(col("src_id") < col("dst_id"))
      .select(col("src_id").as("a_id"), col("dst_id").as("b_id"),
        col("score"))
      .join(knn.filter(col("src_id") > col("dst_id"))
        .select(col("dst_id").as("a_id"), col("src_id").as("b_id")),
        Seq("a_id", "b_id"))
      .localCheckpoint(true)
    finally GraftSqlShims.unpersistCheckpoint(knn)
  }

  /** Within-document repeated-span removal — the paragraph/line-level
    * dedup pass of CCNet (Wenzek et al. 2020) and RefinedWeb (Penedo et
    * al. 2023), realized at fixed token-span granularity (the corpus
    * here has no paragraph breaks; real text would split on them
    * instead): cut each doc into NON-overlapping `spanSize`-token spans
    * ([[TextAnalysis.chunkDocuments]] with stride = size), count each
    * span signature corpus-wide, drop EVERY copy of any span occurring
    * more than `maxFreq` times (both CCNet and RefinedWeb remove all
    * occurrences — boilerplate is noise wherever it appears), and
    * reassemble the surviving spans in document order.
    *
    * Returns one row per non-empty doc: `(idCol, n_spans, n_kept, text)`
    * — `text` is the cleaned document ("" when everything was
    * boilerplate).
    *
    * Scale shape: explode is narrow; ONE shuffle to count signatures,
    * one signature-keyed join back (AQE-planned — the count table is
    * span-cardinality-sized, it shuffles rather than broadcasts at
    * corpus scale), one final aggregation back to doc grain whose
    * collect buffer is bounded by the DOCUMENT's own span count (the
    * doc already fit in memory at scan time). No windows, no driver
    * state.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanSize: Int, maxFreq: Int = 1): DataFrame =
    spanDedupSpans(TextAnalysis.chunkDocuments(df, idCol, textCol,
      chunkSize = spanSize, stride = spanSize), idCol, maxFreq)

  /** The count → drop → reassemble core of [[spanDedup]] over ANY span
    * frame `(idCol, chunk_id, chunk, chunk_sig)` — fixed windows
    * ([[TextAnalysis.chunkDocuments]]) and content-defined spans
    * ([[TextAnalysis.cdcSpans]]) share it.
    */
  def spanDedupSpans(spans: DataFrame, idCol: String,
      maxFreq: Int = 1): DataFrame = {
    require(maxFreq >= 1, s"maxFreq must be >= 1, got $maxFreq")
    val freq = spans.groupBy("chunk_sig").agg(count(lit(1)).as("__f"))
    spans.join(freq, "chunk_sig")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__f") <= maxFreq, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__f") <= maxFreq,
              struct(col("chunk_id"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("text"))
  }

  /** Keep-FIRST span dedup — the other published convention: where
    * [[spanDedup]] drops EVERY copy of a repeated span (the
    * boilerplate-removal rule), CCNet's paragraph dedup (Wenzek et al.
    * 2020 §3.1) keeps exactly ONE copy — the first occurrence in corpus
    * order — and drops the rest. First = lexicographic min of
    * `(idCol, chunk_id)` over the span's signature group, so the winner
    * is deterministic under any partitioning.
    *
    * Same output grain as [[spanDedup]]: `(idCol, n_spans, n_kept,
    * text)`.
    *
    * Scale shape: the census aggregates `min(struct(id, chunk_id))` per
    * signature — a map-side-combinable agg, NOT a corpus-wide window
    * (`row_number` over sig groups would sort every group; min-struct
    * folds to one row per partial) — then one sig-keyed join back and
    * the doc-grain reassembly.
    */
  def spanDedupKeepFirst(df: DataFrame, idCol: String, textCol: String,
      spanSize: Int): DataFrame = {
    val spans = TextAnalysis.chunkDocuments(df, idCol, textCol,
      chunkSize = spanSize, stride = spanSize)
    val first = spans.groupBy("chunk_sig")
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"))
    spans.join(first, "chunk_sig")
      .withColumn("__keep",
        col("__first").getField(idCol) === col(idCol) &&
          col("__first").getField("chunk_id") === col("chunk_id"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("chunk_id"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("text"))
  }

  /** Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", §ExactSubstr): remove
    * every token position that lies inside a substring of at least
    * `minTokens` tokens occurring MORE THAN ONCE in the corpus —
    * including self-repeats within a single document. All occurrences
    * are removed (the published deduplicate-text-datasets usage and the
    * CCNet/RefinedWeb all-copies boilerplate rule; [[spanDedup]]'s
    * `maxFreq = 1` convention).
    *
    * The paper builds a suffix array over the concatenated corpus; a
    * suffix array is the wrong tool on Spark, but the SAME removal set
    * falls out of a window identity, exactly: a position lies inside a
    * duplicated substring of length >= L  iff  it lies inside a
    * duplicated L-token window. (Forward: any duplicated substring of
    * length M >= L that covers position p contains a window of exactly
    * L tokens covering p — window starts `[a, a+M-L]` intersect
    * `[p-L+1, p]` whenever `a <= p < a+M` — and every L-window of a
    * duplicated substring is itself duplicated. Reverse: a duplicated
    * L-window IS a duplicated substring of length >= L.) So counting
    * OVERLAPPING L-token windows corpus-wide and unioning the covered
    * positions of the duplicated ones reproduces the suffix-array
    * answer with explode/count/join shapes only.
    *
    * Returns one row per doc with >= 1 token:
    * `(idCol, n_tokens, n_kept, text)` — `text` is the document with
    * every covered token dropped ("" when fully duplicated); docs
    * shorter than `minTokens` pass through untouched (no window fits).
    *
    * Scale shape: one narrow explode emits the ~n windows per doc (the
    * window signature is an md5 over a bounded L-token slice); ONE
    * shuffle counts signatures; the duplicated-signature table joins
    * back on the SAME key (at corpus scale both sides shuffle on
    * win_sig over the identical sub-plan — reuse-eligible; at test SFs
    * AQE broadcasts both small sides instead, so PlansDump shows NO
    * corpus-side shuffle at all); covered positions explode at most
    * windows x L rows and collapse by `distinct` on `(id, pos)`, the
    * exact key the token-side left join partitions on next. No
    * all-pairs stage, no windows over the corpus, no driver state; hot
    * signatures cost a count, never a set (a window duplicated k times
    * contributes k·L covered rows — linear, unlike pair emission's
    * k²). Removal is strictly linear in corpus tokens x L.
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val wins = overlappingWindows(df, idCol, textCol, minTokens)
    val dupSigs = wins.groupBy("win_sig").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select("win_sig")
    val covered = coveredPositions(
      wins.join(dupSigs, Seq("win_sig"), "left_semi"), idCol, minTokens)
    removeCoveredTokens(tokenRows(df, idCol, textCol), covered, idCol)
  }

  /** Per-document duplication profile for [[exactSubstringDedup]] — the
    * report that picks `minTokens` before committing to a removal pass:
    * for every doc with >= 1 token, how many token positions a
    * duplicated >= L-window covers (`n_covered`), in how many maximal
    * runs (`n_runs`), the longest such run (`max_run` — the length of
    * the doc's longest duplicated substring, floored at L), and the
    * covered fraction (a SINGLE division of exact integer counts —
    * engine-exact, no rounding needed).
    *
    * Scale shape: shares the window census + covered-position collapse
    * with [[exactSubstringDedup]]; run detection is the classic
    * `pos − row_number()` gaps-and-islands trick under a window
    * PARTITIONED BY doc (state bounded by the doc's own length, never
    * corpus-wide); doc token counts ride in from a narrow scan.
    */
  def exactSubstringStats(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val wins = overlappingWindows(df, idCol, textCol, minTokens)
    val dupSigs = wins.groupBy("win_sig").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select("win_sig")
    val covered = coveredPositions(
      wins.join(dupSigs, Seq("win_sig"), "left_semi"), idCol, minTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val runs = covered
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(idCol, "__grp").agg(count(lit(1)).as("__len"))
    val perDoc = runs.groupBy(idCol).agg(
      sum("__len").as("n_covered"),
      count(lit(1)).as("n_runs"),
      max("__len").as("max_run"))
    val docs = df.select(col(idCol),
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
    docs.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        (coalesce(col("n_covered"), lit(0L)) / col("n_tokens"))
          .as("covered_frac"))
  }

  /** `(idCol, pos, tok)` — whitespace tokens with 0-based positions;
    * zero-token docs emit nothing (the [[exactSubstringDedup]] grain). */
  private[operators] def tokenRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))

  /** Every overlapping `minTokens`-token window of every doc:
    * `(idCol, w_start, win_sig)` — win_sig an md5 over the space-joined
    * slice, so any engine (and any later session) recomputes the
    * identical signatures from text alone. */
  private[operators] def overlappingWindows(df: DataFrame, idCol: String,
      textCol: String, minTokens: Int): DataFrame = {
    val L = minTokens
    df.select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .where(col("__n") >= L)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), col("__n") - L)).as("w_start"))
      .select(col(idCol), col("w_start"),
        md5(array_join(
          slice(col("__toks"), (col("w_start") + 1).cast("int"), lit(L)),
          " ")).as("win_sig"))
  }

  /** Union of the positions the given windows cover, collapsed to
    * `(idCol, pos)` — `distinct` shuffles on the exact key the
    * token-side left join partitions on next. */
  private def coveredPositions(wins: DataFrame, idCol: String,
      minTokens: Int): DataFrame =
    wins.select(col(idCol),
        explode(sequence(col("w_start"), col("w_start") + (minTokens - 1)))
          .as("pos"))
      .distinct()

  /** Drop covered tokens and reassemble: one row per doc with >= 1
    * token, `(idCol, n_tokens, n_kept, text)` — the collect buffer is
    * bounded by the document's own token count. */
  private def removeCoveredTokens(tokens: DataFrame, covered: DataFrame,
      idCol: String): DataFrame =
    tokens
      .join(covered.withColumn("__dup", lit(1)), Seq(idCol, "pos"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__dup").isNull,
              struct(col("pos"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("text"))

  /** The storable exact-substring screening artifact: the DISTINCT
    * `win_sig` table of a corpus ([[overlappingWindows]] collapsed).
    * Write once beside the collection; [[incomingCoveredText]] probes
    * it at ingest time without touching corpus text. */
  def windowSigs(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame =
    windowSigRows(df, idCol, textCol, minTokens)
      .select("win_sig").distinct()

  /** Per-document DISTINCT window signatures `(idCol, win_sig)` — the
    * id-attributed form an INCREMENTALLY MAINTAINED screening artifact
    * stores: deleting a document tombstones its rows, and a signature
    * keeps screening as long as ANY live document still carries it
    * (the flat distinct table of [[windowSigs]] cannot express that). */
  def windowSigRows(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame =
    overlappingWindows(df, idCol, textCol, minTokens)
      .select(col(idCol), col("win_sig")).distinct()

  /** Ingest-time exact-substring screening (the [[incomingNearDups]]
    * counterpart for [[exactSubstringDedup]]): scrub from each ARRIVING
    * document every token position covered by a `minTokens`-token window
    * already present in the stored corpus signature table
    * ([[windowSigs]]). Each arriving doc is screened independently
    * against the corpus only — batch-internal repeats are the
    * corpus-wide pass's job, and keeping the per-doc math independent is
    * what lets the streaming twin gate on this operator's oracle
    * verbatim.
    *
    * Returns `(idCol, n_tokens, n_kept, text)` per arriving doc with
    * >= 1 token.
    *
    * Scale shape: the batch explodes its own windows (narrow), probes
    * the artifact with ONE sig-keyed left-semi join (batch-sized left,
    * artifact streamed through the join — never collected), then the
    * covered-position collapse and the doc-grain reassembly; corpus
    * text is never read.
    */
  def incomingCoveredText(corpusSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, minTokens: Int,
      corpusBuckets: Int = -1): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val wins0 = overlappingWindows(batch, idCol, textCol, minTokens)
    // stored-layout pruning (the incomingNearDups cap-and-switch shape):
    // when the stored sig table is bucket-partitioned (sig_bucket =
    // sigBucket(win_sig, n)), checkpoint the batch's windows ONCE (they
    // feed both the bucket derivation and the probe — without the
    // checkpoint the window-md5 chain would run twice), push the batch's
    // bucket set as a partition filter, and release the checkpoint after
    // materializing the (batch-sized) screened output.
    val (wins, sigs, ckpt) =
      if (corpusBuckets >= 1 && corpusSigs.columns.contains("sig_bucket")) {
        val w = wins0.localCheckpoint(true)
        val bks = w.select(sigBucket(col("win_sig"), corpusBuckets).as("__sb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val pruned =
          if (bks.size < corpusBuckets)
            corpusSigs.filter(col("sig_bucket").isin(bks: _*))
          else corpusSigs
        (w, pruned, Some(w))
      } else (wins0, corpusSigs, None)
    val covered = coveredPositions(
      wins.join(sigs.select("win_sig"), Seq("win_sig"), "left_semi"),
      idCol, minTokens)
    val raw = removeCoveredTokens(tokenRows(batch, idCol, textCol), covered,
      idCol)
    ckpt.fold(raw) { w =>
      val out = raw.localCheckpoint(true)
      GraftSqlShims.unpersistCheckpoint(w)
      out
    }
  }
}
