package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-set export: deterministic global shuffle + sharding.
  *
  * Training jobs need the corpus in pseudo-random order, split into
  * same-sized shards, and REPRODUCIBLE — re-running the export (or
  * re-exporting after fixing one upstream bug) must yield byte-identical
  * shards, or training runs aren't comparable. A `rand()`-based shuffle
  * fails that on any retry/speculative re-execution; this one derives both
  * the shard and the within-shard order from `md5(seed ":" id)`, so the
  * layout is a pure function of (data, seed) — any engine can recompute
  * it (the audit query's DuckDB oracle does exactly that).
  *
  * Scale shape: shard assignment is one codegen'd hash per row; the export
  * is one hash-partitioned shuffle straight into the writer with a
  * partition-local sort — no global sort, no driver involvement, no skew
  * (md5 is uniform: expected shard imbalance at N rows is O(√(N/shards))).
  */
object TrainExport {

  /** Append `__shuffle_key` (the md5 order key) and `shard`
    * (first 16 bits of the key mod `nShards`) to `df`.
    *
    * `nShards` must divide 65536 (i.e. be a power of two ≤ 65536): the
    * shard id comes from a 16-bit slice of the key, and a non-divisor
    * would bias low shard ids (65536 % n leftover values) — a silent
    * imbalance this operator exists to prevent.
    */
  def withShard(df: DataFrame, idCol: String, nShards: Int,
      seed: String = "shard"): DataFrame = {
    require(nShards >= 1 && 65536 % nShards == 0,
      s"nShards must be a power of two <= 65536, got $nShards")
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    df.withColumn("__shuffle_key", key)
      .withColumn("shard",
        conv(substring(col("__shuffle_key"), 1, 4), 16, 10).cast("long")
          % nShards)
  }

  /** Balance + determinism audit, one row per shard: doc count, token
    * budget, and the first/last order keys (the keys pin the permutation,
    * so a hash-match on this frame proves the whole layout).
    */
  def shardAudit(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, seed: String = "shard"): DataFrame =
    withShard(df, idCol, nShards, seed)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol))).cast("long").as("n_tokens"),
        min("__shuffle_key").as("first_key"),
        max("__shuffle_key").as("last_key"))
      .orderBy("shard")

  /** Global 1-based md5-order rank within each stratum, computed
    * SKEW-PROOF via the chunked two-phase pattern
    * ([[Sessionize.sessionSummaryChunked]]'s doctrine, transposed from
    * time-chunks to keyspace-chunks): a single
    * `row_number() OVER (PARTITION BY strata ORDER BY key)` sorts every
    * row of a stratum on ONE reducer — at corpus scale the dominant
    * source serializes the job. Here the md5 key's first `hexChars` hex
    * digits define a chunk; because the chunk is a PREFIX of the order
    * key, ordering by (chunk, key) equals ordering by key, so the global
    * rank decomposes exactly:
    *
    *   phase 1 — rank within (strata, chunk): the big sort is
    *     partitioned by stratum × 16^hexChars uniform chunks (md5 is
    *     uniform — no chunk is hot even when a stratum is);
    *   phase 2 — per-(strata, chunk) counts (a map-side-combined
    *     aggregation that collapses to |strata|·16^hexChars rows)
    *     prefix-sum into chunk offsets; a broadcast stitch adds the
    *     offset of all earlier chunks to the local rank.
    *
    * Identical output to the single-window formulation (TrainExportSpec
    * proves the equivalence row-for-row); only the plan changes.
    *
    * Output: the input columns plus `rn` (the global stratum rank, ties
    * on the md5 key broken by `idCol`) and `__n` (the stratum row
    * count) — callers filter on a keep rule and drop `__n`.
    */
  def md5RankChunked(df: DataFrame, idCol: String, strataCols: Seq[String],
      seed: String, hexChars: Int = 2): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    require(hexChars >= 1 && hexChars <= 4,
      s"hexChars must be in [1, 4] (16..65536 chunks), got $hexChars")
    val strata = strataCols.map(col)
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val keyed = df.withColumn("__key", key)
      .withColumn("__chunk", substring(col("__key"), 1, hexChars))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy((strata :+ col("__chunk")): _*)
      .orderBy(col("__key"), col(idCol))
    val local = keyed
      .withColumn("__lrn", row_number().over(wLocal).cast("long"))
    // per-chunk counts: a second linear pass whose partial aggregation
    // collapses map-side to the tiny (strata × chunks) catalog — far
    // cheaper than re-deriving counts from the windowed branch (which
    // would re-run the big sort on the aggregation side).
    val counts = keyed
      .groupBy((strata :+ col("__chunk")): _*)
      .agg(count(lit(1)).as("__cn"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(strata: _*).orderBy("__chunk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(strata: _*)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cn")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cn")).over(wTot))
      .select((strata :+ col("__chunk") :+ col("__off") :+ col("__n")): _*)
    local.join(broadcast(offsets), strataCols :+ "__chunk")
      .withColumn("rn", col("__off") + col("__lrn"))
      .drop("__key", "__chunk", "__lrn", "__off")
  }

  /** Per-stratum DESCENDING score rank without a single-task-per-stratum
    * window — the [[md5RankChunked]] two-phase discipline applied to a
    * SCORE axis: rank within (stratum, coarse score bucket), stitch with
    * the counts of higher buckets. Exact same rows as
    * `row_number().over(partitionBy(strata).orderBy(score desc, id))`
    * (TrainExportSpec proves the equivalence), but the big sort
    * parallelizes across `nBuckets` score bands per stratum instead of
    * serializing through one reducer per stratum.
    *
    * `scoreCol` must already be ROUNDED (the rank doctrine: ranks decide
    * gates, accumulation ulps must not decide ranks); ties break on
    * `idCol`. The typical consumer is score CALIBRATION — per-source
    * percentile rank `(rn − 1)/(n − 1)` as exact integer division, which
    * normalizes heterogeneous quality scores across sources before a
    * global threshold.
    *
    * Output: the input columns plus `rn` (1-based, score-descending
    * within the stratum) and `__n` (stratum size).
    */
  def scoreRankChunked(df: DataFrame, idCol: String, scoreCol: String,
      strataCols: Seq[String], nBuckets: Int = 20): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    require(nBuckets >= 2, s"nBuckets must be at least 2, got $nBuckets")
    val strata = strataCols.map(col)
    val keyed = df.withColumn("__bkt",
      floor(col(scoreCol) * nBuckets).cast("long"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy((strata :+ col("__bkt")): _*)
      .orderBy(desc(scoreCol), col(idCol))
    val local = keyed
      .withColumn("__lrn", row_number().over(wLocal).cast("long"))
    val counts = keyed
      .groupBy((strata :+ col("__bkt")): _*)
      .agg(count(lit(1)).as("__cn"))
    // descending stitch: a row's offset is the population of all HIGHER
    // score buckets in its stratum
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(strata: _*).orderBy(desc("__bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(strata: _*)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cn")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cn")).over(wTot))
      .select((strata :+ col("__bkt") :+ col("__off") :+ col("__n")): _*)
    local.join(broadcast(offsets), strataCols :+ "__bkt")
      .withColumn("rn", col("__off") + col("__lrn"))
      .drop("__bkt", "__lrn", "__off")
  }

  /** GPT-style concat-and-slice sequence packing: documents are laid out
    * in deterministic md5 order as ONE virtual token stream and cut into
    * fixed `seqLen`-token training sequences, crossing document
    * boundaries — the pretraining layout (every sequence exactly full),
    * where [[TextAnalysis.packBins]] is the no-splitting layout (bins
    * underfull, documents intact). Output is the PROVENANCE map: one row
    * per (document × sequence it lands in) with the document's global
    * token offset and its token count inside that sequence — exactly
    * what attribution, decontamination-by-sequence, and loader-side
    * assembly need.
    *
    * Layout math is all exact integers: a document at exclusive-prefix
    * offset `off` with `t > 0` tokens spans sequences `off div L`
    * through `(off + t − 1) div L` and contributes
    * `least(off + t, (s+1)·L) − greatest(off, s·L)` tokens to sequence
    * `s`; zero-token documents occupy no positions and emit no rows.
    * Every sequence except the last holds exactly L tokens by
    * construction (spec-pinned).
    *
    * Scale shape: the global offset is the [[md5RankChunked]] two-phase
    * discipline transposed from ranks to TOKEN-COUNT cumsums — the
    * cumsum window is partitioned by the md5-prefix chunk (the chunk is
    * a prefix of the order key, so (chunk, key) order IS key order and
    * per-chunk cumsums + a broadcast stitch of the 16^hexChars
    * chunk-total catalog reproduce the global cumsum exactly); no
    * single-reducer global window, no driver loop. The expansion join is
    * a generator (≤ 1 + t/L rows per doc), never a cross join.
    */
  def sliceSequences(df: DataFrame, idCol: String, tokensCol: String,
      seqLen: Int, seed: String = "slice", hexChars: Int = 2): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(hexChars >= 1 && hexChars <= 4,
      s"hexChars must be in [1, 4] (16..65536 chunks), got $hexChars")
    val keyed = df
      .select(col(idCol), col(tokensCol).cast("long").as("__t"))
      .withColumn("__key",
        md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .withColumn("__chunk", substring(col("__key"), 1, hexChars))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__chunk").orderBy(col("__key"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val local = keyed
      .withColumn("__loff", coalesce(sum("__t").over(wLocal), lit(0L)))
    val counts = keyed.groupBy("__chunk").agg(sum("__t").as("__cn"))
    // catalog-sized frame (16^hexChars rows): the unpartitioned window is
    // bounded by construction, not a corpus-scale sort
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy("__chunk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = counts
      .withColumn("__coff", coalesce(sum("__cn").over(wOff), lit(0L)))
      .select("__chunk", "__coff")
    local.join(broadcast(offsets), Seq("__chunk"))
      .withColumn("off", col("__coff") + col("__loff"))
      .filter(col("__t") > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"off div $seqLen"), expr(s"(off + __t - 1) div $seqLen"))))
      .withColumn("n_tok",
        least(col("off") + col("__t"), (col("seq_id") + 1) * seqLen) -
          greatest(col("off"), col("seq_id") * seqLen))
      .select(col(idCol), col("seq_id"), col("off"), col("n_tok"))
  }

  /** Deterministic proportional stratified sample: keep
    * `ceil(n · keepNumer / keepDenom)` rows of every stratum, chosen by
    * md5 order — the per-source/per-language mixture-downsampling step of
    * a corpus build (cap web text at 20%, keep all of a trusted source,
    * etc.), seedless-reproducible like every sampler here ([[withShard]]'s
    * doctrine: a `rand()` sample changes under retries and cluster
    * resizing; an md5-order sample is a pure function of the data).
    *
    * The keep fraction is a RATIONAL (`keepNumer / keepDenom`) and the
    * keep count is exact integer math (`(n·num + den − 1) DIV den`) —
    * `ceil(0.2 · n)` in doubles is off-by-one whenever `0.2 · n` lands on
    * a representation boundary (0.2 has no exact double), and engines
    * disagreeing by one row on a 5 000-row stratum is precisely the class
    * of bug the oracle gate exists to catch.
    *
    * Output: the input columns plus `rn` (1-based md5-order rank within
    * the stratum — stable, so downstream can sub-sample by rank).
    *
    * Scale shape: [[md5RankChunked]] — the per-row sort is partitioned by
    * (stratum, md5-prefix chunk), so a pathologically hot stratum spreads
    * over 16^hexChars uniform chunks instead of serializing one reducer;
    * the stitch is a broadcast of the tiny chunk-offset catalog.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCols: Seq[String],
      keepNumer: Int, keepDenom: Int, seed: String = "samp"): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    require(keepDenom >= 1 && keepNumer >= 0 && keepNumer <= keepDenom,
      s"keep fraction must be in [0, 1]: got $keepNumer/$keepDenom")
    md5RankChunked(df, idCol, strataCols, seed)
      .filter(col("rn") <=
        expr(s"(__n * $keepNumer + ${keepDenom - 1}) DIV $keepDenom"))
      .drop("__n")
  }

  /** Deterministic weighted sampling without replacement — the
    * Efraimidis–Spirakis scheme with md5 uniforms: each row draws
    * u ∈ (0,1) from a 16-bit md5 slice and ranks by ln(u)/w (the
    * log-form of the classic u^(1/w) key); the top `n` keys are a
    * weighted sample without replacement. The usual implementation draws
    * u from `rand()` and breaks under retries; this one is a pure
    * function of (id, seed), so any engine replays the exact sample
    * (q115 does).
    *
    * Keys are rounded at 9 places before ranking (they are already
    * ln-of-rational — cross-engine ulp drift is ~1e-19 — and an id
    * tie-break settles rounded collisions), and rows with non-positive
    * weight are excluded (their key is undefined). One bounded top-n
    * (TakeOrderedAndProject), no shuffle, no window.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      n: Int, seed: String = "ws"): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val u = (conv(substring(md5(concat(lit(seed + ":"),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("double") + 1.0) /
      65537.0
    df.filter(col(weightCol) > 0)
      .withColumn("skey", round(log(u) / col(weightCol), 9))
      .orderBy(desc("skey"), col(idCol))
      .limit(n)
  }

  /** Hamilton (largest-remainder) quota allocation: turn a per-source
    * weight vector (Σ ≈ 1, e.g. [[Importance.mixtureWeights]]' output)
    * into INTEGER slot counts for a budget of `n` — every source gets
    * ⌊n·w⌋, the `n − Σ⌊n·w⌋` leftovers go to the largest fractional
    * remainders (source-name tie-break). Cross-engine exactness: the
    * weights arrive ROUNDED (identical doubles in both engines), so
    * `n·w`, its floor, and the remainder compares are all operations on
    * identical values — no new rounding needed; the only ordering is
    * over the |sources|-row frame. Appends `quota` (BIGINT).
    *
    * PRECONDITION (checked eagerly): the weights must sum to ~1. The
    * largest-remainder step can only hand out one extra slot per source,
    * so the leftover `n − Σ⌊n·w⌋` must lie in [0, |sources|] — a weight
    * vector summing materially below 1 would silently underfill the
    * budget (and above 1, overfill it); either case raises instead.
    */
  /** LEAKAGE-SAFE train/val/test split: assign documents to splits at
    * near-duplicate CLUSTER grain, so no near-dup pair ever straddles a
    * split boundary (train/test contamination through paraphrases and
    * mirrors — the failure a doc-grain random split ships by default).
    *
    * `pairs` are the near-dup edges (any screen — MinHash-LSH,
    * SimHash, embedding-cosine); documents connected through them
    * collapse to one cluster ([[Dedup.connectedComponents]]'s min-id
    * representative; isolated docs are their own cluster), and the
    * WHOLE cluster lands in one split by the md5 16-bit slice of its
    * representative (`md5("split:" + rep) % nSlots` — the q82 rule,
    * nSlots divides 65536, no modulo bias; SQL-recomputable per row).
    * Slots [0, n−v−t) → train, [n−v−t, n−t) → val, rest → test.
    *
    * Scale shape: the components are the q65 machinery (partition-local
    * union-find, pair-sized); assignment is one broadcast-free left join
    * (cluster labels are pair-member-sized, usually ≪ corpus) + pure
    * column math. Output: (id, rep, split), one row per document.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      nSlots: Int = 16, valSlots: Int = 1, testSlots: Int = 1): DataFrame = {
    requireSplitRule(docs, idCol, nSlots, valSlots, testSlots)
    clusterSplits(docs, Dedup.connectedComponents(pairs), idCol, nSlots,
      valSlots, testSlots)
  }

  /** [[leakageSafeSplit]] over components already computed
    * ([[Dedup.connectedComponents]]'s (id, cluster_rep) frame). The
    * returned plan reads `components`, so a caller that checkpointed
    * them frees them only after consuming the split.
    */
  def clusterSplits(docs: DataFrame, components: DataFrame, idCol: String,
      nSlots: Int, valSlots: Int, testSlots: Int): DataFrame = {
    requireSplitRule(docs, idCol, nSlots, valSlots, testSlots)
    val cc = components.select(col("id"), col("cluster_rep"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(cc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("cluster_rep"), col("id")).as("rep"))
      .withColumn("__slot", conv(substring(md5(concat(lit("split:"),
          col("rep").cast("string"))), 1, 4), 16, 10).cast("long")
        % nSlots)
      .withColumn("split",
        when(col("__slot") < nSlots - valSlots - testSlots, "train")
          .when(col("__slot") < nSlots - testSlots, "val")
          .otherwise("test"))
      .drop("__slot")
  }

  private[graft] def requireSplitRule(docs: DataFrame, idCol: String, nSlots: Int,
      valSlots: Int, testSlots: Int): Unit = {
    require(nSlots >= 2 && 65536 % nSlots == 0,
      s"nSlots must divide 65536, got $nSlots")
    require(valSlots >= 0 && testSlots >= 0 &&
      valSlots + testSlots < nSlots,
      s"need valSlots + testSlots < nSlots, got $valSlots/$testSlots/$nSlots")
    graft.operators.VectorIndex.requireIntegralCol(docs, idCol,
      "leakageSafeSplit")
  }

  /** INGEST-TIME split routing — [[leakageSafeSplit]]'s arrival path:
    * a new document must land in the SAME split as its near-duplicates
    * already in the corpus, or a tomorrow's crawl of yesterday's test
    * document trains the model on it. `matches` are the arriving
    * batch's verified near-dup hits against the stored corpus
    * ([[Dedup.incomingNearDups]]'s (a_id batch, b_id corpus) shape —
    * the stored-bands screen, never a corpus rescan); `assign` is the
    * corpus's committed (id, rep, split) table.
    *
    * Routing key: the SMALLEST cluster representative among a doc's
    * matches (deterministic; the split is a pure function of the rep's
    * md5 slice, so inheriting the rep IS inheriting the split);
    * unmatched arrivals route by their own id under the same rule —
    * exactly what [[leakageSafeSplit]] would assign a singleton.
    * `bridged = 1` flags arrivals whose matches span MORE THAN ONE
    * split — the signal that the arrival connects clusters the
    * original edge set separated (route to the smallest-rep side,
    * surface the flag; silently ignoring it would hide real leakage).
    *
    * The output carries the routing key as `rep` (the inherited match
    * rep, or the arrival's own id on fallback) so a caller can COMMIT
    * routed rows back into its assignment table — the step that makes
    * inheritance transitive: a later arrival that near-dups only THIS
    * arrival then inherits through its committed (id, rep, split) row
    * ([[graft.core.GraftDatabase.routeArrivals]] does exactly that).
    *
    * Scale shape: one batch-keyed aggregation over the match table
    * (match-grain, not corpus-grain) + one left join at batch grain +
    * pure column math. Output: (id, rep, split, n_matches, bridged).
    */
  def routeSplits(assign: DataFrame, matches: DataFrame, batch: DataFrame,
      idCol: String, nSlots: Int = 16, valSlots: Int = 1,
      testSlots: Int = 1): DataFrame = {
    require(nSlots >= 2 && 65536 % nSlots == 0,
      s"nSlots must divide 65536, got $nSlots")
    require(valSlots >= 0 && testSlots >= 0 &&
      valSlots + testSlots < nSlots,
      s"need valSlots + testSlots < nSlots, got $valSlots/$testSlots/$nSlots")
    graft.operators.VectorIndex.requireIntegralCol(batch, idCol,
      "routeSplits")
    val m = matches
      .select(col("a_id").cast("long").as("id"),
        col("b_id").cast("long").as("b_id"))
      .join(assign.select(col("id").as("b_id"), col("rep"),
        col("split").as("__ms")), Seq("b_id"))
      .groupBy("id")
      // the STORED split of the smallest-rep match is authoritative
      // (never recomputed from the rep — the corpus assignment may have
      // used any slot scheme); rep is unique per cluster and a cluster
      // holds one split, so ties cannot disagree
      .agg(min(struct(col("rep").as("rep"), col("__ms").as("split")))
          .as("w"),
        countDistinct(col("__ms")).as("__ns"),
        count(lit(1)).as("n_matches"))
    val slot = conv(substring(md5(concat(lit("split:"),
        col("id").cast("string"))), 1, 4), 16, 10).cast("long") % nSlots
    batch.select(col(idCol).cast("long").as("id"))
      .join(m, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("w.rep"), col("id")).as("rep"),
        coalesce(col("w.split"),
          when(slot < nSlots - valSlots - testSlots, "train")
            .when(slot < nSlots - testSlots, "val")
            .otherwise("test")).as("split"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(coalesce(col("__ns"), lit(1L)) > 1L, 1L).otherwise(0L)
          .as("bridged"))
  }

  def hamiltonQuotas(weights: DataFrame, n: Int,
      sourceCol: String = "source",
      weightCol: String = "weight"): DataFrame = {
    require(n >= 0, s"budget must be non-negative, got $n")
    // materialize the weights input once — it is |sources|-sized BY
    // CONTRACT but typically a whole derivation pipeline (q200's DoReMi
    // weights are a corpus LM pass), and it feeds the leftover aggregate
    // and the final projection (38 corpus scans in the q200 plan without
    // this, r17 all-plans audit).
    // n == 0 skips it: nothing downstream runs more than once and the
    // blocks would leak (r18 ADVICE item)
    val wts = if (n == 0) weights else weights.localCheckpoint(true)
    try {
      val q0 = wts
        .withColumn("__q0", floor(col(weightCol) * n).cast("long"))
        .withColumn("__rem", col(weightCol) * n - floor(col(weightCol) * n))
      // the leftover and the source count decide the guards: one row,
      // read on the driver BEFORE the result materializes. Raising inside
      // that materialization instead would strand the failed
      // localCheckpoint's own RDD, which Spark registers as persisted
      // before its job runs and gives no handle to. n == 0 always
      // passes: leftover 0.
      val (r, cnt) =
        if (n == 0) (0L, 0L)
        else {
          val row = q0.agg(
            (lit(n.toLong) - coalesce(sum("__q0"), lit(0L))).as("__r"),
            count(lit(1)).as("__cnt")).head()
          (row.getLong(0), row.getLong(1))
        }
      // an empty weights frame with a budget is the silent underfill
      require(n == 0 || cnt > 0,
        s"hamiltonQuotas: empty weights frame cannot fill a budget of $n")
      require(r >= 0L && r <= cnt, s"hamiltonQuotas: weights must sum to ~1 " +
        s"(leftover $r slots for $cnt sources)")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("__rem"), col(sourceCol))
      val out = q0
        .withColumn("__rk", row_number().over(w).cast("long"))
        .withColumn("quota",
          col("__q0") + when(col("__rk") <= r, 1L).otherwise(0L))
        .drop("__q0", "__rem", "__rk")
      // the quotas frame is |sources|-sized and every caller consumes it
      // at least twice (fill filter + report): materialize it HERE and
      // free the wts seam — a returned lineage over wts would pin the
      // whole weights pipeline's blocks for the session with no handle
      // to release them (r18 ADVICE item)
      if (n == 0) out else out.localCheckpoint(true)
    } finally if (n != 0) org.apache.spark.sql.GraftSqlShims.unpersistCheckpoint(wts)
  }

  /** The DoReMi loop closed: per-source quotas ([[hamiltonQuotas]] over
    * the given weights) filled by the deterministic md5-rank selection
    * ([[md5RankChunked]] within each source) — the step that turns a
    * reweighting DECISION into an actual training subset, reproducible
    * under retries and engine-replayable. A source smaller than its
    * quota contributes everything it has (capped by availability, never
    * silently re-distributed — the honest shortfall surfaces in
    * `n_selected < quota`). Output: one row per source —
    * (source, n_docs, weight, quota, n_selected, sel_sum) where
    * `sel_sum` is the exact-integer id checksum of the selected set.
    *
    * `weights` must carry (sourceCol, weight, n_docs) —
    * [[Importance.mixtureWeights]]' output shape; `n_docs` (the source's
    * corpus size) is passed through so the report shows availability
    * next to quota.
    */
  def mixtureSelect(df: DataFrame, idCol: String, sourceCol: String,
      weights: DataFrame, n: Int, seed: String = "mix"): DataFrame = {
    require(Seq(sourceCol, "weight", "n_docs").forall(weights.columns.contains),
      s"weights frame must carry ($sourceCol, weight, n_docs) — got " +
        weights.columns.mkString("(", ", ", ")"))
    // quotas feed both the fill filter and the final report —
    // hamiltonQuotas returns them already materialized (n > 0) and frees
    // its own weights seam; re-checkpointing here would just copy blocks
    val quotas = hamiltonQuotas(weights, n, sourceCol)
    val ranked = md5RankChunked(df.select(col(idCol), col(sourceCol)),
      idCol, Seq(sourceCol), seed)
    val picked = ranked
      .join(quotas.select(col(sourceCol), col("quota")), Seq(sourceCol))
      .filter(col("rn") <= col("quota"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_selected"),
        sum(col(idCol).cast("long")).as("sel_sum"))
    quotas.join(picked, Seq(sourceCol), "left_outer")
      .select(col(sourceCol), col("n_docs"), col("weight"), col("quota"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_sum"), lit(0L)).as("sel_sum"))
  }

  /** Materialize the shards: one directory per shard, rows in shuffle-key
    * order within each file. `repartition(nShards, shard)` makes the write
    * a single shuffle whose output partitioning IS the shard layout —
    * `partitionBy` then splits ready-sorted partitions without a second
    * exchange.
    */
  def exportShards(df: DataFrame, idCol: String, path: String,
      nShards: Int, seed: String = "shard"): Unit =
    withShard(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "__shuffle_key")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}
