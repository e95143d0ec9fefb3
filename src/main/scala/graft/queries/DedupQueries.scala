package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}

/** Deduplication coverage over the documents/embeddings tables: exact,
  * MinHash+LSH bands, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  * Every signature is md5-derived, so the DuckDB oracles recompute the
  * identical values (no engine-specific hashing anywhere).
  */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact + normalized-fingerprint dedup statistics per source.
    "q30_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique_norm"))
        .orderBy("source")
    }),

    // Repeated-span removal (the CCNet/RefinedWeb paragraph-dedup pass at
    // 20-token span granularity): drop every copy of any span occurring
    // more than once corpus-wide, reassemble the survivors in document
    // order. text_sig pins the reassembled text exactly.
    "q131_span_dedup" -> ((s, dir) => {
      Dedup.spanDedup(
          graft.operators.Parallelism.ensure(Tables.documents(s, dir)),
          "doc_id", "text", spanSize = 20, maxFreq = 1)
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("text")).as("text_sig"))
        .orderBy("doc_id")
    }),

    // Content-defined span dedup: same count → drop → reassemble pass as
    // q131, but boundaries come from token content (seeded 16-bit md5
    // ≡ 0 mod 16), so an insertion shifts only its own span — the CDC
    // argument, at token granularity.
    "q133_cdc_dedup" -> ((s, dir) => {
      Dedup.spanDedupSpans(
          TextAnalysis.cdcSpans(
            graft.operators.Parallelism.ensure(Tables.documents(s, dir)),
            "doc_id", "text", divisor = 16),
          "doc_id", maxFreq = 1)
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("text")).as("text_sig"))
        .orderBy("doc_id")
    }),

    // Exact-substring dedup (Lee et al. 2021 ExactSubstr): remove every
    // token position covered by a >= 15-token substring occurring more
    // than once corpus-wide (self-repeats included, all copies removed).
    // The suffix-array answer, reproduced exactly by the duplicated
    // overlapping-window identity — see Dedup.exactSubstringDedup.
    "q211_exact_substring" -> ((s, dir) => {
      Dedup.exactSubstringDedup(
          graft.operators.Parallelism.ensure(Tables.documents(s, dir)),
          "doc_id", "text", minTokens = 15)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("text")).as("text_sig"))
        .orderBy("doc_id")
    }),

    // Per-doc exact-substring duplication profile at the q211 width:
    // covered positions, maximal duplicated runs (gaps-and-islands),
    // longest duplicated substring length, covered fraction.
    "q216_substring_stats" -> ((s, dir) => {
      Dedup.exactSubstringStats(
          graft.operators.Parallelism.ensure(Tables.documents(s, dir)),
          "doc_id", "text", minTokens = 15)
        .orderBy("doc_id")
    }),

    // Keep-first span dedup (CCNet's keep-one-copy convention): the
    // first corpus-order occurrence of every repeated 20-token span
    // survives, later copies drop. min(struct) census — no corpus
    // window.
    "q212_span_keep_first" -> ((s, dir) => {
      Dedup.spanDedupKeepFirst(
          graft.operators.Parallelism.ensure(Tables.documents(s, dir)),
          "doc_id", "text", spanSize = 20)
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("text")).as("text_sig"))
        .orderBy("doc_id")
    }),

    // Ingest-time exact-substring screening: the corpus's distinct
    // 15-token window signatures are WRITTEN as an artifact, read back,
    // and an arriving batch (corpus docs wrapped in fresh tokens) is
    // scrubbed of every position covered by a stored window. The oracle
    // replays both the artifact's signature chain and the screening.
    "q213_incoming_substring" -> ((s, dir) => {
      val docs = graft.operators.Parallelism.ensure(Tables.documents(s, dir))
      val sigsPath = Scratch.dir("graft_q213") + "/winsigs"
      Dedup.windowSigs(docs, "doc_id", "text", minTokens = 15)
        .write.mode("overwrite").parquet(sigsPath)
      val stored = s.read.parquet(sigsPath)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit("fb1 fb2 "), col("text"), lit(" fe1")).as("text"))
      Dedup.incomingCoveredText(stored, batch, "doc_id", "text",
          minTokens = 15)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("text")).as("text_sig"))
        .orderBy("doc_id")
    }),

    // MinHash (8 hashes over 5-gram word shingles) + LSH banding (4 bands
    // of 2): candidate near-dup pairs. Explode→aggregate shapes only; the
    // pair join is on band keys, never all-pairs.
    "q31_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashCandidates(Tables.documents(s, dir),
          idCol = "doc_id", textCol = "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2)
        .orderBy("a_id", "b_id")
    }),

    // 16-bit SimHash per document (term-frequency-weighted md5 bit votes).
    "q32_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", nBits = 16)
        .orderBy("doc_id")
    }),

    // Verified 5-gram Jaccard: candidates from shared shingles, exact
    // set-Jaccard ≥ 0.5.
    "q33_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 5, threshold = 0.5)
        // +1e-9: jaccard is a ratio of small ints — dyadic rationals land
        // on exact 6dp midpoints where Spark/DuckDB rounding disagrees
        .select(col("a_id"), col("b_id"),
          round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // Prefix-filtered EXACT similarity join (All-Pairs): every pair with
    // filtered-universe Jaccard >= 1/2, found from a prefix×prefix join on
    // each doc's globally-rarest shingles — never all-pairs, and unlike
    // LSH, with a zero-false-negative GUARANTEE. Gated against q33's
    // exhaustive shared-shingle oracle text VERBATIM: a hash match proves
    // the prefix filter lost no qualifying pair, under the oracle.
    "q187_prefix_join" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 5, num = 1, den = 2)
        .select(col("a_id"), col("b_id"),
          round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // Sorted-neighborhood dedup (the third discovery family): corpus
    // sorted on the normalized-text prefix (chunk-partitioned two-phase
    // rank — no single-reducer sort), every pair within 10 sort
    // positions becomes a candidate (N·9 pairs exactly — fixed cost,
    // skew-proof), exact shingle Jaccard >= 0.5 verifies. The gate pins
    // discovery AND the rank-distance gap of every surviving pair.
    "q190_snm_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 10, keyLen = 40)
      Dedup.jaccardOfPairs(docs, "doc_id", "text", pairs, shingleN = 5)
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"), col("gap"),
          round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // Dedup clusters: connected components over the MinHash-LSH candidate
    // pairs (min-label propagation); each doc maps to the smallest doc_id
    // reachable through near-dup edges. Oracle: recursive CTE over the same
    // edges.
    "q65_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-SAFE SPLITS as a reusable OPERATOR: q91 gates this
    // composition inline (components over the LSH edges + md5-of-rep
    // placement); TrainExport.leakageSafeSplit lifts it to an API any
    // edge set can drive (MinHash, SimHash, embedding-cosine) and fixes
    // q91's `% 10` placement — 10 does not divide 65536, so the 16-bit
    // slice carries modulo bias (the q82 rule; q91 predates it and
    // stays as the historical gate). 16 slots → 14/1/1. The oracle
    // replays components + placement; TrainExportSpec pins the
    // zero-crossing invariant, cluster cohesion, and the loud
    // divide-65536 contract.
    "q335_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs,
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      graft.operators.TrainExport.leakageSafeSplit(docs, pairs, "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .orderBy("split")
    }),

    // The split operator under EMBEDDING edges — the "any edge set"
    // claim exercised end to end: every 7th vector re-enters as an
    // exact copy (id + 100000 — the planted-duplicate convention), the
    // sign-bucket LSH pair screen finds the copy pairs at rounded
    // cosine >= 0.999 (background tops out ~0.55 — no boundary risk),
    // and leakageSafeSplit keeps each copy with its original. A
    // doc-grain split would separate ~2·(1/16)·(15/16) of the copy
    // pairs; here n_clusters < n_docs in exactly the planted amount and
    // no pair straddles (TrainExportSpec's invariant, here under a
    // second edge family).
    "q336_embed_split" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val aug = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding")))
      val pairs = Dedup.embeddingPairs(aug, "vec_id", "embedding",
          nBits = 8)
        .filter(round(col("score"), 6) >= 0.999)
        .select("a_id", "b_id")
      graft.operators.TrainExport.leakageSafeSplit(aug, pairs, "vec_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .orderBy("split")
    }),

    // PageRank centrality over the q31 near-dup graph — representative
    // selection by structure (the most-pointed-at duplicate) instead of
    // q65's arbitrary min-id. Fixed 5-round power iteration; each
    // round's rank is rounded (+1e-15, 12) on BOTH sides so the engines
    // re-enter every round bit-identical and accumulation ulps can't
    // compound (the iterative extension of the rounding doctrine). The
    // oracle unrolls the five rounds as CTEs over the same edges.
    "q177_pagerank" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      graft.operators.Graph.pageRank(pairs)
        .select(col("id").as("doc_id"), col("deg"), col("rank"))
        .orderBy("doc_id")
    }),

    // Personalized PageRank over the q31 graph: walks restart at an
    // md5-class 10% seed set, so rank measures proximity to the seeds
    // (expand-a-trusted-set curation) — q177 answers "globally
    // central", this answers "central FROM HERE". Same per-round
    // rounding scheme; the restart coefficient stays written
    // (1 − 0.85)·s; unreached nodes hold exactly 0.
    "q255_ppr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs,
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      val seeds = docs.filter(conv(substring(md5(concat(lit("pprseed:"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
          % 10 === 0)
        .select(col("doc_id"))
      graft.operators.Graph.personalizedPageRank(pairs, seeds, "doc_id")
        .select(col("id").as("doc_id"), col("deg"), col("is_seed"),
          col("rank"))
        .orderBy("doc_id")
    }),

    // Clamped-seed label propagation over the q31 graph: the lang tag of
    // an md5-class 25% seed set spreads to unlabeled neighbors by
    // iterated neighbor-majority (3 rounds, exact integer votes, greatest
    // -label tie-break = the q166 max-struct rule). The gate hashes every
    // node's final (label, status) — seed clamping, vote counts, and the
    // no-labeled-neighbor 'none' path are all pinned.
    "q180_label_prop" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs,
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      val seeds = docs.filter(conv(substring(md5(concat(lit("lpseed:"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
          % 4 === 0)
        .select(col("doc_id"), col("lang"))
      graft.operators.Graph.labelPropagation(pairs, seeds, "doc_id", "lang")
        .select(col("id").as("doc_id"), col("label"), col("status"))
        .orderBy("doc_id")
    }),

    // Leakage-free split: train/test membership decided at near-dup
    // CLUSTER grain (the q65 components' rep), so no near-copy of a test
    // doc can land in train; docs outside any pair are singleton
    // clusters. The gate hashes every doc's (rep, split) — the q140 md5
    // residue rule keyed on the rep.
    "q181_cluster_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs,
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      Dedup.clusterSplit(docs.select("doc_id"), "doc_id", pairs)
        .select(col("doc_id"), col("cluster_rep"), col("split"))
        .orderBy("doc_id")
    }),

    // Triangle participation + local clustering coefficient over the q31
    // near-dup graph — cohesion of each near-dup neighborhood (dense
    // clique = true duplicate group; triangle-free star = one boilerplate
    // hub touching unrelated docs). Spark enumerates wedges under the
    // (deg, id) orientation (O(m^1.5) regardless of hub skew); the oracle
    // counts the same triangles with the order-independent x<y<z
    // three-way join — counts are orientation-invariant, so a hash match
    // proves the oriented enumeration exact. lcc = 2T/(d(d-1)) is a
    // single division of exact integers (engine-exact, never rounded).
    "q186_triangles" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      graft.operators.Graph.triangleStats(pairs)
        .select(col("id").as("doc_id"), col("deg"), col("tri"), col("lcc"))
        .orderBy("doc_id")
    }),

    // Discovery-family cost sheet (the q154/q159 honest-measurement
    // tradition, widened to the COST axis): candidates generated and
    // pairs surviving exact verification at t = 1/2 for each of the
    // three discovery families — probabilistic LSH, guaranteed prefix
    // filtering, fixed-cost sorted neighborhoods. Each family's verified
    // count uses its own gated convention (q70's full-universe Jaccard
    // for minhash/SNM, q187's capped universe for prefix — identical on
    // this corpus, replayed exactly either way). The candidate column is
    // the cost a 100 TB run pays; verified/candidates is the precision
    // the discovery knob buys.
    "q192_discovery_costs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def row(fam: String, cand: DataFrame, ver: DataFrame) =
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(ver.agg(count(lit(1)).as("n_verified")))
          .select(lit(fam).as("family"),
            col("n_candidates"), col("n_verified"))
      val mh = row("minhash",
        Dedup.minhashCandidates(docs, "doc_id", "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2),
        Dedup.verifiedNearDups(docs, "doc_id", "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2, threshold = 0.5))
      val pf = row("prefix",
        Dedup.prefixCandidates(docs, "doc_id", "text",
          shingleN = 5, num = 1, den = 2),
        Dedup.prefixJaccardPairs(docs, "doc_id", "text",
          shingleN = 5, num = 1, den = 2))
      val snmPairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 10, keyLen = 40)
      val sn = row("snm", snmPairs,
        Dedup.jaccardOfPairs(docs, "doc_id", "text", snmPairs, shingleN = 5)
          .filter(col("jaccard") >= 0.5))
      mh.unionByName(pf).unionByName(sn).orderBy("family")
    }),

    // SimHash near-dup pairs: banded chunk equi-join (pigeonhole-exact for
    // hamming <= bands-1) + exact bit_count verification. The oracle does
    // the all-pairs comparison directly — tractable at oracle scale — so a
    // hash match proves the banding loses no pair.
    "q72_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          nBits = 16, bands = 4, maxHamming = 1)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("a_id", "b_id")
    }),

    // The composed production pipeline: LSH discovery (q31's machinery) →
    // exact full-set Jaccard verification of ONLY the candidates. The
    // oracle recomputes both stages, so a hash match proves the
    // discovery+verify composition end-to-end.
    "q70_lsh_verified" -> ((s, dir) => {
      Dedup.verifiedNearDups(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2, threshold = 0.5)
        // +1e-9 midpoint guard, as in q33
        .select(col("a_id"), col("b_id"),
          round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // LSH candidate-quality measurement (the dedup sibling of the
    // q126/q138 recall gates): exact Jaccard for EVERY bucket collision
    // — including zero-overlap ones the verifier paid for — histogrammed
    // by decile of the rounded score. Pins the precision of the
    // discovery stage itself, measured under the oracle, not
    // self-reported.
    "q154_lsh_precision" -> ((s, dir) => {
      Dedup.candidateJaccard(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2)
        .select(floor(round(col("jaccard") + lit(1e-9), 6) * lit(10))
          .cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("n_pairs"))
        .orderBy("decile")
    }),

    // SimHash candidate quality (q154's measurement applied to the
    // OTHER discovery family): exact Jaccard per hamming distance for
    // every simhash band collision — pins how hamming distance predicts
    // real overlap, the number that justifies a maxHamming cut.
    "q159_simhash_precision" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
        nBits = 16, bands = 4, maxHamming = 3)
      Dedup.jaccardOfPairs(docs, "doc_id", "text", pairs, shingleN = 5)
        .select(col("hamming").cast("long").as("hamming"),
          floor(round(col("jaccard") + lit(1e-9), 6) * lit(10))
            .cast("long").as("decile"))
        .groupBy("hamming", "decile").agg(count(lit(1)).as("n_pairs"))
        .orderBy("hamming", "decile")
    }),

    // Dedup RESOLUTION: after clustering, production keeps the highest-
    // QUALITY member of each near-dup cluster (not the min id) — composed
    // here from connected components + the quality score + one window.
    // Ranking uses the ROUNDED quality (6dp, +1e-9 midpoint guard) so the
    // argmax is cross-engine deterministic, tie-broken by doc_id.
    "q78_cluster_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      val comps = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      val punct = TextAnalysis.punctRatio(col("text"))
      val toks = regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))
      val stop = when(size(toks) === 0, 0.0).otherwise(
        size(filter(toks, t => t.isin(TextAnalysis.stopwords: _*)))
          .cast("double") / size(toks))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_rep")
      val wr = w.orderBy(desc("quality"), col("doc_id"))
      docs.join(comps, Seq("doc_id"), "left")
        .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
        .withColumn("quality", round(
          TextAnalysis.qualityScoreFrom(col("text"), punct, stop) + lit(1e-9), 6))
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1 && col("n_members") >= 2)
        .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
          col("n_members"), col("quality"))
        .orderBy("cluster_rep")
    }),

    // kNN graph over the embeddings: each vector's top-5 in-bucket
    // cosine neighbors (rank on the ROUNDED score, neighbor-id
    // tie-break). The directed edge list is the curation primitive
    // behind cluster discovery and SemDeDup-style pruning.
    "q198_knn_graph" -> ((s, dir) => {
      Dedup.knnEdges(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, nBits = 8)
        .orderBy("src_id", "rank")
    }),

    // Mutual-kNN components: keep an edge only when EACH side is in the
    // other's top-5, then min-label components — the robust cluster
    // discovery pass (hub-attracted asymmetric links drop out). The
    // oracle replays both knn directions, the mutuality join, and the
    // recursive closure.
    "q199_mutual_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.connectedComponents(
          Dedup.mutualKnnEdges(e, "vec_id", "embedding", k = 5, nBits = 8))
        .select(col("id").as("vec_id"), col("cluster_rep"))
        .orderBy("vec_id")
    }),

    // k-core of the mutual-kNN graph: the density filter over the same
    // edges q199 clusters — nodes keeping >= 3 mutual neighbors after the
    // peeling fixpoint (pendant chains and LSH-collision trees drop).
    // Pure integer set algebra, so the oracle replays the peel as
    // generated layers (8 > the observed <= 5 convergence rounds at all
    // SFs; layers past the fixpoint are idempotent, and a regenerated
    // corpus needing more rounds fails the gate VISIBLY rather than
    // silently — the operator itself stops at the fixpoint and is loud
    // past maxRounds).
    "q203_kcore" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Graph.kCore(
          Dedup.mutualKnnEdges(e, "vec_id", "embedding", k = 5, nBits = 8),
          k = 3)
        .select(col("id").as("vec_id"), col("core_deg"))
        .orderBy("vec_id")
    }),

    // HITS over the DIRECTED q198 kNN graph: authorities = vectors many
    // others pick as a nearest neighbor (central exemplars), hubs =
    // vectors whose neighborhoods concentrate on authorities. Four
    // rounds; only the two accumulation points round (+1e-15, 12) — the
    // MAX normalizer is order-independent, so the normalized scores
    // re-enter each round bit-identical with no second rounding (a
    // stronger exactness scheme than q177's). The oracle unrolls the
    // rounds as MATERIALIZED CTEs over the same kNN chain.
    "q237_hits" -> ((s, dir) => {
      val e = Dedup.knnEdges(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 5, nBits = 8)
      graft.operators.Graph.hits(e)
        .select(col("id").as("vec_id"), col("auth"), col("hub"))
        .orderBy("vec_id")
    }),

    // Ingest-time batch novelty vs the STORED corpus shingle set: per
    // arriving doc, the fraction of its distinct shingles the corpus
    // has never seen — the admission metric beside q204's dedup screen
    // (one marker left join + one agg, the same body serving stream).
    "q261_incoming_novelty" -> ((s, dir) => {
      val docs = graft.operators.Parallelism.ensure(Tables.documents(s, dir))
      val shPath = Scratch.dir("graft_q261") + "/shingles"
      Dedup.explodeShingles(docs, "doc_id", "text", 5)
        .select("shingle").distinct()
        .write.mode("overwrite").parquet(shPath)
      val stored = s.read.parquet(shPath)
      val batch = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" tm1 tm2")).as("text"))
      graft.operators.TextAnalysis.incomingNovelty(stored, batch,
          "doc_id", "text", shingleN = 5)
        .orderBy("doc_id")
    }),

    // STREAMING twin of q261 (stream-static marker join + one agg);
    // gated on q261's oracle verbatim.
    "q262_stream_novelty" -> ((s, dir) => {
      graft.streaming.StreamingIngest.streamIncomingNovelty(s, dir)
        .orderBy("doc_id")
    }),

    // Density-based clustering (DBSCAN over the bucketed similarity
    // graph): cores have ≥ 2 in-bucket neighbors at rounded cosine ≥
    // 0.15, clusters = min-id components over core–core edges, borders
    // attach to the smallest core neighbor's rep, everything else is
    // NOISE with a NULL rep — the arbitrary-shape clustering kmeans
    // and mutual-kNN components don't give.
    "q258_dbscan" -> ((s, dir) => {
      Dedup.dbscanClusters(Tables.embeddings(s, dir), "vec_id",
          "embedding", minSim = 0.15, minPts = 2, nBits = 8)
        .orderBy("vec_id")
    }),

    // N-gram novelty: per doc, the fraction of its distinct shingles
    // whose corpus-wide first occurrence (min doc_id) is this doc —
    // the dedup-aware curriculum/ordering signal. Exact counts, one
    // exact-integer division, no caps (the min agg is frequency-
    // insensitive).
    "q247_novelty" -> ((s, dir) => {
      graft.operators.TextAnalysis.noveltyScores(
          Tables.documents(s, dir), "doc_id", "text", shingleN = 5)
        .orderBy("doc_id")
    }),

    // DIRECTED containment join: snippets (first 30 tokens of every
    // ≥ 40-token doc, ids +500000) ride beside the corpus, and the
    // prefix-probed containment pass must find every (contained,
    // container) pair at C = |A∩B|/|A| ≥ 3/4 — the asymmetric near-dup
    // class symmetric Jaccard misses (a snippet in a page has J ≈ 0.06
    // but containment 1). The oracle is EXHAUSTIVE over the same
    // filtered universe, so the hash match proves prefix recall.
    "q246_containment" -> ((s, dir) => {
      val docs = graft.operators.Parallelism.ensure(Tables.documents(s, dir))
      val snips = docs
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__w"))
        .filter(size(col("__w")) >= 40)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(col("__w"), 1, 30), " ").as("text"))
      Dedup.containmentPairs(
          docs.select(col("doc_id"), col("text")).unionByName(snips),
          "doc_id", "text", shingleN = 5, num = 3, den = 4)
        .orderBy("a_id", "b_id")
    }),

    // Adamic–Adar link prediction over the q199 mutual-kNN graph: the
    // top-100 NON-adjacent pairs ranked by Σ 1/ln(deg) over common
    // neighbors — the near-dup links the discovery pass missed, rare
    // shared neighbors weighted above hubs. Each 1/ln(deg) is engine-
    // exact (single division over ln of an exact integer); only the
    // per-pair sum rounds (+1e-9, 6) and the rank is on the ROUNDED
    // score (the q97 ln doctrine).
    "q238_link_pred" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Graph.adamicAdar(
          Dedup.mutualKnnEdges(e, "vec_id", "embedding", k = 5, nBits = 8),
          topK = 100)
        .orderBy(desc("aa_score"), col("a_id"), col("b_id"))
    }),

    // INCREMENTAL ingest-time dedup: the corpus's banded minhash
    // signatures are a STORED artifact (written once, partitioned by
    // band, read back from parquet — the round-trip is part of the
    // gate), and an arriving batch (a 1/7 slice of the corpus, ids
    // shifted, two tokens appended — near-dups of their originals)
    // pays only its own shingling + the band-keyed probe + candidate
    // verification. The oracle replays BOTH signature chains and the
    // exact cross-Jaccard; every batch doc must land on its original
    // (shared = all original shingles, J = (n−4)/(n−2) for an n-shingle
    // doc) plus whatever true near-dups the corpus already held.
    "q204_incoming_dedup" -> ((s, dir) => {
      val docs = graft.operators.Parallelism.ensure(Tables.documents(s, dir))
      val bandsPath = Scratch.dir("graft_q204") + "/bands"
      Dedup.bandKeys(
          Dedup.minhashSignatures(docs, "doc_id", "text", 5, 8),
          "doc_id", 8, 2)
        .write.mode("overwrite").partitionBy("band").parquet(bandsPath)
      val stored = s.read.parquet(bandsPath)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" tm1 tm2")).as("text"))
      Dedup.incomingNearDups(stored, docs, batch, "doc_id", "text")
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // INGEST-TIME split routing (q335's arrival path): the q204 arrival
    // batch (re-tagged near-copies) screens against the STORED bands,
    // and each arrival inherits the split of its matches' smallest
    // cluster representative — tomorrow's crawl of yesterday's test doc
    // can never land in train. Unmatched arrivals (docs too short to
    // clear the Jaccard bar) route by their own id under the identical
    // slice rule; `bridged` flags matches spanning >1 split. The oracle
    // replays the FULL composition: batch screen (q204's chain), corpus
    // components + placement (q335's), min-rep inheritance, fallback.
    "q337_split_routing" -> ((s, dir) => {
      val docs = graft.operators.Parallelism.ensure(Tables.documents(s, dir))
      val bandsPath = Scratch.dir("graft_q337") + "/bands"
      Dedup.bandKeys(
          Dedup.minhashSignatures(docs, "doc_id", "text", 5, 8),
          "doc_id", 8, 2)
        .write.mode("overwrite").partitionBy("band").parquet(bandsPath)
      val stored = s.read.parquet(bandsPath)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" tm1 tm2")).as("text"))
      val assign = graft.operators.TrainExport.leakageSafeSplit(docs,
        Dedup.minhashCandidates(docs, "doc_id", "text",
          shingleN = 5, numHashes = 8, rowsPerBand = 2), "doc_id")
      val matches = Dedup.incomingNearDups(stored, docs, batch,
        "doc_id", "text")
      graft.operators.TrainExport.routeSplits(assign, matches, batch,
          "doc_id")
        .orderBy("id")
    }),

    // Embedding-cosine near-dup: sign-bucket LSH prefilter, top-20 most
    // similar in-bucket pairs (the corpus has no >0.5-cosine pairs, so the
    // operator reports the nearest ones rather than a thresholded set).
    "q34_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          nBits = 8)
        .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))
        .orderBy(desc("score"), col("a_id"), col("b_id"))
        .limit(20)
    }),

    // Leakage-safe train/val/test split: the split key is the near-dup
    // CLUSTER representative, not the document id — every member of a
    // near-dup cluster lands on the same side by construction, so a
    // training doc can never leak an eval doc's content. Composes
    // clustering (q65's machinery) with the deterministic md5 split
    // (q60's); the oracle recomputes both stages.
    "q91_leakage_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 5, numHashes = 8, rowsPerBand = 2)
      val comps = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      val rep = coalesce(col("cluster_rep"), col("doc_id"))
      val bucket = conv(substring(md5(concat(lit("split:"),
        rep.cast("string"))), 1, 4), 16, 10).cast("long") % 10
      docs.join(comps, Seq("doc_id"), "left")
        .withColumn("__rep", rep)
        .withColumn("split",
          when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__rep")).as("n_clusters"),
          sum(length(col("text"))).as("n_chars"))
        .orderBy("split")
    }),

    // Decontamination: every 97th document stands in for a held-out eval
    // set; corpus docs sharing >= 2 distinct 5-gram shingles with an eval
    // doc are flagged. The eval shingle set rides a broadcast join
    // (asserted in PlanAuditSpec) — the corpus side never self-joins and
    // never shuffles its text.
    "q81_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminate(docs, evalSet, "doc_id", "text",
          shingleN = 5, minShared = 2)
        .select(col("doc_id"), col("eval_id"),
          col("n_shared").cast("long").as("n_shared"))
        .orderBy("doc_id", "eval_id")
    }),

    // Bloom-pruned decontamination: the corpus shingle stream passes an
    // md5-Bloom of the eval shingles INSIDE the scan before anything
    // reaches the join — the 100 TB pre-filter. No false negatives, so
    // the result must be byte-identical to q81 (same oracle text).
    "q113_bloom_decon" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminateBloom(docs, evalSet, "doc_id", "text",
          shingleN = 5, minShared = 2)
        .select(col("doc_id"), col("eval_id"),
          col("n_shared").cast("long").as("n_shared"))
        .orderBy("doc_id", "eval_id")
    })
  )

  // ---- shared oracle SQL fragments --------------------------------------

  /** Distinct 5-gram word shingles per doc (DuckDB): `range` is
    * exclusive-end so `range(1, len(w) - 3)` emits exactly len-4 window
    * starts, and nothing for docs under 5 tokens.
    */
  private val shinglesCte =
    """toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks))""".stripMargin

  private val signaturesCte = {
    val mins = (0 until 8)
      .map(s => s"min(substring(md5(shingle), ${s * 4 + 1}, 4)) AS mh$s")
      .mkString(",\n    ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val bandsCte = {
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5('$b|'||mh${2 * b}||'|'||mh${2 * b + 1}) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"bands AS (\n  $bandRows)"
  }

  val oracles: Map[String, String] = Map(

    "q30_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))) AS BIGINT) AS n_unique_norm
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q131_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 0 THEN 0
        |         ELSE 1 + greatest((len(toks) - 20 + 19) // 20, 0)
        |    END AS nc
        |  FROM t),
        |spans AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    array_to_string(toks[i*20+1 : i*20+20], ' ') AS chunk
        |  FROM (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c)),
        |f AS (SELECT md5(chunk) AS sig, count(*) AS n
        |      FROM spans GROUP BY md5(chunk))
        |SELECT doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(CASE WHEN f.n <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(chunk, ' ' ORDER BY chunk_id) FILTER (WHERE f.n <= 1),
        |    '')) AS text_sig
        |FROM spans JOIN f ON md5(chunk) = f.sig
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q133_cdc_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t)),
        |b AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN CAST('0x'||substring(md5('cdc:'||tok), 1, 4) AS BIGINT)
        |      % 16 = 0 THEN 1 ELSE 0 END AS bd
        |  FROM tok),
        |sp AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(coalesce(sum(bd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS chunk_id
        |  FROM b),
        |spans AS (
        |  SELECT doc_id, chunk_id,
        |    string_agg(tok, ' ' ORDER BY pos) AS chunk
        |  FROM sp GROUP BY doc_id, chunk_id),
        |f AS (SELECT md5(chunk) AS sig, count(*) AS n
        |      FROM spans GROUP BY md5(chunk))
        |SELECT doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(CASE WHEN f.n <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(chunk, ' ' ORDER BY chunk_id) FILTER (WHERE f.n <= 1),
        |    '')) AS text_sig
        |FROM spans JOIN f ON md5(chunk) = f.sig
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q211_exact_substring" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t)),
        |w AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS s,
        |    md5(array_to_string(toks[s+1 : s+15], ' ')) AS sig
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 15 + 1)) AS s
        |        FROM t WHERE len(toks) >= 15)),
        |d AS (SELECT sig FROM w GROUP BY sig HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM (SELECT w.doc_id, unnest(range(w.s, w.s + 15)) AS p
        |        FROM w JOIN d ON w.sig = d.sig))
        |SELECT tok.doc_id AS doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cov.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  md5(coalesce(
        |    string_agg(tok.tok, ' ' ORDER BY tok.pos)
        |      FILTER (WHERE cov.pos IS NULL),
        |    '')) AS text_sig
        |FROM tok LEFT JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |GROUP BY tok.doc_id
        |ORDER BY tok.doc_id""".stripMargin,

    "q216_substring_stats" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS s,
        |    md5(array_to_string(toks[s+1 : s+15], ' ')) AS sig
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 15 + 1)) AS s
        |        FROM t WHERE len(toks) >= 15)),
        |dup AS (SELECT sig FROM w GROUP BY sig HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM (SELECT w.doc_id, unnest(range(w.s, w.s + 15)) AS p
        |        FROM w JOIN dup ON w.sig = dup.sig)),
        |runs AS (
        |  SELECT doc_id,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM cov),
        |rl AS (SELECT doc_id, grp, count(*) AS len
        |       FROM runs GROUP BY doc_id, grp),
        |pd AS (
        |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_covered,
        |    count(*) AS n_runs, CAST(max(len) AS BIGINT) AS max_run
        |  FROM rl GROUP BY doc_id),
        |d AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM t WHERE len(toks) > 0)
        |SELECT d.doc_id AS doc_id, d.n_tokens,
        |  coalesce(pd.n_covered, 0) AS n_covered,
        |  coalesce(pd.n_runs, 0) AS n_runs,
        |  coalesce(pd.max_run, 0) AS max_run,
        |  coalesce(pd.n_covered, 0) / d.n_tokens AS covered_frac
        |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q212_span_keep_first" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 0 THEN 0
        |         ELSE 1 + greatest((len(toks) - 20 + 19) // 20, 0)
        |    END AS nc
        |  FROM t),
        |spans AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    array_to_string(toks[i*20+1 : i*20+20], ' ') AS chunk
        |  FROM (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c)),
        |r AS (
        |  SELECT doc_id, chunk_id, chunk,
        |    row_number() OVER (PARTITION BY md5(chunk)
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM spans)
        |SELECT doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(chunk, ' ' ORDER BY chunk_id) FILTER (WHERE rn = 1),
        |    '')) AS text_sig
        |FROM r
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q213_incoming_substring" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |cs AS (
        |  SELECT DISTINCT md5(array_to_string(toks[s+1 : s+15], ' ')) AS sig
        |  FROM (SELECT toks, unnest(range(0, len(toks) - 15 + 1)) AS s
        |        FROM t WHERE len(toks) >= 15)),
        |b AS (
        |  SELECT doc_id + 500000 AS doc_id,
        |    'fb1 fb2 ' || text || ' fe1' AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |bt AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM b),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i
        |        FROM bt)),
        |w AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS s,
        |    md5(array_to_string(toks[s+1 : s+15], ' ')) AS sig
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 15 + 1)) AS s
        |        FROM bt WHERE len(toks) >= 15)),
        |hit AS (SELECT w.doc_id, w.s FROM w JOIN cs ON w.sig = cs.sig),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM (SELECT hit.doc_id, unnest(range(hit.s, hit.s + 15)) AS p
        |        FROM hit))
        |SELECT tok.doc_id AS doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cov.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  md5(coalesce(
        |    string_agg(tok.tok, ' ' ORDER BY tok.pos)
        |      FILTER (WHERE cov.pos IS NULL),
        |    '')) AS text_sig
        |FROM tok LEFT JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |GROUP BY tok.doc_id
        |ORDER BY tok.doc_id""".stripMargin,

    "q31_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key))
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM eligible a JOIN eligible b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin,

    "q32_simhash" ->
      """WITH h AS (
        |  SELECT doc_id, md5(unnest(regexp_extract_all(text, '\S+'))) AS hx
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN substring(hx, CAST(j AS INTEGER), 1) >= '8' THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(range(1, 17)) AS j)
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q33_ngram_jaccard" -> ngramJaccardOracle,

    // identical to q33's oracle on purpose: the prefix filter has a
    // zero-false-negative guarantee, so the prefix×prefix candidate path
    // must land byte-identical qualifying pairs
    "q187_prefix_join" -> ngramJaccardOracle,

    // components + coalesce-to-self + md5-slice placement + per-split
    // stats (count DISTINCT rep is order-blind — safe here)
    "q335_leakage_safe_split" -> leakageSplitOracleSql,

    // the embedding-edge split replay: augmented set (planted copies),
    // q34's bucket screen at the 0.999 cut, components, placement
    "q336_embed_split" -> {
      val bucket = (0 until 8)
        .map(i => s"(CASE WHEN embedding[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH RECURSIVE aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings
         |  WHERE vec_id % 7 = 0),
         |coded AS (
         |  SELECT vec_id, embedding, $bucket AS bucket FROM aug),
         |keep AS (
         |  SELECT bucket FROM coded GROUP BY bucket
         |  HAVING count(DISTINCT vec_id) BETWEEN 2 AND 1000),
         |pr AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM coded a JOIN coded b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN keep k ON a.bucket = k.bucket
         |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.999),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pr
         |  UNION SELECT b_id, a_id FROM pr),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |asg AS (
         |  SELECT a.vec_id AS id, coalesce(cl.rep, a.vec_id) AS rep
         |  FROM aug a LEFT JOIN cl ON cl.id = a.vec_id),
         |sp AS (
         |  SELECT id, rep,
         |    CASE WHEN slot < 14 THEN 'train'
         |         WHEN slot < 15 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT id, rep,
         |    CAST(('0x' || substring(md5('split:' || CAST(rep AS VARCHAR)),
         |      1, 4)) AS BIGINT) % 16 AS slot FROM asg))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
         |FROM sp
         |GROUP BY split
         |ORDER BY split""".stripMargin
    },

    "q65_dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  -- every (node, reachable-node) pair; UNION dedups so it terminates
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |FROM reach
         |GROUP BY id
         |ORDER BY doc_id""".stripMargin,

    // PageRank replay: the q31/q65 edge chain, then five unrolled power
    //-iteration CTEs. 1.0/n and rank/deg are single divisions by exact
    // integers (engine-exact); the damping base stays written as
    // (1 - 0.85)/n — identical arithmetic, never the pre-folded 0.15;
    // each round rounds (+1e-15, 12) exactly like the Spark loop.
    "q177_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT d.id, d.deg,
           |    round((1 - 0.85) / nn.n + 0.85 * c.cs + 1e-15, 12) AS rank
           |  FROM (SELECT e.dst AS id, sum(r.rank / r.deg) AS cs
           |        FROM edges e JOIN r${i - 1} r ON r.id = e.src
           |        GROUP BY e.dst) c
           |  JOIN deg d ON d.id = c.id, nn)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT id, deg, 1.0 / nn.n AS rank FROM deg, nn),
         |$rounds
         |SELECT id AS doc_id, CAST(deg AS BIGINT) AS deg, rank
         |FROM r5
         |ORDER BY doc_id""".stripMargin
    },

    // PPR replay: the q31/q65 edge chain, the md5-class seed set
    // restricted to graph nodes, five unrolled restart rounds — the
    // q177 arithmetic with (1 − 0.85)·s in place of the uniform base.
    "q255_ppr" -> {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT b.id,
           |    round((CAST(1 AS DOUBLE) - 0.85) * b.s
           |      + 0.85 * coalesce(c.cs, 0) + 1e-15, 12) AS rank
           |  FROM base b LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.rank / d.deg) AS cs
           |    FROM edges e JOIN r${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src
           |    GROUP BY e.dst) c ON c.id = b.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS MATERIALIZED (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |seeds AS (
         |  SELECT deg.id FROM deg JOIN documents ON documents.doc_id = deg.id
         |  WHERE CAST(('0x'||substring(md5('pprseed:'||CAST(documents.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10 = 0),
         |ns AS (SELECT count(*) AS n FROM seeds),
         |base AS MATERIALIZED (
         |  SELECT deg.id, deg.deg, (seeds.id IS NOT NULL) AS is_seed,
         |    CASE WHEN seeds.id IS NOT NULL THEN CAST(1 AS DOUBLE) / ns.n
         |      ELSE 0.0 END AS s
         |  FROM deg LEFT JOIN seeds ON seeds.id = deg.id CROSS JOIN ns),
         |r0 AS (SELECT id, s AS rank FROM base),
         |$rounds
         |SELECT b.id AS doc_id, CAST(b.deg AS BIGINT) AS deg, b.is_seed,
         |  r5.rank
         |FROM base b JOIN r5 ON r5.id = b.id
         |ORDER BY doc_id""".stripMargin
    },

    // Label-propagation replay: the q31/q65 edge chain, seeds restricted
    // to graph nodes, three unrolled vote rounds (row_number ORDER BY
    // c DESC, label DESC ≡ Spark's max(struct(c, label))), seeds clamped
    // by UNION + NOT IN each round.
    "q180_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        s"""v$i AS (
           |  SELECT e.dst AS id, l.label, count(*) AS c
           |  FROM edges e JOIN l${i - 1} l ON l.id = e.src
           |  GROUP BY e.dst, l.label),
           |b$i AS (
           |  SELECT id, label FROM (
           |    SELECT id, label, row_number() OVER (
           |      PARTITION BY id ORDER BY c DESC, label DESC) AS rn
           |    FROM v$i) WHERE rn = 1),
           |l$i AS (
           |  SELECT * FROM seeds
           |  UNION ALL
           |  SELECT * FROM b$i WHERE id NOT IN (SELECT id FROM seeds))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |seeds AS (
         |  SELECT d.doc_id AS id, d.lang AS label
         |  FROM documents d JOIN nodes ON nodes.id = d.doc_id
         |  WHERE CAST(('0x'||substring(md5('lpseed:'||CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 4 = 0),
         |l0 AS (SELECT * FROM seeds),
         |$rounds
         |SELECT nodes.id AS doc_id,
         |  coalesce(l3.label, 'none') AS label,
         |  CASE WHEN seeds.id IS NOT NULL THEN 'seed'
         |       WHEN l3.label IS NOT NULL THEN 'prop'
         |       ELSE 'none' END AS status
         |FROM nodes
         |LEFT JOIN l3 ON l3.id = nodes.id
         |LEFT JOIN seeds ON seeds.id = nodes.id
         |ORDER BY doc_id""".stripMargin
    },

    // Cluster-split replay: the q65 recursive components, singleton
    // fallback via LEFT JOIN + coalesce, split by md5 residue of the rep.
    "q181_cluster_split" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |wr AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(cc.rep, d.doc_id) AS BIGINT) AS cluster_rep
         |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
         |SELECT doc_id, cluster_rep,
         |  CASE WHEN CAST(('0x'||substring(md5('csplit:'||CAST(cluster_rep AS VARCHAR)), 1, 4)) AS BIGINT) % 10 < 8
         |    THEN 'train' ELSE 'test' END AS split
         |FROM wr
         |ORDER BY doc_id""".stripMargin,

    // Cost-sheet replay: all three discovery chains in one WITH —
    // minhash candidates (q31) + full-universe verification (q70),
    // prefix candidates incl. the length/positional filters (exact
    // integer forms: ceil(n/2) and ceil((na+nb)/3) via the
    // modulus-subtracted division) + capped-universe verification
    // (q33), SNM rank-window candidates + verification (q190) — then
    // three count rows.
    "q192_discovery_costs" ->
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |mhc AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |usz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |mhs AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM mhc c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id),
         |mhv AS (
         |  SELECT s.a_id FROM mhs s
         |  JOIN usz za ON za.doc_id = s.a_id
         |  JOIN usz zb ON zb.doc_id = s.b_id
         |  WHERE CAST(s.shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.shared) >= 0.5),
         |freqok AS (
         |  SELECT shingle, count(*) AS f FROM sh
         |  GROUP BY shingle HAVING count(*) <= 1000),
         |rare2 AS (
         |  SELECT sh.doc_id, sh.shingle, f.f FROM sh JOIN freqok f USING (shingle)),
         |szs AS (SELECT doc_id, count(*) AS n FROM rare2 GROUP BY doc_id),
         |rk AS (
         |  SELECT r.doc_id, r.shingle,
         |    row_number() OVER (PARTITION BY r.doc_id ORDER BY r.f, r.shingle) AS pos,
         |    s.n
         |  FROM rare2 r JOIN szs s USING (doc_id)),
         |pref AS (
         |  SELECT * FROM rk
         |  WHERE pos <= n - CAST(((n + 1) - ((n + 1) % 2)) / 2 AS BIGINT) + 1),
         |pfc AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  WHERE greatest(a.n, b.n) <= 2 * least(a.n, b.n)
         |    AND least(a.pos, b.pos) - 1
         |        + least(a.n - a.pos, b.n - b.pos) + 1
         |        >= CAST(((a.n + b.n + 2) - ((a.n + b.n + 2) % 3)) / 3 AS BIGINT)),
         |pfs AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM pfc c
         |  JOIN rare2 ra ON ra.doc_id = c.a_id
         |  JOIN rare2 rb ON rb.doc_id = c.b_id AND rb.shingle = ra.shingle
         |  GROUP BY c.a_id, c.b_id),
         |pfv AS (
         |  SELECT s.a_id FROM pfs s
         |  JOIN szs za ON za.doc_id = s.a_id
         |  JOIN szs zb ON zb.doc_id = s.b_id
         |  WHERE 2 * s.shared >= (za.n + zb.n - s.shared)),
         |keyed AS (
         |  SELECT doc_id,
         |    substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), 1, 40) AS k
         |  FROM documents
         |  WHERE text IS NOT NULL),
         |ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn
         |  FROM keyed),
         |snc AS (
         |  SELECT least(a.doc_id, b.doc_id) AS a_id,
         |    greatest(a.doc_id, b.doc_id) AS b_id
         |  FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 9),
         |sns AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM (SELECT DISTINCT a_id, b_id FROM snc) c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id),
         |snv AS (
         |  SELECT s.a_id FROM sns s
         |  JOIN usz za ON za.doc_id = s.a_id
         |  JOIN usz zb ON zb.doc_id = s.b_id
         |  WHERE CAST(s.shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.shared) >= 0.5)
         |SELECT * FROM (
         |  SELECT 'minhash' AS family,
         |    (SELECT count(*) FROM mhc) AS n_candidates,
         |    (SELECT count(*) FROM mhv) AS n_verified
         |  UNION ALL
         |  SELECT 'prefix',
         |    (SELECT count(*) FROM pfc),
         |    (SELECT count(*) FROM pfv)
         |  UNION ALL
         |  SELECT 'snm',
         |    (SELECT count(*) FROM snc),
         |    (SELECT count(*) FROM snv))
         |ORDER BY family""".stripMargin,

    // SNM replay: normalized-prefix sort rank (the oracle's single
    // window ≡ Spark's chunk-partitioned two-phase rank), rank-distance
    // <= 9 neighbor pairs, exact full-universe shingle Jaccard >= 0.5.
    "q190_snm_dedup" ->
      s"""WITH $shinglesCte,
         |keyed AS (
         |  SELECT doc_id,
         |    substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), 1, 40) AS k
         |  FROM documents
         |  WHERE text IS NOT NULL),
         |ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn
         |  FROM keyed),
         |cands AS (
         |  SELECT least(a.doc_id, b.doc_id) AS a_id,
         |    greatest(a.doc_id, b.doc_id) AS b_id, b.rn - a.rn AS gap
         |  FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 9),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM (SELECT DISTINCT a_id, b_id FROM cands) c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id)
         |SELECT c.a_id, c.b_id, CAST(c.gap AS BIGINT) AS gap,
         |  round(CAST(s.shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.shared) + 1e-9, 6) AS jaccard
         |FROM cands c
         |JOIN shared s ON s.a_id = c.a_id AND s.b_id = c.b_id
         |JOIN sizes za ON za.doc_id = c.a_id
         |JOIN sizes zb ON zb.doc_id = c.b_id
         |WHERE CAST(s.shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.shared) >= 0.5
         |ORDER BY c.a_id, c.b_id""".stripMargin,

    // Triangle replay: the q31 pair chain, triangles as the x<y<z
    // three-way join (orientation-independent — Spark's degree-ordered
    // enumeration must land the identical counts), per-node participation
    // by corner unnest, lcc as the single exact-integer division.
    "q186_triangles" ->
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |tri AS (
         |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.a_id = e1.a_id AND e2.b_id > e1.b_id
         |  JOIN pairs e3 ON e3.a_id = e1.b_id AND e3.b_id = e2.b_id),
         |tpn AS (
         |  SELECT id, count(*) AS tri FROM (
         |    SELECT unnest([x, y, z]) AS id FROM tri) GROUP BY id)
         |SELECT deg.id AS doc_id, CAST(deg AS BIGINT) AS deg,
         |  CAST(coalesce(tpn.tri, 0) AS BIGINT) AS tri,
         |  CASE WHEN deg < 2 THEN 0.0
         |    ELSE CAST(2 * coalesce(tpn.tri, 0) AS DOUBLE) / (deg * (deg - 1))
         |  END AS lcc
         |FROM deg LEFT JOIN tpn ON tpn.id = deg.id
         |ORDER BY doc_id""".stripMargin,

    "q72_simhash_neardup" ->
      """WITH h AS (
        |  SELECT doc_id, md5(unnest(regexp_extract_all(text, '\S+'))) AS hx
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN substring(hx, CAST(j AS INTEGER), 1) >= '8' THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(range(1, 17)) AS j)
        |  GROUP BY doc_id, j),
        |codes AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM codes a JOIN codes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "q70_lsh_verified" ->
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id)
         |SELECT a_id, b_id,
         |  round(CAST(shared AS DOUBLE) / (za.n_sh + zb.n_sh - shared) + 1e-9, 6) AS jaccard
         |FROM shared
         |JOIN sizes za ON za.doc_id = a_id
         |JOIN sizes zb ON zb.doc_id = b_id
         |WHERE CAST(shared AS DOUBLE) / (za.n_sh + zb.n_sh - shared) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "q159_simhash_precision" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5(unnest(regexp_extract_all(text, '\\S+'))) AS hx
         |  FROM documents),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN substring(hx, CAST(j AS INTEGER), 1) >= '8' THEN 1 ELSE -1 END) AS s
         |  FROM h, (SELECT unnest(range(1, 17)) AS j)
         |  GROUP BY doc_id, j),
         |codes AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM codes a JOIN codes b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |$shinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (
         |  SELECT p.a_id, p.b_id, count(*) AS shared
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.a_id
         |  JOIN sh sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
         |  GROUP BY p.a_id, p.b_id),
         |j AS (
         |  SELECT p.hamming,
         |    CASE WHEN COALESCE(za.n_sh, 0) + COALESCE(zb.n_sh, 0)
         |              - COALESCE(s.shared, 0) = 0 THEN 0.0
         |      ELSE CAST(COALESCE(s.shared, 0) AS DOUBLE)
         |        / (COALESCE(za.n_sh, 0) + COALESCE(zb.n_sh, 0)
         |           - COALESCE(s.shared, 0)) END AS jac
         |  FROM pairs p
         |  LEFT JOIN shared s ON s.a_id = p.a_id AND s.b_id = p.b_id
         |  LEFT JOIN sizes za ON za.doc_id = p.a_id
         |  LEFT JOIN sizes zb ON zb.doc_id = p.b_id)
         |SELECT hamming,
         |  CAST(floor(round(jac + 1e-9, 6) * 10) AS BIGINT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1, 2
         |ORDER BY hamming, decile""".stripMargin,

    "q154_lsh_precision" ->
      s"""WITH $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.a_id, c.b_id, count(*) AS shared
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id),
         |j AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(coalesce(s.shared, 0) AS DOUBLE)
         |      / (za.n_sh + zb.n_sh - coalesce(s.shared, 0)) AS jac
         |  FROM cands c
         |  LEFT JOIN shared s ON s.a_id = c.a_id AND s.b_id = c.b_id
         |  JOIN sizes za ON za.doc_id = c.a_id
         |  JOIN sizes zb ON zb.doc_id = c.b_id)
         |SELECT CAST(floor(round(jac + 1e-9, 6) * 10) AS BIGINT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1
         |ORDER BY decile""".stripMargin,

    "q78_cluster_resolve" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |  FROM reach GROUP BY id),
         |quality AS (
         |  SELECT doc_id,
         |    round(least(greatest(
         |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
         |      * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END))
         |      * (0.5 + (CASE WHEN len(regexp_extract_all(lower(text), '\\S+')) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '\\S+'),
         |                 t -> t IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE)
         |               / len(regexp_extract_all(lower(text), '\\S+')) END)),
         |      0.0), 1.0) + 1e-9, 6) AS quality
         |  FROM documents),
         |m AS (
         |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep, q.quality
         |  FROM documents d
         |  LEFT JOIN comp c USING (doc_id)
         |  JOIN quality q USING (doc_id)),
         |ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY cluster_rep ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_rep) AS n_members
         |  FROM m)
         |SELECT cluster_rep, doc_id AS kept_doc,
         |  CAST(n_members AS BIGINT) AS n_members, quality
         |FROM ranked
         |WHERE rn = 1 AND n_members >= 2
         |ORDER BY cluster_rep""".stripMargin,

    // kNN replay: kept-bucket pairs, rounded cosine, symmetrize, per-src
    // rank window. The mutual variant adds the both-ways join and the
    // q65 recursive closure.
    "q198_knn_graph" -> (knnChainSql +
      """SELECT a AS src_id, b AS dst_id, CAST(rn AS BIGINT) AS rank, s AS score
        |FROM ranked WHERE rn <= 5
        |ORDER BY src_id, rank""".stripMargin),

    "q199_mutual_knn" -> ("WITH RECURSIVE " + knnChainBody +
      """,
        |knn AS (SELECT a, b, s FROM ranked WHERE rn <= 5),
        |mut AS (
        |  SELECT f.a AS a_id, f.b AS b_id
        |  FROM knn f JOIN knn r ON r.a = f.b AND r.b = f.a
        |  WHERE f.a < f.b),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM mut
        |  UNION SELECT b_id, a_id FROM mut),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
        |SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_rep
        |FROM reach
        |GROUP BY id
        |ORDER BY vec_id""".stripMargin),

    "q203_kcore" -> kCoreSql(k = 3, layers = 8),

    // Incoming-novelty replay (shared by the batch and streaming
    // gates): corpus distinct shingles, the q204 batch, the marker
    // left join, exact counts, one exact division.
    "q261_incoming_novelty" -> incomingNoveltyOracleSql,
    "q262_stream_novelty" -> incomingNoveltyOracleSql,

    // DBSCAN replay: the q34 bucketed-pair chain thresholded on the
    // rounded cosine, degree-based cores, recursive closure over
    // core–core edges, border min-rep attach, noise NULL.
    "q258_dbscan" -> {
      val bucket = (0 until 8)
        .map(i => s"(CASE WHEN embedding[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH RECURSIVE coded AS (
         |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |keep AS (
         |  SELECT bucket FROM coded GROUP BY bucket
         |  HAVING count(DISTINCT vec_id) BETWEEN 2 AND 1000),
         |prs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM coded a JOIN coded b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN keep k ON a.bucket = k.bucket
         |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])) + 1e-9, 6) >= 0.15),
         |sym AS (
         |  SELECT a_id AS src, b_id AS dst FROM prs
         |  UNION ALL SELECT b_id, a_id FROM prs),
         |core AS (SELECT src AS id FROM sym GROUP BY src
         |  HAVING count(*) >= 2),
         |ce AS (
         |  SELECT p.a_id, p.b_id FROM prs p
         |  JOIN core ca ON ca.id = p.a_id
         |  JOIN core cb ON cb.id = p.b_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM ce
         |  UNION SELECT b_id, a_id FROM ce),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS rep
         |  FROM reach GROUP BY id),
         |coreall AS (
         |  SELECT core.id, coalesce(comp.rep, core.id) AS rep
         |  FROM core LEFT JOIN comp ON comp.id = core.id),
         |borders AS (
         |  SELECT s.src AS id, min(ca.rep) AS brep
         |  FROM sym s JOIN coreall ca ON ca.id = s.dst
         |  WHERE s.src NOT IN (SELECT id FROM core)
         |  GROUP BY s.src)
         |SELECT e.vec_id,
         |  CASE WHEN ca.id IS NOT NULL THEN 'core'
         |       WHEN b.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  CAST(coalesce(ca.rep, b.brep) AS BIGINT) AS cluster_rep
         |FROM embeddings e
         |LEFT JOIN coreall ca ON ca.id = e.vec_id
         |LEFT JOIN borders b ON b.id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    },

    // Novelty replay: the shared shingle chain, min-id ownership, two
    // exact counts, one exact division.
    "q247_novelty" -> {
      s"""WITH $shinglesCte,
         |own AS (SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY shingle),
         |sel AS (
         |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_first
         |  FROM sh JOIN own USING (shingle)
         |  GROUP BY sh.doc_id)
         |SELECT doc_id, n_shingles, n_first,
         |  CAST(n_first AS DOUBLE) / n_shingles AS novelty
         |FROM sel
         |ORDER BY doc_id""".stripMargin
    },

    // Containment replay — EXHAUSTIVE directed all-pairs over the same
    // snippet-extended corpus and filtered universe (the q187 gate
    // design: oracle exhaustive, operator prefix-filtered — the hash
    // match proves zero false negatives).
    "q246_containment" ->
      """WITH corpus2 AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id,
        |    array_to_string(w[1:30], ' ') AS text
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 40),
        |toks2 AS (SELECT doc_id, regexp_extract_all(text, '\S+') w
        |          FROM corpus2),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |        FROM toks2)),
        |rare AS MATERIALIZED (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT shingle FROM sh GROUP BY shingle
        |        HAVING count(*) <= 1000) f USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM rare a JOIN rare b
        |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, shared,
        |  CAST(shared AS DOUBLE) / sa.n_sh AS containment
        |FROM shared JOIN sizes sa ON sa.doc_id = a_id
        |WHERE shared * 4 >= 3 * sa.n_sh
        |ORDER BY a_id, b_id""".stripMargin,

    // Adamic–Adar replay: the q199 mutual-kNN edges, center-enumerated
    // wedges under the <= 1000 hot-center cap (mirrored from the
    // operator), existing-edge anti-join, rounded-sum rank.
    "q238_link_pred" -> ("WITH " + knnChainBody +
      """,
        |knn AS (SELECT a, b, s FROM ranked WHERE rn <= 5),
        |mut AS (
        |  SELECT f.a AS a_id, f.b AS b_id
        |  FROM knn f JOIN knn r ON r.a = f.b AND r.b = f.a
        |  WHERE f.a < f.b),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM mut
        |  UNION ALL SELECT b_id, a_id FROM mut),
        |centers AS (
        |  SELECT a AS z, count(*) AS deg FROM edges
        |  GROUP BY a HAVING count(*) <= 1000),
        |nbrs AS (
        |  SELECT e.a AS z, e.b AS n, c.deg
        |  FROM edges e JOIN centers c ON c.z = e.a),
        |wedges AS (
        |  SELECT x.z, x.deg, x.n AS u, y.n AS v
        |  FROM nbrs x JOIN nbrs y ON x.z = y.z AND x.n < y.n),
        |nonadj AS (
        |  SELECT w.* FROM wedges w
        |  LEFT JOIN mut m ON m.a_id = w.u AND m.b_id = w.v
        |  WHERE m.a_id IS NULL)
        |SELECT u AS a_id, v AS b_id, CAST(count(*) AS BIGINT) AS common,
        |  round(sum(1.0 / ln(deg)) + 1e-9, 6) AS aa_score
        |FROM nonadj GROUP BY u, v
        |ORDER BY aa_score DESC, a_id, b_id
        |LIMIT 100""".stripMargin),

    // HITS replay: the kNN chain, then four unrolled rounds. Each
    // round's in/out sum rounds (+1e-15, 12); the max-of-rounded-sums
    // normalizer and its division are order-independent and engine-
    // exact, so only the sums ever round. MATERIALIZED pins one
    // evaluation per layer (the q203 CTE-inlining rule — each layer is
    // referenced twice: by its normalizer and by the next round).
    "q237_hits" -> {
      val rounds = (1 to 4).map { i =>
        s"""a${i}r AS MATERIALIZED (
           |  SELECT e.dst AS id, round(sum(h.hub) + 1e-15, 12) AS v
           |  FROM knn e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
           |a$i AS MATERIALIZED (
           |  SELECT id, v / (SELECT max(v) FROM a${i}r) AS auth FROM a${i}r),
           |h${i}r AS MATERIALIZED (
           |  SELECT e.src AS id, round(sum(a.auth) + 1e-15, 12) AS v
           |  FROM knn e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
           |h$i AS MATERIALIZED (
           |  SELECT id, v / (SELECT max(v) FROM h${i}r) AS hub FROM h${i}r)"""
          .stripMargin
      }.mkString(",\n")
      knnChainSql.trim + s""",
         |knn AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM ranked WHERE rn <= 5),
         |nodes AS (SELECT src AS id FROM knn UNION SELECT dst FROM knn),
         |h0 AS (SELECT id, CAST(1 AS DOUBLE) AS hub FROM nodes),
         |$rounds
         |SELECT n.id AS vec_id,
         |  round(coalesce(a4.auth, 0) + 1e-15, 10) AS auth,
         |  round(coalesce(h4.hub, 0) + 1e-15, 10) AS hub
         |FROM nodes n
         |LEFT JOIN a4 ON a4.id = n.id
         |LEFT JOIN h4 ON h4.id = n.id
         |ORDER BY n.id""".stripMargin
    },

    "q204_incoming_dedup" -> {
      val corpusChain = minhashChainSql(
        "SELECT doc_id, text FROM documents", "c")
      val batchChain = minhashChainSql(
        "SELECT doc_id + 500000 AS doc_id, text || ' tm1 tm2' AS text " +
          "FROM documents WHERE doc_id % 7 = 3", "b")
      s"""WITH $corpusChain,
         |$batchChain,
         |ok AS (
         |  SELECT band, band_key FROM bandsc
         |  GROUP BY band, band_key HAVING count(*) <= 1000),
         |cand AS (
         |  SELECT DISTINCT bb.doc_id AS a_id, bc.doc_id AS b_id
         |  FROM bandsb bb
         |  JOIN bandsc bc ON bb.band = bc.band AND bb.band_key = bc.band_key
         |  JOIN ok ON bc.band = ok.band AND bc.band_key = ok.band_key),
         |an AS (SELECT doc_id, count(*) AS an FROM shb GROUP BY doc_id),
         |bn AS (SELECT doc_id, count(*) AS bn FROM shc GROUP BY doc_id),
         |shared AS (
         |  SELECT c.a_id, c.b_id, count(*) AS s
         |  FROM cand c
         |  JOIN shb a ON a.doc_id = c.a_id
         |  JOIN shc b ON b.doc_id = c.b_id AND b.shingle = a.shingle
         |  GROUP BY c.a_id, c.b_id)
         |SELECT a_id, b_id, jaccard FROM (
         |  SELECT c.a_id AS a_id, c.b_id AS b_id,
         |    CAST(COALESCE(s.s, 0) AS DOUBLE)
         |      / (an.an + bn.bn - COALESCE(s.s, 0)) AS jaccard
         |  FROM cand c
         |  LEFT JOIN shared s ON s.a_id = c.a_id AND s.b_id = c.b_id
         |  JOIN an ON an.doc_id = c.a_id
         |  JOIN bn ON bn.doc_id = c.b_id)
         |WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin
    },

    // the routing replay: q204's batch screen + q335's corpus
    // components/placement + min-rep inheritance + the own-id fallback
    // (the split is a pure function of the routed key's md5 slice, so
    // one CASE serves both paths). Shared verbatim by q339 (the managed
    // ROUTE command on the same corpus + batch through the stored bands)
    // and q341 (its single-batch streaming twin).
    "q337_split_routing" -> routeOracleSql,

    "q34_embed_neardup" -> {
      val bucket = (0 until 8)
        .map(i => s"(CASE WHEN embedding[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      // the hot-bucket cap (embeddingPairs maxBucketSize = 1000) mirrored
      // as a plain membership-count filter — implementation caps MUST
      // appear in the oracle or the gate diverges at the scale that trips
      // them (oracle conventions)
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |keep AS (
         |  SELECT bucket FROM coded GROUP BY bucket
         |  HAVING count(DISTINCT vec_id) BETWEEN 2 AND 1000)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
         |FROM coded a JOIN coded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |JOIN keep k ON a.bucket = k.bucket
         |ORDER BY score DESC, a_id, b_id
         |LIMIT 20""".stripMargin
    },

    "q91_leakage_split" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$signaturesCte,
         |$bandsCte,
         |ok_buckets AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
         |eligible AS (
         |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eligible a JOIN eligible b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |  FROM reach GROUP BY id),
         |m AS (
         |  SELECT d.doc_id, d.text, COALESCE(c.cluster_rep, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |b AS (
         |  SELECT *, CAST(('0x'||substring(md5('split:'||CAST(rep AS VARCHAR)), 1, 4)) AS BIGINT) % 10 AS bk
         |  FROM m)
         |SELECT CASE WHEN bk < 8 THEN 'train' WHEN bk < 9 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM b
         |GROUP BY 1
         |ORDER BY split""".stripMargin,

    "q81_decontaminate" -> deconOracle,

    // identical to q81's oracle on purpose: the Bloom pre-filter has no
    // false negatives, so the pruned path must produce byte-identical
    // contamination pairs
    "q113_bloom_decon" -> deconOracle
  )

  // the kNN-graph CTE chain shared by q198/q199: 8-bit sign buckets
  // (hot-bucket cap mirrored), in-bucket pairs with the ROUNDED cosine,
  // symmetrization, per-source rank window
  private lazy val knnChainBody = {
    val bucket = (0 until 8)
      .map(i => s"(CASE WHEN embedding[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    s"""coded AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |keep AS (
       |  SELECT bucket FROM coded GROUP BY bucket
       |  HAVING count(DISTINCT vec_id) BETWEEN 2 AND 1000),
       |pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |      CAST(b.embedding AS DOUBLE[])) + 1e-9, 6) AS s
       |  FROM coded a JOIN coded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  JOIN keep k ON a.bucket = k.bucket),
       |sym AS (
       |  SELECT a, b, s FROM pairs
       |  UNION ALL SELECT b, a, s FROM pairs),
       |ranked AS (
       |  SELECT a, b, s,
       |    row_number() OVER (PARTITION BY a ORDER BY s DESC, b) AS rn
       |  FROM sym)""".stripMargin
  }

  private lazy val knnChainSql = s"WITH $knnChainBody\n"

  /** The q204 signature chain over an arbitrary (doc_id, text) source —
    * the parameterized twin of the shared shinglesCte/signaturesCte/
    * bandsCte fragments (which are hardwired to `documents`): emits
    * `sh$p` (distinct shingles) and `bands$p` (banded signatures).
    */
  /** The q335 corpus-assignment chain (components + coalesce-to-self +
    * md5-slice placement), ending at `sp` (id, rep, split) — shared by
    * the q335/q338 summary oracle and q343's split-filtered export.
    */
  private[queries] lazy val splitAssignChainSql: String =
    s"""$shinglesCte,
       |$signaturesCte,
       |$bandsCte,
       |ok_buckets AS (
       |  SELECT band, band_key FROM bands
       |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
       |eligible AS (
       |  SELECT bands.* FROM bands JOIN ok_buckets USING (band, band_key)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM eligible a JOIN eligible b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |asg AS (
       |  SELECT d.doc_id AS id, coalesce(cl.rep, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
       |sp AS (
       |  SELECT id, rep,
       |    CASE WHEN slot < 14 THEN 'train'
       |         WHEN slot < 15 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT id, rep,
       |    CAST(('0x' || substring(md5('split:' || CAST(rep AS VARCHAR)),
       |      1, 4)) AS BIGINT) % 16 AS slot FROM asg))""".stripMargin

  /** The q335 oracle — the assignment chain + per-split stats. Shared
    * verbatim by q338 (the managed SPLIT command builds the same
    * assignment from the same corpus).
    */
  private[queries] lazy val leakageSplitOracleSql: String =
    s"""WITH RECURSIVE $splitAssignChainSql
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
       |FROM sp
       |GROUP BY split
       |ORDER BY split""".stripMargin

  /** The q345 oracle — [[leakageSplitOracleSql]] plus the
    * artifact-health column `SPLIT mode=stats` surfaces: the
    * routed-segment count is PHYSICAL state (segments, not data), and
    * the gate's scenario stats a fresh build, whose generation has no
    * routed segments by construction — the oracle pins that 0 (the
    * growth/auto-compact behavior is spec-pinned, SplitLifecycleSpec).
    */
  private[queries] lazy val splitStatsOracleSql: String =
    s"""WITH RECURSIVE $splitAssignChainSql
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
       |  CAST(0 AS BIGINT) AS n_segments
       |FROM sp
       |GROUP BY split
       |ORDER BY split""".stripMargin

  /** The q343 oracle: the assignment chain + the TRAIN-split document
    * set — exactly the rows `EXPORT ...;split=train` must write.
    */
  private[queries] lazy val exportSplitOracleSql: String =
    s"""WITH RECURSIVE $splitAssignChainSql
       |SELECT d.doc_id AS id, d.text AS payload
       |FROM documents d JOIN sp ON sp.id = d.doc_id
       |WHERE sp.split = 'train'
       |ORDER BY id""".stripMargin

  /** The q352 oracle — the split lifecycle under EXACT-SUBSTRING edges,
    * replayed end to end: corpus 15-token window signatures (the q211
    * chain), pair edges on shared signatures (carriers BETWEEN 2 AND
    * 1000 — the SPLIT hot cap), components + md5-slice placement (the
    * routeOracleSql shape), the arriving batch's window probe against
    * corpus signatures (stored cap ≤ 1000), and min-rep inheritance
    * with the own-id fallback.
    */
  private[queries] lazy val winsigRouteOracleSql: String = {
    def winChain(srcSql: String, p: String): String =
      raw"""t$p AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
           |  FROM ($srcSql)),
           |w$p AS (
           |  SELECT DISTINCT doc_id,
           |    md5(array_to_string(toks[s+1 : s+15], ' ')) AS sig
           |  FROM (SELECT doc_id, toks,
           |          unnest(range(0, len(toks) - 15 + 1)) AS s
           |        FROM t$p WHERE len(toks) >= 15))""".stripMargin
    s"""WITH RECURSIVE ${winChain("SELECT doc_id, text FROM documents", "c")},
       |${winChain(
          "SELECT doc_id + 500000 AS doc_id, text || ' tm1 tm2' AS text " +
            "FROM documents WHERE doc_id % 7 = 3", "b")},
       |okp AS (SELECT sig FROM wc GROUP BY sig
       |  HAVING count(*) BETWEEN 2 AND 1000),
       |prc AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM wc a JOIN wc b ON a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN okp ON a.sig = okp.sig),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM prc
       |  UNION SELECT b_id, a_id FROM prc),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |asg AS (
       |  SELECT d.doc_id AS id, coalesce(cl.rep, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
       |spc AS (
       |  SELECT id, rep,
       |    CASE WHEN slot < 14 THEN 'train'
       |         WHEN slot < 15 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT id, rep,
       |    CAST(('0x' || substring(md5('split:' || CAST(rep AS VARCHAR)),
       |      1, 4)) AS BIGINT) % 16 AS slot FROM asg)),
       |oks AS (SELECT sig FROM wc GROUP BY sig HAVING count(*) <= 1000),
       |mtch AS (
       |  SELECT DISTINCT b.doc_id AS a_id, c.doc_id AS b_id
       |  FROM wb b JOIN wc c ON b.sig = c.sig
       |  JOIN oks ON c.sig = oks.sig),
       |mg AS (
       |  SELECT m.a_id AS id, min(sp.rep) AS minrep,
       |    CAST(count(*) AS BIGINT) AS n_matches,
       |    count(DISTINCT sp.split) AS ns
       |  FROM mtch m JOIN spc sp ON sp.id = m.b_id
       |  GROUP BY m.a_id),
       |routed AS (
       |  SELECT t.doc_id AS id, coalesce(mg.minrep, t.doc_id) AS key,
       |    coalesce(mg.n_matches, 0) AS n_matches,
       |    CAST(CASE WHEN coalesce(mg.ns, 1) > 1 THEN 1 ELSE 0 END
       |      AS BIGINT) AS bridged
       |  FROM tb t LEFT JOIN mg ON mg.id = t.doc_id)
       |SELECT id, key AS rep,
       |  CASE WHEN slot < 14 THEN 'train'
       |       WHEN slot < 15 THEN 'val'
       |       ELSE 'test' END AS split,
       |  n_matches, bridged
       |FROM (SELECT *,
       |  CAST(('0x' || substring(md5('split:' || CAST(key AS VARCHAR)),
       |    1, 4)) AS BIGINT) % 16 AS slot FROM routed)
       |ORDER BY id""".stripMargin
  }

  /** The q351 oracle — decon→egress end to end: the split assignment
    * chain (membership), the q81 n-gram decon screen (contaminated
    * corpus ids: ≥ 2 shingles shared with the eval slice, eval-shingle
    * hot cap 100), and the exclusion anti-join — exactly the rows
    * `EXPORT ...;split=train;exclude=<verdicts>` must write. The `sh`
    * shingle table is shared between the two chains (one tokenize).
    */
  private[queries] lazy val exportExcludeOracleSql: String =
    s"""WITH RECURSIVE $splitAssignChainSql,
       |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
       |evok AS (SELECT shingle FROM ev GROUP BY shingle HAVING count(*) <= 100),
       |contam AS (
       |  SELECT s.doc_id
       |  FROM sh s JOIN ev e USING (shingle) JOIN evok USING (shingle)
       |  WHERE s.doc_id <> e.eval_id
       |  GROUP BY s.doc_id, e.eval_id
       |  HAVING count(*) >= 2)
       |SELECT d.doc_id AS id, d.text AS payload
       |FROM documents d JOIN sp ON sp.id = d.doc_id
       |WHERE sp.split = 'train'
       |  AND d.doc_id NOT IN (SELECT DISTINCT doc_id FROM contam)
       |ORDER BY id""".stripMargin

  /** The q337 oracle — q204's batch screen + q335's corpus
    * components/placement + min-rep inheritance + the own-id fallback
    * (the split is a pure function of the routed key's md5 slice, so one
    * CASE serves both paths; valid because stored splits equal the slice
    * of their rep under leakageSafeSplit's rule). Shared verbatim by
    * q339 (the managed ROUTE command) and q341 (the streaming twin).
    */
  private[queries] lazy val routeOracleSql: String = {
    val corpusChain = minhashChainSql(
      "SELECT doc_id, text FROM documents", "c")
    val batchChain = minhashChainSql(
      "SELECT doc_id + 500000 AS doc_id, text || ' tm1 tm2' AS text " +
        "FROM documents WHERE doc_id % 7 = 3", "b")
    s"""WITH RECURSIVE $corpusChain,
       |$batchChain,
       |ok AS (
       |  SELECT band, band_key FROM bandsc
       |  GROUP BY band, band_key HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT bb.doc_id AS a_id, bc.doc_id AS b_id
       |  FROM bandsb bb
       |  JOIN bandsc bc ON bb.band = bc.band AND bb.band_key = bc.band_key
       |  JOIN ok ON bc.band = ok.band AND bc.band_key = ok.band_key),
       |an AS (SELECT doc_id, count(*) AS an FROM shb GROUP BY doc_id),
       |bn AS (SELECT doc_id, count(*) AS bn FROM shc GROUP BY doc_id),
       |shared AS (
       |  SELECT c.a_id, c.b_id, count(*) AS s
       |  FROM cand c
       |  JOIN shb a ON a.doc_id = c.a_id
       |  JOIN shc b ON b.doc_id = c.b_id AND b.shingle = a.shingle
       |  GROUP BY c.a_id, c.b_id),
       |mtch AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT c.a_id, c.b_id,
       |      CAST(COALESCE(s.s, 0) AS DOUBLE)
       |        / (an.an + bn.bn - COALESCE(s.s, 0)) AS j
       |    FROM cand c
       |    LEFT JOIN shared s ON s.a_id = c.a_id AND s.b_id = c.b_id
       |    JOIN an ON an.doc_id = c.a_id
       |    JOIN bn ON bn.doc_id = c.b_id)
       |  WHERE j >= 0.5),
       |okc AS (
       |  SELECT band, band_key FROM bandsc
       |  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 1000),
       |prc AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bandsc a JOIN bandsc b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id
       |  JOIN okc ON a.band = okc.band AND a.band_key = okc.band_key),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM prc
       |  UNION SELECT b_id, a_id FROM prc),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |asg AS (
       |  SELECT d.doc_id AS id, coalesce(cl.rep, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
       |spc AS (
       |  SELECT id, rep,
       |    CASE WHEN slot < 14 THEN 'train'
       |         WHEN slot < 15 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT id, rep,
       |    CAST(('0x' || substring(md5('split:' || CAST(rep AS VARCHAR)),
       |      1, 4)) AS BIGINT) % 16 AS slot FROM asg)),
       |mg AS (
       |  SELECT m.a_id AS id, min(sp.rep) AS minrep,
       |    CAST(count(*) AS BIGINT) AS n_matches,
       |    count(DISTINCT sp.split) AS ns
       |  FROM mtch m JOIN spc sp ON sp.id = m.b_id
       |  GROUP BY m.a_id),
       |routed AS (
       |  SELECT t.doc_id AS id, coalesce(mg.minrep, t.doc_id) AS key,
       |    coalesce(mg.n_matches, 0) AS n_matches,
       |    CAST(CASE WHEN coalesce(mg.ns, 1) > 1 THEN 1 ELSE 0 END
       |      AS BIGINT) AS bridged
       |  FROM toksb t LEFT JOIN mg ON mg.id = t.doc_id)
       |SELECT id, key AS rep,
       |  CASE WHEN slot < 14 THEN 'train'
       |       WHEN slot < 15 THEN 'val'
       |       ELSE 'test' END AS split,
       |  n_matches, bridged
       |FROM (SELECT *,
       |  CAST(('0x' || substring(md5('split:' || CAST(key AS VARCHAR)),
       |    1, 4)) AS BIGINT) % 16 AS slot FROM routed)
       |ORDER BY id""".stripMargin
  }

  private[queries] def minhashChainSql(srcSql: String, p: String): String = {
    val mins = (0 until 8)
      .map(s => s"min(substring(md5(shingle), ${s * 4 + 1}, 4)) AS mh$s")
      .mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5('$b|'||mh${2 * b}||'|'||mh${2 * b + 1}) AS band_key FROM sig$p"
    }.mkString("\n  UNION ALL ")
    raw"""toks$p AS (SELECT doc_id, regexp_extract_all(text, '\S+') w FROM ($srcSql)),
         |sh$p AS (
         |  SELECT DISTINCT doc_id,
         |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks$p)),
         |sig$p AS (
         |  SELECT doc_id,
         |    $mins
         |  FROM sh$p GROUP BY doc_id),
         |bands$p AS (
         |  $bandRows)""".stripMargin
  }

  /** The q203 oracle: mutual-kNN edges (q199's chain) + the k-core peel
    * as `layers` generated rounds (idempotent once the fixpoint is
    * reached — see the q203 registration comment for the cap doctrine).
    */
  private def kCoreSql(k: Int, layers: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH " + knnChainBody
    sb ++= s""",
      |knn AS (SELECT a, b FROM ranked WHERE rn <= 5),
      |mut AS (
      |  SELECT f.a AS a_id, f.b AS b_id
      |  FROM knn f JOIN knn r ON r.a = f.b AND r.b = f.a
      |  WHERE f.a < f.b),
      |e0 AS (
      |  SELECT a_id AS src, b_id AS dst FROM mut
      |  UNION ALL SELECT b_id, a_id FROM mut)""".stripMargin
    // MATERIALIZED: each layer references its predecessor three times
    // (the edge frame + both endpoint filters) — DuckDB inlines plain
    // CTEs, so 8 layers would expand the kNN chain 3^8 times ("too many
    // open files" before any wrong answer); materializing pins each
    // layer to one evaluation, which is also what the Spark loop does
    // (one localCheckpoint per round)
    for (i <- 1 to layers) {
      sb ++= s""",
        |k$i AS MATERIALIZED (
        |  SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
        |e$i AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e${i - 1} e
        |  JOIN k$i s ON e.src = s.src
        |  JOIN k$i d ON e.dst = d.src)""".stripMargin
    }
    sb ++= s"""
      |SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS core_deg
      |FROM e$layers GROUP BY src
      |ORDER BY vec_id""".stripMargin
    sb.toString
  }

  // the exhaustive filtered-universe Jaccard-threshold join: candidates
  // from ANY shared rare shingle (provably complete — a qualifying pair
  // must share one), exact set Jaccard >= 0.5. Shared by q33 (the direct
  // shared-shingle join) and q187 (the prefix-filtered join, whose
  // guarantee makes the outputs identical).
  private lazy val incomingNoveltyOracleSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') w FROM documents),
      |ksh AS MATERIALIZED (
      |  SELECT DISTINCT
      |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
      |  FROM (SELECT w, unnest(range(1, len(w) - 3)) AS i FROM toks)),
      |b AS (
      |  SELECT doc_id + 500000 AS doc_id, text || ' tm1 tm2' AS text
      |  FROM documents WHERE doc_id % 7 = 3),
      |btoks AS (SELECT doc_id, regexp_extract_all(text, '\S+') w FROM b),
      |bsh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
      |        FROM btoks)),
      |sel AS (
      |  SELECT bsh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |    CAST(sum(CASE WHEN k.shingle IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_new
      |  FROM bsh LEFT JOIN ksh k ON k.shingle = bsh.shingle
      |  GROUP BY bsh.doc_id)
      |SELECT doc_id, n_shingles, n_new,
      |  CAST(n_new AS DOUBLE) / n_shingles AS novelty
      |FROM sel
      |ORDER BY doc_id""".stripMargin

  private lazy val ngramJaccardOracle =
    s"""WITH $shinglesCte,
       |rare AS (
       |  SELECT sh.* FROM sh
       |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000) f
       |    USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) + 1e-9, 6) AS jaccard
       |FROM shared
       |JOIN sizes sa ON sa.doc_id = a_id
       |JOIN sizes sb ON sb.doc_id = b_id
       |WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  // the eval-side hot-shingle cap (maxEvalFreq = 100) mirrored as a
  // frequency filter — implementation caps MUST appear in the oracle
  // or the gate diverges at the scale that trips them
  private lazy val deconOracle =
    s"""WITH $shinglesCte,
       |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
       |evok AS (SELECT shingle FROM ev GROUP BY shingle HAVING count(*) <= 100)
       |SELECT s.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM sh s JOIN ev e USING (shingle) JOIN evok USING (shingle)
       |WHERE s.doc_id <> e.eval_id
       |GROUP BY s.doc_id, e.eval_id
       |HAVING count(*) >= 2
       |ORDER BY doc_id, eval_id""".stripMargin
}
