package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.GraftDatabase
import graft.operators.{SimilaritySearch, VectorIndex, VectorPlanner}

/** SEARCHSIMILAR (#10) + REINDEX (#11) coverage over the embeddings table:
  * exact k-NN (cosine / L2), batched k-NN, IVF probe-and-rerank on the
  * deterministic sign-bucket index, and per-label vector statistics.
  */
object VectorQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Mean pairwise cosine per label WITHOUT pair enumeration (the
    // sum-vector identity): the diversity diagnostic over each label's
    // embedding cloud.
    "q223_embed_diversity" -> ((s, dir) => {
      graft.operators.SimilaritySearch.embeddingDiversity(
          graft.operators.Parallelism.ensure(Tables.embeddings(s, dir)),
          "label", "embedding")
        .orderBy("label")
    }),

    // MMR diversified retrieval: top-50 cosine shortlist for the
    // vec_id=0 query (q20's convention), then greedy λ=1/2 marginal-
    // relevance selection of 10 — every rel and pairwise sim a ROUNDED
    // cosine, the redundancy penalty exact dyadic math. The oracle
    // replays the greedy chain as 10 generated MATERIALIZED layers
    // (the q203 precedent).
    "q236_mmr_select" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      graft.operators.SimilaritySearch.mmrSelect(
          e.filter(col("vec_id") =!= 0), "vec_id", "embedding", q,
          m = 50, k = 10)
        .select(col("rank"), col("sel_id").as("vec_id"), col("rel"),
          round(col("mmr") + lit(1e-9), 6).as("mmr"))
        .orderBy("rank")
    }),

    // Label-centroid similarity matrix: per-label mean embeddings
    // (rounded per-dim, double math) pairwise-cosined — the embedding-
    // space view of how separable the labels are (the token-space
    // sibling is the source-overlap matrix). The cosine is written as
    // explicit dot/(sqrt·sqrt) over the ROUNDED centroid dims, so the
    // oracle replays it term-for-term.
    "q156_label_centroids" -> ((s, dir) => {
      val cent = graft.operators.VectorPrep.centroidsByKey(
        Tables.embeddings(s, dir), "label", "embedding")
      val a = cent.select(col("label").as("la"), col("pos"), col("c").as("ca"))
      val b = cent.select(col("label").as("lb"), col("pos"), col("c").as("cb"))
      a.join(b, Seq("pos")).filter(col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(sum(col("ca") * col("cb")).as("__dot"),
          sum(col("ca") * col("ca")).as("__na"),
          sum(col("cb") * col("cb")).as("__nb"))
        .select(col("la").cast("long").as("la"),
          col("lb").cast("long").as("lb"),
          round(col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb")))
            + lit(1e-9), 6).as("cos"))
        .orderBy("la", "lb")
    }),

    // Single-query exact cosine top-k. Query vector = row vec_id=0, carried
    // by a broadcast single-row join (no driver collect); codegen'd scoring;
    // orderBy+limit → TakeOrderedAndProject.
    "q20_knn_cosine" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(
          col("vec_id"),
          round(graft.functions.cosine_sim(col("embedding"), col("q_emb")), 6).as("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    }),

    // Single-query exact L2 top-k (ascending distance).
    "q21_knn_l2" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(
          col("vec_id"),
          round(graft.functions.l2_dist(col("embedding"), col("q_emb")), 6).as("dist"))
        .orderBy(asc("dist"), col("vec_id"))
        .limit(10)
    }),

    // Batched k-NN: broadcast 5 query vectors, score map-side, per-query
    // top-5 via ranking window (only the tiny query_id shuffle).
    "q22_knn_batch" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      SimilaritySearch
        .topKBatch(e, qs, k = 5, metric = "cosine",
          vecCol = "embedding", idCol = "vec_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF probe-and-rerank on the deterministic sign-bucket index: assign an
    // 8-bit code from dimension signs, keep only rows whose code is within
    // Hamming radius 1 of the query's code (at rest this is a partition-
    // pruned scan over cluster_id=<code> dirs — see GraftDatabase.reindexWith),
    // then exact cosine rerank of the surviving ~3.5% of the collection.
    "q23_ivf_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("cluster_id", VectorIndex.signBucket(col("embedding"), 8))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("cluster_id").as("q_cluster"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .filter(bit_count(col("cluster_id").bitwiseXOR(col("q_cluster"))) <= 1)
        .select(
          col("vec_id"),
          col("cluster_id").cast("long").as("cluster_id"),
          round(graft.functions.cosine_sim(col("embedding"), col("q_emb")), 6).as("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    }),

    // RETIRED (round 11): q48_brp_ann and q49_kmeans_clusters — the two
    // MLlib-trainer queries whose internal hashing/init kept them
    // rows-only for 9 rounds. Their deterministic, FULLY hash-gated
    // twins cover every behavior they exercised: q109 (JL projection),
    // q126/q128 (LSH bucket probes + recall), q106 (Lloyd iteration),
    // q108 (k-center seeding), q170 (deterministic-kmeans coarse probe).
    // The MLlib operators themselves (brpAnn, kmeansAssign) remain —
    // they are the production many-iteration trainers — spec-pinned in
    // VectorIndexSpec/IvfRecallSpec instead of carrying permanently
    // weaker rows-only gate entries.

    // Batched kNN through the bounded-heap aggregator (shuffles ≤ k rows
    // per partition per query) — same oracle shape as the window-based q22,
    // so the DuckDB gate proves both formulations.
    "q59_knn_batch_agg" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      VectorPlanner
        .topKBatch(e, qs, k = 5, None, VectorPlanner.Exact("cosine"),
          vecCol = "embedding", idCol = "vec_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SEMANTIC cross-set decontamination (the embedding-level sibling of
    // the n-gram q81/q113 screens — the Gopher/GPT-4-report practice of
    // checking eval sets against training data by similarity, not just
    // string overlap): every eval vector's nearest TRAIN neighbor via
    // the bounded-heap batch scan, flagged on the ROUNDED score. A third
    // of the eval queries carry a PLANTED train member's exact vector
    // ((vec_id DIV 50) % 3 = 0 borrows vec_id+1's embedding — a train
    // member by construction), so contamination is detectable at score
    // 1.0 against a ~0.4 clean background; the 0.5 flag threshold sits
    // in that gap with no boundary risk.
    "q326_semantic_decon" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val donors = emb.select((col("vec_id") - 1).as("vec_id"),
        col("embedding").as("donor_vec"))
      // explicit broadcasts: the eval side is 2% of the corpus, but the
      // PRE-execution plan the audit reads can't see that through the
      // filter estimate (the r12 PlanAuditSpec note) — pin the shape
      val evalQ = broadcast(emb.filter(col("vec_id") % 50 === 0))
        .join(donors, Seq("vec_id"))
        .select(col("vec_id").as("query_id"),
          when(expr("(vec_id DIV 50) % 3") === 0, col("donor_vec"))
            .otherwise(col("embedding")).as("query_vec"))
      val train = emb.filter(col("vec_id") % 50 =!= 0)
      // top-1 on the ROUNDED score with a vec_id tie-break (the
      // rank-on-rounded doctrine — raw-cosine ulps between engines must
      // never decide which train neighbor wins): max(struct(score, -id))
      // picks the highest rounded score, lowest id on ties, and is
      // map-side combinable (ONE struct per query per partition crosses
      // the shuffle — tighter than a k=1 heap).
      train.crossJoin(broadcast(evalQ))
        .select(col("query_id"),
          round(graft.functions.cosine_sim(col("embedding"),
            col("query_vec")), 6).as("score"),
          (-col("vec_id")).as("nid"))
        .groupBy("query_id")
        .agg(max(struct(col("score"), col("nid"))).as("m"))
        .select(col("query_id").as("eval_id"),
          (-col("m.nid")).as("train_id"),
          col("m.score").as("score"),
          when(col("m.score") >= 0.5, 1L).otherwise(0L).as("contaminated"))
        .orderBy("eval_id")
    }),

    // Decon THRESHOLD CALIBRATION: the operating-point sweep a team runs
    // before turning a contamination screen on — q326's exact top-1
    // scores against the PLANTED ground truth ((eval_id DIV 50) % 3 = 0
    // borrows a train vector), evaluated at a dyadic 1/16 threshold
    // grid. Counts are exact integers; precision/recall are SINGLE
    // divisions of exact counts (the q120 doctrine — engine-exact,
    // unrounded); thresholds i/16 are dyadic (exact in double), so every
    // score >= thr comparison is deterministic cross-engine. An empty
    // positive set at high thresholds reports −1 (never a NULL-division
    // surprise).
    "q333_decon_threshold_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val donors = emb.select((col("vec_id") - 1).as("vec_id"),
        col("embedding").as("donor_vec"))
      val evalQ = broadcast(emb.filter(col("vec_id") % 50 === 0))
        .join(donors, Seq("vec_id"))
        .select(col("vec_id").as("query_id"),
          when(expr("(vec_id DIV 50) % 3") === 0, col("donor_vec"))
            .otherwise(col("embedding")).as("query_vec"))
      val top = emb.filter(col("vec_id") % 50 =!= 0)
        .crossJoin(broadcast(evalQ))
        .select(col("query_id"),
          round(graft.functions.cosine_sim(col("embedding"),
            col("query_vec")), 6).as("score"))
        .groupBy("query_id")
        .agg(max(col("score")).as("score"))
        .withColumn("planted",
          when(expr("(query_id DIV 50) % 3") === 0, 1L).otherwise(0L))
      val grid = s.range(0, 16)
        .select((col("id").cast("double") / 16).as("thr"))
      top.crossJoin(broadcast(grid))
        .groupBy("thr")
        .agg(
          sum(when(col("score") >= col("thr") && col("planted") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("score") >= col("thr") && col("planted") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") < col("thr") && col("planted") === 1L, 1L)
            .otherwise(0L)).as("fn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")))
            .otherwise(lit(-1.0)).as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")))
            .otherwise(lit(-1.0)).as("recall"))
        .orderBy("thr")
    }),

    // Hard-negative mining (contrastive-training prep): for each of 5
    // anchor vectors, the top-5 most-cosine-similar rows with a DIFFERENT
    // label. The label predicate runs map-side before the ranking window —
    // positives never score, never shuffle. The query's own row is
    // excluded for free (same label as itself).
    "q92_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label"))
      SimilaritySearch
        .hardNegatives(e, qs, k = 5, metric = "cosine",
          vecCol = "embedding", idCol = "vec_id", labelCol = "label")
        .select(col("query_id"),
          col("query_label").cast("long").as("query_label"),
          col("vec_id"),
          col("label").cast("long").as("label"),
          round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // RETIRED (round 11): q68_kmeans_probe — the MLlib-kmeans REINDEX →
    // SEARCHSIMILAR probe, rows-only for the same MLlib-internals reason
    // as q48/q49. The managed kmeans-coarse probe path is FULLY
    // hash-gated by q171 (REINDEX type=ivfpq with deterministic kmeans
    // coarse cells, probed through the command surface); the plain
    // MLlib reindexKMeans + probe round-trip stays spec-pinned
    // (GraftDatabaseSpec, EdgeCaseSpec, PlanAuditSpec's
    // partition-pruning assert, IvfRecallSpec's recall floor).

    // SQ8 rerank: rank everything by the cosine of int8-QUANTIZED vectors
    // (integer math — bit-reproducible in any engine), shortlist 100, exact
    // cosine rerank of the shortlist only. The oracle recomputes the same
    // quantization rule (floor(x·127 + 0.5) clamped) in SQL, so this is a
    // full hash-match gate on an ANN path — unlike cell-probing indexes,
    // the quantized pass is deterministic across engines.
    "q69_sq8_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      SimilaritySearch
        .sq8Shortlist(e.filter(col("vec_id") =!= 0), query, shortlist = 100,
          metric = "cosine", vecCol = "embedding", idCol = "vec_id")
        .withColumn("score",
          round(graft.functions.cosine_sim(col("embedding"), lit(query)), 6))
        .select(col("vec_id"), col("score"),
          round(col("approx_score"), 6).as("approx_score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    }),

    // Batch SQ8: the quantized-rerank path over a query batch — int8
    // shortlist per query through the bounded-heap aggregator, exact rerank
    // of shortlists only. Same oracle discipline as q69: the int8 stage is
    // engine-exact, so the full composition hash-matches.
    "q71_sq8_batch" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      VectorPlanner
        .topKBatch(e, qs, k = 5, None, VectorPlanner.Sq8("cosine", 50),
          vecCol = "embedding", idCol = "vec_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF × SQ8 — the 100 TB composition, through the full database
    // surface: REINDEX lays the collection out by sign-bucket cell
    // (partition-pruned probes), QUANTIZE stores the int8 copy (¼ scan
    // bytes inside the probed cells), SEARCHSIMILAR probes radius-1 cells,
    // int8-ranks only within them, and exact-reranks the 100-row
    // shortlist. Every stage is deterministic (sign buckets + integer-
    // exact quantized cosine), so unlike model-based ANN the WHOLE
    // composition carries a full hash-match oracle.
    "q79_ivf_sq8" -> ((s, dir) => {
      val db = Scratch.db(s, "graft_q79")
      db.createCollection("vecs", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType))))
      db.bulkInsert("vecs", Tables.embeddings(s, dir))
      db.reindex("vecs", nBits = 8)
      db.quantize("vecs")
      val query = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      // k = shortlist: the only raw-score cut left inside the engine is
      // the shortlist cut, which is on the INTEGER-exact approx score —
      // reproducible bit-for-bit. The final 10-cut below is on the
      // ROUNDED exact score (the oracle conventions' rule: never cut on
      // a raw float both engines compute with their own op order). The
      // query row rides through the probe (it shares the query's cell by
      // construction) and is dropped before that final cut — mirrored in
      // the oracle.
      db.searchSimilar("vecs", query, k = 100, metric = "cosine",
          probeRadius = 1, shortlist = 100, idCol = "vec_id")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(col("score"), 6).as("score"),
          round(col("approx_score"), 6).as("approx_score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    }),

    // The SQL-text surface: graft's Catalyst expressions registered in the
    // FunctionRegistry and invoked from spark.sql, scalar subquery carrying
    // the query vector.
    "q52_sql_surface" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val view = Scratch.name("embeddings_v") // unique: fixed view names race
      Tables.embeddings(s, dir).createOrReplaceTempView(view)
      s.sql(
        s"""SELECT vec_id,
           |  round(cosine_sim(embedding,
           |    (SELECT embedding FROM $view WHERE vec_id = 1)), 6) AS score
           |FROM $view
           |WHERE vec_id <> 1
           |ORDER BY score DESC, vec_id
           |LIMIT 5""".stripMargin)
    }),

    // Vector statistics per label: count + mean L2 norm (index diagnostics).
    "q24_vector_stats" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round(avg(graft.functions.l2_norm(col("embedding"))), 6).as("avg_norm"))
        .orderBy("label")
    }),

    // Johnson–Lindenstrauss random projection 64→8 with an md5-derived
    // ±1 sign matrix (Achlioptas): the pre-index dimensionality reduction
    // of the 100 TB ANN path, fully hash-gated — the oracle recomputes
    // every matrix entry and every projected component.
    "q109_projection" -> ((s, dir) => {
      graft.operators.VectorPrep.randomProject(
          Tables.embeddings(s, dir), "embedding", inDim = 64, outDim = 8)
        .select(col("vec_id"), posexplode(col("projected")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          col("col").as("p"))
        .orderBy("vec_id", "j")
    }),

    // Recall@10 of the sign-bucket probe vs exact search, per query —
    // the index-quality measurement ITSELF under the exactness gate
    // (recall characterization is usually a side report; here the oracle
    // recomputes both rankings and the hit counts, so the recall numbers
    // are provably right, not self-reported).
    // Full ranking evaluation of the q126 probe-vs-exact pair: per
    // query recall@10, reciprocal rank (1/system-rank of the gold
    // top-1, an exact division), and nDCG@10 with exact integer gains
    // 11−gold_rank and ln-parity discount terms (rel·ln(2)/ln(r+1)) —
    // only the per-query sums round (+1e-9, 6).
    "q250_rank_eval" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("cluster_id",
          graft.operators.VectorIndex.signBucket(col("embedding"), 8))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
          col("cluster_id").as("__qc"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__score",
          round(graft.functions.cosine_sim(col("embedding"), col("__qv")), 6))
      def top(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("__score"), col("vec_id"))
        df.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      }
      graft.operators.RankEval.rankingMetrics(
          sys = top(scored.filter(
            bit_count(col("cluster_id").bitwiseXOR(col("__qc"))) <= 1)),
          gold = top(scored), k = 10)
        .orderBy("query_id")
    }),

    // Sign-probe RECALL CURVE: the full recall/cost frontier (radius 0..3)
    // in one pass — q126 pins one operating point, this emits the table a
    // deployment reads to pick nprobe. Exact-integer hits/candidates;
    // recall is ONE division (no rounding); the oracle recomputes both
    // rankings at every radius.
    "q291_recall_curve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.SimilaritySearch.signRecallCurve(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding", nBits = 8, k = 10, maxRadius = 3)
    }),

    "q126_probe_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("cluster_id",
          graft.operators.VectorIndex.signBucket(col("embedding"), 8))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
          col("cluster_id").as("__qc"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__score",
          round(graft.functions.cosine_sim(col("embedding"), col("__qv")), 6))
      def top(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("__score"), col("vec_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10).select("query_id", "vec_id")
      }
      val exact = top(scored)
      val probe = top(scored.filter(
        bit_count(col("cluster_id").bitwiseXOR(col("__qc"))) <= 1))
      val hits = exact.join(probe, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      qs.select("query_id").join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col("query_id"), col("n_hit"),
          round(col("n_hit") / 10.0 + lit(1e-9), 2).as("recall"))
        .orderBy("query_id")
    }),

    // Recall@10 of the IVF × PQ probe (ball pruning + ADC shortlist 50 +
    // exact rerank) vs exact l2 — the q126 honesty doctrine applied to
    // the compressed path: the oracle recomputes BOTH rankings and the
    // hit counts, so the PQ recall characterization is provably right.
    "q138_pq_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantization.trainCodebooks(
        e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1, seed = "pq")
      val coded = graft.operators.ProductQuantization.assignCodes(
        VectorIndex.assignSignBuckets(e, "embedding", nBits = 8),
        "embedding", cb)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val qRows = qs.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      import s.implicits._
      val balls = qRows.toSeq.flatMap { case (qid, qv) =>
        VectorIndex.codesWithin(VectorIndex.signBucketOf(qv, 8), 8, 1)
          .map(c => (qid, c))
      }.toDF("query_id", "cluster_id")
      val luts = qRows.toSeq.map { case (qid, qv) =>
        (qid, graft.operators.ProductQuantization.adcTable(qv, cb)
          .flatten.toSeq)
      }.toDF("query_id", "__lut")
      val scored = coded.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__l2",
          round(graft.functions.l2_dist(col("embedding"), col("__qv")), 6))
      def topL2(df: DataFrame, n: Int): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__l2"), col("vec_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= n).select("query_id", "vec_id", "__l2")
      }
      val exact = topL2(scored, 10)
      val wAdc = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(asc("__adc"), col("vec_id"))
      val shortlist = scored
        .join(broadcast(balls), Seq("cluster_id", "query_id"))
        .join(broadcast(luts), Seq("query_id"))
        .withColumn("__adc", graft.operators.ProductQuantization
          .adcDistance(col("__lut"), col("pq_code"), 8, 16))
        .withColumn("__sn", row_number().over(wAdc))
        .filter(col("__sn") <= 50)
      val probe = topL2(shortlist, 10)
      val hits = exact.select("query_id", "vec_id")
        .join(probe.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      qs.select("query_id").join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col("query_id"), col("n_hit"),
          round(col("n_hit") / 10.0 + lit(1e-9), 2).as("recall"))
        .orderBy("query_id")
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup inside k-means cells —
    // pairwise cosine only WITHIN a cluster (k sizes the quadratic term;
    // the paper's cost model), any doc with a lower-id neighbor above the
    // threshold drops. Composes the deterministic Lloyd step, so the
    // oracle replays clustering AND dedup end to end.
    "q124_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val assign = graft.operators.VectorIndex
        .lloydOnce(e, "vec_id", "embedding", k = 8)
        .select(col("vec_id"), col("c_refined").as("cid"))
      val a = e.select(col("vec_id"), col("embedding"))
        .join(assign, Seq("vec_id"))
      // Dedup.semDeDup carries the hot-cell cap (cells over maxCellSize
      // skip pairwise dedup — mirrored in the oracle's sz.n filter); at
      // these SFs no cell trips it, so results are cap-invariant.
      graft.operators.Dedup.semDeDup(a, "vec_id", "embedding", "cid",
          threshold = 0.35, maxCellSize = 1000)
        .groupBy("cid")
        .agg(count(when(!col("semdup_drop"), 1)).as("n_kept"),
          count(when(col("semdup_drop"), 1)).as("n_dropped"))
        .orderBy("cid")
    }),

    // Embedding-quality diagnostic: Fisher-style label separation —
    // within-class scatter (Σ ||x − μ_label||²) and between-class scatter
    // (n_label · ||μ_label − μ||²) per label. Both computed against
    // ROUNDED means (the Lloyd handoff doctrine: accumulation ulps must
    // never leak into a cross-engine comparison), outputs rounded at 4.
    "q123_label_separation" -> ((s, dir) => {
      val dims = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")))
      val mul = dims.groupBy("label", "pos")
        .agg(round(avg("col") + lit(1e-9), 6).as("m"))
      val mug = dims.groupBy("pos")
        .agg(round(avg("col") + lit(1e-9), 6).as("g"))
      val n = Tables.embeddings(s, dir).groupBy("label")
        .agg(count(lit(1)).as("n"))
      val within = dims.join(mul, Seq("label", "pos"))
        .groupBy("label")
        .agg(sum((col("col") - col("m")) * (col("col") - col("m")))
          .as("__w"))
      val between = mul.join(broadcast(mug), Seq("pos"))
        .groupBy("label")
        .agg(sum((col("m") - col("g")) * (col("m") - col("g"))).as("__b"))
      n.join(within, Seq("label")).join(between, Seq("label"))
        .select(col("label").cast("long").as("label"), col("n"),
          round(col("__w") + lit(1e-9), 4).as("within_scatter"),
          round(col("n") * col("__b") + lit(1e-9), 4).as("between_scatter"))
        .orderBy("label")
    }),

    // The reduced-dimension ANN composition: JL-project 64→16, sign-bucket
    // the PROJECTED space (4 bits), probe the query's bucket, exact-cosine
    // rerank on the ORIGINAL vectors — project→bucket→probe→rerank, each
    // stage md5-reproducible, so the whole pipeline hash-gates end to end.
    "q111_project_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val proj = graft.operators.VectorPrep.randomProject(
          e, "embedding", inDim = 64, outDim = 16)
        .withColumn("bkt", graft.operators.VectorIndex
          .signBucket(col("projected"), 4).cast("long"))
      // one bounded driver value: the query's bucket, computed by the
      // same engine path as the corpus
      val qBucket = proj.filter(col("vec_id") === 0)
        .select("bkt").head().getLong(0)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      proj.filter(col("bkt") === qBucket)
        .select("vec_id", "embedding")
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.cosine_sim(col("embedding"), col("q_emb")), 6)
            .as("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    }),

    // Per-dimension z-score standardization against rounded corpus stats
    // (the bounded model state rides as literal arrays); gated via each
    // vector's standardized norm, which pins every component.
    "q110_standardize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val stats = graft.operators.VectorPrep.dimStats(e, "embedding")
      graft.operators.VectorPrep.standardize(e, "embedding", stats)
        .select(col("vec_id"),
          size(col("standardized")).cast("long").as("dim"),
          round(graft.functions.l2_norm(col("standardized")), 6).as("z_norm"))
        .orderBy("vec_id")
    }),

    // Deterministic k-center greedy (farthest-point) selection — the
    // diversity-sampling / seeding primitive, fully hash-gated: the
    // oracle replays all 8 greedy picks as generated CTE layers, so the
    // hash match pins the exact selection ORDER, not just the set.
    "q108_kcenter" -> ((s, dir) => {
      import s.implicits._
      graft.operators.VectorIndex.farthestPointSample(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
        .zipWithIndex
        .map { case ((id, _), i) => (i + 1L, id) }
        .toDF("rank", "vec_id")
        .orderBy("rank")
    }),

    // One deterministic Lloyd iteration, fully hash-gated: md5-order
    // seeding, rounded-distance argmin assignment, rounded per-dim mean
    // refinement, reassignment — the engine-recomputable counterpart of
    // the MLlib kmeans build that keeps q49/q68 rows-only. The oracle
    // recomputes the ENTIRE iteration, so the hash match pins every
    // assignment under both the seed and refined centroids.
    "q106_kmeans_lloyd" -> ((s, dir) => {
      graft.operators.VectorIndex.lloydOnce(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
        .orderBy("vec_id")
    }),

    // Product quantization, fully hash-gated: per-subspace codebooks
    // (md5-seeded, one rounded Lloyd refinement — the q106 doctrine ×8
    // subspaces), 8-byte codes (32× compression over float32), ADC
    // shortlist against the query's rounded lookup table, exact l2
    // rerank. Every stage — codebooks, codes, ADC distances, final
    // ranks — is recomputed by the oracle; the final cut is on the
    // ROUNDED exact distance (the q79 rule: never cut on a raw float).
    "q127_pq_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantization.trainCodebooks(
        e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1, seed = "pq")
      val coded = graft.operators.ProductQuantization.assignCodes(
        e, "embedding", cb)
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      VectorPlanner.topK(coded.filter(col("vec_id") =!= 0), query, k = 50,
          None, VectorPlanner.Adc(cb, 50), idCol = "vec_id")
        .select(col("vec_id"), col("approx_score").as("adc_dist"),
          round(col("score"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // Batch IVF probe: 5 queries, each probing its radius-1 hamming ball
    // of sign-bucket cells, answered by ONE scan of the cell union (on a
    // partitioned layout: partition-pruned) with a bounded heap per
    // query — the retrieval-job shape, vs q22/q59's exact cross-join.
    // Sign buckets + cosine are SQL-recomputable, so the whole batch
    // probe carries a full hash-match oracle (q126's probe CTE, batched).
    "q128_batch_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      VectorPlanner.topKBatch(indexed, qs, k = 5,
          Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Exact("cosine"),
          idCol = "vec_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF × PQ: sign-bucket cell pruning × 8-byte ADC codes × exact
    // rerank of the bounded shortlist — the q79 composition with PQ in
    // SQ8's seat. Same cut discipline: shortlist on the rounded ADC
    // distance inside the engine, final 10-cut on the ROUNDED exact
    // distance outside.
    "q132_ivf_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantization.trainCodebooks(
        e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1, seed = "pq")
      val coded = graft.operators.ProductQuantization.assignCodes(
        VectorIndex.assignSignBuckets(e, "embedding", nBits = 8),
        "embedding", cb)
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      VectorPlanner.topK(coded.filter(col("vec_id") =!= 0), query, k = 50,
          Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Adc(cb, 50),
          idCol = "vec_id")
        .select(col("vec_id"), col("approx_score").as("adc_dist"),
          round(col("score"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // Batch IVF × PQ: 3 queries, one union scan of their probed cells
    // reading only the 8-byte codes, per-query ADC shortlist in a
    // bounded heap, one exact rerank (literal join-back). Self-matches ride
    // through (rank 1 at distance 0) — deterministic and mirrored.
    "q135_pq_batch" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantization.trainCodebooks(
        e, "vec_id", "embedding", m = 8, ksub = 16, rounds = 1, seed = "pq")
      val coded = graft.operators.ProductQuantization.assignCodes(
        VectorIndex.assignSignBuckets(e, "embedding", nBits = 8),
        "embedding", cb)
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      VectorPlanner.topKBatch(coded, qs, k = 5,
          Some(VectorIndex.signCells(_, 8, 1)), VectorPlanner.Adc(cb, 20),
          idCol = "vec_id")
        .select(col("query_id"), col("vec_id"),
          col("approx_score").as("adc_dist"), col("score").as("dist"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Residual IVF × PQ (Jégou et al. 2011 §IV — the FAISS IVFPQ layout):
    // codes quantize `x − centroid(cell)` instead of `x`, the query is
    // re-expressed per probed cell, and the per-cell ADC tables ride in
    // as a plan-literal map — so the pruned scan still reads only
    // (id, cluster_id, code). Every handoff — cell centroids, residuals,
    // codebooks, codes, per-cell LUTs, ADC sums, exact rerank — is
    // replayed by the oracle end to end.
    "q161_residual_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val indexed = VectorIndex.assignSignBuckets(e, "embedding", nBits = 8)
      val cents = graft.operators.ProductQuantization
        .cellCentroids(indexed, "embedding")
      val res = graft.operators.ProductQuantization
        .withResiduals(indexed, "embedding", cents)
      val cb = graft.operators.ProductQuantization.trainCodebooks(
        res, "vec_id", "__res", m = 8, ksub = 16, rounds = 1, seed = "rpq")
      val coded = graft.operators.ProductQuantization
        .assignCodes(res, "__res", cb).drop("__res")
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      VectorPlanner.topK(coded.filter(col("vec_id") =!= 0), query, k = 50,
          Some(VectorIndex.signCells(_, 8, 1)),
          VectorPlanner.ResidualAdc(cb, cents, 50), idCol = "vec_id")
        .select(col("vec_id"), col("approx_score").as("adc_dist"),
          round(col("score"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // Recall on the CLUSTERED fixture — the measurement the isotropic
    // testdata cannot provide (q126/q138 honestly report ~0.1 recall
    // because no cell structure exists). clusteredFixture gives every id
    // a cluster whose 8-bit sign bucket IS the cluster by construction;
    // the gate probes radius 0 (scan fraction = the query's single cell
    // ≈ 1/8 of the corpus) and measures recall@10 vs exact l2 for plain
    // PQ and residual PQ at IDENTICAL stored bytes (m=8, ksub=16), with
    // a TIGHT ADC shortlist (20 for a top-10 cut) so quantization error
    // actually shows up in the numbers instead of being absorbed by a
    // generous rerank. The
    // oracle replays fixture generation, bucketing, BOTH trainings, the
    // per-query LUTs, shortlists, and both recalls — the q138 honesty
    // doctrine on a fixture where the numbers can be high.
    "q162_fixture_recall" -> ((s, dir) => {
      import s.implicits._
      val PQ = graft.operators.ProductQuantization
      val f = graft.operators.VectorPrep.clusteredFixture(
        Tables.embeddings(s, dir).select("vec_id"), "vec_id",
        dim = 16, kClusters = 8)
      val indexed = VectorIndex.assignSignBuckets(f, "fvec", nBits = 8)
      val cbP = PQ.trainCodebooks(indexed, "vec_id", "fvec",
        m = 8, ksub = 16, rounds = 1, seed = "fpq")
      val cents = PQ.cellCentroids(indexed, "fvec")
      val res = PQ.withResiduals(indexed, "fvec", cents)
      val cbR = PQ.trainCodebooks(res, "vec_id", "__res",
        m = 8, ksub = 16, rounds = 1, seed = "frq")
      val coded = PQ.assignCodes(
        PQ.assignCodes(res, "fvec", cbP, "code_p"), "__res", cbR, "code_r")
        .drop("__res")
      val qRows = indexed.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("fvec"), col("cluster_id")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
      val qs = qRows.toSeq.map { case (qid, _, qc) => (qid, qc) }
        .toDF("query_id", "__qc")
      val qVecs = qRows.toSeq.map { case (qid, qv, _) => (qid, qv.toSeq) }
        .toDF("query_id", "__qv")
      val lutP = qRows.toSeq.map { case (qid, qv, _) =>
        (qid, PQ.adcTableD(qv, cbP).flatten.toSeq)
      }.toDF("query_id", "__lutp")
      val lutR = qRows.toSeq.map { case (qid, qv, qc) =>
        val cent = cents(qc)
        val qr = Array.tabulate(qv.length)(i => qv(i) - cent(i))
        (qid, PQ.adcTableD(qr, cbR).flatten.toSeq)
      }.toDF("query_id", "__lutr")
      val scored = coded.crossJoin(broadcast(qs.join(qVecs, "query_id")))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__l2",
          round(graft.functions.l2_dist(col("fvec"), col("__qv")), 6))
      def top10(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__l2"), col("vec_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10).select("query_id", "vec_id")
      }
      val exact = top10(scored)
      def adcOf(codeCol: String, lutCol: String) =
        PQ.adcDistance(col(lutCol), col(codeCol), 8, 16)
      def probeRecall(luts: DataFrame, codeCol: String, lutCol: String,
          hitCol: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__adc"), col("vec_id"))
        val short = scored.filter(col("cluster_id") === col("__qc"))
          .join(broadcast(luts), "query_id")
          .withColumn("__adc", adcOf(codeCol, lutCol))
          .withColumn("__sn", row_number().over(w))
          .filter(col("__sn") <= 20)
        exact.join(top10(short), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as(hitCol))
      }
      val hp = probeRecall(lutP, "code_p", "__lutp", "n_hit_plain")
      val hr = probeRecall(lutR, "code_r", "__lutr", "n_hit_res")
      qs.select("query_id")
        .join(hp, Seq("query_id"), "left").join(hr, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_hit_plain", "n_hit_res"))
        .select(col("query_id"), col("n_hit_plain"),
          round(col("n_hit_plain") / 10.0 + lit(1e-9), 2).as("recall_plain"),
          col("n_hit_res"),
          round(col("n_hit_res") / 10.0 + lit(1e-9), 2).as("recall_res"))
        .orderBy("query_id")
    }),

    // OPQ rotation A/B (Ge et al. 2013's fixed-rotation baseline) on the
    // latent-mix fixture: vectors are a Hadamard mixture of dim/2
    // independent 4-way pair-clusters, so plain contiguous-subspace PQ
    // quantizes near-Gaussian 4^8-combination marginals while the
    // self-inverse rotation recovers the clean per-pair clusters first.
    // Both arms train at IDENTICAL stored bytes (m=8, ksub=16, one Lloyd
    // round) and cut a TIGHT flat ADC shortlist (20 for a top-10) — the
    // q162 honesty discipline; recall_rot > recall_plain is the measured
    // claim, not an assertion. The oracle replays fixture, rotation
    // (literal Hadamard rows), both trainings, LUTs, shortlists, and
    // both recalls end to end.
    "q165_opq_recall" -> ((s, dir) => {
      import s.implicits._
      val PQ = graft.operators.ProductQuantization
      val VP = graft.operators.VectorPrep
      val f = VP.latentPairFixture(
        Tables.embeddings(s, dir).select("vec_id"), "vec_id", dim = 16)
      val rot = VP.opqRotate(f, "fvec", 16, "rvec")
      val cbP = PQ.trainCodebooks(rot, "vec_id", "fvec",
        m = 8, ksub = 16, rounds = 1, seed = "oqp")
      val cbR = PQ.trainCodebooks(rot, "vec_id", "rvec",
        m = 8, ksub = 16, rounds = 1, seed = "oqr")
      val coded = PQ.assignCodes(
        PQ.assignCodes(rot, "fvec", cbP, "code_p"), "rvec", cbR, "code_r")
      val qRows = coded.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("fvec"), col("rvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
          r.getSeq[Double](2).toArray))
      val qVecs = qRows.toSeq.map { case (qid, qv, _) => (qid, qv.toSeq) }
        .toDF("query_id", "__qv")
      val lutP = qRows.toSeq.map { case (qid, qv, _) =>
        (qid, PQ.adcTableD(qv, cbP).flatten.toSeq)
      }.toDF("query_id", "__lutp")
      val lutR = qRows.toSeq.map { case (qid, _, rq) =>
        (qid, PQ.adcTableD(rq, cbR).flatten.toSeq)
      }.toDF("query_id", "__lutr")
      val scored = coded.crossJoin(broadcast(qVecs))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__l2",
          round(graft.functions.l2_dist(col("fvec"), col("__qv")), 6))
      def top10(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__l2"), col("vec_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10).select("query_id", "vec_id")
      }
      val exact = top10(scored)
      def adcOf(codeCol: String, lutCol: String) =
        PQ.adcDistance(col(lutCol), col(codeCol), 8, 16)
      def armHits(luts: DataFrame, codeCol: String, lutCol: String,
          hitCol: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__adc"), col("vec_id"))
        val short = scored.join(broadcast(luts), "query_id")
          .withColumn("__adc", adcOf(codeCol, lutCol))
          .withColumn("__sn", row_number().over(w))
          .filter(col("__sn") <= 20)
        exact.join(top10(short), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as(hitCol))
      }
      val hp = armHits(lutP, "code_p", "__lutp", "n_hit_plain")
      val hr = armHits(lutR, "code_r", "__lutr", "n_hit_rot")
      qVecs.select("query_id")
        .join(hp, Seq("query_id"), "left").join(hr, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_hit_plain", "n_hit_rot"))
        .select(col("query_id"), col("n_hit_plain"),
          round(col("n_hit_plain") / 10.0 + lit(1e-9), 2).as("recall_plain"),
          col("n_hit_rot"),
          round(col("n_hit_rot") / 10.0 + lit(1e-9), 2).as("recall_rot"))
        .orderBy("query_id")
    }),

    // OPQ composed with IVF — the rotation as an INDEX-BUILD step, not
    // just a flat-scan trick: cells are sign buckets of the ROTATED
    // vectors (4 bits → 16 cells; in rotated space those bits are the
    // first two latent pairs' choice bits, i.e. real clusters), PQ
    // trains on the rotated vectors, and the radius-0 probe scans ~1/16
    // of the corpus. Measures recall@10 vs exact l2 honestly (the
    // q126/q138 discipline): pruning costs recall exactly where the
    // nearest neighbors differ in a bucketed latent pair — the gate
    // documents that trade next to q165's flat-scan 1.0.
    "q172_opq_ivf" -> ((s, dir) => {
      import s.implicits._
      val PQ = graft.operators.ProductQuantization
      val VP = graft.operators.VectorPrep
      val f = VP.latentPairFixture(
        Tables.embeddings(s, dir).select("vec_id"), "vec_id", dim = 16)
      val rot = VP.opqRotate(f, "fvec", 16, "rvec")
      val indexed = VectorIndex.assignSignBuckets(rot, "rvec", nBits = 4)
      val cbR = PQ.trainCodebooks(indexed, "vec_id", "rvec",
        m = 8, ksub = 16, rounds = 1, seed = "oqi")
      val coded = PQ.assignCodes(indexed, "rvec", cbR, "code_r")
      val qRows = coded.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("fvec"), col("rvec"), col("cluster_id"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq,
          r.getSeq[Double](2).toArray, r.getInt(3)))
      val qs = qRows.toSeq.map { case (qid, qv, _, qc) => (qid, qv, qc) }
        .toDF("query_id", "__qv", "__qc")
      val lutR = qRows.toSeq.map { case (qid, _, rq, _) =>
        (qid, PQ.adcTableD(rq, cbR).flatten.toSeq)
      }.toDF("query_id", "__lutr")
      val scored = coded.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__l2",
          round(graft.functions.l2_dist(col("fvec"), col("__qv")), 6))
      def top10(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__l2"), col("vec_id"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10).select("query_id", "vec_id")
      }
      val exact = top10(scored)
      val adcOf = PQ.adcDistance(col("__lutr"), col("code_r"), 8, 16)
      def armHits(radius: Int, hitCol: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(asc("__adc"), col("vec_id"))
        val inBall = bit_count(col("cluster_id").cast("long")
          .bitwiseXOR(col("__qc").cast("long"))) <= radius
        val short = scored.filter(inBall)
          .join(broadcast(lutR), "query_id")
          .withColumn("__adc", adcOf)
          .withColumn("__sn", row_number().over(w))
          .filter(col("__sn") <= 20)
        exact.join(top10(short), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as(hitCol))
      }
      val h0 = armHits(0, "n_hit_r0")
      val h1 = armHits(1, "n_hit_r1")
      qs.select("query_id")
        .join(h0, Seq("query_id"), "left").join(h1, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_hit_r0", "n_hit_r1"))
        .select(col("query_id"), col("n_hit_r0"),
          round(col("n_hit_r0") / 10.0 + lit(1e-9), 2).as("recall_r0"),
          col("n_hit_r1"),
          round(col("n_hit_r1") / 10.0 + lit(1e-9), 2).as("recall_r1"))
        .orderBy("query_id")
    }),

    // The FAISS-canonical IVFPQ (Jégou §IV with a LEARNED coarse
    // quantizer): deterministic kmeans cells — which ARE PQ training at
    // m = 1 (ksub cells over the full vector, identical seeding /
    // rounded-argmin / rounded-mean rules, so the oracle reuses the same
    // replay body) — then residual codes against the coarse centroids,
    // nprobe = 2 nearest cells by rounded l2 (cell-id tie-break), per-cell
    // ADC tables, exact rerank. q161 is the sign-bucket sibling; this
    // closes the coarse-quantizer axis of the ANN matrix.
    "q169_kmeans_ivfpq" -> ((s, dir) => {
      val PQ = graft.operators.ProductQuantization
      val e = Tables.embeddings(s, dir)
      val coarse = PQ.trainCodebooks(e, "vec_id", "embedding",
        m = 1, ksub = 8, rounds = 1, seed = "kvr")
      val cellCents: Map[Int, Array[Double]] =
        coarse(0).zipWithIndex.map { case (c, i) => (i + 1) -> c }.toMap
      val indexed = PQ.assignCodes(e, "embedding", coarse, "__coarse")
        .withColumn("cluster_id", element_at(col("__coarse"), 1).cast("int"))
        .drop("__coarse")
      val res = PQ.withResiduals(indexed, "embedding", cellCents)
      val cb = PQ.trainCodebooks(res, "vec_id", "__res",
        m = 8, ksub = 16, rounds = 1, seed = "krq")
      val coded = PQ.assignCodes(res, "__res", cb).drop("__res")
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cells = PQ.nearestCellsD(query.map(_.toDouble), cellCents,
        nprobe = 2)
      VectorPlanner.topK(coded.filter(col("vec_id") =!= 0), query, k = 50,
          Some(_ => cells), VectorPlanner.ResidualAdc(cb, cellCents, 50),
          idCol = "vec_id")
        .select(col("vec_id"), col("approx_score").as("adc_dist"),
          round(col("score"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // Batch kmeans-coarse IVFPQ — the retrieval-job shape of q169
    // (q135's sign-bucket sibling): 3 queries, per-query nprobe=2
    // nearest cells, ONE union scan of the probed cells reading only
    // the codes, per-(query, cell) residual ADC tables in one
    // broadcast, bounded per-query heap, one exact rerank.
    // Self-matches ride through (rank 1 at distance 0).
    "q170_kmeans_batch" -> ((s, dir) => {
      val PQ = graft.operators.ProductQuantization
      val e = Tables.embeddings(s, dir)
      val coarse = PQ.trainCodebooks(e, "vec_id", "embedding",
        m = 1, ksub = 8, rounds = 1, seed = "kvr")
      val cellCents: Map[Int, Array[Double]] =
        coarse(0).zipWithIndex.map { case (c, i) => (i + 1) -> c }.toMap
      val indexed = PQ.assignCodes(e, "embedding", coarse, "__coarse")
        .withColumn("cluster_id", element_at(col("__coarse"), 1).cast("int"))
        .drop("__coarse")
      val res = PQ.withResiduals(indexed, "embedding", cellCents)
      val cb = PQ.trainCodebooks(res, "vec_id", "__res",
        m = 8, ksub = 16, rounds = 1, seed = "krq")
      val coded = PQ.assignCodes(res, "__res", cb).drop("__res")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      VectorPlanner.topKBatch(coded, qs, k = 5,
          Some(q => PQ.nearestCellsD(q.map(_.toDouble), cellCents, 2)),
          VectorPlanner.ResidualAdc(cb, cellCents, 20), idCol = "vec_id")
        .select(col("query_id"), col("vec_id"),
          col("approx_score").as("adc_dist"), col("score").as("dist"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    })
  )

  // Shared SQL fragment: the 8-bit sign-bucket code of a DuckDB FLOAT[] —
  // must mirror VectorIndex.signBucket bit-for-bit (1-indexed lists).
  private[queries] def duckBucket(v: String): String =
    (0 until 8)
      .map(i => s"(CASE WHEN $v[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  // The OPQ latent-mix fixture replay shared by q165/q172: latent per-pair
  // clusters (exact dyadic), the Hadamard mixture fv = (H/4)·lat as 16
  // literal ±0.25 term-sums (exact, no rounding), and the rotation
  // rv = round((H/4)·fv + 1e-9, 6) mirroring opqRotate's output rounding.
  // Emits the CTE chain "lat, fv, rv" (no leading WITH).
  private[queries] def opqFixtureSql: String = {
    val latExprs = (0 until 16).map { d =>
      val choice = s"(CAST(('0x'||substring(md5('lmc:'||CAST(vec_id AS VARCHAR)||':${d / 2}'), 1, 1)) AS INTEGER) % 4)"
      val noise = s"(CAST(('0x'||substring(md5('lmn:'||CAST(vec_id AS VARCHAR)||':$d'), 1, 4)) AS INTEGER) / 65536.0 - 0.5) * 0.25"
      s"(CASE WHEN (($choice >> ${d % 2}) & 1) = 1 THEN 0.5 ELSE -0.5 END) + $noise"
    }.mkString(",\n    ")
    def mixRow(i: Int, src: String, rounded: Boolean): String = {
      val terms = (0 until 16).map { j =>
        val t = s"$src[${j + 1}]*0.25"
        if (j == 0) t
        else if (graft.operators.VectorPrep.hadamardSign(i, j) > 0) s"+ $t"
        else s"- $t"
      }.mkString(" ")
      if (rounded) s"round(($terms) + 1e-9, 6)" else s"($terms)"
    }
    val fvExprs = (0 until 16).map(mixRow(_, "v", rounded = false))
      .mkString(",\n    ")
    val rvExprs = (0 until 16).map(mixRow(_, "v", rounded = true))
      .mkString(",\n    ")
    s"""lat AS (
       |  SELECT vec_id, [$latExprs] AS v FROM embeddings),
       |fv AS (
       |  SELECT vec_id, [$fvExprs] AS v FROM lat),
       |rv AS (
       |  SELECT vec_id, [$rvExprs] AS v FROM fv)""".stripMargin
  }

  // The shared kmeans-IVFPQ ADC replay (q266/q310): coarse m=1 training
  // over all embeddings, residuals, fine training, 3 queries (vec_id < 3)
  // × nprobe=2 probed cells, per-(query, cell) residual LUTs — ends at
  // `adc` (query_id, vec_id, adc_dist). Callers append their own
  // shortlist/rerank tail. Text extracted VERBATIM from the q266-gated
  // kmeansBatchSql body.
  private[queries] def ivfPqAdcCtes(coarseSeed: String,
      fineSeed: String): String =
    ivfPqAdcCtesFrom("",
      "qs4 AS (SELECT vec_id AS query_id, v AS qv FROM e2 WHERE vec_id < 3)",
      coarseSeed, fineSeed, nprobe = 2)

  /** [[ivfPqAdcCtes]] generalized (the ANN-assisted decon gate, q327):
    * `srcSuffix` restricts the trained/coded corpus (a WHERE tail on the
    * embeddings scan — the decon collection holds only TRAIN rows),
    * `qs4Cte` is the full query CTE producing (query_id, qv DOUBLE[]),
    * and `nprobe` the per-query probed-cell count.
    */
  private[queries] def ivfPqAdcCtesFrom(srcSuffix: String, qs4Cte: String,
      coarseSeed: String, fineSeed: String, nprobe: Int): String =
    s"""e2 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$srcSuffix),
       |""".stripMargin +
    pqTrainBody("e2", coarseSeed, 1, 64, 8, "k") +
    """,
      |rv3 AS (
      |  SELECT e2.vec_id, list(e2.v[kii.i] - c.cent[kii.i] ORDER BY kii.i) AS v
      |  FROM e2 JOIN kcodes kc ON kc.vec_id = e2.vec_id
      |  JOIN kc1 c ON c.s = kc.s AND c.cid = kc.cid
      |  CROSS JOIN kii
      |  GROUP BY e2.vec_id),
      |""".stripMargin +
    pqTrainBody("rv3", fineSeed, 8, 8, 16, "r") +
    s""",
      |$qs4Cte,
      |probed AS (
      |  SELECT query_id, cid, cent FROM (
      |    SELECT q.query_id, c.cid, c.cent, row_number() OVER (
      |      PARTITION BY q.query_id
      |      ORDER BY round(list_distance(c.cent, q.qv), 6), c.cid) AS rn
      |    FROM kc1 c CROSS JOIN qs4 q) WHERE rn <= $nprobe),
      |lutr AS (
      |  SELECT p.query_id, p.cid AS cell, c1.s, c1.cid,
      |    round(sum(power(q.qv[c1.s*8 + ii.i] - p.cent[c1.s*8 + ii.i]
      |      - c1.cent[ii.i], 2)) + 1e-9, 6) AS d
      |  FROM probed p JOIN qs4 q USING (query_id)
      |  CROSS JOIN rc1 c1 CROSS JOIN rii ii
      |  GROUP BY p.query_id, p.cid, c1.s, c1.cid),
      |adc AS (
      |  SELECT l.query_id, k2.vec_id, round(sum(l.d) + 1e-9, 6) AS adc_dist
      |  FROM rcodes k2
      |  JOIN kcodes kc ON kc.vec_id = k2.vec_id
      |  JOIN lutr l ON l.cell = kc.cid AND l.s = k2.s AND l.cid = k2.cid
      |  GROUP BY l.query_id, k2.vec_id)""".stripMargin

  /** The q327 oracle: the FULL ANN-assisted decon replay — coarse + fine
    * codebook trainings over the TRAIN slice only (vec_id % 50 <> 0, the
    * reindex seeds), q326's planted eval queries, nprobe probed cells,
    * residual ADC distances, the `shortlist` cut on the rounded ADC
    * distance (vec_id tie-break — the bounded heap's contract), ONE
    * exact cosine rerank of shortlisted rows, top-1 on the ROUNDED
    * cosine with vec_id tie-break, flag at 0.5.
    */
  private[queries] def deconAnnSql(shortlist: Int): String =
    "WITH " + ivfPqAdcCtesFrom(" WHERE vec_id % 50 <> 0",
      """qs4 AS (
        |  SELECT e.vec_id AS query_id,
        |    CASE WHEN (e.vec_id // 50) % 3 = 0
        |         THEN CAST(d.embedding AS DOUBLE[])
        |         ELSE CAST(e.embedding AS DOUBLE[]) END AS qv
        |  FROM embeddings e JOIN embeddings d ON d.vec_id = e.vec_id + 1
        |  WHERE e.vec_id % 50 = 0)""".stripMargin,
      "rpq:coarse", "rpq", nprobe = 2) +
    s""",
      |short AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
      |    FROM adc)
      |  WHERE rn <= $shortlist),
      |rr AS (
      |  SELECT s.query_id, s.vec_id,
      |    round(list_cosine_similarity(e2.v, q.qv), 6) AS score
      |  FROM short s JOIN e2 ON e2.vec_id = s.vec_id
      |  JOIN qs4 q ON q.query_id = s.query_id)
      |SELECT query_id AS eval_id, vec_id AS train_id, score,
      |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, vec_id) AS rn FROM rr)
      |WHERE rn = 1
      |ORDER BY eval_id""".stripMargin

  /** The q342 oracle: the KMEANS-layout decon replay — the md5-seeded
    * coarse training ([[graft.core.GraftDatabase.reindexKMeansMd5]]'s
    * trainCodebooks m=1 / k=8 / 1 round / seed "ivf") over the TRAIN
    * slice, q326's planted eval queries, each query's `nprobe` nearest
    * cells by the rounded-l2 probe rule, exact ROUNDED cosine over the
    * probed cells' rows only (no shortlist stage — this layout has no
    * codes), top-1 with vec_id tie-break, flag at 0.5.
    */
  private[queries] def deconKmeansSql(nprobe: Int): String =
    """WITH e2 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id % 50 <> 0),
      |""".stripMargin +
    pqTrainBody("e2", "ivf", 1, 64, 8, "k") +
    s""",
      |qs4 AS (
      |  SELECT e.vec_id AS query_id,
      |    CASE WHEN (e.vec_id // 50) % 3 = 0
      |         THEN CAST(d.embedding AS DOUBLE[])
      |         ELSE CAST(e.embedding AS DOUBLE[]) END AS qv
      |  FROM embeddings e JOIN embeddings d ON d.vec_id = e.vec_id + 1
      |  WHERE e.vec_id % 50 = 0),
      |probed AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid, row_number() OVER (
      |      PARTITION BY q.query_id
      |      ORDER BY round(list_distance(c.cent, q.qv), 6), c.cid) AS rn
      |    FROM kc1 c CROSS JOIN qs4 q) WHERE rn <= $nprobe),
      |rr AS (
      |  SELECT p.query_id, kc.vec_id,
      |    round(list_cosine_similarity(e2.v, q.qv), 6) AS score
      |  FROM probed p
      |  JOIN kcodes kc ON kc.cid = p.cid
      |  JOIN e2 ON e2.vec_id = kc.vec_id
      |  JOIN qs4 q ON q.query_id = p.query_id)
      |SELECT query_id AS eval_id, vec_id AS train_id, score,
      |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, vec_id) AS rn FROM rr)
      |WHERE rn = 1
      |ORDER BY eval_id""".stripMargin

  /** The q346 oracle: [[deconKmeansSql]] on a MUTATED collection — the
    * coarse training replays over the PRE-APPEND slice only
    * (`id % 5 <> 1` of the train rows, exactly what the reindex saw),
    * then the FULL union assigns against those centroids by the same
    * rounded rule the append path uses, and the probe scans the union's
    * cells. A raw-argmin append rule would diverge here.
    */
  private[queries] def deconKmeansAppendSql(nprobe: Int): String =
    """WITH e2 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id % 50 <> 0 AND vec_id % 5 <> 1),
      |""".stripMargin +
    pqTrainBody("e2", "ivf", 1, 64, 8, "k") +
    s""",
      |allv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id % 50 <> 0),
      |acodes AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT a.vec_id, c.cid, row_number() OVER (
      |      PARTITION BY a.vec_id
      |      ORDER BY round(list_distance(a.v, c.cent), 6), c.cid) AS rn
      |    FROM allv a CROSS JOIN kc1 c) WHERE rn = 1),
      |qs4 AS (
      |  SELECT e.vec_id AS query_id,
      |    CASE WHEN (e.vec_id // 50) % 3 = 0
      |         THEN CAST(d.embedding AS DOUBLE[])
      |         ELSE CAST(e.embedding AS DOUBLE[]) END AS qv
      |  FROM embeddings e JOIN embeddings d ON d.vec_id = e.vec_id + 1
      |  WHERE e.vec_id % 50 = 0),
      |probed AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid, row_number() OVER (
      |      PARTITION BY q.query_id
      |      ORDER BY round(list_distance(c.cent, q.qv), 6), c.cid) AS rn
      |    FROM kc1 c CROSS JOIN qs4 q) WHERE rn <= $nprobe),
      |rr AS (
      |  SELECT p.query_id, kc.vec_id,
      |    round(list_cosine_similarity(a2.v, q.qv), 6) AS score
      |  FROM probed p
      |  JOIN acodes kc ON kc.cid = p.cid
      |  JOIN allv a2 ON a2.vec_id = kc.vec_id
      |  JOIN qs4 q ON q.query_id = p.query_id)
      |SELECT query_id AS eval_id, vec_id AS train_id, score,
      |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, vec_id) AS rn FROM rr)
      |WHERE rn = 1
      |ORDER BY eval_id""".stripMargin

  // Seed-parameterized batch kmeans-IVFPQ replay (q170 uses the raw
  // gate's seeds, q173 the reindex's): coarse m=1 training, residuals,
  // fine training, 3 queries × nprobe=2 probed cells, per-(query, cell)
  // residual LUTs, shortlist 20, exact-l2 rerank to rank <= 5.
  // Self-matches included.
  private[queries] def kmeansBatchSql(coarseSeed: String,
      fineSeed: String): String =
    "WITH " + ivfPqAdcCtes(coarseSeed, fineSeed) +
    """,
      |short AS (
      |  SELECT query_id, vec_id, adc_dist FROM (
      |    SELECT query_id, vec_id, adc_dist, row_number() OVER (
      |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
      |    FROM adc)
      |  WHERE rn <= 20),
      |sel AS (
      |  SELECT short.query_id, short.vec_id, adc_dist,
      |    round(list_distance(e2.v, q.qv), 6) AS dist
      |  FROM short JOIN e2 ON e2.vec_id = short.vec_id
      |  JOIN qs4 q ON q.query_id = short.query_id)
      |SELECT query_id, vec_id, adc_dist, dist, CAST(rn AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (
      |  PARTITION BY query_id ORDER BY dist, vec_id) AS rn FROM sel)
      |WHERE rn <= 5
      |ORDER BY query_id, rank""".stripMargin

  // Parameterized PQ-training replay: trains m×ksub codebooks of dsub dims
  // over `src` (a CTE with columns vec_id, v DOUBLE[]) — md5('<seed>:'||id)
  // seed order, one rounded Lloyd refinement, keep-previous empty cells,
  // final `codes` assignment — mirroring ProductQuantization
  // .trainCodebooks / assignCodes handoff-for-handoff. CTE names carry
  // prefix `p` so two trainings (plain + residual, q162) coexist in one
  // WITH chain; the unprefixed chain is the original q127/q132 text.
  private[queries] def pqTrainBody(src: String, seed: String, m: Int,
      dsub: Int, ksub: Int, p: String = ""): String =
    s"""${p}sp AS (SELECT unnest(range(0, $m)) AS s),
       |${p}ii AS (SELECT unnest(range(1, ${dsub + 1})) AS i),
       |${p}sub AS (
       |  SELECT vec_id, s, v[s*$dsub+1 : s*$dsub+$dsub] AS sv
       |  FROM $src CROSS JOIN ${p}sp),
       |${p}seeds AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, CAST(row_number() OVER (
       |      ORDER BY md5('$seed:'||CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS cid
       |    FROM $src) WHERE cid <= $ksub),
       |${p}c0 AS (
       |  SELECT b.s, d.cid, b.sv AS cent
       |  FROM ${p}sub b JOIN ${p}seeds d USING (vec_id)),
       |${p}a0 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY round(list_distance(b.sv, c.cent), 6), c.cid) AS rn
       |    FROM ${p}sub b JOIN ${p}c0 c USING (s))
       |  WHERE rn = 1),
       |${p}m1 AS (
       |  SELECT s, cid, i, round(avg(sv[i]) + 1e-9, 6) AS mv
       |  FROM (SELECT b.s, a.cid, b.sv, unnest(range(1, ${dsub + 1})) AS i
       |        FROM ${p}sub b JOIN ${p}a0 a USING (vec_id, s))
       |  GROUP BY s, cid, i),
       |${p}c1 AS (
       |  SELECT c.s, c.cid,
       |    list(coalesce(m.mv, c.cent[x.i]) ORDER BY x.i) AS cent
       |  FROM ${p}c0 c CROSS JOIN ${p}ii x
       |  LEFT JOIN ${p}m1 m ON m.s = c.s AND m.cid = c.cid AND m.i = x.i
       |  GROUP BY c.s, c.cid),
       |${p}codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY round(list_distance(b.sv, c.cent), 6), c.cid) AS rn
       |    FROM ${p}sub b JOIN ${p}c1 c USING (s))
       |  WHERE rn = 1)""".stripMargin

  // Shared PQ-training replay (q127/q132/q135/q138): m=8, ksub=16, one
  // Lloyd round, md5('pq:'-ordered seeds — ends with `codes` (per-vector
  // per-subspace cids), `q` (the vec_id-0 query), and `lut` (the query's
  // rounded squared-l2 ADC table).
  private[queries] val pqTrainSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |""".stripMargin + pqTrainBody("e", "pq", 8, 8, 16) +
    """,
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |lut AS (
      |  SELECT c1.s, c1.cid,
      |    round(sum(power(qv[c1.s*8 + ii.i] - c1.cent[ii.i], 2)) + 1e-9, 6) AS d
      |  FROM c1 CROSS JOIN ii CROSS JOIN q
      |  GROUP BY c1.s, c1.cid)""".stripMargin

  /** The q236 oracle's rounded explicit cosine (index-order list fold —
    * the cosine_sim accumulation replayed in SQL). */
  private def mmrCos(a: String, b: String): String =
    s"round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x*x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x*x)))) + 1e-9, 6)"

  /** Greedy MMR replayed as k generated MATERIALIZED layers (the q203
    * iterative-oracle precedent): layer t picks the score-argmax among
    * shortlist rows not yet selected, with the redundancy penalty the
    * max ROUNDED cosine against the running selection. */
  private def mmrOracle(m: Int, k: Int): String = {
    val layers = (2 to k).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.rel, 0.5 * c.rel - 0.5 * c.div AS score
         |  FROM (
         |    SELECT s.vec_id, s.v, s.rel,
         |      (SELECT max(${mmrCos("s.v", "p.v")}) FROM sel${t - 1} p) AS div
         |    FROM s
         |    WHERE s.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})) c
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (
         |  SELECT vec_id, v, rel, score, rnk FROM sel${t - 1}
         |  UNION ALL SELECT vec_id, v, rel, score, $t AS rnk FROM p$t),""".stripMargin
    }.mkString("\n")
    s"""WITH q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |  WHERE vec_id = 0),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id <> 0),
       |s AS MATERIALIZED (
       |  SELECT vec_id, v, ${mmrCos("v", "qv")} AS rel
       |  FROM e CROSS JOIN q
       |  ORDER BY rel DESC, vec_id LIMIT $m),
       |p1 AS MATERIALIZED (
       |  SELECT vec_id, v, rel, 0.5 * rel - 0.5 * 0.0 AS score
       |  FROM s ORDER BY score DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, v, rel, score, 1 AS rnk FROM p1),
       |$layers
       |fin AS (SELECT * FROM sel$k)
       |SELECT CAST(rnk AS BIGINT) AS rank, vec_id,
       |  rel, round(score + 1e-9, 6) AS mmr
       |FROM fin
       |ORDER BY rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q236_mmr_select" -> mmrOracle(m = 50, k = 10),

    "q223_embed_diversity" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nrm AS (
        |  SELECT label, v,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) AS nm
        |  FROM e),
        |u AS (
        |  SELECT label, list_transform(v, x -> x/nm) AS uv FROM nrm),
        |d AS (
        |  SELECT label, CAST(i AS BIGINT) AS dim, uv[i+1] AS x
        |  FROM (SELECT label, uv, unnest(range(0, len(uv))) AS i FROM u)),
        |s AS (SELECT label, dim, sum(x) AS sv FROM d GROUP BY label, dim),
        |ss AS (SELECT label, sum(sv*sv) AS ssq FROM s GROUP BY label),
        |c AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY label)
        |SELECT c.label AS label, c.n AS n,
        |  CASE WHEN c.n > 1 THEN
        |    round((ssq - n) / (n * (n - 1)) + 1e-9, 6)
        |  END AS avg_cos
        |FROM c JOIN ss ON c.label = ss.label
        |ORDER BY c.label""".stripMargin,

    "q156_label_centroids" ->
      """WITH pos AS (
        |  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT label, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |cent AS (
        |  SELECT label, pos, round(avg(x) + 1e-9, 6) AS c
        |  FROM pos GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    sum(a.c * b.c) AS dot, sum(a.c * a.c) AS na, sum(b.c * b.c) AS nb
        |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT CAST(la AS BIGINT) AS la, CAST(lb AS BIGINT) AS lb,
        |  round(dot / (sqrt(na) * sqrt(nb)) + 1e-9, 6) AS cos
        |FROM pr
        |ORDER BY la, lb""".stripMargin,

    // Rank-eval replay: the q126 chain with ranks kept, then the three
    // metrics — exact recall division, exact 1/rank RR, ln-parity DCG
    // terms with rounded per-query sums, nDCG over the rounded pair.
    "q250_rank_eval" -> {
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS c
         |  FROM embeddings),
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qv, c AS qc
         |  FROM coded WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id, e.c, q.qc,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.qv AS DOUBLE[])), 6) AS score
         |  FROM coded e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |exact AS (
         |  SELECT query_id, vec_id, CAST(rn AS BIGINT) AS r FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 10),
         |probe AS (
         |  SELECT query_id, vec_id, CAST(rn AS BIGINT) AS r FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored
         |    WHERE bit_count(xor(CAST(c AS BIGINT), CAST(qc AS BIGINT))) <= 1)
         |  WHERE rn <= 10),
         |gst AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_gold,
         |    round(sum((10 + 1 - r) * ln(2) / ln(r + 1)) + 1e-9, 6) AS idcg
         |  FROM exact GROUP BY query_id),
         |j AS (
         |  SELECT p.query_id, p.r AS sr, e.r AS gr
         |  FROM probe p LEFT JOIN exact e
         |    ON e.query_id = p.query_id AND e.vec_id = p.vec_id),
         |sst AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN gr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hit,
         |    round(sum(CASE WHEN gr IS NOT NULL
         |        THEN (10 + 1 - gr) * ln(2) / ln(sr + 1)
         |        ELSE 0.0 END) + 1e-9, 6) AS dcg,
         |    max(CASE WHEN gr = 1 THEN sr END) AS top1r
         |  FROM j GROUP BY query_id)
         |SELECT g.query_id, g.n_gold,
         |  CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(s.n_hit, 0) AS DOUBLE) / g.n_gold AS recall,
         |  coalesce(CAST(1 AS DOUBLE) / s.top1r, 0.0) AS rr,
         |  coalesce(s.dcg, 0.0) AS dcg, g.idcg,
         |  round(coalesce(s.dcg, 0.0) / g.idcg + 1e-9, 6) AS ndcg
         |FROM gst g LEFT JOIN sst s USING (query_id)
         |ORDER BY query_id""".stripMargin
    },

    "q291_recall_curve" -> {
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS c
         |  FROM embeddings),
         |qs AS (
         |  SELECT vec_id AS qid, embedding AS qv, c AS qc
         |  FROM coded WHERE vec_id < 5),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qs),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.qv AS DOUBLE[])), 6) AS score,
         |    bit_count(xor(CAST(e.c AS BIGINT), CAST(q.qc AS BIGINT))) AS d
         |  FROM coded e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
         |gold AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 10),
         |fanned AS (
         |  SELECT qid, vec_id, score, unnest(range(CAST(d AS BIGINT), 4))
         |    AS radius
         |  FROM scored WHERE d <= 3),
         |probe AS (
         |  SELECT qid, vec_id, radius FROM (
         |    SELECT qid, vec_id, radius, row_number() OVER (
         |      PARTITION BY qid, radius ORDER BY score DESC, vec_id) AS rn
         |    FROM fanned) WHERE rn <= 10),
         |cand AS (SELECT radius, CAST(count(*) AS BIGINT) AS n_candidates
         |         FROM fanned GROUP BY 1),
         |hit AS (
         |  SELECT p.radius, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM probe p JOIN gold g
         |    ON g.qid = p.qid AND g.vec_id = p.vec_id
         |  GROUP BY 1),
         |radii AS (SELECT unnest(range(0, 4)) AS radius)
         |SELECT CAST(r.radius AS BIGINT) AS radius,
         |  CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |    / CAST(nq.n * 10 AS DOUBLE) AS recall
         |FROM radii r CROSS JOIN nq
         |LEFT JOIN cand c ON c.radius = r.radius
         |LEFT JOIN hit h ON h.radius = r.radius
         |ORDER BY radius""".stripMargin
    },

    "q126_probe_recall" -> {
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS c
         |  FROM embeddings),
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qv, c AS qc
         |  FROM coded WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id, e.c, q.qc,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.qv AS DOUBLE[])), 6) AS score
         |  FROM coded e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 10),
         |probe AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored
         |    WHERE bit_count(xor(CAST(c AS BIGINT), CAST(qc AS BIGINT))) <= 1)
         |  WHERE rn <= 10),
         |h AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN probe p
         |    ON e.query_id = p.query_id AND e.vec_id = p.vec_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(COALESCE(h.n_hit, 0) / 10.0 + 1e-9, 2) AS recall
         |FROM qs q LEFT JOIN h USING (query_id)
         |ORDER BY query_id""".stripMargin
    },

    "q124_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |init AS (
        |  SELECT cid, cent FROM (
        |    SELECT v AS cent, CAST(row_number() OVER (
        |      ORDER BY md5('km:'||CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid
        |    FROM e)
        |  WHERE cid <= 8),
        |a0 AS (
        |  SELECT vec_id, cid, round(list_distance(v, cent), 6) AS d
        |  FROM e CROSS JOIN init),
        |c0 AS (
        |  SELECT vec_id, cid AS c_init FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM a0)
        |  WHERE rn = 1),
        |dims AS (
        |  SELECT c_init, i, v[i] AS val
        |  FROM (SELECT e.vec_id, v, c_init, unnest(range(1, len(v) + 1)) AS i
        |        FROM e JOIN c0 USING (vec_id))),
        |means AS (
        |  SELECT c_init AS cid, i, round(avg(val) + 1e-9, 6) AS m
        |  FROM dims GROUP BY c_init, i),
        |cents1 AS (
        |  SELECT cid, list(m ORDER BY i) AS cent FROM means GROUP BY cid),
        |a1 AS (
        |  SELECT vec_id, cid, round(list_distance(v, cent), 6) AS d
        |  FROM e CROSS JOIN cents1),
        |c1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM a1)
        |  WHERE rn = 1),
        |cand AS (SELECT c1.vec_id, c1.cid, e.v FROM c1 JOIN e USING (vec_id)),
        |sz AS (SELECT cid, count(*) AS n FROM cand GROUP BY cid),
        |prs AS (
        |  SELECT a.cid, b.vec_id AS b_id
        |  FROM cand a JOIN cand b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN sz ON sz.cid = a.cid AND sz.n <= 1000
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |dc AS (SELECT cid, count(DISTINCT b_id) AS nd FROM prs GROUP BY cid)
        |SELECT cid, sz.n - COALESCE(dc.nd, 0) AS n_kept,
        |  COALESCE(dc.nd, 0) AS n_dropped
        |FROM sz LEFT JOIN dc USING (cid)
        |ORDER BY cid""".stripMargin,

    "q123_label_separation" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, label, v[i] AS val, i
        |      FROM (SELECT vec_id, label, v, unnest(range(1, len(v) + 1)) AS i FROM e)),
        |mul AS (
        |  SELECT label, i, round(avg(val) + 1e-9, 6) AS m
        |  FROM x GROUP BY label, i),
        |mug AS (SELECT i, round(avg(val) + 1e-9, 6) AS g FROM x GROUP BY i),
        |n AS (SELECT label, count(*) AS n FROM e GROUP BY label),
        |w AS (
        |  SELECT x.label, sum((val - m) * (val - m)) AS w
        |  FROM x JOIN mul ON x.label = mul.label AND x.i = mul.i
        |  GROUP BY x.label),
        |btw AS (
        |  SELECT mul.label, sum((m - g) * (m - g)) AS b
        |  FROM mul JOIN mug ON mul.i = mug.i
        |  GROUP BY mul.label)
        |SELECT CAST(n.label AS BIGINT) AS label, n.n AS n,
        |  round(w.w + 1e-9, 4) AS within_scatter,
        |  round(n.n * btw.b + 1e-9, 4) AS between_scatter
        |FROM n JOIN w ON n.label = w.label JOIN btw ON n.label = btw.label
        |ORDER BY label""".stripMargin,

    "q109_projection" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e),
        |terms AS (
        |  SELECT vec_id, i, j, v[i] *
        |    (CASE WHEN CAST(('0x'||substring(md5(
        |        'rp:'||CAST(i - 1 AS VARCHAR)||':'||CAST(j AS VARCHAR)), 1, 1))
        |      AS INTEGER) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS t
        |  FROM x, (SELECT unnest(range(0, 8)) AS j))
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  round(sum(t) / sqrt(8.0), 6) AS p
        |FROM terms
        |GROUP BY vec_id, j
        |ORDER BY vec_id, j""".stripMargin,

    "q111_project_probe" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e),
        |terms AS (
        |  SELECT vec_id, i, j, v[i] *
        |    (CASE WHEN CAST(('0x'||substring(md5(
        |        'rp:'||CAST(i - 1 AS VARCHAR)||':'||CAST(j AS VARCHAR)), 1, 1))
        |      AS INTEGER) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS t
        |  FROM x, (SELECT unnest(range(0, 16)) AS j)),
        |proj AS (
        |  SELECT vec_id, j, round(sum(t) / sqrt(16.0), 6) AS p
        |  FROM terms GROUP BY vec_id, j),
        |bkt AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN p > 0.0
        |    THEN CAST(round(pow(2, j)) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
        |  FROM proj WHERE j < 4 GROUP BY vec_id),
        |qb AS (SELECT b FROM bkt WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.v FROM e JOIN bkt USING (vec_id), qb
        |  WHERE bkt.b = qb.b)
        |SELECT c.vec_id,
        |  round(list_cosine_similarity(c.v, q.v), 6) AS score
        |FROM cand c, (SELECT v FROM e WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q110_standardize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e),
        |stats AS (
        |  SELECT i, round(avg(v[i]) + 1e-9, 6) AS m,
        |    round(stddev_samp(v[i]) + 1e-9, 6) AS s
        |  FROM x GROUP BY i),
        |z AS (
        |  SELECT vec_id,
        |    round(CASE WHEN s = 0 THEN v[i] - m
        |               ELSE (v[i] - m) / s END, 6) AS zi
        |  FROM x JOIN stats USING (i))
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS dim,
        |  round(sqrt(sum(zi * zi)), 6) AS z_norm
        |FROM z
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,

    // generated k-layer greedy: s_i = the point maximizing the rounded
    // min-distance to s_1..s_{i-1} (id tie-break) — mirrors
    // VectorIndex.farthestPointSample round for round
    "q108_kcenter" -> {
      val sb = new StringBuilder
      sb ++= "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
      sb ++= "s1 AS (SELECT vec_id, v FROM e ORDER BY md5('kc:'||CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)"
      for (i <- 2 to 8) {
        val prev = (1 until i).map(j => s"s$j")
        val ds = prev.map(p => s"round(list_distance(e.v, $p.v), 6)")
        val minExpr =
          if (ds.size == 1) ds.head else s"least(${ds.mkString(", ")})"
        sb ++= s",\ns$i AS (SELECT e.vec_id, e.v FROM e, ${prev.mkString(", ")} " +
          s"ORDER BY $minExpr DESC, e.vec_id LIMIT 1)"
      }
      sb ++= "\n" + (1 to 8)
        .map(i => s"SELECT CAST($i AS BIGINT) AS rank, vec_id FROM s$i")
        .mkString(" UNION ALL ")
      sb ++= "\nORDER BY rank"
      sb.toString
    },

    "q128_batch_probe" -> {
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS c
         |  FROM embeddings),
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qv, c AS qc
         |  FROM coded WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.qv AS DOUBLE[])) AS raw
         |  FROM coded e CROSS JOIN qs q
         |  WHERE bit_count(xor(CAST(e.c AS BIGINT), CAST(q.qc AS BIGINT))) <= 1),
         |r AS (
         |  SELECT query_id, vec_id, raw, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY raw DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, round(raw, 6) AS score, rank
         |FROM r WHERE rank <= 5 AND vec_id <> query_id
         |ORDER BY query_id, rank""".stripMargin
    },

    "q127_pq_probe" -> (pqTrainSql +
      """,
        |adc AS (
        |  SELECT codes.vec_id, round(sum(lut.d) + 1e-9, 6) AS adc_dist
        |  FROM codes JOIN lut USING (s, cid)
        |  WHERE codes.vec_id <> 0
        |  GROUP BY codes.vec_id),
        |short AS (
        |  SELECT vec_id, adc_dist FROM (
        |    SELECT vec_id, adc_dist, row_number() OVER (
        |      ORDER BY adc_dist, vec_id) AS rn FROM adc)
        |  WHERE rn <= 50)
        |SELECT short.vec_id, adc_dist,
        |  round(list_distance(e.v, q.qv), 6) AS dist
        |FROM short JOIN e USING (vec_id) CROSS JOIN q
        |ORDER BY dist, short.vec_id
        |LIMIT 10""".stripMargin),

    "q132_ivf_pq" -> (pqTrainSql +
      s""",
         |bk AS (SELECT vec_id, ${duckBucket("embedding")} AS c FROM embeddings),
         |qb AS (SELECT c FROM bk WHERE vec_id = 0),
         |adc AS (
         |  SELECT codes.vec_id, round(sum(lut.d) + 1e-9, 6) AS adc_dist
         |  FROM codes JOIN lut USING (s, cid)
         |  JOIN bk ON bk.vec_id = codes.vec_id CROSS JOIN qb
         |  WHERE codes.vec_id <> 0
         |    AND bit_count(xor(CAST(bk.c AS BIGINT), CAST(qb.c AS BIGINT))) <= 1
         |  GROUP BY codes.vec_id),
         |short AS (
         |  SELECT vec_id, adc_dist FROM (
         |    SELECT vec_id, adc_dist, row_number() OVER (
         |      ORDER BY adc_dist, vec_id) AS rn FROM adc)
         |  WHERE rn <= 50)
         |SELECT short.vec_id, adc_dist,
         |  round(list_distance(e.v, q.qv), 6) AS dist
         |FROM short JOIN e USING (vec_id) CROSS JOIN q
         |ORDER BY dist, short.vec_id
         |LIMIT 10""".stripMargin),

    "q138_pq_recall" -> (pqTrainSql +
      s""",
         |qs2 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |lutb AS (
         |  SELECT qs2.query_id, c1.s, c1.cid,
         |    round(sum(power(qv[c1.s*8 + ii.i] - c1.cent[ii.i], 2)) + 1e-9, 6) AS d
         |  FROM c1 CROSS JOIN ii CROSS JOIN qs2
         |  GROUP BY qs2.query_id, c1.s, c1.cid),
         |bk AS (SELECT vec_id, ${duckBucket("embedding")} AS c FROM embeddings),
         |scored AS (
         |  SELECT qs2.query_id, e.vec_id,
         |    round(list_distance(e.v, qs2.qv), 6) AS l2
         |  FROM e CROSS JOIN qs2 WHERE e.vec_id <> qs2.query_id),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM scored)
         |  WHERE rn <= 10),
         |adc AS (
         |  SELECT lutb.query_id, codes.vec_id,
         |    round(sum(lutb.d) + 1e-9, 6) AS adc_dist
         |  FROM codes
         |  JOIN lutb ON lutb.s = codes.s AND lutb.cid = codes.cid
         |  JOIN bk ON bk.vec_id = codes.vec_id
         |  JOIN bk qb ON qb.vec_id = lutb.query_id
         |  WHERE codes.vec_id <> lutb.query_id
         |    AND bit_count(xor(CAST(bk.c AS BIGINT), CAST(qb.c AS BIGINT))) <= 1
         |  GROUP BY lutb.query_id, codes.vec_id),
         |sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn FROM adc)
         |  WHERE rn <= 50),
         |probe AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id, row_number() OVER (
         |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
         |    FROM scored s JOIN sl USING (query_id, vec_id))
         |  WHERE rn <= 10),
         |hits AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM exact JOIN probe USING (query_id, vec_id)
         |  GROUP BY query_id)
         |SELECT qs2.query_id, coalesce(hits.n_hit, 0) AS n_hit,
         |  round(coalesce(hits.n_hit, 0) / 10.0 + 1e-9, 2) AS recall
         |FROM qs2 LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin),

    "q135_pq_batch" -> (pqTrainSql +
      s""",
         |qs2 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         |lutb AS (
         |  SELECT qs2.query_id, c1.s, c1.cid,
         |    round(sum(power(qv[c1.s*8 + ii.i] - c1.cent[ii.i], 2)) + 1e-9, 6) AS d
         |  FROM c1 CROSS JOIN ii CROSS JOIN qs2
         |  GROUP BY qs2.query_id, c1.s, c1.cid),
         |bk AS (SELECT vec_id, ${duckBucket("embedding")} AS c FROM embeddings),
         |adc AS (
         |  SELECT lutb.query_id, codes.vec_id,
         |    round(sum(lutb.d) + 1e-9, 6) AS adc_dist
         |  FROM codes
         |  JOIN lutb ON lutb.s = codes.s AND lutb.cid = codes.cid
         |  JOIN bk ON bk.vec_id = codes.vec_id
         |  JOIN bk qb ON qb.vec_id = lutb.query_id
         |  WHERE bit_count(xor(CAST(bk.c AS BIGINT), CAST(qb.c AS BIGINT))) <= 1
         |  GROUP BY lutb.query_id, codes.vec_id),
         |short AS (
         |  SELECT query_id, vec_id, adc_dist FROM (
         |    SELECT query_id, vec_id, adc_dist, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= 20),
         |sel AS (
         |  SELECT short.query_id, short.vec_id, adc_dist,
         |    round(list_distance(e.v, qs2.qv), 6) AS dist
         |  FROM short JOIN e ON e.vec_id = short.vec_id
         |  JOIN qs2 ON qs2.query_id = short.query_id)
         |SELECT query_id, vec_id, adc_dist, dist, CAST(rn AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, vec_id) AS rn FROM sel)
         |WHERE rn <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // Residual IVF×PQ replay: cell centroids (rounded per-(cell, dim)
    // means), exact-double residuals, the rpq-seeded training on the
    // residual vectors, per-probed-cell LUTs ((q − cellcent) − codecent,
    // the same left-to-right subtraction order as adcTableD), ADC sums
    // over each row's OWN cell's table, shortlist 50, exact-l2 rerank.
    "q161_residual_pq" -> (
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (SELECT vec_id, ${duckBucket("embedding")} AS c FROM embeddings),
         |dd AS (SELECT unnest(range(1, 65)) AS i),
         |cc AS (
         |  SELECT bk.c, dd.i, round(avg(e.v[dd.i]) + 1e-9, 6) AS m
         |  FROM e JOIN bk USING (vec_id) CROSS JOIN dd
         |  GROUP BY bk.c, dd.i),
         |rv AS (
         |  SELECT e.vec_id, list(e.v[dd.i] - cc.m ORDER BY dd.i) AS v
         |  FROM e JOIN bk USING (vec_id) CROSS JOIN dd
         |  JOIN cc ON cc.c = bk.c AND cc.i = dd.i
         |  GROUP BY e.vec_id),
         |""".stripMargin + pqTrainBody("rv", "rpq", 8, 8, 16) +
      """,
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |qb AS (SELECT c FROM bk WHERE vec_id = 0),
        |probed AS (
        |  SELECT DISTINCT bk.c FROM bk CROSS JOIN qb
        |  WHERE bit_count(xor(CAST(bk.c AS BIGINT), CAST(qb.c AS BIGINT))) <= 1),
        |lutr AS (
        |  SELECT pc.c, c1.s, c1.cid,
        |    round(sum(power(q.qv[c1.s*8 + ii.i] - cc.m - c1.cent[ii.i], 2))
        |      + 1e-9, 6) AS d
        |  FROM probed pc CROSS JOIN c1 CROSS JOIN ii CROSS JOIN q
        |  JOIN cc ON cc.c = pc.c AND cc.i = c1.s*8 + ii.i
        |  GROUP BY pc.c, c1.s, c1.cid),
        |adc AS (
        |  SELECT k.vec_id, round(sum(l.d) + 1e-9, 6) AS adc_dist
        |  FROM codes k JOIN bk ON bk.vec_id = k.vec_id
        |  JOIN lutr l ON l.c = bk.c AND l.s = k.s AND l.cid = k.cid
        |  WHERE k.vec_id <> 0
        |  GROUP BY k.vec_id),
        |short AS (
        |  SELECT vec_id, adc_dist FROM (
        |    SELECT vec_id, adc_dist, row_number() OVER (
        |      ORDER BY adc_dist, vec_id) AS rn FROM adc)
        |  WHERE rn <= 50)
        |SELECT short.vec_id, adc_dist,
        |  round(list_distance(e.v, q.qv), 6) AS dist
        |FROM short JOIN e USING (vec_id) CROSS JOIN q
        |ORDER BY dist, short.vec_id
        |LIMIT 10""".stripMargin),

    // Clustered-fixture recall replay: fixture vectors are exact dyadic
    // rationals (center bit-pattern ±0.5 for dims < 8, md5-sign ±0.5
    // otherwise, plus 16-bit md5 noise × 0.25) so components carry NO
    // rounding; then sign buckets, plain fpq training on the vectors,
    // cell centroids → residuals → frq training, per-query LUTs for
    // both paths (plain: q − codecent; residual: (q − cellcent) −
    // codecent), single-cell (radius 0) shortlists of 50, exact-l2
    // top-10s, and both recall columns.
    "q162_fixture_recall" -> {
      val ctr = (0 until 16).map { d =>
        if (d < 8)
          s"CASE WHEN ((CAST(j AS BIGINT) >> $d) & 1) = 1 THEN 0.5 ELSE -0.5 END"
        else
          s"""CASE WHEN CAST(('0x'||substring(md5('cfx:'||CAST(j AS VARCHAR)||':$d:0'), 1, 1)) AS INTEGER) % 2 = 0 THEN 0.5 ELSE -0.5 END"""
      }.zipWithIndex
        .map { case (e, d) => s"SELECT j, $d AS d, $e AS cv" }
        .mkString("(", " FROM jj UNION ALL ", " FROM jj)")
      val fvBucket = (0 until 8)
        .map(i => s"(CASE WHEN v[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH jj AS (SELECT unnest(range(0, 8)) AS j),
         |ctr AS (SELECT j, d, cv FROM $ctr),
         |fx AS (SELECT vec_id, vec_id % 8 AS j FROM embeddings),
         |fv AS (
         |  SELECT f.vec_id, list(ctr.cv +
         |    (CAST(('0x'||substring(md5('cfn:'||CAST(f.vec_id AS VARCHAR)||':'||CAST(ctr.d AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0 - 0.5) * 0.25
         |    ORDER BY ctr.d) AS v
         |  FROM fx f JOIN ctr ON ctr.j = f.j
         |  GROUP BY f.vec_id),
         |bk2 AS (SELECT vec_id, $fvBucket AS c FROM fv),
         |dd2 AS (SELECT unnest(range(1, 17)) AS i),
         |cc2 AS (
         |  SELECT bk2.c, dd2.i, round(avg(fv.v[dd2.i]) + 1e-9, 6) AS m
         |  FROM fv JOIN bk2 USING (vec_id) CROSS JOIN dd2
         |  GROUP BY bk2.c, dd2.i),
         |rv2 AS (
         |  SELECT fv.vec_id, list(fv.v[dd2.i] - cc2.m ORDER BY dd2.i) AS v
         |  FROM fv JOIN bk2 USING (vec_id) CROSS JOIN dd2
         |  JOIN cc2 ON cc2.c = bk2.c AND cc2.i = dd2.i
         |  GROUP BY fv.vec_id),
         |""".stripMargin +
      pqTrainBody("fv", "fpq", 8, 2, 16, "p") + ",\n" +
      pqTrainBody("rv2", "frq", 8, 2, 16, "r") +
      """,
        |qs3 AS (
        |  SELECT fv.vec_id AS query_id, fv.v AS qv, bk2.c AS qc
        |  FROM fv JOIN bk2 USING (vec_id) WHERE fv.vec_id < 5),
        |sc AS (
        |  SELECT q.query_id, f.vec_id, b.c, q.qc,
        |    round(list_distance(f.v, q.qv), 6) AS l2
        |  FROM fv f JOIN bk2 b USING (vec_id) CROSS JOIN qs3 q
        |  WHERE f.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM sc)
        |  WHERE rn <= 10),
        |lutp AS (
        |  SELECT q.query_id, c.s, c.cid,
        |    round(sum(power(q.qv[c.s*2 + x.i] - c.cent[x.i], 2)) + 1e-9, 6) AS d
        |  FROM pc1 c CROSS JOIN pii x CROSS JOIN qs3 q
        |  GROUP BY q.query_id, c.s, c.cid),
        |lutr2 AS (
        |  SELECT q.query_id, c.s, c.cid,
        |    round(sum(power(q.qv[c.s*2 + x.i] - cc2.m - c.cent[x.i], 2))
        |      + 1e-9, 6) AS d
        |  FROM rc1 c CROSS JOIN rii x CROSS JOIN qs3 q
        |  JOIN cc2 ON cc2.c = q.qc AND cc2.i = c.s*2 + x.i
        |  GROUP BY q.query_id, c.s, c.cid),
        |adcp AS (
        |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
        |  FROM pcodes k
        |  JOIN bk2 b ON b.vec_id = k.vec_id
        |  JOIN qs3 q ON q.qc = b.c AND q.query_id <> k.vec_id
        |  JOIN lutp l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
        |  GROUP BY q.query_id, k.vec_id),
        |adcr AS (
        |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
        |  FROM rcodes k
        |  JOIN bk2 b ON b.vec_id = k.vec_id
        |  JOIN qs3 q ON q.qc = b.c AND q.query_id <> k.vec_id
        |  JOIN lutr2 l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
        |  GROUP BY q.query_id, k.vec_id),
        |slp AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adcp)
        |  WHERE rn <= 20),
        |slr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adcr)
        |  WHERE rn <= 20),
        |prp AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, s.vec_id, row_number() OVER (
        |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
        |    FROM sc s JOIN slp USING (query_id, vec_id))
        |  WHERE rn <= 10),
        |prr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, s.vec_id, row_number() OVER (
        |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
        |    FROM sc s JOIN slr USING (query_id, vec_id))
        |  WHERE rn <= 10),
        |hp AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ex JOIN prp USING (query_id, vec_id) GROUP BY query_id),
        |hr AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ex JOIN prr USING (query_id, vec_id) GROUP BY query_id)
        |SELECT q.query_id, coalesce(hp.n, 0) AS n_hit_plain,
        |  round(coalesce(hp.n, 0) / 10.0 + 1e-9, 2) AS recall_plain,
        |  coalesce(hr.n, 0) AS n_hit_res,
        |  round(coalesce(hr.n, 0) / 10.0 + 1e-9, 2) AS recall_res
        |FROM qs3 q
        |LEFT JOIN hp USING (query_id) LEFT JOIN hr USING (query_id)
        |ORDER BY query_id""".stripMargin
    },

    // OPQ fixture replay: latent per-pair clusters (2-bit md5 choice →
    // ±0.5 centers, 16-bit md5 noise × 0.25, all exact dyadic — NO
    // rounding), Hadamard mixture fv = (H/4)·lat as 16 literal ±0.25
    // term-sums (exact), the rotation rv = round((H/4)·fv + 1e-9, 6)
    // (mirrors opqRotate's output rounding), both PQ trainings, per-arm
    // LUTs, flat 20-shortlists, exact-l2 top-10s on fv, both recalls.
    "q165_opq_recall" -> {
      s"""WITH $opqFixtureSql,
         |""".stripMargin +
      pqTrainBody("fv", "oqp", 8, 2, 16, "p") + ",\n" +
      pqTrainBody("rv", "oqr", 8, 2, 16, "r") +
      """,
        |qs3 AS (
        |  SELECT f.vec_id AS query_id, f.v AS qv, r.v AS rqv
        |  FROM fv f JOIN rv r USING (vec_id) WHERE f.vec_id < 5),
        |sc AS (
        |  SELECT q.query_id, f.vec_id,
        |    round(list_distance(f.v, q.qv), 6) AS l2
        |  FROM fv f CROSS JOIN qs3 q WHERE f.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM sc)
        |  WHERE rn <= 10),
        |lutp AS (
        |  SELECT q.query_id, c.s, c.cid,
        |    round(sum(power(q.qv[c.s*2 + x.i] - c.cent[x.i], 2)) + 1e-9, 6) AS d
        |  FROM pc1 c CROSS JOIN pii x CROSS JOIN qs3 q
        |  GROUP BY q.query_id, c.s, c.cid),
        |lutr2 AS (
        |  SELECT q.query_id, c.s, c.cid,
        |    round(sum(power(q.rqv[c.s*2 + x.i] - c.cent[x.i], 2)) + 1e-9, 6) AS d
        |  FROM rc1 c CROSS JOIN rii x CROSS JOIN qs3 q
        |  GROUP BY q.query_id, c.s, c.cid),
        |adcp AS (
        |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
        |  FROM pcodes k CROSS JOIN qs3 q
        |  JOIN lutp l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
        |  WHERE k.vec_id <> q.query_id
        |  GROUP BY q.query_id, k.vec_id),
        |adcr AS (
        |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
        |  FROM rcodes k CROSS JOIN qs3 q
        |  JOIN lutr2 l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
        |  WHERE k.vec_id <> q.query_id
        |  GROUP BY q.query_id, k.vec_id),
        |slp AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adcp)
        |  WHERE rn <= 20),
        |slr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adcr)
        |  WHERE rn <= 20),
        |prp AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, s.vec_id, row_number() OVER (
        |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
        |    FROM sc s JOIN slp USING (query_id, vec_id))
        |  WHERE rn <= 10),
        |prr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, s.vec_id, row_number() OVER (
        |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
        |    FROM sc s JOIN slr USING (query_id, vec_id))
        |  WHERE rn <= 10),
        |hp AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ex JOIN prp USING (query_id, vec_id) GROUP BY query_id),
        |hr AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ex JOIN prr USING (query_id, vec_id) GROUP BY query_id)
        |SELECT q.query_id, coalesce(hp.n, 0) AS n_hit_plain,
        |  round(coalesce(hp.n, 0) / 10.0 + 1e-9, 2) AS recall_plain,
        |  coalesce(hr.n, 0) AS n_hit_rot,
        |  round(coalesce(hr.n, 0) / 10.0 + 1e-9, 2) AS recall_rot
        |FROM qs3 q
        |LEFT JOIN hp USING (query_id) LEFT JOIN hr USING (query_id)
        |ORDER BY query_id""".stripMargin
    },

    // OPQ × IVF replay: the shared fixture chain, PQ training on the
    // ROTATED vectors, 4-bit sign buckets of rv as cells, per-query LUTs
    // from the rotated query, same-cell (radius 0) ADC shortlist 20,
    // exact-l2 top-10 on fv, recall.
    "q172_opq_ivf" -> {
      val bucket4 = (0 until 4)
        .map(i => s"(CASE WHEN v[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $opqFixtureSql,
         |""".stripMargin +
      pqTrainBody("rv", "oqi", 8, 2, 16, "r") +
      s""",
         |bk AS (SELECT vec_id, $bucket4 AS c FROM rv),
         |qs3 AS (
         |  SELECT f.vec_id AS query_id, f.v AS qv, r.v AS rqv, b.c AS qc
         |  FROM fv f JOIN rv r USING (vec_id) JOIN bk b USING (vec_id)
         |  WHERE f.vec_id < 5),
         |sc AS (
         |  SELECT q.query_id, f.vec_id,
         |    round(list_distance(f.v, q.qv), 6) AS l2
         |  FROM fv f CROSS JOIN qs3 q WHERE f.vec_id <> q.query_id),
         |ex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM sc)
         |  WHERE rn <= 10),
         |lutr2 AS (
         |  SELECT q.query_id, c.s, c.cid,
         |    round(sum(power(q.rqv[c.s*2 + x.i] - c.cent[x.i], 2)) + 1e-9, 6) AS d
         |  FROM rc1 c CROSS JOIN rii x CROSS JOIN qs3 q
         |  GROUP BY q.query_id, c.s, c.cid),
         |adc0 AS (
         |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
         |  FROM rcodes k
         |  JOIN bk b ON b.vec_id = k.vec_id
         |  JOIN qs3 q ON q.query_id <> k.vec_id
         |    AND bit_count(xor(CAST(b.c AS BIGINT), CAST(q.qc AS BIGINT))) <= 0
         |  JOIN lutr2 l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
         |  GROUP BY q.query_id, k.vec_id),
         |adc1 AS (
         |  SELECT q.query_id, k.vec_id, round(sum(l.d) + 1e-9, 6) AS ad
         |  FROM rcodes k
         |  JOIN bk b ON b.vec_id = k.vec_id
         |  JOIN qs3 q ON q.query_id <> k.vec_id
         |    AND bit_count(xor(CAST(b.c AS BIGINT), CAST(q.qc AS BIGINT))) <= 1
         |  JOIN lutr2 l ON l.query_id = q.query_id AND l.s = k.s AND l.cid = k.cid
         |  GROUP BY q.query_id, k.vec_id),
         |sl0 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adc0)
         |  WHERE rn <= 20),
         |sl1 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ad, vec_id) AS rn FROM adc1)
         |  WHERE rn <= 20),
         |pr0 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id, row_number() OVER (
         |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
         |    FROM sc s JOIN sl0 USING (query_id, vec_id))
         |  WHERE rn <= 10),
         |pr1 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id, row_number() OVER (
         |      PARTITION BY s.query_id ORDER BY s.l2, s.vec_id) AS rn
         |    FROM sc s JOIN sl1 USING (query_id, vec_id))
         |  WHERE rn <= 10),
         |h0 AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
         |  FROM ex JOIN pr0 USING (query_id, vec_id) GROUP BY query_id),
         |h1 AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n
         |  FROM ex JOIN pr1 USING (query_id, vec_id) GROUP BY query_id)
         |SELECT q.query_id, coalesce(h0.n, 0) AS n_hit_r0,
         |  round(coalesce(h0.n, 0) / 10.0 + 1e-9, 2) AS recall_r0,
         |  coalesce(h1.n, 0) AS n_hit_r1,
         |  round(coalesce(h1.n, 0) / 10.0 + 1e-9, 2) AS recall_r1
         |FROM qs3 q
         |LEFT JOIN h0 USING (query_id) LEFT JOIN h1 USING (query_id)
         |ORDER BY query_id""".stripMargin
    },

    // Kmeans-coarse IVFPQ replay: the coarse quantizer is literally the
    // PQ training body at m=1/dsub=64/ksub=8 (prefix k), residuals
    // subtract each row's own kc1 centroid, the fine training is the
    // standard body (prefix r), the probe ranks cells by rounded
    // Euclidean l2 with a cid tie-break (nprobe 2), and the per-cell
    // LUTs expand the query residual inline (qv − cellcent − subcent).
    "q169_kmeans_ivfpq" -> (
      s"""WITH e2 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |""".stripMargin +
      pqTrainBody("e2", "kvr", 1, 64, 8, "k") +
      """,
        |rv3 AS (
        |  SELECT e2.vec_id, list(e2.v[kii.i] - c.cent[kii.i] ORDER BY kii.i) AS v
        |  FROM e2 JOIN kcodes kc ON kc.vec_id = e2.vec_id
        |  JOIN kc1 c ON c.s = kc.s AND c.cid = kc.cid
        |  CROSS JOIN kii
        |  GROUP BY e2.vec_id),
        |""".stripMargin +
      pqTrainBody("rv3", "krq", 8, 8, 16, "r") +
      """,
        |q AS (SELECT v AS qv FROM e2 WHERE vec_id = 0),
        |probed AS (
        |  SELECT cid, cent FROM (
        |    SELECT c.cid, c.cent, row_number() OVER (
        |      ORDER BY round(list_distance(c.cent, q.qv), 6), c.cid) AS rn
        |    FROM kc1 c CROSS JOIN q) WHERE rn <= 2),
        |lutr AS (
        |  SELECT p.cid AS cell, c1.s, c1.cid,
        |    round(sum(power(q.qv[c1.s*8 + ii.i] - p.cent[c1.s*8 + ii.i]
        |      - c1.cent[ii.i], 2)) + 1e-9, 6) AS d
        |  FROM probed p CROSS JOIN rc1 c1 CROSS JOIN rii ii CROSS JOIN q
        |  GROUP BY p.cid, c1.s, c1.cid),
        |adc AS (
        |  SELECT k2.vec_id, round(sum(l.d) + 1e-9, 6) AS adc_dist
        |  FROM rcodes k2
        |  JOIN kcodes kc ON kc.vec_id = k2.vec_id
        |  JOIN lutr l ON l.cell = kc.cid AND l.s = k2.s AND l.cid = k2.cid
        |  WHERE k2.vec_id <> 0
        |  GROUP BY k2.vec_id),
        |short AS (
        |  SELECT vec_id, adc_dist FROM (
        |    SELECT vec_id, adc_dist, row_number() OVER (
        |      ORDER BY adc_dist, vec_id) AS rn FROM adc)
        |  WHERE rn <= 50)
        |SELECT short.vec_id, adc_dist,
        |  round(list_distance(e2.v, q.qv), 6) AS dist
        |FROM short JOIN e2 USING (vec_id) CROSS JOIN q
        |ORDER BY dist, short.vec_id
        |LIMIT 10""".stripMargin),

    // Batch kmeans-coarse IVFPQ replay: the q169 chain with 3 queries —
    // per-query nprobe=2 probed cells (rounded-l2 rank, cid tie-break),
    // per-(query, cell) residual LUTs, ADC restricted to each query's
    // probed cells via the LUT join itself, shortlist 20, exact-l2
    // rerank to rank <= 5. Self-matches included. Seed-parameterized:
    // q170 replays the raw-operator gate's seeds, q173 the reindex's.
    "q170_kmeans_batch" -> kmeansBatchSql("kvr", "krq"),

    "q106_kmeans_lloyd" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |init AS (
        |  SELECT cid, cent FROM (
        |    SELECT v AS cent, CAST(row_number() OVER (
        |      ORDER BY md5('km:'||CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid
        |    FROM e)
        |  WHERE cid <= 8),
        |a0 AS (
        |  SELECT vec_id, cid,
        |    round(list_distance(v, cent), 6) AS d
        |  FROM e CROSS JOIN init),
        |c0 AS (
        |  SELECT vec_id, cid AS c_init FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM a0)
        |  WHERE rn = 1),
        |dims AS (
        |  SELECT c_init, i, v[i] AS val
        |  FROM (SELECT e.vec_id, v, c_init, unnest(range(1, len(v) + 1)) AS i
        |        FROM e JOIN c0 USING (vec_id))),
        |means AS (
        |  SELECT c_init AS cid, i, round(avg(val) + 1e-9, 6) AS m
        |  FROM dims GROUP BY c_init, i),
        |cents1 AS (
        |  SELECT cid, list(m ORDER BY i) AS cent FROM means GROUP BY cid),
        |a1 AS (
        |  SELECT vec_id, cid,
        |    round(list_distance(v, cent), 6) AS d
        |  FROM e CROSS JOIN cents1),
        |c1 AS (
        |  SELECT vec_id, cid AS c_refined FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM a1)
        |  WHERE rn = 1)
        |SELECT vec_id, c_init, c_refined
        |FROM c0 JOIN c1 USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q20_knn_cosine" ->
      """SELECT e.vec_id AS vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q21_knn_l2" ->
      """SELECT e.vec_id AS vec_id,
        |  round(list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS dist
        |FROM embeddings e,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY dist ASC, vec_id
        |LIMIT 10""".stripMargin,

    "q22_knn_batch" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS query_vec
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) AS raw_score,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |                       ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) DESC, e.vec_id) AS BIGINT) AS rank
        |  FROM embeddings e CROSS JOIN q
        |)
        |SELECT query_id, vec_id, round(raw_score, 6) AS score, rank
        |FROM scored
        |WHERE rank <= 5 AND vec_id <> query_id
        |ORDER BY query_id, rank""".stripMargin,

    "q92_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS query_vec, label AS query_label
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, CAST(q.query_label AS BIGINT) AS query_label,
        |    e.vec_id, CAST(e.label AS BIGINT) AS label,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) AS raw_score,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |                       ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) DESC, e.vec_id) AS BIGINT) AS rank
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label <> q.query_label
        |)
        |SELECT query_id, query_label, vec_id, label, round(raw_score, 6) AS score, rank
        |FROM scored
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q23_ivf_probe" -> {
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS cluster_id
         |  FROM embeddings
         |), q AS (
         |  SELECT embedding AS q_emb, cluster_id AS q_cluster FROM coded WHERE vec_id = 0
         |)
         |SELECT e.vec_id AS vec_id,
         |  CAST(e.cluster_id AS BIGINT) AS cluster_id,
         |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 6) AS score
         |FROM coded e, q
         |WHERE e.vec_id <> 0
         |  AND bit_count(xor(CAST(e.cluster_id AS BIGINT), CAST(q.q_cluster AS BIGINT))) <= 1
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin
    },

    "q59_knn_batch_agg" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS query_vec
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) AS raw_score,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |                       ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.query_vec AS DOUBLE[])) DESC, e.vec_id) AS BIGINT) AS rank
        |  FROM embeddings e CROSS JOIN q
        |)
        |SELECT query_id, vec_id, round(raw_score, 6) AS score, rank
        |FROM scored
        |WHERE rank <= 5 AND vec_id <> query_id
        |ORDER BY query_id, rank""".stripMargin,

    // semantic decontamination: the planted-donor CASE replayed, exact
    // double cosine, flag on the rounded score (no boundary risk — the
    // planted 1.0 and the ~0.4 clean background straddle 0.5 by a mile).
    // The top-1 cut ranks on the ROUNDED score with a vec_id tie-break
    // (rank-on-rounded doctrine — list_cosine_similarity's op order
    // differs in ulps from the Spark-side cosine, so a raw-ranked cut
    // could flip train_id between two near-equal clean neighbors).
    "q326_semantic_decon" ->
      """WITH don AS (
        |  SELECT vec_id - 1 AS vec_id, embedding AS donor_vec
        |  FROM embeddings),
        |q AS (
        |  SELECT e.vec_id AS query_id,
        |    CASE WHEN (e.vec_id // 50) % 3 = 0 THEN d.donor_vec
        |         ELSE e.embedding END AS query_vec
        |  FROM embeddings e JOIN don d ON d.vec_id = e.vec_id
        |  WHERE e.vec_id % 50 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.query_vec AS DOUBLE[])), 6) AS score,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(
        |        CAST(e.embedding AS DOUBLE[]),
        |        CAST(q.query_vec AS DOUBLE[])), 6) DESC, e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id % 50 <> 0)
        |SELECT query_id AS eval_id, vec_id AS train_id, score,
        |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM s
        |WHERE rn = 1
        |ORDER BY eval_id""".stripMargin,

    // threshold sweep: q326's score chain + a dyadic 1/16 grid; exact
    // integer confusion counts, single exact divisions, −1 sentinels
    "q333_decon_threshold_sweep" ->
      """WITH don AS (
        |  SELECT vec_id - 1 AS vec_id, embedding AS donor_vec
        |  FROM embeddings),
        |q AS (
        |  SELECT e.vec_id AS query_id,
        |    CASE WHEN (e.vec_id // 50) % 3 = 0 THEN d.donor_vec
        |         ELSE e.embedding END AS query_vec
        |  FROM embeddings e JOIN don d ON d.vec_id = e.vec_id
        |  WHERE e.vec_id % 50 = 0),
        |tops AS (
        |  SELECT q.query_id,
        |    max(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.query_vec AS DOUBLE[])), 6)) AS score,
        |    CAST(CASE WHEN (q.query_id // 50) % 3 = 0 THEN 1 ELSE 0 END
        |      AS BIGINT) AS planted
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id % 50 <> 0
        |  GROUP BY q.query_id),
        |grid AS (SELECT CAST(unnest(range(0, 16)) AS DOUBLE) / 16 AS thr),
        |cm AS (
        |  SELECT thr,
        |    CAST(sum(CASE WHEN score >= thr AND planted = 1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score >= thr AND planted = 0 THEN 1 ELSE 0
        |      END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score < thr AND planted = 1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS fn
        |  FROM tops CROSS JOIN grid
        |  GROUP BY thr)
        |SELECT thr, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
        |       ELSE -1.0 END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
        |       ELSE -1.0 END AS recall
        |FROM cm
        |ORDER BY thr""".stripMargin,

    "q52_sql_surface" ->
      """SELECT e.vec_id AS vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 1) q
        |WHERE e.vec_id <> 1
        |ORDER BY score DESC, vec_id
        |LIMIT 5""".stripMargin,

    "q24_vector_stats" ->
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin,

    "q71_sq8_batch" ->
      """WITH q8 AS (
        |  SELECT vec_id, embedding,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> greatest(-127.0, least(127.0, floor(x * 127 + 0.5)))) AS qv
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS query_id, qv AS qqv, embedding AS qemb
        |  FROM q8 WHERE vec_id < 5),
        |approx AS (
        |  SELECT q.query_id, e.vec_id, e.embedding, q.qemb,
        |    list_inner_product(e.qv, q.qqv)
        |      / (sqrt(list_inner_product(e.qv, e.qv)) * sqrt(list_inner_product(q.qqv, q.qqv))) AS a
        |  FROM q8 e CROSS JOIN q),
        |short AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY a DESC, vec_id) AS srank
        |    FROM approx)
        |  WHERE srank <= 50),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qemb AS DOUBLE[])) AS raw,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qemb AS DOUBLE[])) DESC, vec_id) AS BIGINT) AS rank
        |  FROM short)
        |SELECT query_id, vec_id, round(raw, 6) AS score, rank
        |FROM ranked
        |WHERE rank <= 5 AND vec_id <> query_id
        |ORDER BY query_id, rank""".stripMargin,

    "q79_ivf_sq8" ->
      // the full IVF × SQ8 composition recomputed in SQL: sign-bucket
      // cells (duckBucket mirrors VectorIndex.signBucket bit-for-bit),
      // radius-1 hamming probe, int8 cosine written out explicitly
      // (dot / (sqrt·sqrt), every intermediate an exact integer in
      // double) for the shortlist cut, exact rerank of the shortlist,
      // query row dropped after the final k=10 cut — exactly the Spark
      // side's order of operations.
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS cluster_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> greatest(-127.0, least(127.0, floor(x * 127 + 0.5)))) AS qv
         |  FROM embeddings),
         |q AS (
         |  SELECT embedding AS qemb, qv AS qqv, cluster_id AS qc
         |  FROM coded WHERE vec_id = 0),
         |probed AS (
         |  SELECT e.vec_id, e.embedding, e.qv, q.qqv, q.qemb
         |  FROM coded e, q
         |  WHERE bit_count(xor(CAST(e.cluster_id AS BIGINT), CAST(q.qc AS BIGINT))) <= 1),
         |approx AS (
         |  SELECT vec_id, embedding, qemb,
         |    list_inner_product(qv, qqv)
         |      / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(qqv, qqv))) AS a
         |  FROM probed),
         |short AS (SELECT * FROM approx ORDER BY a DESC, vec_id LIMIT 100)
         |SELECT vec_id,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qemb AS DOUBLE[])), 6) AS score,
         |  round(a, 6) AS approx_score
         |FROM short
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q69_sq8_rerank" ->
      // the int8 cosine written out explicitly (dot / (sqrt·sqrt)) so the
      // IEEE op sequence matches the codegen'd expression exactly — every
      // intermediate is an exact small integer in double, so the shortlist
      // cut is bit-deterministic across engines
      """WITH q8 AS (
        |  SELECT vec_id, embedding,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> greatest(-127.0, least(127.0, floor(x * 127 + 0.5)))) AS qv
        |  FROM embeddings),
        |qq AS (SELECT qv AS qqv FROM q8 WHERE vec_id = 0),
        |approx AS (
        |  SELECT e.vec_id, e.embedding,
        |    list_inner_product(e.qv, qq.qqv)
        |      / (sqrt(list_inner_product(e.qv, e.qv)) * sqrt(list_inner_product(qq.qqv, qq.qqv))) AS a
        |  FROM q8 e, qq
        |  WHERE e.vec_id <> 0),
        |short AS (
        |  SELECT * FROM approx ORDER BY a DESC, vec_id LIMIT 100)
        |SELECT s.vec_id AS vec_id,
        |  round(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score,
        |  round(s.a, 6) AS approx_score
        |FROM short s, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin
  )
}
