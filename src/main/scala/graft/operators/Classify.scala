package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A trained multinomial-NB model in ingest-ready form: the per-label
  * constants are bounded driver state (the centroids precedent — they
  * ride into plans as literals), while the vocabulary-sized part stays
  * distributed as `tokenContrib` (token → dense per-label ln(c+1)
  * array, label-ascending order). This split is what lets scoring run
  * as a stream-static join + ONE aggregation — the ingest-time
  * classification shape.
  */
final case class NbModel(labels: Array[String], prior: Array[Double],
    lnDenom: Array[Double], tokenContrib: DataFrame)

/** Deterministic text classification — the quality/domain-classifier slot
  * of a curation pipeline (CCNet and its descendants gate pages with a
  * linear fastText model; the multinomial Naive Bayes here is the same
  * bag-of-words linear-scoring shape with CLOSED-FORM training, so the
  * model is a pure function of the corpus that any engine can replay —
  * no SGD order, no learning rate, no float accumulation in training).
  *
  * Reference surface: the embedding pipeline's text featurization
  * (`/root/reference/src/utils/embeddings.rs:6-71`) — tokenize → score
  * is the same dataflow, with counts instead of model weights.
  *
  * Scale shape: training is ONE token-keyed count aggregation (the
  * model table is vocabulary × labels, not corpus-sized); label stats
  * reduce to a broadcast-sized frame; scoring joins each test doc's
  * distinct tokens against the count table (token-keyed shuffle — the
  * q100 LM-scoring shape) and the per-doc argmax is a window over
  * |labels| rows per doc. No driver-side state beyond plan literals.
  */
object Classify {

  /** Multinomial NB with add-1 smoothing over [[TextAnalysis.normalizedTokens]].
    *
    * For label s with token counts c(t,s), token mass N_s = Σ_t c(t,s),
    * train-doc count D_s (D total), and train vocabulary size V:
    *
    *   score(d, s) = ln(D_s / D) + Σ_t tf(d,t)·ln(c(t,s) + 1)
    *                 − n_tok(d)·ln(N_s + V)
    *
    * which is the usual Σ ln((c+1)/(N_s+V)) regrouped so that tokens
    * absent from label s (ln(0+1) = 0) drop out of the join — unseen and
    * zero-count tokens are priced entirely by the −n_tok·ln(N_s+V) term,
    * so the inner join against the count table is exact, not an
    * approximation.
    *
    * Engine parity: scores are sums of ln over integer-valued inputs —
    * identical doubles in, accumulation-order ulps absorbed by rounding
    * (round(+1e-9, 6)) BEFORE the argmax, ties broken on the label (the
    * ln/rank doctrine). Returns one row per non-train doc:
    * (`idCol`, label = true label, pred, score = rounded winning score).
    */
  def nbPredict(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, isTrain: Column): DataFrame = {
    // top-1 as a map-side-combinable struct extremum instead of a
    // rank window (the r15 top-1 rule): min(struct(-score, label, score))
    // = max score, ties to the smallest label — identical to
    // row_number over (desc __score, asc __label) = 1, without the
    // partition sort (one partial_min per doc per partition)
    nbScoredGrid(df, idCol, textCol, labelCol, isTrain)
      .groupBy(col(idCol))
      .agg(max("label").as("label"),
        min(struct((-col("__score")).as("ns"), col("__label").as("l"),
          col("__score").as("s"))).as("__m"))
      .select(col(idCol), col("label"), col("__m.l").as("pred"),
        col("__m.s").as("score"))
  }

  /** Margin-based calibration table for [[nbPredict]] (the exp-free
    * reliability diagram): per test doc, the margin between the winning
    * and runner-up ROUNDED scores (a log-odds gap — pure ln sums, no
    * cross-engine exp), bucketed into `nBins` width-`binWidth`
    * bins (overflow clamps into the top bin; any width is floor-safe
    * because the margins are bit-identical doubles on both engines); per bin, the exact empirical
    * accuracy. A well-behaved classifier's accuracy rises with margin —
    * the curve a filtering pipeline reads to pick its confidence
    * threshold (q253's metrics say how good; this says how TRUSTABLE
    * per confidence level).
    *
    * Determinism: s1/s2 are the rounded grid scores, bit-identical
    * across engines, so the margin, the floor bucket, and every count
    * are exact; accuracy is ONE division of exact integers; only
    * avg_margin rounds (+1e-9, 6). Requires ≥ 2 labels in the training
    * slice (single-label grids have no runner-up — those docs drop,
    * documented).
    */
  def nbMarginCalibration(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, isTrain: Column, binWidth: Double = 0.25,
      nBins: Int = 8): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(desc("__score"), col("__label"))
    val top = nbScoredGrid(df, idCol, textCol, labelCol, isTrain)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col(idCol))
      .agg(max("label").as("label"),
        max(when(col("__rn") === 1, col("__label"))).as("pred"),
        max(when(col("__rn") === 1, col("__score"))).as("__s1"),
        max(when(col("__rn") === 2, col("__score"))).as("__s2"))
      .filter(col("__s2").isNotNull)
      .withColumn("__m", col("__s1") - col("__s2"))
    top
      .withColumn("bin",
        least(floor(col("__m") / binWidth).cast("long"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        round(avg(col("__m")) + lit(1e-9), 6).as("avg_margin"))
      .withColumn("accuracy", col("n_correct") / col("n"))
      .select(col("bin"), col("n"), col("n_correct"), col("accuracy"),
        col("avg_margin"))
      .orderBy("bin")
  }

  /** The shared per-(test doc, label) rounded score grid behind
    * [[nbPredict]] and [[nbMarginCalibration]]: one row per doc×label
    * with (`idCol`, label = true label, __label = candidate,
    * __score = rounded NB score).
    */
  private[graft] def nbScoredGrid(df: DataFrame, idCol: String,
      textCol: String, labelCol: String, isTrain: Column): DataFrame = {
    // null text ≡ empty text (zero tokens, scored by the prior) — the
    // same contract explode_outer gives nbScore; without the coalesce a
    // null array nulls __ntok and the whole score.
    // localCheckpoint: SEVEN derived frames (counts, mass, docsPerLabel,
    // vocab, totDocs, test, tf) consume this projection and AQE's
    // ReusedExchange cannot dedup their differing subtrees — unmaterialized,
    // the plan re-scanned and RE-TOKENIZED the corpus 13× (q145 plan
    // audit, r17). One corpus pass, one tokenization.
    val base = df.select(col(idCol), col(labelCol).as("__label"),
      isTrain.as("__train"),
      coalesce(TextAnalysis.normalizedTokens(col(textCol)),
        array().cast("array<string>")).as("__toks"))
      .localCheckpoint(true)

    val trainToks = base.filter(col("__train"))
      .select(col("__label"), explode(col("__toks")).as("__tok"))
    // the model: vocabulary × labels token counts
    val counts = trainToks.groupBy("__label", "__tok")
      .agg(count(lit(1)).as("__c"))
    // per-label token mass re-aggregates the COUNT TABLE (vocabulary-
    // sized, one reused exchange), never the corpus
    val mass = counts.groupBy("__label").agg(sum("__c").as("__ns"))
    val docsPerLabel = base.filter(col("__train"))
      .groupBy("__label").agg(count(lit(1)).as("__ds"))
    val labelStats = mass.join(docsPerLabel, Seq("__label"))
    // two single-row frames: vocabulary size and total train docs
    val vocab = counts.select("__tok").distinct()
      .agg(count(lit(1)).as("__v"))
    val totDocs = base.filter(col("__train")).agg(count(lit(1)).as("__d"))

    val test = base.filter(!col("__train"))
      .select(col(idCol), col("__label"),
        size(col("__toks")).cast("long").as("__ntok"), col("__toks"))
    // per-doc term frequencies: collapse before the model join so the
    // shuffle carries distinct (doc, token) pairs, not occurrences
    val tf = test
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    val partSums = tf.join(counts, Seq("__tok"))
      .groupBy(col(idCol), col("__label"))
      .agg(sum(col("__tf") * log(col("__c").cast("double") + 1.0))
        .as("__part"))

    val part = partSums
      .withColumnRenamed(idCol, "__pid")
      .withColumnRenamed("__label", "__plabel")
    val scored = test.drop("__toks")
      .withColumnRenamed("__label", "label")
      .crossJoin(broadcast(labelStats))
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(totDocs))
      .join(part,
        col(idCol) === col("__pid") && col("__label") === col("__plabel"),
        "left")
      .drop("__pid", "__plabel")
      .withColumn("__score", round(
        log(col("__ds").cast("double") / col("__d"))
          - col("__ntok") * log((col("__ns") + col("__v")).cast("double"))
          + coalesce(col("__part"), lit(0.0)) + lit(1e-9), 6))
    scored
  }

  /** Train the NB model from `df` (already filtered to the training
    * slice). Label constants come back through two bounded collects
    * (|labels| rows + one vocabulary count — the centroids precedent);
    * the token table stays a DataFrame. Same arithmetic as
    * [[nbPredict]]: `prior = ln(D_s/D)`, `lnDenom = ln(N_s + V)`,
    * contrib = ln(c + 1).
    */
  def nbTrainModel(df: DataFrame, textCol: String, labelCol: String): NbModel = {
    val toks = df.select(col(labelCol).as("__label"),
        TextAnalysis.normalizedTokens(col(textCol)).as("__toks"))
    val counts = toks
      .select(col("__label"), explode(col("__toks")).as("__tok"))
      .groupBy("__label", "__tok").agg(count(lit(1)).as("__c"))
    val stats = counts.groupBy("__label").agg(sum("__c").as("__ns"))
      .join(toks.groupBy("__label").agg(count(lit(1)).as("__ds")),
        Seq("__label"))
      .orderBy("__label")
      .collect()
    val vocab = counts.select("__tok").distinct().count()
    val totDocs = stats.map(_.getAs[Long]("__ds")).sum
    val labels = stats.map(_.getAs[String]("__label"))
    val prior = stats.map(r =>
      math.log(r.getAs[Long]("__ds").toDouble / totDocs))
    val lnDenom = stats.map(r =>
      math.log((r.getAs[Long]("__ns") + vocab).toDouble))
    // dense per-label contribution vector per token: one conditional sum
    // per label (agg peels the first column — the (Column, Column*) rule)
    val contribCols = labels.map(l =>
      coalesce(sum(when(col("__label") === l,
        log(col("__c").cast("double") + 1.0))), lit(0.0)))
    val dense = counts.groupBy("__tok")
      .agg(contribCols.head.as("__c0"),
        contribCols.tail.zipWithIndex.map { case (c, i) => c.as(s"__c${i + 1}") }: _*)
      .select(col("__tok"),
        array(labels.indices.map(i => col(s"__c$i")): _*).as("__contrib"))
    NbModel(labels, prior, lnDenom, dense)
  }

  /** Score `docs` (batch OR stream) against a trained [[NbModel]]:
    * explode tokens, stream-static join the contribution table, then a
    * SINGLE per-doc aggregation — the per-doc arrays fold in a
    * projection (collect_list skips the unseen-token nulls, which
    * contribute exactly zero by construction), the argmax keeps the
    * EARLIEST index on rounded ties = the label-ascending tie-break.
    * Identical output contract to [[nbPredict]] (proved in ClassifySpec).
    *
    * State bound: the aggregation buffer is O(doc tokens × labels)
    * doubles for the doc being folded — fine for documents, the wrong
    * tool for book-length texts with many labels; chunk first
    * ([[TextAnalysis.chunkDocuments]]) or use the batch [[nbPredict]],
    * whose partial sums never buffer per-token state.
    */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, model: NbModel): DataFrame = {
    val n = model.labels.length
    require(n >= 1, "model must have at least one label")
    val zeros = lit(Array.fill(n)(0.0))
    val toks = docs.select(col(idCol), col(labelCol).as("label"),
        explode_outer(TextAnalysis.normalizedTokens(col(textCol))).as("__tok"))
      .join(model.tokenContrib, Seq("__tok"), "left")
    val agged = toks
      .groupBy(col(idCol), col("label"))
      .agg(count(col("__tok")).as("__ntok"),
        collect_list(col("__contrib")).as("__vecs"))
      .withColumn("__sums", aggregate(col("__vecs"), zeros,
        (acc, x) => zip_with(acc, x, _ + _)))
      .withColumn("__scores", array(model.labels.indices.map(i =>
        round(lit(model.prior(i)) - col("__ntok") * model.lnDenom(i)
          + element_at(col("__sums"), i + 1) + lit(1e-9), 6)): _*))
    // __scores is materialized by its own projection above; the argmax
    // fold references it per element (lambda re-eval is O(labels²) on an
    // already-computed array — bounded, not the q90 trap)
    agged
      .withColumn("__best", aggregate(lit((1 until n).toArray), lit(0),
        (acc, i) => when(element_at(col("__scores"), i + 1) >
            element_at(col("__scores"), acc + 1), i).otherwise(acc)))
      .select(col(idCol), col("label"),
        element_at(lit(model.labels), col("__best") + 1).as("pred"),
        element_at(col("__scores"), col("__best") + 1).as("score"))
  }

  /** Per-label classifier evaluation from doc-grain (true, predicted)
    * pairs — precision, recall, F1 beside the raw confusion counts:
    * the trust measurement every filtering classifier (q145's
    * source NB, a quality gate, a lang-ID check) needs before its
    * threshold decides what 100 TB keeps.
    *
    * Exactness: all counts exact integers; precision and recall are
    * single exact-integer divisions (q120); F1 = 2·P·R/(P+R) is
    * products/sums/one division of bit-identical doubles — fully
    * deterministic, nothing rounded. Labels appearing only as
    * predictions (or only as truth) still get a row (full outer
    * merge); zero denominators score 0.
    *
    * Scale shape: three label-keyed aggregations off one doc-grain
    * frame and a label-sized merge — linear, broadcastable.
    *
    * Output: (label, n_true, n_pred, tp, precision, recall, f1).
    */
  def classifierMetrics(preds: DataFrame, labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    val bt = preds.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_true"))
    val bp = preds.groupBy(col(predCol).as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = preds.filter(col(labelCol) === col(predCol))
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("tp"))
    bt.join(bp, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", when(col("n_pred") === 0L, lit(0.0))
        .otherwise(col("tp") / col("n_pred")))
      .withColumn("recall", when(col("n_true") === 0L, lit(0.0))
        .otherwise(col("tp") / col("n_true")))
      .withColumn("f1", when(col("tp") === 0L, lit(0.0))
        .otherwise(lit(2) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
  }

  /** The published-model scoring column: σ(w_bias + w·x) rounded
    * (+1e-9, 6), in EXACTLY the left-assoc op order [[logisticTrain]]
    * trains with (and its oracle replays) — pure stateless column math,
    * so it runs unchanged on a stream. Threshold keep/drop decisions on
    * the ROUNDED value (the rank-on-rounded doctrine).
    */
  def logisticScore(w: Seq[Double], xs: Seq[Column]): Column = {
    require(w.length == xs.length + 1,
      s"need ${xs.length + 1} weights (bias first), got ${w.length}")
    val z = ((lit(w.head) * lit(1.0)) +:
      xs.zip(w.tail).map { case (x, wj) => lit(wj) * x }).reduceLeft(_ + _)
    round(lit(1.0) / (lit(1.0) + exp(-z)) + lit(1e-9), 6)
  }

  /** Deterministic logistic-regression training: full-batch gradient
    * descent for a FIXED number of rounds over double feature columns
    * (bias added internally as a constant 1 feature) — the trainable
    * quality/language-filter slot next to the count-based NB family.
    * At 100 TB each round is ONE map-side-combinable aggregation over
    * the corpus; the model state (a handful of weights) lives in plan
    * literals (the centroids precedent), so nothing corpus-sized ever
    * reaches the driver.
    *
    * Cross-engine determinism (the pageRank round-discipline applied to
    * a transcendental recursion): per-round gradient SUMS are the only
    * order-dependent accumulations and the only transcendental surface
    * (σ(z) = 1/(1+exp(−z)) per row; exp-sum parity at 6-decimal
    * rounding is the q148 precedent), so each is rounded (+1e-9, 6)
    * BEFORE it re-enters the recursion; everything after — divide by
    * the exact row count, scale by a dyadic η, subtract — is single
    * IEEE ops on bit-identical doubles that an oracle replays exactly.
    * Feature values must be engine-exact by CALLER contract (single
    * divisions of integer counts, the q120 doctrine, or dyadic
    * scalings).
    *
    * The 1e-6 gradient quantization changes the optimizer's path, not
    * its character: GD with quantized gradients converges to within the
    * quantization ball, and a corpus filter's operating point is set by
    * a threshold sweep afterwards anyway — determinism is worth more
    * than the seventh decimal of a step direction.
    *
    * Output: one row per round 1..`rounds` — (round, w_bias,
    * w_<feature>...) with weights rounded (+1e-9, 6) for output; the
    * INTERNAL recursion keeps full precision between rounds.
    */
  def logisticTrain(df: DataFrame, featureCols: Seq[String],
      labelCol: String, eta: Double, rounds: Int,
      store: Option[graft.core.StageStore] = None): DataFrame = {
    require(featureCols.nonEmpty, "logisticTrain needs feature columns")
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    val spark = df.sparkSession
    // bias first: x_0 = 1
    val xs: Seq[Column] = lit(1.0) +: featureCols.map(c => col(c))
    val k = xs.length
    // each round re-aggregates the features: materialize the derivation
    // once (the q65 localCheckpoint discipline; the trajectory result is
    // driver-literal, so the unpersist below can't strand a consumer).
    // With a store (r14 verdict item 2) the checkpoint is LAZY: each
    // round's rounded gradient-sum row and the row count COMMIT through
    // the generation pointer, so a resumed run replays committed rounds
    // from their one-row stages (the weight recursion on bit-identical
    // rounded sums is exact driver math) and touches the corpus only at
    // the first uncommitted round.
    var featsTouched = false
    lazy val feats = { featsTouched = true; df.localCheckpoint(true) }
    val n = store match {
      case Some(st) =>
        st.stage("lr_n")(feats.agg(count(lit(1)).as("n"))).head().getLong(0)
      case None => feats.count()
    }
    require(n > 0, "logisticTrain needs a non-empty training frame")
    var w = Array.fill(k)(0.0)
    val traj = Array.newBuilder[org.apache.spark.sql.Row]
    for (r <- 1 to rounds) {
      // z in one fixed left-assoc op order: w0·1 + w1·x1 + ... (the
      // oracle writes the same chain literally)
      val z = xs.zip(w).map { case (x, wj) => lit(wj) * x }
        .reduceLeft(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      def gradAgg = feats.agg(
        round(sum((p - col(labelCol)) * xs.head) + lit(1e-9), 6).as("g0"),
        xs.tail.zipWithIndex.map { case (x, i) =>
          round(sum((p - col(labelCol)) * x) + lit(1e-9), 6).as(s"g${i + 1}")
        }: _*)
      val gradSums = store match {
        case Some(st) => st.stage(s"lr_grad_$r")(gradAgg).head()
        case None => gradAgg.head()
      }
      w = w.indices.map { j =>
        w(j) - eta * (gradSums.getDouble(j) / n.toDouble)
      }.toArray
      traj += org.apache.spark.sql.Row.fromSeq(r.toLong +: w.toSeq)
    }
    if (featsTouched)
      org.apache.spark.sql.GraftSqlShims.unpersistCheckpoint(feats)
    val names = "w_bias" +: featureCols.map(c => s"w_$c")
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.LongType) +:
      names.map(name => org.apache.spark.sql.types.StructField(name,
        org.apache.spark.sql.types.DoubleType)))
    // output rounding through Spark's own round() so the oracle
    // convention (round(x + 1e-9, 6) on both sides) holds exactly
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(traj.result(): _*)), schema)
      .select(col("round") +: names.map(name =>
        round(col(name) + lit(1e-9), 6).as(name)): _*)
      .orderBy("round")
  }
}
