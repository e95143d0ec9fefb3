package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface. The reference's only durability artifact is
  * the WAL (`/root/reference/src/database/setup.rs:22-23`); graft's streaming
  * ingest replaces it with Structured Streaming checkpoints (the real WAL of
  * the Spark world), and windowed aggregation demonstrates watermarked
  * event-time processing over the events table.
  */
object StreamingIngest {

  /** Hourly windowed aggregation over the events parquet, executed as a
    * bounded stream: readStream → watermark → window agg → memory sink,
    * drained synchronously with processAllAvailable. On an unbounded source
    * the same plan runs with the same semantics — the watermark bounds
    * window state; at scale the only shuffle is on (window, event_type).
    *
    * events.ts is normalized through [[graft.Tables.normalizeTs]] — the
    * stream adapts to either the nanos-as-long or TIMESTAMP_NTZ parquet
    * encoding exactly like the batch loader.
    */
  def hourlyEventCounts(spark: SparkSession, sfDir: String,
      queryName: String = "hourly_events"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema

    // the streaming file source wants a directory: stream the sf dir with a
    // glob filter selecting just the events file
    val stream = graft.Tables.normalizeTs(spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
  }

  /** Exactly-once ingest over an at-least-once source: duplicate events
    * (same `idCol`) within the watermark are dropped with
    * `dropDuplicatesWithinWatermark`, which — unlike plain dropDuplicates —
    * EVICTS each key's state once the watermark passes it, so dedup state
    * tracks the in-flight window instead of all history: the property that
    * makes ingest dedup viable on an unbounded stream.
    *
    * The source here simulates at-least-once delivery by unioning the event
    * stream with itself (every event delivered twice, the worst case);
    * output is per-type counts over the deduplicated stream, which must
    * equal the plain batch counts.
    */
  def dedupedEventCounts(spark: SparkSession, sfDir: String,
      queryName: String = "deduped_events"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    def source() = graft.Tables.normalizeTs(spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))

    val deduped = source().unionByName(source()) // at-least-once: ×2 delivery
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

    val q = deduped.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming CDC apply — the change-capture loop of the incremental
    * ingest story: a stream of UPSERT rows drains into a managed
    * collection through `foreachBatch`, the Structured Streaming escape
    * hatch for sinks with their own transactional write path (the
    * collection's copy-on-write [[graft.core.GraftDatabase.update]]
    * here). Each micro-batch applies as one upsert: derived columns
    * (quantized copy, cluster assignment, PQ codes) re-derive from the
    * sidecar, so the index layout SURVIVES a live update stream exactly
    * as it survives batch mutations. Empty batches skip (an empty
    * upsert would still pay a full rewrite).
    *
    * Apply-order caveat (documented, spec-pinned): upserts to DISTINCT
    * keys commute across micro-batches; two changes to the SAME key in
    * one run land in micro-batch order, which on a file source is file
    * order — an out-of-order CDC feed needs a sequence column and a
    * pre-apply argmax, exactly like any idempotent CDC consumer.
    *
    * Returns the post-drain collection frame.
    */
  def streamApplyUpdates(spark: SparkSession,
      db: graft.core.GraftDatabase, collection: String,
      updatesDir: String, key: String = "id"): DataFrame = {
    val schema = spark.read.parquet(updatesDir).schema
    val stream = spark.readStream.schema(schema).parquet(updatesDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) db.update(collection, batch, key)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    db.read(collection)
  }

  /** Stream-STREAM interval join — view→click attribution in flight: each
    * click joins the same user's views from the trailing `windowMinutes`
    * (µs-pinned inclusive-end / exclusive-start bounds, the q19/q152
    * timestamp discipline). Both sides are watermarked and the join
    * condition bounds event-time distance, so Spark evicts view state
    * older than the horizon — the property that makes a stream-stream
    * join viable unbounded (state is O(window), not O(history)).
    *
    * This is the one join class the streaming surface hadn't gated:
    * stream-static (q87/q147), watermarked aggregation (q43), stateful
    * sessions (q56), dedup (q75) — and now two live streams joining each
    * other. StreamStreamJoinSpec pins stream ≡ batch on purchases ×
    * signups; this gate pins the attribution shape against the DuckDB
    * oracle at 3 SFs.
    *
    * Scale shape: the join shuffles both sides on user_id; state per user
    * is the trailing window of views. Skewed users are bounded by the
    * window, not corpus history.
    *
    * Single-batch invariant (gate determinism): the q188 oracle is the
    * COMPLETE batch join, which the stream only reproduces if no view
    * state is evicted before the last click arrives. Today events.parquet
    * is one file ⇒ one AvailableNow micro-batch ⇒ the initial watermark
    * never advances mid-run; `maxFilesPerTrigger` is pinned high so a
    * multi-file regeneration of the testdata still lands in ONE batch
    * instead of silently dropping cross-batch matches. A production
    * deployment drops the pin and accepts the watermark contract: matches
    * older than the delay are evicted by design.
    */
  def streamAttribution(spark: SparkSession, sfDir: String,
      windowMinutes: Int = 30,
      queryName: String = "stream_attr"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    def side(eventType: String, prefix: String) = graft.Tables.normalizeTs(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .option("maxFilesPerTrigger", Int.MaxValue.toString)
          .parquet(sfDir))
      .filter(col("event_type") === eventType)
      .select(
        col("event_id").as(s"${prefix}_id"),
        col("user_id").as(s"${prefix}_user"),
        col("ts").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")

    val joined = side("click", "c").join(
      side("view", "v"),
      expr(s"""c_user = v_user AND
               v_ts <= c_ts AND
               v_ts > c_ts - INTERVAL $windowMinutes MINUTES"""))

    val q = joined.writeStream
      .outputMode("append").format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName)
      .select(col("c_id").as("click_id"), col("v_id").as("view_id"),
        col("c_user").as("user_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** Stream-static decontamination — the ingest-time filter of a training
    * pipeline: documents arrive as a stream; the eval-set shingle index is
    * a STATIC frame broadcast into every micro-batch (eval sets are small
    * by definition, and the static side is planned once); contaminated
    * (doc, eval) pairs surface in-flight, before the doc ever lands in the
    * corpus. Same semantics as [[graft.operators.Dedup.decontaminate]] —
    * the q87 gate runs this against q81's exact batch oracle.
    *
    * The aggregation keys on (doc_id, eval_id) — naturally bounded state:
    * only CONTAMINATED pairs ever hold a row, and on an unbounded source
    * the groupBy would ride the ingest watermark like [[hourlyEventCounts]].
    */
  def streamDecontaminate(spark: SparkSession, sfDir: String,
      shingleN: Int = 5, minShared: Int = 2,
      queryName: String = "stream_decon", maxEvalFreq: Int = 100): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    // direct projection — no parallelism widening on a frame that is
    // about to be broadcast (same reasoning as Dedup.decontaminate);
    // same eval-side hot-shingle cap, computed once on the static side
    val evalShRaw = spark.read.parquet(path)
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("eval_id"), explode(array_distinct(
        graft.operators.TextAnalysis.ngramsFromTokens(col("__toks"), shingleN)))
        .as("shingle"))
    val evalOk = evalShRaw.groupBy("shingle")
      .agg(count(lit(1)).as("__ef"))
      .filter(col("__ef") <= maxEvalFreq)
      .select("shingle")
    val evalSh = evalShRaw.join(evalOk, Seq("shingle"))
    // tokenize once below the explode (the generator re-evaluates its
    // input per reference — see Dedup.explodeShingles)
    val docSh = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("doc_id"), explode(array_distinct(
        graft.operators.TextAnalysis.ngramsFromTokens(col("__toks"), shingleN)))
        .as("shingle"))
    val flagged = docSh.join(broadcast(evalSh), Seq("shingle"))
      .filter(col("doc_id") =!= col("eval_id"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

    val q = flagged.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Ingest-time Gopher repetition filter: [[graft.operators.TextAnalysis
    * .repetitionStatsStateless]] over documents arriving as a stream —
    * the per-row reformulation exists precisely because the batch
    * operator's chained aggregations cannot run in streaming append
    * mode. Zero state, zero shuffle: each document's full repetition
    * verdict (all eleven fractions + keep) emits the moment it lands.
    * The q167 gate runs this against q166's exact batch oracle text —
    * the q102 → q96 stateless-gate pattern.
    */
  def streamRepetition(spark: SparkSession, sfDir: String,
      queryName: String = "stream_repetition"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val stats = graft.operators.TextAnalysis.repetitionStatsStateless(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir),
      "doc_id", "text")
    val q = stats.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Ingest-time near-dup screening against the STORED corpus signature
    * table — [[graft.operators.Dedup.incomingNearDups]] as a stream: the
    * corpus side (banded signatures, hot-key prune, per-doc shingle
    * arrays) is STATIC, computed once; arriving docs probe it with a
    * band-keyed stream-static join and verify in the same pass.
    *
    * Streaming can't chain aggregations, so the batch operator's
    * per-doc signature aggregation is reformulated as PER-ROW HOF math
    * (the nbScore/repetitionStatsStateless doctrine): minhash component
    * s = `array_min(transform(shingles, md5-slice s))` over the doc's
    * own distinct-shingle ARRAY, band keys as a projection, and the
    * exact cross-Jaccard via `array_intersect` sizes — identical values
    * to the batch path (same distinct sets, same single division), so
    * the q205 gate reuses q204's oracle text VERBATIM. The ONE
    * aggregation (pair dedup across the ≤4 band hits, max of identical
    * jaccards) is the query's only stateful operator; every join runs
    * before it.
    *
    * The streamed batch is q204's: the %7=3 slice, ids shifted, two
    * tokens appended.
    */
  def streamIncomingDedup(spark: SparkSession, sfDir: String,
      shingleN: Int = 5, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      queryName: String = "stream_incoming"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val corpus = spark.read.parquet(path).select(col("doc_id"), col("text"))
    val corpusBands = graft.operators.Dedup.bandKeys(
      graft.operators.Dedup.minhashSignatures(
        corpus, "doc_id", "text", shingleN, numHashes),
      "doc_id", numHashes, rowsPerBand)
    val okKeys = corpusBands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("band", "band_key")
    val prunedBands = corpusBands
      .join(okKeys, Seq("band", "band_key"), "left_semi")
      .select(col("doc_id").as("b_id"), col("band"), col("band_key"))
    val corpusSh = corpus
      .select(col("doc_id").as("b_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("b_id"), array_distinct(graft.operators.TextAnalysis
        .ngramsFromTokens(col("__toks"), shingleN)).as("__bsh"))

    // the arriving docs: shingle ARRAY materialized in its own
    // projection (every HOF below references it), then the per-row
    // signature components and band keys — no aggregation anywhere
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("a_id"),
        concat(col("text"), lit(" tm1 tm2")).as("text"))
      .select(col("a_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__toks"))
      .select(col("a_id"), array_distinct(graft.operators.TextAnalysis
        .ngramsFromTokens(col("__toks"), shingleN)).as("__ash"))
    val mins = (0 until numHashes).map { s =>
      array_min(transform(col("__ash"),
        sh => substring(md5(sh), s * 4 + 1, 4))).as(s"mh$s")
    }
    val sig = arriving.select(col("a_id") +: col("__ash") +: mins: _*)
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", lit(b) +: parts: _*)).as("band_key"))
    }
    val banded = sig
      .select(col("a_id"), col("__ash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("a_id"), col("__ash"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val scored = banded
      .join(prunedBands, Seq("band", "band_key"))
      .join(corpusSh, Seq("b_id"))
      .withColumn("__s",
        size(array_intersect(col("__ash"), col("__bsh"))).cast("long"))
      .withColumn("__den", size(col("__ash")).cast("long")
        + size(col("__bsh")).cast("long") - col("__s"))
      .withColumn("__j", when(col("__den") === 0L, lit(0.0))
        .otherwise(col("__s") / col("__den")))
    val out = scored.groupBy("a_id", "b_id")
      .agg(max("__j").as("jaccard"))
      .filter(col("jaccard") >= threshold)

    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming ingest-time PERCEPTUAL image screening — the q244 dHash
    * probe as a stream: the corpus's banded signatures
    * ([[graft.operators.Multimodal.dhashBands]]) are the static side,
    * and each arriving image is hashed, band-exploded, and screened
    * through [[graft.operators.Multimodal.incomingDhashDups]] UNCHANGED
    * — the operator is fully stateless (hash → posexplode → stream-
    * static join → filters, not one aggregation), so it runs in append
    * mode with zero state store and the gate reuses q244's oracle
    * VERBATIM (stream ≡ batch, the q205/q214 pattern).
    *
    * The streamed batch is q244's: the %7=3 slice, ids +500000, the
    * same scene grid with a fresh per-doc variant cell.
    */
  def streamIncomingDhash(spark: SparkSession, sfDir: String,
      maxHamming: Int = 6, maxBucketSize: Int = 1000,
      queryName: String = "stream_phash"): DataFrame = {
    import graft.operators.Multimodal
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val stored = Multimodal.dhashBands(
      spark.read.parquet(path).select(col("doc_id"),
        Multimodal.sceneGridPayload(col("doc_id"), col("doc_id"))
          .as("media")),
      "doc_id", "media")
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("doc_id"),
        Multimodal.sceneGridPayload(col("doc_id"),
          col("doc_id") + 500000L).as("media"))
    val out = Multimodal.incomingDhashDups(stored, arriving,
      "doc_id", "media", maxHamming, maxBucketSize)
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming readability scoring — [[graft.operators.TextAnalysis
    * .readability]] is a pure per-row projection (counts, exact
    * divisions, fixed-order linear forms; no aggregation, no state), so
    * the batch operator runs UNCHANGED on the stream in append mode and
    * the gate reuses q235's oracle verbatim (stream ≡ batch, the
    * stateless-twin rule).
    */
  def streamReadability(spark: SparkSession, sfDir: String,
      queryName: String = "stream_readability"): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val out = TextAnalysis.readability(arriving, "doc_id", "text")
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        round(col("fk_grade") + lit(1e-9), 6).as("fk_grade"),
        round(col("reading_ease") + lit(1e-9), 6).as("reading_ease"))
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming blocklist scrub — [[graft.operators.TextAnalysis
    * .blocklistScrub]] on the stream: the hit counts are pure per-row
    * column math over the document's own tokens (no aggregation, no
    * state, no watermark), so the batch body runs UNCHANGED in append
    * mode and the gate reuses the batch oracle verbatim (the q259
    * stream-twin economics).
    */
  def streamBlocklistScrub(spark: SparkSession, sfDir: String,
      phrases: Seq[Seq[String]],
      queryName: String = "stream_blocklist"): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val out = TextAnalysis.blocklistScrub(arriving, "doc_id", "text",
      phrases)
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming MATTR — [[graft.operators.TextAnalysis.mattr]] on the
    * stream: the sliding-window distinct counts are pure per-row column
    * math over the doc's own token array (no aggregation, no state), so
    * the batch body runs UNCHANGED in append mode and the gate reuses
    * the batch oracle verbatim (the q259 stream-twin economics).
    */
  def streamMattr(spark: SparkSession, sfDir: String, window: Int = 25,
      queryName: String = "stream_mattr"): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val out = TextAnalysis.mattr(arriving, "doc_id", "text", window)
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming FIM transform — [[graft.operators.TextAnalysis
    * .fimTransform]] on the stream: coin, cut points, and PSM
    * reassembly are all per-row md5/substr column math (no state), so
    * the batch body runs UNCHANGED in append mode against the batch
    * oracle verbatim — the infilling export as an ingest-time screen.
    */
  def streamFim(spark: SparkSession, sfDir: String,
      queryName: String = "stream_fim"): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val out = TextAnalysis.fimTransform(arriving, "doc_id", "text")
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming byte-entropy audit — [[graft.operators.Multimodal
    * .byteEntropy]] on the stream over the q302 synthesized blobs: the
    * histogram fold is pure per-row column math (no state), so the
    * batch body runs UNCHANGED in append mode against the batch oracle
    * verbatim — the blob-quality screen at ingest time.
    */
  def streamByteEntropy(spark: SparkSession, sfDir: String,
      queryName: String = "stream_byte_entropy"): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val id = col("doc_id").cast("string")
    val hexStr = when(col("doc_id") % 3 === 0,
        concat(md5(concat(lit("be1:"), id)), md5(concat(lit("be2:"), id)),
          md5(concat(lit("be3:"), id)), md5(concat(lit("be4:"), id))))
      .when(col("doc_id") % 3 === 1, lit("AB" * 64))
      .otherwise(lit("00FF" * 32))
    val out = graft.operators.Multimodal.byteEntropy(
      arriving.select(col("doc_id"), unhex(hexStr).as("blob")),
      "doc_id", "blob", prefixBytes = 64)
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming ingest-time NOVELTY metric — [[graft.operators
    * .TextAnalysis.incomingNovelty]] on the stream: the corpus's
    * distinct shingles are the static side; one marker left join + one
    * aggregation, so the batch body runs UNCHANGED and the gate reuses
    * the batch oracle verbatim. The streamed batch: the %7=3 slice,
    * ids +500000, two fresh tokens appended (the q204 batch).
    */
  def streamIncomingNovelty(spark: SparkSession, sfDir: String,
      shingleN: Int = 5,
      queryName: String = "stream_novelty"): DataFrame = {
    import graft.operators.TextAnalysis
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val known = spark.read.parquet(path)
      .select(explode(array_distinct(TextAnalysis.ngramsFromTokens(
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)), shingleN)))
        .as("shingle"))
      .distinct()
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" tm1 tm2")).as("text"))
    val out = TextAnalysis.incomingNovelty(known, arriving,
      "doc_id", "text", shingleN)
    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming ingest-time SENTENCE screening — [[graft.operators
    * .TextAnalysis.incomingSentenceScreen]] as a stream: the corpus's
    * distinct sentences are the static side, each arriving document
    * drops the sentences the corpus already owns and reassembles from
    * its genuinely new ones. The operator body is ONE stream-static
    * left join + ONE aggregation, so it runs UNCHANGED on the
    * streaming frame; the gate reuses the batch oracle verbatim
    * (stream ≡ batch).
    *
    * The streamed batch: the %7=3 slice, ids +500000, one fresh
    * per-doc sentence appended — so every original sentence drops and
    * exactly the fresh one survives.
    */
  def streamSentenceScreen(spark: SparkSession, sfDir: String,
      queryName: String = "stream_sentscreen"): DataFrame = {
    import graft.operators.TextAnalysis
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val known = spark.read.parquet(path)
      .select(explode(split(col("text"), "[.!?]+")).as("__s"))
      .select(trim(col("__s")).as("sent"))
      .filter(col("sent") =!= "").distinct()
    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(". fresh "),
          (col("doc_id") + 500000L).cast("string")).as("text"))
    val out = TextAnalysis.incomingSentenceScreen(known, arriving,
      "doc_id", "text")
    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming ingest-time exact-substring screening — [[graft.operators
    * .Dedup.incomingCoveredText]] reformulated for a stream: the corpus
    * window-signature table ([[graft.operators.Dedup.windowSigs]]) is
    * the static side; each arriving doc computes its own window starts
    * per row (explode_OUTER so window-less docs survive), marks stored
    * windows through ONE stream-static left join, and a SINGLE
    * aggregation collects the matched starts while carrying the token
    * array — the covered-position drop and reassembly are post-agg HOF
    * math (collect_list skips nulls = unmatched windows). Streaming
    * cannot chain aggregations; this shape has exactly one.
    *
    * The streamed batch is q213's: the %7=3 slice, ids shifted, fresh
    * tokens wrapped around the text — so the gate reuses q213's oracle
    * verbatim (stream ≡ batch).
    */
  def streamIncomingSubstring(spark: SparkSession, sfDir: String,
      minTokens: Int = 15,
      queryName: String = "stream_incoming_substring"): DataFrame = {
    val L = minTokens
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val corpusSigs = graft.operators.Dedup.windowSigs(
      spark.read.parquet(path).select(col("doc_id"), col("text")),
      "doc_id", "text", L)

    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(lit("fb1 fb2 "), col("text"), lit(" fe1")).as("text"))
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") > 0)
    val wins = arriving
      .select(col("doc_id"), col("__toks"),
        explode_outer(when(col("__n") >= L,
            sequence(lit(0L), col("__n") - L))
          .otherwise(array().cast("array<bigint>"))).as("w_start"))
      .withColumn("win_sig", when(col("w_start").isNotNull,
        md5(array_join(
          slice(col("__toks"), (col("w_start") + 1).cast("int"), lit(L)),
          " "))))
    val marked = wins.join(
      corpusSigs.withColumn("__hit", lit(1)), Seq("win_sig"), "left")
    val out = marked.groupBy("doc_id")
      .agg(
        first(col("__toks")).as("__toks"),
        collect_list(when(col("__hit") === 1, col("w_start")))
          .as("__starts"))
      // kept tokens materialized ONCE (n_kept and text both read it)
      .withColumn("__kept", filter(col("__toks"),
        (t, i) => !exists(col("__starts"),
          s => s <= i.cast("long") && i.cast("long") < s + L)))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("text"))

    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming Katz scoring — [[graft.operators.NgramLm.katzScores]]
    * with the model TRAINED ONCE in batch (the q145→q147 classifier
    * precedent): discount table, per-history alpha, and unigram frames
    * are static; arriving docs explode their bigrams (a generator),
    * join the model stream-static, and ONE aggregation produces the
    * per-doc mean — the identical [[graft.operators.NgramLm
    * .katzScoreBigrams]] chain, so stream ≡ batch and the gate reuses
    * q229's oracle verbatim.
    */
  def streamKatz(spark: SparkSession, sfDir: String, kCut: Int = 5,
      queryName: String = "stream_katz"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val bucket = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % 10
    val model = graft.operators.NgramLm.katzModel(
      spark.read.parquet(path).select(col("doc_id"), col("text")),
      "text", isTrain = bucket < 8, kCut = kCut)

    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"), graft.operators.TextAnalysis
        .normalizedTokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode(graft.operators.NgramLm.bigramStructs(col("__toks")))
          .as("__bg"))
      .select(col("doc_id"),
        col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val out = graft.operators.NgramLm
      .katzScoreBigrams(arriving, "doc_id", model)

    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming Kneser–Ney scoring — [[graft.operators.NgramLm
    * .knScores]] with the model trained once in batch: the bigram,
    * per-history-λ, and continuation frames are static (D/B/V ride as
    * plan literals — the centroids precedent), arriving docs explode
    * their bigrams and join the model stream-static, ONE aggregation.
    * Stream ≡ batch, so the q234 gate reuses q232's oracle verbatim.
    */
  def streamKneserNey(spark: SparkSession, sfDir: String,
      queryName: String = "stream_kn"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val bucket = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % 10
    val model = graft.operators.NgramLm.knModel(
      spark.read.parquet(path).select(col("doc_id"), col("text")),
      "text", isTrain = bucket < 8)

    val arriving = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"), graft.operators.TextAnalysis
        .normalizedTokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode(graft.operators.NgramLm.bigramStructs(col("__toks")))
          .as("__bg"))
      .select(col("doc_id"),
        col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val out = graft.operators.NgramLm
      .knScoreBigrams(arriving, "doc_id", model)

    val q = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming document chunking: [[graft.operators.TextAnalysis
    * .chunkDocuments]] applied to documents arriving as a stream — the
    * ingest-time segmentation path of a continuously-fed corpus. The
    * operator is stateless (per-row generator, no window, no watermark
    * needed), so stream ≡ batch row-for-row; the q102 gate runs this
    * against q96's exact batch oracle. Append mode: chunks emit as soon
    * as their document lands, no state retained.
    */
  def streamChunk(spark: SparkSession, sfDir: String,
      chunkSize: Int = 40, stride: Int = 30,
      queryName: String = "stream_chunk"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val chunks = graft.operators.TextAnalysis.chunkDocuments(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir),
        "doc_id", "text", chunkSize, stride)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("chunk_sig"))
    val q = chunks.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Ingest-time count-min sketch: [[graft.operators.Sketches
    * .countMinTable]] maintained over documents arriving as a stream —
    * heavy-hitter tracking that never stores more than depth×width
    * state rows no matter how much text flows through (the sketch IS
    * the bounded-state aggregation streaming wants). Complete-mode
    * memory sink; the q114 gate proves the streamed sketch is
    * cell-identical to the batch build.
    */
  def streamCms(spark: SparkSession, sfDir: String,
      depth: Int = 4, width: Int = 256,
      queryName: String = "stream_cms"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val toks = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(explode(graft.operators.TextAnalysis
        .normalizedTokens(col("text"))).as("token"))
    val table = graft.operators.Sketches
      .countMinTable(toks, "token", depth, width)
    val q = table.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming repeated-span removal: documents arriving as a stream are
    * cleaned against a STATIC span-frequency table built over the
    * at-rest corpus ([[graft.operators.Dedup.spanDedup]]'s count side) —
    * the stream-static shape of [[streamDecontaminate]]: the boilerplate
    * census is an index you rebuild periodically, not per-microbatch
    * state. Chunking is stateless per row; the only streaming state is
    * the doc-grain reassembly aggregation (complete-mode memory sink
    * here for the gate; a production sink would watermark on arrival
    * time so reassembled docs age out of state once emitted). The q134
    * gate runs this against q131's exact batch oracle — stream ≡ batch
    * because the static census already covers the streamed docs.
    */
  def streamSpanDedup(spark: SparkSession, sfDir: String,
      spanSize: Int = 20, maxFreq: Int = 1,
      queryName: String = "stream_span_dedup"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val freq = graft.operators.TextAnalysis.chunkDocuments(
        spark.read.parquet(path), "doc_id", "text", spanSize, spanSize)
      .groupBy("chunk_sig").agg(count(lit(1)).as("__f"))
    val spans = graft.operators.TextAnalysis.chunkDocuments(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir),
        "doc_id", "text", spanSize, spanSize)
    val cleaned = spans.join(freq, Seq("chunk_sig"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__f") <= maxFreq, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__f") <= maxFreq,
              struct(col("chunk_id"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("text"))
    val q = cleaned.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Ingest-time classification: the held-out document slice arrives as
    * a stream and is scored against a Naive-Bayes model trained ONCE
    * from the static training slice ([[graft.operators.Classify.nbTrainModel]]
    * — label constants as plan literals, the vocabulary-sized
    * contribution table as a stream-static join). One aggregation per
    * doc, bounded by the doc's own token count — the same
    * stream-static-index shape as [[streamDecontaminate]] and
    * [[streamSpanDedup]]: the model is a periodically retrained
    * artifact, not per-microbatch state.
    */
  def streamClassify(spark: SparkSession, sfDir: String,
      queryName: String = "stream_classify"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    def bucket = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % 10
    val model = graft.operators.Classify.nbTrainModel(
      spark.read.parquet(path).filter(bucket < 8), "text", "source")
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(bucket >= 8)
    val scored = graft.operators.Classify.nbScore(
      stream, "doc_id", "text", "source", model)
    val q = scored.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming quantile binning: documents arriving as a stream are
    * quality-binned against quartile thresholds TRAINED BATCH-SIDE by the
    * sample-quantile sketch ([[graft.operators.Sketches.sampleQuantiles]],
    * production shape) — the stream-static-index pattern of
    * [[streamClassify]]/[[streamSpanDedup]]: the sketch is a periodically
    * retrained artifact, not per-microbatch state. Per-row scoring and
    * the threshold join are stateless; the only streaming state is the
    * ONE (source, bucket) aggregation (count + min/max of pre-rounded
    * scores), complete-mode memory sink. Value-identical to the batch
    * q182 formulation — the gate reuses its oracle text verbatim.
    */
  def streamQuantileBins(spark: SparkSession, sfDir: String,
      queryName: String = "stream_bins"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    def scored(df: DataFrame): DataFrame = df.withColumn("__q", round(
      graft.operators.TextAnalysis.qualityScore(col("text")) + lit(1e-9),
      6))
    val sketch = graft.operators.Sketches.sampleQuantiles(
      scored(spark.read.parquet(path)), "source", "doc_id", "__q",
      sampleSize = 64, qs = Seq(25, 50, 75), exactDiagnostic = false)
    val stream = scored(spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir))
    val binned = stream.join(broadcast(sketch), Seq("source"))
      .withColumn("bucket",
        when(col("__q") <= col("sp25"), 0L)
          .when(col("__q") <= col("sp50"), 1L)
          .when(col("__q") <= col("sp75"), 2L)
          .otherwise(3L))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"), min("__q").as("lo"), max("__q").as("hi"))
    val q = binned.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** STREAMING time-decayed counts (q323's twin): the decay anchor is
    * derived batch-side (a fixed clock an oracle can replay — never the
    * wall clock), and the operator body is ONE aggregation, so
    * [[graft.operators.EventStats.decayedCounts]] runs UNCHANGED on the
    * streaming frame (complete mode permits the final sort) — stream ≡
    * batch by literal code identity.
    */
  def streamDecayedCounts(spark: SparkSession, sfDir: String,
      halfLifeDays: Double = 7.0,
      queryName: String = "stream_decay"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val asOf = graft.Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val stream = graft.Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val q = graft.operators.EventStats.decayedCounts(stream, "event_type",
        "ts", asOf, halfLifeDays)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName).orderBy("grp")
  }

  /** STREAMING PSI drift (q315's twin): the REFERENCE slice is static
    * (its bin counts are batch frames), the CURRENT slice streams — the
    * binning is stateless row math ([[graft.operators.NumericAudit
    * .psiBinned]] verbatim), so the stream pays exactly ONE aggregation
    * (grp×bin counts, complete mode) and the grid/smoothing/ln post-math
    * runs on the sink table through the SAME
    * [[graft.operators.NumericAudit.psiFromCounts]] the batch operator
    * calls. The production shape: reference profile stored once,
    * arriving data monitored against it continuously.
    */
  def streamPsiDrift(spark: SparkSession, sfDir: String,
      queryName: String = "stream_psi"): DataFrame = {
    import graft.operators.{NumericAudit, TextAnalysis}
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    def lens(df: DataFrame): DataFrame =
      df.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("len"))
    val refCounts = NumericAudit.psiBinned(
        lens(spark.read.parquet(path))
          .filter(expr("(doc_id DIV 20) % 2") === 0),
        "source", "len", binWidth = 32, nBins = 16)
      .groupBy("grp", "bin").agg(count(lit(1)).as("n"))
    val curCounts = NumericAudit.psiBinned(
        lens(spark.readStream
            .schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sfDir))
          .filter(expr("(doc_id DIV 20) % 2") === 1),
        "source", "len", binWidth = 32, nBins = 16)
      .groupBy("grp", "bin").agg(count(lit(1)).as("n"))
    val q = curCounts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    NumericAudit.psiFromCounts(refCounts, spark.table(queryName), nBins = 16)
  }

  /** STREAMING logistic-regression scoring (q317's twin): the published
    * weights arrive as driver literals (trained batch-side — a model is
    * a handful of doubles, the centroids precedent) and the sigmoid
    * scoring is a stateless projection ([[graft.operators.Classify
    * .logisticScore]], the same column the batch scorer uses), so the
    * stream runs append-mode with no state at all.
    */
  def streamLrScore(spark: SparkSession, sfDir: String, w: Seq[Double],
      queryName: String = "stream_lr"): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val scored = graft.queries.TextQueries.lrFeatures(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir),
        ensure = false)
      .withColumn("score", graft.operators.Classify.logisticScore(w,
        Seq(col("x_len"), col("x_digit"), col("x_punct"), col("x_upper"))))
      .select(col("doc_id"), col("y").cast("long").as("is_en"),
        col("score"),
        when(col("score") >= 0.5, 1L).otherwise(0L).as("pred"))
    val q = scored.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** STREAMING Benford first-digit audit (q294's twin): the digit
    * projection is stateless per-row math (exact integer cents, sub-cent
    * exclusion — [[graft.operators.NumericAudit.benfordDigitRows]]
    * verbatim), so the stream pays exactly ONE aggregation —
    * groupBy(grp, digit).count in complete mode — and the groups×9 grid,
    * expectation, and chi-squared run as batch post-math on the sink
    * table ([[graft.operators.NumericAudit.benfordFromCounts]], the same
    * code the batch audit calls, so stream ≡ batch by construction).
    */
  def streamBenford(spark: SparkSession, sfDir: String,
      queryName: String = "stream_benford"): DataFrame = {
    val path = s"$sfDir/lineitem.parquet"
    val schema = spark.read.parquet(path).schema
    val counts = graft.operators.NumericAudit.benfordDigitRows(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "lineitem.parquet")
          .parquet(sfDir),
        "l_returnflag", "l_extendedprice")
      .groupBy("grp", "digit").agg(count(lit(1)).as("n_d"))
    val q = counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    graft.operators.NumericAudit.benfordFromCounts(spark.table(queryName))
  }

  /** CONTINUOUS semantic decontamination — the q327 screen as arriving
    * eval batches (the production cadence: every eval-set revision
    * screens on arrival, answered from the stored IVF×PQ codes, never a
    * float corpus pass). Eval queries stream; the planted-donor
    * construction is a stream-static join (stateless); each micro-batch
    * screens through [[graft.core.GraftDatabase.deconScreen]] inside
    * `foreachBatch` (the CDC escape hatch — the screen's LUT derivation
    * is a driver-side model-sized step no streaming plan expresses) and
    * appends its verdict rows to a results collection. Per-eval-row
    * independence makes the union across micro-batches equal the
    * one-batch screen, so the gate is q327's oracle VERBATIM.
    */
  def streamDeconScreen(spark: SparkSession, sfDir: String,
      trainDb: graft.core.GraftDatabase, trainColl: String,
      sinkDb: graft.core.GraftDatabase, sinkColl: String,
      threshold: Double = 0.5, probeRadius: Int = 1,
      shortlist: Int = 40,
      checkpointLocation: Option[String] = None,
      streamTag: String = "decon"): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    val donors = graft.Tables.embeddings(spark, sfDir)
      .select((col("vec_id") - 1).as("vec_id"),
        col("embedding").as("donor_vec"))
    val evalStream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .filter(col("vec_id") % 50 === 0)
      .join(donors, Seq("vec_id"))
      .select(col("vec_id").as("query_id"),
        when(expr("(vec_id DIV 50) % 3") === 0, col("donor_vec"))
          .otherwise(col("embedding")).as("query_vec"))
    // foreachBatch is at-least-once: a retried micro-batch must not
    // double-append verdict rows to the sink collection. The skip set is
    // DURABLE (sinkDb's batch log, loaded before the first batch), so a
    // checkpoint-restarted stream skips replayed micro-batches instead
    // of double-appending; within the run the set is maintained in
    // memory (foreachBatch executes serially — no concurrency).
    val applied = scala.collection.mutable.Set.empty[String] ++
      sinkDb.appliedBatchTags(sinkColl)
    val writer = evalStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val tag = s"$streamTag-$batchId"
        // an empty micro-batch must not pay a screen (probe derivation
        // requires a non-empty query batch — the r10 empty-batch rule)
        if (!applied.contains(tag) && !batch.isEmpty) {
          sinkDb.bulkInsert(sinkColl,
            trainDb.deconScreen(trainColl, batch, threshold,
              probeRadius, shortlist))
          sinkDb.markBatchApplied(sinkColl, tag)
          applied += tag
          ()
        }
      }
      .trigger(Trigger.AvailableNow())
    checkpointLocation.foreach(c => writer.option("checkpointLocation", c))
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    sinkDb.read(sinkColl).orderBy("eval_id")
  }

  /** STREAMING split routing — [[graft.core.GraftDatabase.routeArrivals]]
    * as a continuous admission pipeline (arrivals are the definitionally
    * streaming input of the split lifecycle): arriving documents stream
    * in, and each micro-batch screens against the stored bands, inherits
    * from the committed assignment table, COMMITS its routed assignments
    * into the split sidecar, and is inserted + band-refreshed BEFORE the
    * next batch screens — the cross-batch contract that makes
    * inheritance hold across micro-batches (batch N+1's near-dups of a
    * batch-N arrival inherit batch N's routed placement; foreachBatch's
    * serial execution provides the ordering, routeArrivals the commit).
    * Per-arrival independence within a batch makes the single-batch run
    * equal the batch ROUTE — the gate (q341) is q339's oracle verbatim;
    * the cross-batch inheritance order is spec-pinned
    * (StreamingRoutingSpec).
    *
    * batchId idempotency is DURABLE here: each micro-batch routes with a
    * batch tag that commits atomically inside its `routed_<n>.done`
    * marker, and the skip set loads from [[graft.core.GraftDatabase
    * .routedBatchTags]] before the first batch — so a
    * checkpoint-restarted stream recognizes replayed micro-batches
    * across driver restarts instead of dying on the write-once refusal.
    * A recognized replay is not merely skipped: it runs
    * [[graft.core.GraftDatabase.readmitRouted]], which heals the one
    * remaining crash window (sidecar marker committed, collection
    * insert lost) by re-admitting absent rows without re-assigning —
    * a fully-present replay is a no-op. Distinct streams routing into
    * the same collection must pass distinct `streamTag`s (the tag
    * namespaces batchIds, which restart at 0 per checkpoint).
    *
    * `arrivals` maps the raw streaming frame to (id, payload) rows —
    * the caller owns the arrival construction; verdict rows land in
    * `sinkDb.sinkColl` ((id, rep, split, n_matches, bridged) schema).
    */
  def streamRouteSplits(spark: SparkSession, sfDir: String,
      db: graft.core.GraftDatabase, coll: String,
      sinkDb: graft.core.GraftDatabase, sinkColl: String,
      arrivals: DataFrame => DataFrame,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None,
      glob: String = "documents.parquet",
      by: String = "minhash",
      checkpointLocation: Option[String] = None,
      streamTag: String = "route"): DataFrame = {
    require(Set("minhash", "embedding", "winsig", "dhash").contains(by),
      s"streamRouteSplits: by must be minhash, embedding, winsig, or " +
        s"dhash, got '$by'")
    val schema = spark.read.option("pathGlobFilter", glob)
      .parquet(sfDir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = arrivals(reader.parquet(sfDir))
    // the skip set is DURABLE: committed batch tags read back from the
    // sidecar's own commit markers (one listing at stream start; the
    // in-memory set is just this run's accumulator — foreachBatch
    // executes serially)
    val applied = scala.collection.mutable.Set.empty[String] ++
      db.routedBatchTags(coll)
    val q = {
      val writer = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          val tag = s"$streamTag-$batchId"
          if (!batch.isEmpty) {
            if (applied.contains(tag)) {
              // a recognized replay heals rather than just skips: rows
              // lost in the marker→insert crash window re-admit (no new
              // assignment rows); a fully-present replay is a no-op
              db.readmitRouted(coll, batch)
              // ...and if the crashed original died between its insert
              // and its attrs delta-append, the sidecar is stale and
              // missing the batch — the same heal streamTagIngest runs
              // (a no-delta refresh is cheap; readmitRouted only
              // refreshes minhash)
              if (db.attrsStale(coll)) db.refreshAttrs(coll)
              ()
            } else {
              sinkDb.bulkInsert(sinkColl, by match {
                case "embedding" =>
                  db.routeArrivalsEmbedding(coll, batch, threshold,
                    batchTag = Some(tag))
                case "winsig" =>
                  db.routeArrivalsWinsig(coll, batch, batchTag = Some(tag))
                case "dhash" =>
                  db.routeArrivalsDhash(coll, batch, batchTag = Some(tag))
                case _ =>
                  db.routeArrivals(coll, batch, threshold,
                    batchTag = Some(tag))
              })
              applied += tag
              ()
            }
          }
        }
        .trigger(Trigger.AvailableNow())
      checkpointLocation.foreach(c => writer.option("checkpointLocation", c))
      writer.start()
    }
    try q.processAllAvailable() finally q.stop()
    sinkDb.read(sinkColl).orderBy("id")
  }

  /** Continuous attribute tagging — the TAG lifecycle's streaming twin:
    * each micro-batch appends into the collection and refreshes the
    * attribute sidecar, so the stored attributes are current after every
    * batch (the production cadence: tag arrivals as they land, never
    * re-score the corpus). Requires the sidecar to exist before the
    * stream starts (TAG the — possibly empty — collection first): the
    * per-batch step is a REFRESH, whose work list is the
    * (id, payload_md5) diff, so each batch re-scores only itself.
    *
    * Replay idempotency is STRUCTURAL here, needing no batch log:
    * arrival ids are write-once (the ROUTE doctrine), enforced by an
    * id-keyed anti-join against the collection before the append — a
    * checkpoint-replayed micro-batch re-appends nothing (its ids are
    * already present) and the refresh diff finds nothing new. The
    * anti-join reads only the collection's id column (column-pruned
    * scan) per batch.
    */
  def streamTagIngest(spark: SparkSession, sfDir: String,
      db: graft.core.GraftDatabase, coll: String,
      arrivals: DataFrame => DataFrame,
      maxFilesPerTrigger: Option[Int] = None,
      glob: String = "documents.parquet",
      checkpointLocation: Option[String] = None): DataFrame = {
    val schema = spark.read.option("pathGlobFilter", glob)
      .parquet(sfDir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = arrivals(reader.parquet(sfDir))
    val q = {
      val writer = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) {
            val fresh = batch
              .withColumn("id", col("id").cast("long"))
              .join(db.read(coll).select(col("id").cast("long").as("id")),
                Seq("id"), "left_anti")
              // checkpoint BEFORE the append: the anti-join plan reads
              // the very collection the insert writes (the routeCore
              // eager-commit rule)
              .localCheckpoint(true)
            if (!fresh.isEmpty) {
              db.bulkInsert(coll, fresh)
              db.refreshAttrs(coll)
            } else if (db.attrsStale(coll))
              // a fully-replayed batch (all ids present) can still be the
              // re-run of an original that crashed BETWEEN its insert and
              // its refresh: the rows landed but the sidecar is stale and
              // missing them. A no-delta refresh is cheap; skipping it
              // would end the stream with a stale, incomplete sidecar.
              db.refreshAttrs(coll)
            org.apache.spark.sql.GraftSqlShims.unpersistCheckpoint(fresh)
          }
        }
        .trigger(Trigger.AvailableNow())
      checkpointLocation.foreach(c => writer.option("checkpointLocation", c))
      writer.start()
    }
    try q.processAllAvailable() finally q.stop()
    db.docAttrs(coll).orderBy("id")
  }

  /** STREAMING funnel latency (r14 verdict item 5 — the funnel family's
    * first streaming form): the chained per-step agg→join→agg funnel
    * cannot stream (aggregations cannot precede a stream join), but the
    * 2-STEP funnel reformulates under the q205→q204 doctrine — push the
    * join before every aggregation. The stream pays exactly ONE stateful
    * operator: a watermarked stream-stream self-join emitting every
    * qualifying (user, t_a, t_b) pair with t_b ∈ (t_a, t_a+gap] (the
    * event-time range bounds join state — the streamAttribution shape);
    * NO aggregation runs in-flight. Anchors (each user's earliest
    * step-A, a min over ALL step-A events — information the pair table
    * cannot carry) derive BATCH-side from the static frame (the PSI
    * static-reference pattern), and the histogram is batch post-math on
    * the sink through [[graft.operators.EventStats
    * .funnelLatencyFromPairs]]. Gates on the 2-step batch funnel's
    * oracle verbatim (q329 ≡ q330).
    */
  def streamFunnelLatency(spark: SparkSession, sfDir: String,
      stepA: String = "signup", stepB: String = "purchase",
      maxGapMicros: Long = 604800000000L,
      bucketMicros: Long = 86400000000L,
      queryName: String = "stream_funnel"): DataFrame = {
    // save/restore (the StatefulFunnel session-hygiene rule): the legacy
    // conf serves only this run's nanos-encoded source reads
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val priorConf = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    try streamFunnelLatencyInner(spark, sfDir, stepA, stepB,
      maxGapMicros, bucketMicros, queryName)
    finally priorConf match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  private def streamFunnelLatencyInner(spark: SparkSession, sfDir: String,
      stepA: String, stepB: String, maxGapMicros: Long,
      bucketMicros: Long, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    def side(eventType: String, prefix: String) = graft.Tables.normalizeTs(
        spark.readStream
          .schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir))
      .filter(col("event_type") === eventType)
      .select(col("user_id").as(s"${prefix}_user"),
        col("ts").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")

    // timestamp ± INTERVAL arithmetic is exact integer µs; the range
    // condition doubles as the join's state-eviction bound
    val gapDays = maxGapMicros / 86400000000L
    require(gapDays * 86400000000L == maxGapMicros,
      s"streamFunnelLatency: maxGapMicros must be whole days, got $maxGapMicros")
    val pairs = side(stepA, "a").join(
        side(stepB, "b"),
        expr(s"""a_user = b_user AND
                 b_ts > a_ts AND
                 b_ts <= a_ts + INTERVAL $gapDays DAYS"""))
      .select(col("a_user").as("user_id"),
        unix_micros(col("a_ts")).as("t_a"),
        unix_micros(col("b_ts")).as("t_b"))

    val q = pairs.writeStream
      .outputMode("append").format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()

    val anchors = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === stepA)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("anchor_us"))
    // eager: the anchors branch lazily re-reads the source parquet, and
    // the caller's action runs AFTER the wrapper restored the legacy
    // conf — materialize the (bucket-count-sized) result inside the
    // conf window so the returned frame carries no source dependency
    graft.operators.EventStats.funnelLatencyFromPairs(
        spark.table(queryName), anchors, "user_id", bucketMicros)
      .localCheckpoint(true)
  }

  /** Streaming ingest into a collection directory: the WAL-replacement
    * path. Checkpoints live under the database's graft_wal dir, so
    * TRUNCATEWAL (database target) clears exactly this state.
    */
  def streamInto(spark: SparkSession, sourceDir: String, sourceSchema: String,
      collectionDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(sourceSchema))
      .parquet(sourceDir)
      .writeStream
      .format("parquet")
      .option("path", collectionDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
