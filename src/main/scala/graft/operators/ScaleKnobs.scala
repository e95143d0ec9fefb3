package graft.operators

import org.apache.spark.sql.DataFrame

/** Derived defaults for the scale knobs that were previously
  * documentation a 100 TB user had to remember (round-12 verdict item 6):
  * the [[Parallelism.ensure]] precedent — read what the optimizer/session
  * already knows instead of shipping a magic number.
  *
  * Every knob derived here is RESULT-INVARIANT by construction (a
  * chunk/bucket count changes layout and parallelism, never rows —
  * ScaleKnobsSpec pins this at two derived widths), so the derivation can
  * be a heuristic without touching any oracle.
  */
object ScaleKnobs {

  /** Sorted-neighborhood rank-phase chunk width: the sort fans out over
    * ~36^chunkChars key-prefix chunks ([a-z0-9 ] after normalization), so
    * pick the smallest width whose fan-out covers the session's task
    * slots — 1 below ~37 slots (the local default), 2 up to ~1.3k, 3 for
    * the tens-of-thousands range. Clamped to `keyLen` (a chunk is a key
    * prefix) and to 3 (36³ ≈ 47k chunks covers any current cluster; wider
    * only shrinks chunks without adding usable parallelism).
    */
  def snmChunkChars(df: DataFrame, keyLen: Int): Int = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val c = math.ceil(math.log(math.max(slots, 2).toDouble) /
      math.log(36.0)).toInt
    math.max(1, math.min(c, math.min(3, keyLen)))
  }

  /** Postings `term_bucket` count: one partition directory should hold a
    * healthy parquet file, not a sliver — target ~8 MB of source text per
    * bucket (postings rows are term-grain and compress well below the
    * text they index, so this overestimates bucket size, which only makes
    * buckets larger — the safe direction). Power of two (divides 65536 —
    * the no-modulo-bias rule), clamped to [16, 4096]; a stat-less plan
    * falls back to the historical default 64.
    */
  def postingsBuckets(df: DataFrame): Int =
    powerOfTwoBuckets(df, targetMb = 8, lo = 16, fallback = 64)

  /** EXPORT shard count: target ~64 MB of source bytes per shard file
    * (one task writes one shard, so a shard must be a healthy single
    * file, not a monolith and not a sliver). Power of two dividing
    * 65536 (the md5-slice placement rule is modulo-bias-free only
    * then), clamped to [1, 4096]; a stat-less plan falls back to the
    * historical default 8.
    */
  def exportShards(df: DataFrame): Int =
    powerOfTwoBuckets(df, targetMb = 64, lo = 1, fallback = 8)

  /** Hash-key sub-bucket count for the band/signature screening
    * artifacts (minhash bands, winsig sigs, dhash bands): their keys are
    * md5 hex, so a 16-bit slice modulo a power of two buckets bias-free
    * (the q82 rule — the count must divide 65536), and an ingest probe
    * can push its batch's bucket set as a partition filter instead of
    * reading the whole artifact (the term_bucket discipline applied to
    * dedup screening). Target ~32 MB of SOURCE bytes per bucket —
    * signature rows are far smaller than the text they fingerprint, so
    * this overestimates bucket size, which only makes buckets larger
    * (the safe direction, same argument as [[postingsBuckets]]). Power
    * of two in [8, 4096]; a stat-less plan falls back to 16.
    */
  def sigBuckets(df: DataFrame): Int =
    powerOfTwoBuckets(df, targetMb = 32, lo = 8, fallback = 16)

  /** The smallest power of two ≥ `lo` covering the plan's size estimate
    * at `targetMb` per bucket, capped at 4096; `fallback` when the plan
    * has no size statistics (its estimate is the session default).
    */
  private def powerOfTwoBuckets(df: DataFrame, targetMb: Long, lo: Int,
      fallback: Int): Int = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= df.sparkSession.sessionState.conf.defaultSizeInBytes) fallback
    else {
      val want = (size / (targetMb * 1024 * 1024)).toLong + 1
      var b = lo
      while (b < 4096 && b < want) b *= 2
      b
    }
  }

  /** Arrival-batch broadcast cap for the ROUTE screens: a micro-batch
    * up to this many rows is pinned broadcast (the screen's stored side
    * is corpus-scale — shuffling it for a tiny batch is the wrong
    * trade), a larger batch (a crawl-day ROUTE) falls back to a plain
    * bucket-key equi-join so the driver never materializes it. 64k rows
    * of even 256-byte embeddings is ~16 MB — at the edge of a sane
    * broadcast; the hot-bucket caps bound the join blow-up either way.
    */
  val routeBroadcastMaxRows: Long = 65536L

  private val listingLock = new Object

  /** Scoped raise of `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` around managed artifact/collection reads. The managed
    * artifacts are partitioned into tens-to-hundreds of directories
    * (band × bucket, term_bucket, stage partitions), and Spark's default
    * threshold (32) sends every such listing to a DISTRIBUTED listing
    * job — ~0.1 s of scheduling overhead PER READ regardless of data
    * size (measured: 4 × ~0.14 s listing jobs inside one q349 ROUTE
    * screen), where a driver-side listing of a few hundred local or
    * object-store dirs is single-digit ms (guide §6 file listing).
    * Parameterized, never a local-only constant: past
    * `spark.graft.listing.driverThreshold` (default 512) directories,
    * the distributed listing is genuinely better and the raise stops
    * applying. The user's own threshold is never lowered; the previous
    * value is restored after the read (explicit-default restore — the
    * r16 RuntimeConfig rule). Synchronized: the threshold is session
    * state and concurrent screen legs may read artifacts in parallel.
    * The body only lists and plans — every caller hands the reader an
    * explicit schema (collection reads resolve theirs from a footer on
    * the driver), so no Spark job runs under the lock and concurrent
    * commands queue for a listing, never for another command's job.
    * A database lists only on a cache miss: the collection read and the
    * served artifact tables keep their resolved relation per committed
    * state (`graft.core.CommitCache`), so warm commands never take the
    * lock.
    */
  def withDriverListing[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = listingLock.synchronized {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val knob = spark.conf.getOption("spark.graft.listing.driverThreshold")
      .map(_.toInt).getOrElse(512)
    val prev = spark.conf.get(key).toInt
    if (knob <= prev) body
    else {
      spark.conf.set(key, knob.toString)
      try body finally spark.conf.set(key, prev.toString)
    }
  }
}
