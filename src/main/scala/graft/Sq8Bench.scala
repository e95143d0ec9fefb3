package graft

import org.apache.spark.sql.functions._

/** Measures the stored-SQ8 search path against the exact full-precision
  * scan on a real on-disk parquet corpus (2M × 64-dim float vectors,
  * ~0.5 GB full precision), so the "quarter of the bytes" claim is a
  * number, not a story. Also reports recall of the SQ8 result vs exact.
  *
  * Run: `sbt "runMain graft.Sq8Bench"` (optionally SPARK_GRAFT_CPUS).
  */
object Sq8Bench {
  def main(args: Array[String]): Unit = {
    val spark = DevSession.start()
    import spark.implicits._

    val n = 2000000L
    val dim = 64
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8bench").toString

    // deterministic-ish corpus: seeded rand per row, L2-normalized
    val raw = spark.range(n).select(
      col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (rand(42) * 2 - 1).cast("float")).as("embedding"))
    val normed = raw.select(col("id"),
      transform(col("embedding"),
        x => (x / sqrt(aggregate(col("embedding"), lit(0.0d),
          (a, v) => a + v * v))).cast("float")).as("embedding"))
    val q8 = normed.withColumn("embedding_q8",
      transform(graft.operators.SimilaritySearch.sq8(col("embedding")),
        x => x.cast("tinyint")))
    q8.write.mode("overwrite").parquet(s"$dir/vecs")
    val stored = spark.read.parquet(s"$dir/vecs")

    val query = stored.filter(col("id") === 12345L)
      .select("embedding").head().getSeq[Float](0).toArray

    // the scale-relevant quantity is BYTES READ (local wall clock is
    // compute-bound; a 1000-executor scan of object storage is IO-bound,
    // and bytes scanned is what survives the change of regime). /proc/self/
    // io rchar counts every read syscall byte in this JVM — local[*] runs
    // all tasks here, so the per-block delta is dominated by the scans.
    def fsBytesRead(): Long =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
        .stream().filter(_.startsWith("rchar:"))
        .findFirst().map[Long](l => l.split(":")(1).trim.toLong).orElse(0L)

    def time[A](reps: Int)(f: => A): (Double, Long, A) = {
      f // warmup
      val b0 = fsBytesRead()
      val t0 = System.nanoTime()
      var r = null.asInstanceOf[A]
      (0 until reps).foreach(_ => r = f)
      val dt = (System.nanoTime() - t0) / 1e9 / reps
      (dt, (fsBytesRead() - b0) / reps, r)
    }

    val (tExact, bExact, exact) = time(3) {
      operators.SimilaritySearch
        .topK(stored.select("id", "embedding"), query, 10, "cosine")
        .select("id").as[Long].collect().toSeq
    }
    val (tRerank, bRerank, withRerank) = time(3) {
      operators.SimilaritySearch
        .topKSq8(stored, query, 10, shortlist = 2000, q8Col = Some("embedding_q8"))
        .select("id").as[Long].collect().toSeq
    }
    val (tFast, bFast, fast) = time(3) {
      operators.SimilaritySearch
        .topKSq8(stored, query, 10, shortlist = 2000, q8Col = Some("embedding_q8"),
          rerank = false)
        .select("id").as[Long].collect().toSeq
    }
    def recall(s: Seq[Long]) = (exact.toSet intersect s.toSet).size / 10.0
    val gb = 1024.0 * 1024 * 1024
    println(f"[sq8bench] n=$n dim=$dim | exact ${tExact}%.2fs ${bExact / gb}%.3fGB" +
      f" | sq8+rerank ${tRerank}%.2fs ${bRerank / gb}%.3fGB recall=${recall(withRerank)}%.2f" +
      f" | sq8-only ${tFast}%.2fs ${bFast / gb}%.3fGB recall=${recall(fast)}%.2f" +
      f" | io_ratio_sq8_only=${bFast.toDouble / bExact}%.2f")
    spark.stop()
  }
}
