package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DeterministicEmbedding
import graft.sources.EmbeddingTextFormat

/** EP3 parity: the reference's fully-implemented text→embeddings pipeline
  * (`/root/reference/src/utils/embeddings.rs:6-71`): read a text file, take
  * the first N whitespace tokens, batch-embed, report sizes, write
  * `vec;word` lines.
  *
  * The environment is zero-egress so no model download is possible
  * (fastembed's default model in the reference); graft substitutes a
  * *deterministic* embedder with the same pipeline shape: token →
  * `array<float>` of fixed dim, L2-normalized. Each dimension j is a uniform
  * value in [-1, 1) derived from `md5(token:j)`. The embedder is one
  * codegen'd kernel, [[graft.functions.DeterministicEmbedding]], that
  * computes each md5 once per token and runs in-scan at any scale; its
  * values are still reproducible in plain SQL by the stated formula,
  * which is what the DuckDB oracle recomputes:
  * {{{
  *   x_j = conv(substring(md5(token || ':' || j), 1, 8), 16, 10) / 2^32 * 2 - 1
  *   e_j = x_j / sqrt(sum of x_j² in index order)
  * }}}
  */
object DeterministicEmbedder {

  /** L2-normalized `array<float>` embedding of a token/text column. */
  def embedding(token: Column, dim: Int = 64): Column =
    kernel(token, dim, asFloat = true)

  /** Same embedding in full double precision (no float32 quantization) —
    * the form oracle SQL can reproduce bit-for-bit-enough to round-compare.
    */
  def embeddingDouble(token: Column, dim: Int): Column =
    kernel(token, dim, asFloat = false)

  private def kernel(token: Column, dim: Int, asFloat: Boolean): Column =
    GraftSqlShims.column(DeterministicEmbedding(
      GraftSqlShims.expression(token), dim, asFloat))
}

object EmbeddingPipeline {

  /** `process_embeddings` end-to-end (`embeddings.rs:6-20`):
    * text file → first `amount` whitespace tokens (`extract_words`,
    * `:22-27`) → deterministic embeddings (`generate_embeddings`, `:29-31`)
    * → size report (`print_embeddings_info`, `:33-50`) → `vec;word` file +
    * parquet (`write_embeddings_to_file`, `:52-71`).
    *
    * Token order: (line, position-in-line) — the file's global word order.
    * `amount` is a head-of-file limit like the reference's, so the orderBy
    * feeds a bounded TakeOrderedAndProject, not a full sort.
    */
  def processEmbeddings(spark: SparkSession, inputPath: String, amount: Int,
      outputPath: String, dim: Int = 64, verbose: Boolean = true): DataFrame = {
    // File word order without serializing the read: the text source emits
    // rows in line order within each split, and a single file's splits map
    // to partitions in byte-offset order, so `monotonically_increasing_id`
    // (partition-prefixed, in-partition sequential) sorts lines exactly as
    // the file orders them — no RDD hop, no single-partition window over
    // the corpus. Multi-file inputs order by file name first (ids are only
    // offset-ordered within one file).
    val lines = spark.read.text(inputPath)
      .select(
        input_file_name().as("__file"),
        monotonically_increasing_id().as("__line_ord"),
        col("value"))

    val words = lines
      .select(col("__file"), col("__line_ord"),
        posexplode(split(col("value"), "\\s+")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .orderBy(col("__file"), col("__line_ord"), col("pos"))
      .limit(amount) // bounded TakeOrderedAndProject — never a full sort
      .select(
        // ≤ `amount` rows from here on, so the global ranking window is a
        // bounded single-task sort of the head slice, not of the corpus
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("__file"), col("__line_ord"), col("pos")))
          .cast("long").minus(1).as("id"),
        col("word").as("payload"))

    val embedded = words
      .withColumn("embedding", DeterministicEmbedder.embedding(col("payload"), dim))
      .select("id", "embedding", "payload")

    embedded.cache()
    if (verbose) {
      // print_embeddings_info parity (`embeddings.rs:33-50`): counts + sizes.
      val stats = embedded.agg(
        count(lit(1)).as("n"),
        sum(length(col("payload"))).as("payload_chars")).head()
      println(s"[graft] embedded ${stats.getLong(0)} tokens, dim=$dim, " +
        s"payload chars=${stats.getLong(1)}, " +
        s"approx vector bytes=${stats.getLong(0) * dim * 4}")
    }

    EmbeddingTextFormat.write(embedded.coalesce(1), s"$outputPath/embeddings_txt")
    embedded.write.mode("overwrite").parquet(s"$outputPath/embeddings_parquet")
    embedded.unpersist() // cache served the stats + two sinks; don't leak it
    embedded
  }
}
