package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table and file derives from `seed` alone:
  * the base tables mimic the shapes of the sf0.1 `documents`/`embeddings`
  * (30-word vocabulary, 10–100 words per text, 5% "dup" near-copies,
  * unit-norm 64-d vectors) and the TPC-H-ish star schema; collections are
  * inflated from them with md5-perturbed ids, payloads and vectors. Files are
  * written as single, fixed-name files, so one seed gives byte-identical
  * inputs.
  */
final class Gen(spark: SparkSession, val seed: Long) {
  import Gen._

  /** Uniform [0, 1) from a 31-bit slice of xxhash64(seed, salt, cols). */
  private def u(salt: String, cs: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cs): _*), lit(1L << 31)) / (1L << 31).toDouble

  private def pick(values: Seq[String], salt: String, cs: Column*): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(salt, cs: _*) * values.size) + 1).cast("int"))

  /** A text of 10–100 vocabulary words keyed on (seed, salt, id). */
  private def text(id: Column, salt: String): Column = {
    val sd = seed
    udf((i: Long) => {
      val r = rng(sd, s"$salt:$i")
      Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }).apply(id)
  }

  /** A unit-norm `Dim`-vector keyed on (seed, salt, id): sums of three
    * uniforms per component, centred, so components are roughly normal.
    */
  private def vector(id: Column, salt: String): Column = {
    val sd = seed
    udf((i: Long) => randomUnit(rng(sd, s"$salt:$i")).toSeq).apply(id)
  }

  /** 5000 base documents (the sf0.1 `documents` shape). */
  def baseDocuments(n: Int = 5000): DataFrame = {
    val id = col("id")
    // every 20th document is a near-copy of an earlier one plus " dup"
    val orig = floor(u("dupof", id) * greatest(id, lit(1L))).cast("long")
    spark.range(n).select(
      id.as("doc_id"),
      when(id % 20 === 11, concat(text(orig, "doc"), lit(" dup")))
        .otherwise(text(id, "doc")).as("text"))
      .select(col("doc_id"), col("text"),
        pick(Seq("en", "en", "en", "en", "zh", "es", "fr", "de", "zh", "es"),
          "lang", col("doc_id")).as("lang"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Base embeddings (the sf0.1 `embeddings` shape). */
  def baseEmbeddings(n: Int = 2000): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      vector(col("id"), "emb").as("embedding"),
      floor(u("label", col("id")) * 10).cast("int").as("label"))

  /** A vector collection inflated from the base tables: row `i` copies base
    * document `i % 5000` and base vector `i % 2000`, with its id spread by
    * an md5 slice, one md5-derived rare token appended to the payload and
    * md5-keyed noise added to the vector. Columns: (id, embedding, payload).
    */
  def collectionRows(n: Long, from: Long = 0L, tag: String = "c"): DataFrame = {
    val docs = baseDocuments().select(col("doc_id"), col("text"))
    val vecs = baseEmbeddings().select(col("vec_id"), col("embedding").as("base"))
    spark.range(from, from + n)
      .select(col("id").as("i"),
        (col("id") * IdStride + pmod(conv(substring(md5(
          concat_ws(":", lit(seed), lit(tag), col("id"))), 1, 3), 16, 10)
          .cast("long"), lit(IdStride))).as("id"),
        (col("id") % 5000).as("doc_id"), (col("id") % 2000).as("vec_id"))
      .join(broadcast(docs), "doc_id").join(broadcast(vecs), "vec_id")
      .select(col("id"),
        perturbUdf(seed, tag)(col("base"), col("i")).as("embedding"),
        concat(col("text"), lit(" "), rareToken(col("id"))).as("payload"))
  }

  /** The TPC-H-ish star schema plus documents/embeddings/events at scale
    * factor `sf` (row counts as the sf0.01 and sf0.1 testdata tables),
    * written as `<dir>/<table>.parquet` single files.
    */
  def writeTables(dir: Path, sf: Double): Unit = {
    def n(base: Double, min: Long): Long = math.max(min, math.round(base * sf))
    val nOrders = n(1.5e6, 1500)
    val nCust = n(1.5e5, 150)
    val nPart = n(2e5, 200)
    val nSupp = n(1e4, 10)
    val id = col("id")
    def money(salt: String, lo: Double, hi: Double): Column =
      round(u(salt, id) * (hi - lo) + lo, 2)
    def day(salt: String, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), floor(u(salt, id) * days).cast("int"))
        .cast("timestamp")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "supplier" -> spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        floor(u("snat", id) * 25).cast("int").as("s_nationkey"),
        money("sbal", -999.99, 9999.99).as("s_acctbal")),
      "customer" -> spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        floor(u("cnat", id) * 25).cast("int").as("c_nationkey"),
        money("cbal", -999.99, 9999.99).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"), "cseg", id).as("c_mktsegment")),
      "part" -> spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", pick(Seq("red", "blue", "hot", "cold", "old", "new",
          "small", "large"), "pn1", id), pick(Seq("bolt", "anvil", "ring",
          "rod", "plate", "gear", "widget", "gizmo"), "pn2", id)).as("p_name"),
        concat(lit("Brand#"), (floor(u("pbr", id) * 25) + 1).cast("string"))
          .as("p_brand"),
        pick(Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"),
          "pty", id).as("p_type"),
        (floor(u("psz", id) * 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")),
      "orders" -> spark.range(nOrders).select(id.as("o_orderkey"),
        floor(u("ocust", id) * nCust).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), "ost", id).as("o_orderstatus"),
        money("otp", 1000.0, 500000.0).as("o_totalprice"),
        day("odate", "1995-01-01", 2404).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), "opri", id).as("o_orderpriority")),
      "lineitem" -> spark.range(n(6e6, 6000)).select(
        floor(u("lok", id) * nOrders).cast("long").as("l_orderkey"),
        floor(u("lpk", id) * nPart).cast("long").as("l_partkey"),
        floor(u("lsk", id) * nSupp).cast("long").as("l_suppkey"),
        (floor(u("lln", id) * 7) + 1).cast("int").as("l_linenumber"),
        (floor(u("lq", id) * 50) + 1).cast("double").as("l_quantity"),
        money("lep", 900.0, 105000.0).as("l_extendedprice"),
        (floor(u("ldi", id) * 11) / 100.0).as("l_discount"),
        (floor(u("ltx", id) * 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "lrf", id).as("l_returnflag"),
        pick(Seq("F", "O"), "lls", id).as("l_linestatus"),
        day("lship", "1995-01-02", 2498).as("l_shipdate")),
      "events" -> spark.range(n(1e6, 1000)).select(id.as("event_id"),
        // monotone timestamps over 30 days, like the testdata stream
        timestamp_micros(lit(1704067200000000L) + floor((id + u("ets", id)) *
          (2592e9 / n(1e6, 1000))).cast("long")).cast("timestamp_ntz").as("ts"),
        floor(u("eu", id) * n(15000, 15)).cast("long").as("user_id"),
        pick(Seq("click", "purchase", "error", "signup", "view"), "ety", id)
          .as("event_type"),
        round(-log(lit(1.0) - u("eval", id)) * 50.0, 2).as("value"),
        format_string("{\"k\": %d}", floor(u("ek", id) * 100).cast("int"))
          .as("props")),
      "documents" -> baseDocuments(n(5e4, 500).toInt),
      "embeddings" -> baseEmbeddings(n(2e4, 500).toInt))
    tables.foreach { case (name, df) => writeSingle(df, dir.resolve(s"$name.parquet"), "parquet") }
  }

  /** Writes `df` as ONE file at `target` (format parquet or json), with a
    * fixed name and no Spark side files, so reruns produce the same bytes.
    */
  def writeSingle(df: DataFrame, target: Path, format: String): Path = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").format(format).save(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    target
  }
}

object Gen {
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Dim = 64
  /** Ids are `row * IdStride + md5 slice`, so they are sparse and unordered
    * in their low digits but never collide.
    */
  val IdStride = 4096L
  /** Scale of the md5-keyed vector noise relative to a unit base vector. */
  val Noise = 0.05

  private def randomUnit(r: java.util.SplittableRandom): Array[Float] =
    normalize(Array.fill(Dim)((r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5).toFloat))

  /** Base vector plus md5-keyed noise of scale [[Noise]], renormalized. */
  private def perturbUdf(seed: Long, tag: String) =
    udf((base: Seq[Float], i: Long) => {
      val e = randomUnit(rng(seed, s"noise$tag:$i"))
      normalize(base.indices.map(j => (base(j) + e(j) * Noise).toFloat).toArray).toSeq
    })

  /** The rare token a payload carries: "r" + 3 hex chars of md5(id), so
    * 4096 distinct tokens make keyword queries selective.
    */
  def rareToken(id: Column): Column = concat(lit("r"), substring(md5(id.cast("string")), 1, 3))

  def rareTokenOf(id: Long): String = "r" + md5Hex(id.toString).take(3)

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** A deterministic driver-side stream for picking query targets. */
  def rng(seed: Long, stream: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(BigInt(md5Hex(s"$seed:$stream").take(15), 16).toLong)

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `v` plus uniform noise of scale `eps`, renormalized. */
  def perturb(v: Array[Float], eps: Double, r: java.util.SplittableRandom): Array[Float] =
    normalize(v.map(x => (x + (r.nextDouble() * 2 - 1) * eps).toFloat))

  def vecString(v: Array[Float]): String = v.map(_.toString).mkString(",")
}
