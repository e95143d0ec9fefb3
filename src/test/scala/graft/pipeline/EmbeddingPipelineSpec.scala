package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.EmbeddingTextFormat

class EmbeddingPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deterministic embedder: unit norm, fixed dim, reproducible") {
    val df = Seq("alice", "rabbit", "alice").toDF("tok")
      .select($"tok", DeterministicEmbedder.embedding($"tok", 16).as("emb"))
    val rows = df.select($"tok", $"emb",
        graft.functions.l2_norm($"emb").as("n"))
      .as[(String, Seq[Float], Double)].collect()
    assert(rows.forall(_._2.length == 16))
    assert(rows.forall(r => math.abs(r._3 - 1.0) < 1e-5))
    val alice = rows.filter(_._1 == "alice").map(_._2)
    assert(alice(0) == alice(1), "same token ⇒ same embedding")
    assert(rows.find(_._1 == "rabbit").get._2 != alice(0))
  }

  // The pre-kernel built-in formula, kept as the reference the kernel must
  // reproduce bit for bit. (Quadratic: every lambda re-evaluates `norm`.)
  private def refDouble(token: Column, dim: Int): Column = {
    val raw = transform(sequence(lit(0), lit(dim - 1)), j =>
      (conv(substring(md5(concat(token, lit(":"), j.cast("string"))), 1, 8),
        16, 10).cast("long") / lit(4294967296.0)) * 2.0 - 1.0)
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    transform(raw, x => x / norm)
  }
  private def refFloat(token: Column, dim: Int): Column =
    transform(refDouble(token, dim), x => x.cast("float"))

  /** Element bit patterns (None for a null element), so the comparison
    * is exact: no numeric `==` folding of -0.0/0.0 or NaN.
    */
  private def bits(v: Any): Seq[Option[Long]] =
    v.asInstanceOf[scala.collection.Seq[Any]].toSeq.map {
      case null => None
      case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
      case f: Float => Some(java.lang.Float.floatToRawIntBits(f).toLong)
      case other => fail(s"unexpected element $other")
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("embedding kernel is bit-identical to the built-in formula, codegen and interpreted") {
    val tokens = Seq("alice", "rabbit", "", "café", "日本語", "𝄞", "a" * 80, null)
    // an RDD-backed frame: a local relation would be folded by the
    // optimizer's interpreted projection and never reach codegen
    val df = spark.sparkContext.parallelize(tokens.map(Tuple1(_)), 2).toDF("tok")
    val modes = Seq(
      "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false"),
      "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for ((mode, conf) <- modes; dim <- Seq(1, 8, 16, 64)) withConf(conf: _*) {
      val out = df.select($"tok",
        DeterministicEmbedder.embedding($"tok", dim).as("f"),
        refFloat($"tok", dim).as("rf"),
        DeterministicEmbedder.embeddingDouble($"tok", dim).as("d"),
        refDouble($"tok", dim).as("rd"))
      assert(out.schema("f").dataType == out.schema("rf").dataType)
      assert(out.schema("d").dataType == out.schema("rd").dataType)
      val rows = out.collect()
      val plan = out.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == (mode == "CODEGEN_ONLY"),
        s"$mode picked the wrong evaluation path:\n$plan")
      assert(rows.length == tokens.length)
      rows.foreach { r =>
        val tok = r.getString(0)
        val (f, d) = (bits(r.get(1)), bits(r.get(3)))
        assert(f.length == dim && d.length == dim, s"$mode dim=$dim '$tok'")
        assert(f == bits(r.get(2)), s"$mode dim=$dim float '$tok'")
        assert(d == bits(r.get(4)), s"$mode dim=$dim double '$tok'")
        // a null token embeds to dim null elements, not a null array
        assert(f.forall(_.isEmpty) == (tok == null), s"$mode dim=$dim '$tok'")
      }
    }
  }

  test("embedder rejects dim < 1 at construction") {
    for (dim <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException] {
        DeterministicEmbedder.embedding($"tok", dim)
      }
      assert(e.getMessage.contains("dim >= 1"))
      intercept[IllegalArgumentException](DeterministicEmbedder.embeddingDouble($"tok", dim))
    }
  }

  test("processEmbeddings plans the embedder as one kernel, no per-component lambdas") {
    val in = Files.createTempDirectory("graft_pipe_plan")
    val txt = in.resolve("input.txt")
    Files.writeString(txt, "alice was beginning to get\nvery tired of sitting\n")
    val out = Files.createTempDirectory("graft_pipe_plan_out").toString
    val embedded = EmbeddingPipeline.processEmbeddings(
      spark, txt.toString, amount = 4, outputPath = out, dim = 8, verbose = false)
    // a fresh plan: the returned frame's own one may read its (now freed) cache
    val plan = embedded.select("*").queryExecution.optimizedPlan
    val exprs = plan.collect { case n => n.expressions }.flatten
    def has(name: String) = exprs.exists(_.exists(_.getClass.getSimpleName == name))
    assert(has("DeterministicEmbedding"), s"embedder kernel missing:\n$plan")
    assert(!has("ArrayTransform") && !has("ArrayAggregate") && !has("Md5"),
      s"the embedding must not expand into higher-order functions:\n$plan")
  }

  test("processEmbeddings: first-N token extraction, parity file format round-trips") {
    val in = Files.createTempDirectory("graft_pipe")
    val txt = in.resolve("input.txt")
    Files.writeString(txt, "alice was beginning to get\nvery tired of sitting\n")
    val out = Files.createTempDirectory("graft_pipe_out").toString

    val embedded = EmbeddingPipeline.processEmbeddings(
      spark, txt.toString, amount = 6, outputPath = out, dim = 8, verbose = false)
    val words = embedded.orderBy("id").select("payload").as[String].collect().toSeq
    assert(words == Seq("alice", "was", "beginning", "to", "get", "very"))

    // the reference's vec;payload line format round-trips losslessly enough
    // to preserve ids, payloads, and vector dimension
    val back = EmbeddingTextFormat.read(spark, s"$out/embeddings_txt")
    val rows = back.orderBy("id")
      .select($"payload", size($"embedding")).as[(String, Int)].collect()
    assert(rows.map(_._1).toSeq == words)
    assert(rows.forall(_._2 == 8))

    // and the parquet sink matches the returned frame
    assert(spark.read.parquet(s"$out/embeddings_parquet").count() == 6)
  }

  test("vec;payload format round-trips payloads containing semicolons") {
    val out = java.nio.file.Files.createTempDirectory("graft_semi").toString
    val df = Seq((0L, Array(0.5f, 1.5f), "hello;world;x")).toDF("id", "embedding", "payload")
    EmbeddingTextFormat.write(df, s"$out/t")
    val back = EmbeddingTextFormat.read(spark, s"$out/t")
      .select($"payload", size($"embedding")).as[(String, Int)].head()
    assert(back == (("hello;world;x", 2)))
  }

  test("text read assigns contiguous line ids without an RDD plan hop") {
    val out = java.nio.file.Files.createTempDirectory("graft_ids").toString
    val df = (0 until 100)
      .map(i => (i.toLong, Array(i.toFloat, 1.0f), s"p$i"))
      .toDF("id", "embedding", "payload")
    EmbeddingTextFormat.write(df.coalesce(1), s"$out/t")
    val back = EmbeddingTextFormat.read(spark, s"$out/t")
    // ids are line numbers: contiguous 0..N−1, aligned with payload order
    val pairs = back.select($"id", $"payload").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(pairs.map(_._1).toSeq == (0L until 100L))
    assert(pairs.map(_._2).toSeq == (0 until 100).map(i => s"p$i"))
    // the round-2 verdict's plan smell: no side RDD scan — the text scan
    // itself must stay inside the SQL engine (AQE-visible)
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"),
      s"read must not detour through an RDD scan:\n$plan")
  }
}
