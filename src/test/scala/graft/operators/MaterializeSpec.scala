package graft.operators

import org.apache.spark.TestContextShims
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The corpus-scale materialization knob (r17 verdict item 4): results
  * are mode-invariant — `spark.graft.materialize.corpusMode` changes
  * WHERE the materialized bytes live (block manager vs checkpoint dir),
  * never what they are — and the reliable mode refuses loudly without a
  * checkpoint dir instead of throwing Spark's internal error later.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ModeKey = "spark.graft.materialize.corpusMode"

  private def withMode[T](mode: String)(body: => T): T = {
    spark.conf.set(ModeKey, mode)
    try body finally spark.conf.unset(ModeKey)
  }

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"),
    (3L, "completely different words with no overlap at all"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta")
  ).toDF("doc_id", "text")

  test("default mode is a local checkpoint; results identical under reliable") {
    val localOut = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(localOut.nonEmpty, "fixture must produce candidate pairs")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    try {
      val reliableOut = withMode("reliable") {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
          .orderBy("a_id", "b_id").collect().toSeq
      }
      assert(reliableOut == localOut,
        "mode must change storage, never results")
    } finally {
      // later suites share this context: leave no dir set and no files
      TestContextShims.restoreCheckpointDir(spark.sparkContext, prevDir)
      val walk = java.nio.file.Files.walk(ckDir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  test("reliable mode without a checkpoint dir refuses loudly") {
    // the precondition is a function of the dir, so the refusal branch
    // runs whatever dir earlier suites left on the shared context
    val e = intercept[IllegalArgumentException] {
      Materialize.requireCheckpointDir(None)
    }
    assert(e.getMessage.contains("setCheckpointDir"))
    Materialize.requireCheckpointDir(Some("/ck")) // a set dir passes
    // ... and corpusScale consults it on a context with no dir
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    TestContextShims.restoreCheckpointDir(sc, None)
    try {
      val e2 = intercept[IllegalArgumentException] {
        withMode("reliable")(Materialize.corpusScale(docs))
      }
      assert(e2.getMessage.contains("setCheckpointDir"))
    } finally TestContextShims.restoreCheckpointDir(sc, prevDir)
  }

  test("unknown mode refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      withMode("ondisk")(Materialize.corpusScale(docs))
    }
    assert(e.getMessage.contains("local|reliable"))
  }
}
