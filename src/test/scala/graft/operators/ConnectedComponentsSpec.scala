package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("components resolve to the min reachable id, including chains") {
    // two components: {1,2,3,9} connected as a chain 9-3, 3-2, 2-1
    // (forces >1 propagation round), and {5,6}
    val pairs = Seq((3L, 9L), (2L, 3L), (1L, 2L), (5L, 6L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("frees every superseded checkpoint: only the result frame stays persisted") {
    // leak contract (round-3): the loop checkpoints per round, so every
    // superseded labels frame AND the edge frame must be freed before
    // return — a long-lived driver calling this repeatedly must not
    // accumulate block-manager storage. Sweep first so the count is ours.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val pairs = Seq((3L, 9L), (2L, 3L), (1L, 2L), (5L, 6L), (10L, 11L))
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.count() == 8)
    val persisted = spark.sparkContext.getPersistentRDDs
    // exactly one persisted RDD: the returned (still-consumable) frame
    assert(persisted.size == 1,
      s"leaked checkpoint blocks: ${persisted.values.map(_.name).toList}")
    persisted.values.foreach(_.unpersist(true))
  }

  test("leakage-safe split: every component member lands on the same side") {
    // q91's contract: the split key is the cluster representative, so a
    // near-dup cluster can never straddle train/eval. Verified on real
    // candidates: group the per-doc split by component and assert each
    // component sees exactly one split value.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
    val comps = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val rep = coalesce(col("cluster_rep"), col("doc_id"))
    val bucket = conv(substring(md5(concat(lit("split:"),
      rep.cast("string"))), 1, 4), 16, 10).cast("long") % 10
    val straddlers = docs.join(comps, Seq("doc_id"), "left")
      .withColumn("__rep", rep)
      .withColumn("split",
        when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"))
      .groupBy("__rep").agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddlers.isEmpty, "a cluster straddles the split boundary")
  }

  test("isolated pairs and self-consistency on real candidates") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    // every representative is itself a member mapped to itself
    val reps = cc.map(_._2).toSet
    val selfMapped = cc.filter { case (id, rep) => id == rep }.map(_._1).toSet
    assert(reps.subsetOf(selfMapped))
    // representatives are minimal in their cluster
    cc.foreach { case (id, rep) => assert(rep <= id) }
  }

  // The pre-union-find implementation, kept as the reference: distributed
  // min-label propagation over the mirrored edges until no label moves.
  // Returns the output schema and rows, with its checkpoints freed.
  private def refComponents(pairs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.types.StructType, Set[(Any, Any)]) = {
    import org.apache.spark.sql.GraftSqlShims.unpersistCheckpoint
    import org.apache.spark.sql.functions._
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    while (!converged) {
      val next = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "n_label"), Seq("dst"))
        .select(col("src").as("id"), col("n_label").as("label"),
          lit(false).as("is_self"))
        .unionByName(labels.select(col("id"), col("label"),
          lit(true).as("is_self")))
        .groupBy("id")
        .agg(min("label").as("label"),
          max(when(col("is_self"), col("label"))).as("old"))
        .select(col("id"), col("old"), col("label"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("old")).isEmpty
      unpersistCheckpoint(labels)
      labels = next
    }
    val out = labels.select(col("id"), col("label").as("cluster_rep"))
    val result = (out.schema, rows(out))
    unpersistCheckpoint(labels)
    unpersistCheckpoint(edges)
    result
  }

  /** Graphs the two implementations are compared on. */
  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(17)
    val random = (1 to 3).map { g =>
      s"random $g" -> Seq.fill(40)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    }
    random ++ Seq(
      "duplicates" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 4L), (3L, 4L)),
      "self-pairs" -> Seq((5L, 5L), (6L, 6L), (6L, 7L), (9L, 8L)),
      // a path listed from its far end: many propagation rounds
      "long chain" -> (1L until 24L).reverse.map(i => (i + 1, i)),
      "two stars" -> ((2L to 12L).map(i => (1L, i)) ++ (21L to 30L).map(i => (i, 20L))),
      "large ids" -> Seq((Long.MaxValue, 3L), (Long.MinValue, 3L), (-7L, Long.MaxValue)))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  test("union-find components equal the propagation reference, one partition and forced multi-partition") {
    for ((name, edges) <- graphs; perPart <- Seq(1000000L, 3L, 1L)) {
      val pairs = spark.sparkContext.parallelize(edges, 3).toDF("a_id", "b_id")
      val (wantSchema, want) = refComponents(pairs)
      val got = Dedup.connectedComponents(pairs, "a_id", "b_id", 50, perPart)
      assert(got.schema == wantSchema, s"$name/$perPart")
      assert(rows(got) == want, s"$name/$perPart")
    }
  }

  test("int ids come back as ints, equal to the reference") {
    for ((name, edges) <- graphs.filter(_._1 != "large ids"); perPart <- Seq(1000000L, 2L)) {
      val pairs = spark.sparkContext
        .parallelize(edges.map { case (a, b) => (a.toInt, b.toInt) }, 2)
        .toDF("a_id", "b_id")
      val got = Dedup.connectedComponents(pairs, "a_id", "b_id", 50, perPart)
      val (wantSchema, want) = refComponents(pairs)
      assert(got.schema == wantSchema, s"$name/$perPart")
      assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
      assert(rows(got) == want, s"$name/$perPart")
    }
  }

  test("non-integral ids refuse loudly") {
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(("a", "b")).toDF("a_id", "b_id"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("multi-partition path: non-convergence fails loud and frees every checkpoint") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val chain = (1L until 24L).reverse.map(i => (i + 1, i))
    val pairs = spark.sparkContext.parallelize(chain, 3).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "a_id", "b_id", 1, 1L)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name).toList}")
    // and on success exactly the returned frame stays persisted
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id", 50, 1L)
    assert(cc.count() == 24)
    assert(spark.sparkContext.getPersistentRDDs.size == 1)
    org.apache.spark.sql.GraftSqlShims.unpersistCheckpoint(cc)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
