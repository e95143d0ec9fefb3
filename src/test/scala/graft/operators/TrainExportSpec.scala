package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TrainExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = (1L to 400L).map(i => (i, s"tok$i " * (i % 7 + 1).toInt))
    .toDF("doc_id", "text")

  test("leakageSafeSplit: near-dup clusters never straddle splits; singletons are their own cluster") {
    // a hand-built near-dup graph: {1,2,3} one component (via 1-2, 2-3),
    // {10,11} another, everything else isolated
    val sdocs = (1L to 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = TrainExport.leakageSafeSplit(sdocs, pairs, "doc_id")
      .as[(Long, Long, String)].collect()
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.length == 40)
    // cluster cohesion: reps collapse to the min id, splits agree
    assert(Seq(1L, 2L, 3L).map(byId(_)).distinct.size == 1)
    assert(byId(1L)._1 == 1L)
    assert(Seq(10L, 11L).map(byId(_)).distinct.size == 1 &&
      byId(10L)._1 == 10L)
    // singletons: own rep
    assert(byId(20L)._1 == 20L)
    // the zero-crossing invariant over every edge
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(byId(a)._2 == byId(b)._2, s"pair ($a,$b) straddles splits")
    }
    // all three splits materialize over 40 clusters at 14/1/1 of 16 in
    // expectation — pin only that train dominates and the union is total
    val bySplit = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.values.sum == 40)
    assert(bySplit.getOrElse("train", 0) > bySplit.getOrElse("val", 0) &&
      bySplit.getOrElse("train", 0) > bySplit.getOrElse("test", 0))
    // contract errors are loud
    assert(intercept[IllegalArgumentException] {
      TrainExport.leakageSafeSplit(sdocs, pairs, "doc_id", nSlots = 10)
    }.getMessage.contains("divide 65536"))
    assert(intercept[IllegalArgumentException] {
      TrainExport.leakageSafeSplit(sdocs, pairs, "doc_id",
        valSlots = 8, testSlots = 8)
    }.getMessage.contains("valSlots"))
  }

  test("routeSplits: arrivals inherit their matches' split, unmatched fall back, bridging flags") {
    // corpus assignment: two clusters in DIFFERENT splits + singletons
    val assign = Seq(
      (1L, 1L, "train"), (2L, 1L, "train"),
      (10L, 10L, "test"), (11L, 10L, "test"),
      (20L, 20L, "val"))
      .toDF("id", "rep", "split")
    // arrival 100 matches cluster 1 → train; 101 matches cluster 10 →
    // test; 102 matches BOTH clusters → smallest rep (1) wins, bridged;
    // 103 matches nothing → own-id fallback
    val matches = Seq(
      (100L, 1L), (100L, 2L),
      (101L, 11L),
      (102L, 2L), (102L, 10L))
      .toDF("a_id", "b_id")
    val batch = Seq(100L, 101L, 102L, 103L).toDF("doc_id")
    val out = TrainExport.routeSplits(assign, matches, batch, "doc_id")
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // rep carries the routing key (the inherited match rep / the own id
    // on fallback) so a caller can COMMIT routed rows into its
    // assignment table — the transitive-inheritance handle
    assert(out(100L) == ((1L, "train", 2L, 0L)))
    assert(out(101L) == ((10L, "test", 1L, 0L)))
    // bridged: matches span train AND test; routes by smallest rep (1)
    assert(out(102L) == ((1L, "train", 2L, 1L)))
    // unmatched: the same slice rule leakageSafeSplit gives a singleton,
    // and the committed rep is the arrival's own id
    val fallback = TrainExport.leakageSafeSplit(
        Seq((103L, "x")).toDF("doc_id", "text"),
        Seq.empty[(Long, Long)].toDF("a_id", "b_id"), "doc_id")
      .select("split").as[String].head()
    assert(out(103L)._1 == 103L && out(103L)._2 == fallback &&
      out(103L)._3 == 0L)
  }

  test("withShard: deterministic, uniform-ish, power-of-two contract") {
    val a = TrainExport.withShard(docs, "doc_id", 16)
      .select("doc_id", "shard", "__shuffle_key").collect()
    val b = TrainExport.withShard(docs, "doc_id", 16)
      .select("doc_id", "shard", "__shuffle_key").collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "shard layout must be a pure function of (data, seed)")
    val counts = a.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(counts.size == 16, "400 uniform draws must touch all 16 shards")
    assert(counts.values.max <= 3 * 400 / 16,
      s"md5 sharding should be roughly balanced, got ${counts.toMap}")
    // a different seed is a different permutation
    val c = TrainExport.withShard(docs, "doc_id", 16, seed = "other")
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    val aMap = a.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aMap != c, "seed must change the layout")
    intercept[IllegalArgumentException] {
      TrainExport.withShard(docs, "doc_id", 12)
    }
  }

  test("exportShards: one dir per shard, rows in shuffle-key order") {
    val out = Files.createTempDirectory("graft_shards").toString
    TrainExport.exportShards(docs, "doc_id", out, nShards = 8)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.length == 8, s"expected 8 shard dirs, got ${dirs.length}")
    // within any shard the parquet row order is the shuffle-key order
    val one = spark.read.parquet(s"$out/shard=3")
    val keys = one.select("__shuffle_key").as[String].collect()
    assert(keys.sameElements(keys.sorted), "shard rows must be key-ordered")
    // round-trip covers every row exactly once
    val total = spark.read.parquet(out).count()
    assert(total == 400L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("shardAudit pins the permutation: keys move when the seed moves") {
    val audit = TrainExport.shardAudit(docs, "doc_id", "text", nShards = 4)
      .as[(Long, Long, Long, String, String)].collect()
    assert(audit.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(audit.map(_._2).sum == 400L)
    val other = TrainExport.shardAudit(docs, "doc_id", "text", nShards = 4,
      seed = "other").as[(Long, Long, Long, String, String)].collect()
    assert(audit.map(_._4).toSeq != other.map(_._4).toSeq)
  }

  test("weightedSample: deterministic, weight-dominant rows win, bad weights drop") {
    import org.apache.spark.sql.functions._
    val docs = ((1L to 50L).map((_, 1.0)) ++ Seq((99L, 1e12), (100L, -3.0)))
      .toDF("doc_id", "w")
    val got = TrainExport.weightedSample(docs, "doc_id", "w", n = 10)
      .select($"doc_id").as[Long].collect()
    assert(got.length == 10)
    assert(got.head == 99L,
      "a weight twelve orders larger must rank first (key ln(u)/w → 0⁻)")
    assert(!got.contains(100L), "non-positive weights are excluded")
    val again = TrainExport.weightedSample(docs, "doc_id", "w", n = 10)
      .select($"doc_id").as[Long].collect()
    assert(got.toSeq == again.toSeq, "sample must be deterministic")
  }

  test("stratifiedSample: exact ceil per stratum, deterministic, rank-stable") {
    import org.apache.spark.sql.functions._
    // strata sizes 7, 5, 1 → keep ceil(7/5)=2, ceil(5/5)=1, ceil(1/5)=1
    val docs = ((1L to 7L).map((_, "a")) ++ (8L to 12L).map((_, "b")) ++
      Seq((13L, "c"))).toDF("doc_id", "src")
    val kept = TrainExport.stratifiedSample(docs, "doc_id", Seq("src"),
        keepNumer = 1, keepDenom = 5)
      .select($"src", $"rn", $"doc_id")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(kept.map(_._1).toSeq == Seq("a", "a", "b", "c"))
    assert(kept.map(_._2).toSeq == Seq(1L, 2L, 1L, 1L))
    // deterministic: a second run yields the identical kept set
    val again = TrainExport.stratifiedSample(docs, "doc_id", Seq("src"),
        keepNumer = 1, keepDenom = 5)
      .select($"src", $"rn", $"doc_id")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(kept.toSeq == again.toSeq)
    // rank-stable: the half sample is a PREFIX of the full-keep ranks
    val all = TrainExport.stratifiedSample(docs, "doc_id", Seq("src"),
        keepNumer = 1, keepDenom = 1)
      .select($"src", $"rn", $"doc_id")
      .as[(String, Long, Long)].collect()
    assert(all.length == 13)
    val fullRanks = all.map(r => (r._1, r._2) -> r._3).toMap
    assert(kept.forall(r => fullRanks((r._1, r._2)) == r._3),
      "sampling must not reorder ranks — a kept set is a rank prefix")
    // keep-nothing and bad fractions
    assert(TrainExport.stratifiedSample(docs, "doc_id", Seq("src"), 0, 5)
      .count() == 0)
    intercept[IllegalArgumentException] {
      TrainExport.stratifiedSample(docs, "doc_id", Seq("src"), 6, 5)
    }
  }

  test("md5RankChunked equals the single-window rank at every chunk width") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // enough rows per stratum that every 1-hex chunk is hit (16 chunks,
    // 400 rows/stratum) — exercises multi-chunk offsets, not just the
    // degenerate one-chunk case
    val docs = (1L to 1200L).map(i => (i, "s" + (i % 3))).toDF("doc_id", "src")
    val w = Window.partitionBy("src")
      .orderBy(md5(concat(lit("samp:"), col("doc_id").cast("string"))),
        col("doc_id"))
    val single = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy("src")))
      .select($"src", $"doc_id", $"rn", $"__n")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    for (hexChars <- Seq(1, 2)) {
      val chunked = TrainExport.md5RankChunked(
          docs, "doc_id", Seq("src"), "samp", hexChars)
        .select($"src", $"doc_id", $"rn", $"__n")
        .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
      assert(chunked.toSeq == single.toSeq,
        s"chunked two-phase rank must equal the single window (hexChars=$hexChars)")
    }
    intercept[IllegalArgumentException] {
      TrainExport.md5RankChunked(docs, "doc_id", Seq("src"), "samp", 5)
    }
  }

  test("scoreRankChunked equals the single-window descending score rank") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // skewed strata + heavy score ties (scores quantized to 0.05 steps,
    // so bucket boundaries AND in-bucket ties are both exercised)
    val docs = (1L to 900L)
      .map(i => (i, "s" + (i % 2), math.round((i % 21) / 20.0 * 100) / 100.0))
      .toDF("doc_id", "src", "q")
    val w = Window.partitionBy("src").orderBy(desc("q"), col("doc_id"))
    val single = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("src")))
      .select($"src", $"doc_id", $"rn", $"__n")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    for (nBuckets <- Seq(2, 20)) {
      val chunked = TrainExport.scoreRankChunked(
          docs, "doc_id", "q", Seq("src"), nBuckets)
        .select($"src", $"doc_id", $"rn", $"__n")
        .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
      assert(chunked.toSeq == single.toSeq,
        s"chunked score rank must equal the single window (nBuckets=$nBuckets)")
    }
    intercept[IllegalArgumentException] {
      TrainExport.scoreRankChunked(docs, "doc_id", "q", Seq.empty)
    }
  }

  test("sliceSequences: chunked cumsum equals the single-window layout") {
    import org.apache.spark.sql.expressions.Window
    val docs = (1L to 300L).map(id => (id, (id * 7) % 41)) // some zeros
      .toDF("doc_id", "nt")
    val key = md5(concat(lit("slice:"), $"doc_id".cast("string")))
    val single = docs.withColumn("__key", key)
      .withColumn("off", coalesce(sum($"nt").over(
        Window.orderBy("__key", "doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"nt" > 0)
      .select($"doc_id", $"off").as[(Long, Long)].collect().toMap
    for (hexChars <- Seq(1, 2)) {
      val got = TrainExport
        .sliceSequences(docs, "doc_id", "nt", 64, hexChars = hexChars)
        .select($"doc_id", $"off").distinct()
        .as[(Long, Long)].collect().toMap
      assert(got == single,
        s"chunked offsets must equal the global window (hexChars=$hexChars)")
    }
  }

  test("sliceSequences: every sequence but the last is exactly full") {
    val docs = (1L to 200L).map(id => (id, (id * 13) % 37)).toDF("doc_id", "nt")
    val rows = TrainExport.sliceSequences(docs, "doc_id", "nt", 64)
      .as[(Long, Long, Long, Long)].collect()
    val perSeq = rows.groupBy(_._2).view
      .mapValues(_.map(_._4).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (s, tot) =>
      if (s != lastSeq) assert(tot == 64L, s"sequence $s holds $tot != 64")
      else assert(tot >= 1L && tot <= 64L)
    }
    // total token conservation + zero-token docs emit nothing
    val totalTokens = (1L to 200L).map(id => (id * 13) % 37).sum
    assert(rows.map(_._4).sum == totalTokens)
    val zeroIds = (1L to 200L).filter(id => (id * 13) % 37 == 0).toSet
    assert(rows.forall(r => !zeroIds.contains(r._1)))
    // per-doc counts across its sequences reassemble the doc
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._4).sum == (id * 13) % 37,
        s"doc $id token mass must be conserved across sequences")
    }
  }

  test("hamiltonQuotas: exact budget, largest-remainder order, guard rails") {
    val w = Seq(("a", 0.53), ("b", 0.27), ("c", 0.2), ("d", 0.0))
      .toDF("source", "weight")
    val q = TrainExport.hamiltonQuotas(w, 10)
      .select("source", "quota").as[(String, Long)].collect().toMap
    // floors: a=5, b=2, c=2, d=0 → one leftover, largest remainder is
    // b (0.7 vs a 0.3, c 0.0) — zero-weight d must stay at 0
    assert(q == Map("a" -> 5L, "b" -> 3L, "c" -> 2L, "d" -> 0L))
    assert(q.values.sum == 10L, "quotas must sum exactly to the budget")
    // n = 0: every quota 0 (leftover 0 ≤ |sources| passes the guard)
    val z = TrainExport.hamiltonQuotas(w, 0)
      .select("quota").as[Long].collect()
    assert(z.length == 4 && z.forall(_ == 0L))
    // weights summing materially below 1 would underfill silently —
    // the in-plan guard must raise instead (leftover 5 > 2 sources)
    val under = Seq(("a", 0.3), ("b", 0.2)).toDF("source", "weight")
    val e = intercept[Exception] {
      TrainExport.hamiltonQuotas(under, 10).collect()
    }
    assert(e.getMessage.contains("weights must sum to ~1"))
    // ... and above 1 would overfill (negative leftover): same guard
    val over = Seq(("a", 0.9), ("b", 0.9)).toDF("source", "weight")
    val e2 = intercept[Exception] {
      TrainExport.hamiltonQuotas(over, 10).collect()
    }
    assert(e2.getMessage.contains("weights must sum to ~1"))
    // the per-row guard can't fire on ZERO rows — the eager check must
    // (an empty frame with a nonzero budget is the silent underfill)
    val none = Seq.empty[(String, Double)].toDF("source", "weight")
    val e3 = intercept[IllegalArgumentException] {
      TrainExport.hamiltonQuotas(none, 10)
    }
    assert(e3.getMessage.contains("empty weights"))
    assert(TrainExport.hamiltonQuotas(none, 0).isEmpty) // n=0 is fine
  }

  test("hamiltonQuotas: the budget guard's failure path frees the weights seam") {
    val sc = spark.sparkContext
    val under = Seq(("a", 0.3), ("b", 0.2)).toDF("source", "weight")
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](TrainExport.hamiltonQuotas(under, 10))
    assert(e.getMessage.contains("weights must sum to ~1"))
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(leaked.isEmpty,
      s"guard failure leaked persisted RDDs: ${leaked.values.map(_.toDebugString)}")
  }

  test("mixtureSelect: quota fill, honest shortfall, md5-rank determinism") {
    // corpus: a has 20 docs, b has 2 (will fall short of its quota),
    // c has 5; weights give b a quota its availability can't cover
    val docs = ((1L to 20L).map(i => (i, "a")) ++
      Seq((21L, "b"), (22L, "b")) ++
      (23L to 27L).map(i => (i, "c"))).toDF("doc_id", "source")
    val w = Seq(("a", 10L, 0.5), ("b", 2L, 0.3), ("c", 5L, 0.2))
      .toDF("source", "n_docs", "weight")
    val out = TrainExport.mixtureSelect(docs, "doc_id", "source", w, n = 10)
      .as[(String, Long, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // quotas: a=5, b=3, c=2 (exact floors, no leftovers)
    assert(out("a")._4 == 5L && out("b")._4 == 3L && out("c")._4 == 2L)
    // b holds only 2 docs: shortfall surfaces, never redistributed
    assert(out("b")._5 == 2L && out("b")._6 == 21L + 22L)
    assert(out("a")._5 == 5L && out("c")._5 == 2L)
    // selection is the md5 rank: recompute driver-side and compare
    def top(ids: Seq[Long], k: Int): Set[Long] = ids
      .sortBy(id => (java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, id))
      .take(k).toSet
    assert(out("a")._6 == top(1L to 20L, 5).sum)
    assert(out("c")._6 == top(23L to 27L, 2).sum)
    // n_docs passes through from the weights frame verbatim
    assert(out("a")._2 == 10L && out("b")._2 == 2L && out("c")._2 == 5L)
    // the weights-frame contract is loud, not an AnalysisException
    val bare = Seq(("a", 1.0)).toDF("source", "weight")
    val e = intercept[IllegalArgumentException] {
      TrainExport.mixtureSelect(docs, "doc_id", "source", bare, n = 10)
    }
    assert(e.getMessage.contains("n_docs"))
  }
}
