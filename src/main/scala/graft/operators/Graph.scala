package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._

/** Graph analytics over pair tables — the iterative-numeric sibling of
  * [[Dedup.connectedComponents]]'s label propagation. The input
  * convention is the repo's pair-table shape (`a_id` < `b_id`, one row per
  * undirected edge), which every near-dup discovery stage (MinHash-LSH,
  * SimHash banding, embedding buckets) already emits.
  */
object Graph {

  /** PageRank (Brin & Page 1998) over an UNDIRECTED pair table, the
    * centrality score behind representative selection in dedup clusters:
    * among near-identical documents, the highest-rank node is the one the
    * most other duplicates point at — a principled "keep this copy" choice
    * where [[Dedup.connectedComponents]]' min-id representative is an
    * arbitrary one.
    *
    * Semantics: edges are symmetrized (each pair contributes both
    * directions), nodes are the edge endpoints (an unpaired document has
    * no rank — it is its own trivial representative), and a FIXED
    * `iters`-round power iteration runs
    * `r'(v) = (1 − d)/N + d · Σ_{u→v} r(u)/deg(u)`.
    * Every node has in-degree ≥ 1 by symmetry, so the contribution join
    * covers all nodes and there is no dangling-mass term.
    *
    * Cross-engine exactness (the iterative extension of the ln/rounding
    * doctrine): each round's rank is rounded to `scaleDigits` (+1e-15
    * midpoint guard) ON BOTH SIDES, so both engines re-enter every round
    * with BIT-IDENTICAL inputs and accumulation-order ulps (≈1e-17 for
    * bucket-capped degrees) cannot compound across rounds. 1/N and
    * r/deg are single divisions by exact integers (engine-exact,
    * q120 doctrine); the damping base is written `(1 − 0.85)/N` —
    * IDENTICAL ARITHMETIC, never the pre-folded 0.15 (q136 doctrine).
    *
    * Scale shape: the edge table is checkpointed ONCE and reused each
    * round; a round is one edges⋈ranks join keyed by `src` and one
    * dst-keyed sum — both shuffles are edge-keyed, nothing is ever
    * quadratic, and the rank frame is node-sized. The loop follows the
    * connectedComponents discipline: `localCheckpoint` per round (a
    * cached lineage would re-analyze quadratically), one materializing
    * action per round, superseded checkpoints freed immediately.
    *
    * Output: (id, deg, rank) — degree as BIGINT, rank at `scaleDigits`
    * decimals. Σ rank ≈ 1 (spec-pinned within rounding slack).
    */
  def pageRank(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", iters: Int = 5, damping: Double = 0.85,
      scaleDigits: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).cache()
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    fwd.unpersist()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .localCheckpoint(true)
    val n = deg.count()
    // driver-side IEEE arithmetic — the same single operations the oracle
    // writes as 1.0/n and (1 - 0.85)/n
    val r0 = 1.0 / n
    val base = (1.0 - damping) / n
    var ranks = deg.withColumn("rank", lit(r0)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val next = edges
        .join(ranks.select(col("id").as("src"),
          (col("rank") / col("deg")).as("__c")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum("__c").as("__s"))
        .join(deg, Seq("id"))
        .select(col("id"), col("deg"),
          round(lit(base) + lit(damping) * col("__s") + lit(1e-15),
            scaleDigits).as("rank"))
        .localCheckpoint(false)
      next.count() // materialize before freeing the frame it was built from
      GraftSqlShims.unpersistCheckpoint(ranks)
      ranks = next
    }
    GraftSqlShims.unpersistCheckpoint(edges)
    GraftSqlShims.unpersistCheckpoint(deg)
    ranks
  }

  /** Triangle participation counts + local clustering coefficients over an
    * undirected pair table — the cohesion measure of the graph family: a
    * near-dup component that is one dense triangle-rich clique is a true
    * duplicate group, while a triangle-free star of the same size is one
    * boilerplate hub touching unrelated documents (drop the hub, keep the
    * leaves). Components (q65), centrality (q177), and labels (q180) say
    * WHO is connected; triangles say HOW TIGHTLY.
    *
    * Algorithm (Schank & Wagner 2005's node ordering, the shape MapReduce
    * triangle counting inherited via Suri & Vassilvitskii 2011): orient
    * every edge from its lower endpoint to its higher endpoint under the
    * TOTAL order (degree, id); enumerate wedges only at each edge's
    * SOURCE (two out-edges u→v, u→w with v ≺ w); close a wedge iff the
    * oriented edge v→w exists. Every triangle {x ≺ y ≺ z} is found
    * exactly once — as the wedge (y, z) at x closed by y→z.
    *
    * Scale shape: orientation bounds every node's out-degree by O(√m)
    * regardless of raw-degree skew (a hub of degree d contributes wedges
    * only toward HIGHER-ordered nodes, and only √m nodes can rank above
    * √m out-degree) — so the wedge join is O(m^1.5) total work where the
    * naive per-node enumeration is quadratic in the hottest degree. All
    * three shuffles (orient join, wedge self-join on src, closure
    * equi-join on (dst₁, dst₂)) are edge-keyed; counts are exact
    * integers; the coefficient 2·T/(deg·(deg−1)) is a SINGLE division of
    * exact integers (engine-exact, never rounded — the q120 doctrine).
    *
    * Output: one row per graph node — (id, deg BIGINT, tri BIGINT,
    * lcc DOUBLE), lcc = 0 for deg < 2. No driver loop — the whole
    * operator is one declarative plan (plan-auditable, unlike the
    * iterative siblings).
    */
  def triangleStats(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    // materialize the edge list once: `pairs` is typically a whole
    // discovery pipeline (LSH shingle+band joins), and this plan
    // references the edges from SIX subtrees (deg×2, orient, closure,
    // final join) that AQE's ReusedExchange cannot all dedup — the r17
    // plan audit measured the q186 input scanned 9× without this
    val e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order: attach both endpoints' ranks,
    // then src = lower-ordered endpoint. The rank structs ride along so
    // the wedge condition below compares them without a re-join.
    val oriented = e
      .join(deg.select(col("id").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            struct(col("__db").as("d"), col("b").as("i")).as("dr")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            struct(col("__da").as("d"), col("a").as("i")).as("dr"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"),
        col("o.dr").as("dr"))
      // referenced three times (both wedge legs + the closure probe):
      // edge-sized, one materialization instead of three orient re-joins
      .localCheckpoint(true)
    // wedges at each source: out-neighbor pairs (v ≺ w); closure = the
    // oriented edge v→w. Triangle rows carry all three corners.
    val w1 = oriented.select(col("src"), col("dst").as("v"), col("dr").as("vr"))
    val w2 = oriented.select(col("src"), col("dst").as("w"), col("dr").as("wr"))
    val triangles = w1.join(w2, Seq("src"))
      .filter(col("vr") < col("wr"))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val triPerNode = triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("id"), "left_outer")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc",
        when(col("deg") < 2, lit(0.0))
          .otherwise((lit(2L) * col("tri")) / (col("deg") * (col("deg") - 1L))))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002, the
    * clamped-seed variant) over an undirected pair table: seed labels
    * spread to unlabeled neighbors by iterated neighbor-majority vote —
    * how a quality tag or language label audited on 1% of a corpus
    * reaches the rest of each near-dup neighborhood without a model.
    *
    * Round semantics: a node's next label is the MOST COMMON label among
    * its labeled neighbors (unlabeled neighbors don't vote; a node with
    * no labeled neighbors stays unlabeled this round); seed nodes are
    * CLAMPED — they never change. Ties break to the GREATEST label —
    * `max(struct(count, label))` ≡ `ORDER BY c DESC, label DESC` (the
    * q166 top-gram tie-break rule, engine-replayable in one aggregate
    * with no rank window). Vote counts are exact integers; a fixed
    * `iters` rounds runs — everything deterministic, nothing rounded.
    *
    * Scale shape: per round one edges⋈labels join keyed by `src` and one
    * (dst, label)-keyed count whose argmax folds into the same
    * aggregation pass — both shuffles edge-keyed; label frames are
    * node-sized; the loop keeps the [[pageRank]] checkpoint discipline.
    *
    * Output: one row per GRAPH NODE — (id, label, status) with status
    * `seed` / `prop` / `none` (still unlabeled after `iters`). Seeds
    * outside the graph are ignored (they have no edges to spread over).
    */
  def labelPropagation(pairs: DataFrame, seeds: DataFrame,
      idCol: String = "id", labelCol: String = "label",
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .cache()
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    fwd.unpersist()
    val nodes = edges.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    val seedLabels = seeds
      .select(col(idCol).as("id"), col(labelCol).as("label"))
      .join(nodes, Seq("id"))
      .localCheckpoint(true)
    var labels = seedLabels
    for (_ <- 1 to iters) {
      val voted = edges
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("id")
        .agg(max(struct(col("__c"), col("label"))).as("__m"))
        .select(col("id"), col("__m.label").as("label"))
      val next = seedLabels.unionByName(
          voted.join(seedLabels.select("id"), Seq("id"), "left_anti"))
        .localCheckpoint(false)
      next.count() // materialize before freeing the previous round
      if (!(labels eq seedLabels)) GraftSqlShims.unpersistCheckpoint(labels)
      labels = next
    }
    val out = nodes
      .join(labels, Seq("id"), "left_outer")
      .join(seedLabels.select(col("id"), lit(true).as("__s")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), lit("none")).as("label"),
        when(col("__s").isNotNull, "seed")
          .when(col("label").isNotNull, "prop")
          .otherwise("none").as("status"))
      .localCheckpoint(true)
    if (!(labels eq seedLabels)) GraftSqlShims.unpersistCheckpoint(labels)
    GraftSqlShims.unpersistCheckpoint(edges)
    GraftSqlShims.unpersistCheckpoint(nodes)
    GraftSqlShims.unpersistCheckpoint(seedLabels)
    out
  }

  /** k-core decomposition (Seidman 1983) over an undirected pair table —
    * the density filter of the graph family: the k-core is the maximal
    * subgraph where every node keeps ≥ k neighbors, so a near-dup
    * component's 2-core separates genuinely interlinked duplicate groups
    * from the trees and pendant chains that LSH collisions string
    * together (components say WHO is connected, triangles how tightly a
    * NODE sits, the core whether the GROUP is dense enough to trust).
    *
    * Algorithm: iterative peeling — drop every node of degree < k,
    * recompute degrees on the induced subgraph, repeat to the fixpoint.
    * Pure set algebra on exact integers (no floats, no order
    * sensitivity), so any engine replays the rounds verbatim; a fixpoint
    * is reached iff the edge count stops shrinking (a peeled vertex
    * always removes its incident edges; vertices of degree 0 don't exist
    * in a pair table). Non-convergence inside `maxRounds` is LOUD —
    * peeling can cascade (a chain peels one node per round), so the cap
    * must fail, never silently return a non-core.
    *
    * Scale shape: each round is one map-side-combined degree count and
    * two edge-keyed semi-joins against the (node-sized, broadcast-prone)
    * survivor set — nothing quadratic; the loop follows the
    * connectedComponents discipline (eager localCheckpoint per round,
    * constant plan depth, superseded checkpoints freed). Rounds are
    * data-bounded: real near-dup graphs converge in a handful (the
    * degeneracy cascade), and each round strictly shrinks the edge set.
    *
    * Output: one row per surviving node — (id, core_deg BIGINT), the
    * degree INSIDE the k-core. Empty when no k-core exists.
    */
  /** Personalized PageRank (the topic-sensitive variant of Haveliwala
    * 2002) over an undirected pair table: random walks RESTART at a
    * seed set instead of uniformly, so rank measures proximity to the
    * seeds through the graph — the curation move behind "expand a
    * trusted set": seed the docs a human audited (or the wiki-linked
    * pages), and high-PPR unvisited documents are the ones the
    * near-dup/similarity structure vouches for. [[pageRank]] answers
    * "globally central"; this answers "central FROM HERE".
    *
    * Semantics: edges symmetrized; `r₀(v) = s(v)` where s(v) = 1/|S|
    * for seeds (restricted to graph nodes, LOUDLY nonempty) else 0;
    * each of the fixed `iters` rounds runs
    * `r'(v) = (1−d)·s(v) + d·Σ_{u→v} r(u)/deg(u)`. Symmetry means no
    * dangling-mass term; nodes the walk never reaches stay at 0.
    *
    * Cross-engine exactness: the q177 scheme verbatim — 1/|S| and
    * r/deg are exact single divisions, the restart coefficient stays
    * written `(1 − 0.85)·s` (never the pre-folded 0.15), and each
    * round's rank rounds (+1e-15, `scaleDigits`) on both sides so
    * accumulation ulps cannot compound.
    *
    * Scale shape and checkpoint discipline: identical to [[pageRank]]
    * (edge-keyed join+sum per round, node-sized rank frames,
    * localCheckpoint per round with eager frees).
    *
    * Output: (id, deg BIGINT, is_seed, rank).
    */
  def personalizedPageRank(pairs: DataFrame, seeds: DataFrame,
      idCol: String = "id", iters: Int = 5, damping: Double = 0.85,
      scaleDigits: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .cache()
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    fwd.unpersist()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .localCheckpoint(true)
    val seedIds = seeds.select(col(idCol).cast("long").as("id"))
      .distinct().join(deg.select("id"), Seq("id"), "left_semi")
      .localCheckpoint(true)
    val nSeeds = seedIds.count()
    require(nSeeds > 0,
      "personalizedPageRank: no seed is a graph node — nothing to restart from")
    val base = deg
      .join(seedIds.select(col("id"), lit(true).as("__seed")),
        Seq("id"), "left_outer")
      .select(col("id"), col("deg"),
        col("__seed").isNotNull.as("is_seed"),
        when(col("__seed").isNotNull, lit(1.0) / nSeeds)
          .otherwise(lit(0.0)).as("__s"))
      .localCheckpoint(true)
    var ranks = base.select(col("id"), col("__s").as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(deg.select(col("id").as("src"), col("deg").as("__sd")),
          Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("__sd")).as("__c"))
        .groupBy("id").agg(sum("__c").as("__cs"))
      val nr = base
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          round((lit(1.0) - damping) * col("__s") +
            lit(damping) * coalesce(col("__cs"), lit(0.0)) + lit(1e-15),
            scaleDigits).as("rank"))
        .localCheckpoint(false)
      nr.count()
      GraftSqlShims.unpersistCheckpoint(ranks)
      ranks = nr
    }
    val out = base.select(col("id"), col("deg"), col("is_seed"))
      .join(ranks, Seq("id"))
      .localCheckpoint(true)
    GraftSqlShims.unpersistCheckpoint(ranks)
    GraftSqlShims.unpersistCheckpoint(edges)
    GraftSqlShims.unpersistCheckpoint(deg)
    GraftSqlShims.unpersistCheckpoint(seedIds)
    GraftSqlShims.unpersistCheckpoint(base)
    out
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a DIRECTED edge
    * table — the centrality pair for asymmetric graphs, where
    * [[pageRank]]'s symmetrized formulation cannot distinguish pointing
    * from being pointed at. The natural substrate here is the kNN graph
    * ([[Dedup.knnEdges]]): an AUTHORITY is a document many others choose
    * as a nearest neighbor (a central exemplar of its region — the
    * principled pick for a dedup representative or a few-shot seed),
    * while a HUB's neighborhood concentrates on authorities (a document
    * sitting between exemplars). On an undirected graph hubs ≡
    * authorities ≡ eigenvector centrality, which is why this operator
    * takes the directed edge list raw and never symmetrizes.
    *
    * Round semantics (fixed `iters` rounds):
    * `auth_i(v) = Σ_{u→v} hub_{i-1}(u)`, then
    * `hub_i(u)  = Σ_{u→v} auth_i(v)`, each MAX-normalized.
    *
    * Cross-engine exactness — a STRONGER scheme than [[pageRank]]'s:
    * only the two accumulation points (the in-sum and the out-sum) are
    * rounded (+1e-15, `scaleDigits`); normalization divides by the MAX
    * of the rounded sums, which is order-independent (unlike the L1/L2
    * norms of the textbook formulation, whose global sum would be a
    * second accumulation), so the normalized scores are bit-identical
    * single-division quotients in both engines and re-enter the next
    * round exact with NO second rounding. hub_0 = 1.0 for every node —
    * already normalized, exactly representable.
    *
    * Scale shape: per round two edge-keyed join+sum shuffles (each the
    * size of the edge table) and one single-row max broadcast into the
    * normalizing projection — nothing quadratic, frames node-sized; the
    * loop keeps the [[pageRank]] checkpoint discipline (localCheckpoint
    * per round, one materializing action, superseded rounds freed).
    *
    * Output: one row per graph node — (id, auth, hub), both rounded
    * (+1e-15, 10) at the boundary; nodes with no in-edges score auth 0,
    * no out-edges hub 0.
    */
  def hits(edges: DataFrame, srcCol: String = "src_id",
      dstCol: String = "dst_id", iters: Int = 4,
      scaleDigits: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    if (nodes.isEmpty) {
      // materialize the empty result BEFORE releasing the checkpoints: the
      // returned frame's lineage reads nodes' checkpoint blocks, a
      // localCheckpointed RDD cannot recompute once its blocks are gone,
      // and unpersist is async — returning an unmaterialized frame races
      // the block removal (intermittent 'Checkpoint block not found')
      val out = nodes.select(col("id"), lit(0.0).as("auth"),
        lit(0.0).as("hub")).localCheckpoint(true)
      GraftSqlShims.unpersistCheckpoint(e)
      GraftSqlShims.unpersistCheckpoint(nodes)
      return out
    }
    var hub = nodes.select(col("id"), lit(1.0).as("hub"))
      .localCheckpoint(true)
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val ar = e
        .join(hub.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(round(sum("hub") + lit(1e-15), scaleDigits).as("__v"))
      val nextAuth = ar
        .crossJoin(broadcast(ar.agg(max("__v").as("__m"))))
        .select(col("id"), (col("__v") / col("__m")).as("auth"))
        .localCheckpoint(false)
      nextAuth.count()
      if (auth != null) GraftSqlShims.unpersistCheckpoint(auth)
      auth = nextAuth
      val hr = e
        .join(auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(round(sum("auth") + lit(1e-15), scaleDigits).as("__v"))
      val nextHub = hr
        .crossJoin(broadcast(hr.agg(max("__v").as("__m"))))
        .select(col("id"), (col("__v") / col("__m")).as("hub"))
        .localCheckpoint(false)
      nextHub.count()
      GraftSqlShims.unpersistCheckpoint(hub)
      hub = nextHub
    }
    val out = nodes
      .join(auth, Seq("id"), "left_outer")
      .join(hub, Seq("id"), "left_outer")
      .select(col("id"),
        round(coalesce(col("auth"), lit(0.0)) + lit(1e-15), 10).as("auth"),
        round(coalesce(col("hub"), lit(0.0)) + lit(1e-15), 10).as("hub"))
      .localCheckpoint(true)
    GraftSqlShims.unpersistCheckpoint(auth)
    GraftSqlShims.unpersistCheckpoint(hub)
    GraftSqlShims.unpersistCheckpoint(e)
    GraftSqlShims.unpersistCheckpoint(nodes)
    out
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over an
    * undirected pair table: score every NON-adjacent pair at distance 2
    * by Σ_z 1/ln(deg(z)) over their common neighbors z — rare shared
    * neighbors count more than hub ones. Over a near-dup or mutual-kNN
    * graph this surfaces the links the discovery pass MISSED: two
    * documents never bucketed together but sharing several low-degree
    * neighbors are a near-dup pair to re-verify (the recall audit's
    * candidate list), and in curation it ranks which clusters are about
    * to merge.
    *
    * Semantics: wedges enumerate at their CENTER (u—z—v, u < v), the
    * existing-edge anti-join keeps only unlinked pairs, and the score
    * sums 1/ln(deg z) — deg ≥ 2 for any wedge center, so ln > 0. Each
    * 1/ln(deg) is a single division of a correctly-rounded ln over an
    * exact integer (identical in both engines); only the per-pair SUM
    * accumulates, so it rounds (+1e-9, 6) and the top-k ranks on the
    * ROUNDED score with (a, b) tie-break (the q97 ln doctrine).
    *
    * Scale shape: the center self-join is quadratic per center, so
    * centers over `maxCenterDeg` are SKIPPED whole (the hot-bucket
    * convention — an oracle mirrors it with a count filter; a hub
    * shared by thousands contributes ~1/ln(huge) ≈ noise anyway); all
    * shuffles are edge- or wedge-keyed; the top-k is one TakeOrdered
    * pass, never a global sort.
    *
    * Output: top `topK` rows — (a_id, b_id, common BIGINT, aa_score).
    */
  def adamicAdar(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", topK: Int = 100,
      maxCenterDeg: Int = 1000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxCenterDeg >= 2, s"maxCenterDeg must be >= 2, got $maxCenterDeg")
    // canonicalize defensively (a < b, one orientation): an edge supplied
    // as (b, a) with b > a would otherwise escape the u<v existing-edge
    // anti-join, and a pair present in BOTH orientations would
    // double-count degrees — current callers (mutualKnnEdges) already
    // satisfy the convention, so this is a no-op for them
    // the caller's pair frame is typically a whole discovery pipeline
    // (mutual-kNN over LSH buckets) referenced from edges (×2), the
    // anti-join, and — via edges — centers and both wedge legs:
    // materialize the canonical edge set and the degree-joined
    // neighbor table once (both edge-bounded; the r17 all-plans audit
    // measured the q238 composition re-running the LSH pipeline into
    // 144 corpus scans without these seams)
    val p = pairs.select(
      least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
      greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val edges = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
    val centers = edges.groupBy(col("a").as("z"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxCenterDeg)
    val nbrs = edges.select(col("a").as("z"), col("b").as("n"))
      .join(centers, Seq("z"))
      .localCheckpoint(true)
    val wedges = nbrs.select(col("z"), col("deg"), col("n").as("u"))
      .join(nbrs.select(col("z"), col("n").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    wedges
      .join(p.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .groupBy(col("u").as("a_id"), col("v").as("b_id"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("deg"))) + lit(1e-9), 6).as("aa_score"))
      .orderBy(desc("aa_score"), col("a_id"), col("b_id"))
      .limit(topK)
  }

  def kCore(pairs: DataFrame, k: Int, aCol: String = "a_id",
      bCol: String = "b_id", maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).cache()
    var edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    fwd.unpersist()
    var m = edges.count()
    var round = 0
    var converged = m == 0L
    while (!converged) {
      require(round < maxRounds,
        s"k-core peeling did not converge in $maxRounds rounds " +
          s"($m directed edges remain) — raise maxRounds")
      val keep = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select("src")
      val next = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(true)
      val m2 = next.count()
      GraftSqlShims.unpersistCheckpoint(edges)
      edges = next
      converged = m2 == m
      m = m2
      round += 1
    }
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("core_deg"))
      .localCheckpoint(true)
    GraftSqlShims.unpersistCheckpoint(edges)
    out
  }
}
