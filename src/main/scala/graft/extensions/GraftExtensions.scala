package graft.extensions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, ExpressionInfo, In, Literal, SortOrder, Descending}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.core.{CellLayout, GraftDatabase, IndexLayout}
import graft.functions.{CosineSimilarity, DotProduct, HammingDistance, L2Distance, L2Norm, NfcNormalize, StripAccents}

/** Session-level integration via [[SparkSessionExtensions]] — the standard
  * plug-in point for Spark libraries. Activate with either
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or, with no code change at all:
  *   --conf spark.sql.extensions=graft.extensions.GraftExtensions
  * }}}
  *
  * Installs two things:
  *
  *  1. '''SQL functions''': every graft codegen expression (`cosine_sim`,
  *     `l2_dist`, `dot_product`, `l2_norm`, `hamming_dist`) is injected into
  *     the session's FunctionRegistry as a built-in — visible to plain
  *     `spark.sql` text in every session of the application, with no
  *     per-session [[graft.functions.registerAll]] call.
  *  1. '''[[AnnProbeRewrite]]''': an OPT-IN analyzer rule that turns a
  *     brute-force top-k vector query over a REINDEXed collection into the
  *     partition-pruned IVF probe (see the rule's doc for exact semantics
  *     and the two confs that govern it).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptions.foreach(ext.injectFunction)
    ext.injectPostHocResolutionRule(new AnnProbeRewrite(_))
  }
}

object GraftExtensions {

  /** `spark.graft.ann.autoProbe` — master switch for [[AnnProbeRewrite]]
    * (default false: the engine never trades exactness for speed silently).
    */
  val AutoProbeKey = "spark.graft.ann.autoProbe"

  /** `spark.graft.ann.probeRadius` — probe aggressiveness when the rewrite
    * fires: hamming bit-flip radius for sign_bucket layouts, `nprobe − 1`
    * for kmeans layouts (same semantics as
    * [[graft.core.GraftDatabase.searchSimilar]]'s `probeRadius`).
    */
  val ProbeRadiusKey = "spark.graft.ann.probeRadius"

  private def fn(name: String, clazz: Class[_],
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      builder)

  /** The injected function surface — same names as
    * [[graft.functions.registerAll]], but installed as session built-ins.
    */
  val functionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity], es => CosineSimilarity(es(0), es(1))),
    fn("l2_dist", classOf[L2Distance], es => L2Distance(es(0), es(1))),
    fn("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    fn("l2_norm", classOf[L2Norm], es => L2Norm(es.head)),
    fn("hamming_dist", classOf[HammingDistance], es => HammingDistance(es(0), es(1))),
    fn("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head)),
    fn("strip_accents", classOf[StripAccents], es => StripAccents(es.head)))
}

/** Opt-in ANN rewrite: `ORDER BY cosine_sim(vec, <literal>) DESC LIMIT k`
  * over a scan of a REINDEXed graft collection becomes the same query over
  * `cluster_id IN (<cells near the query>)` — the IVF probe
  * ([[GraftDatabase.searchSimilar]]'s cells, [[CellLayout.cells]]),
  * expressed as a plan rewrite so a user who writes the exact brute-force
  * query gets the partition-pruned scan without restructuring code. At 100 TB this is the
  * difference between scanning the corpus and scanning ~nprobe/cells of it.
  *
  * The rewrite is APPROXIMATE — it prunes cells that could in principle
  * hold a true neighbor (recall characterized in IvfRecallSpec) — so it is
  * governed by `spark.graft.ann.autoProbe` and DEFAULT OFF, mirroring
  * [[GraftDatabase.searchSimilar]]'s probeRadius opt-in: the engine never
  * silently trades correctness for speed; this conf is the user choosing.
  *
  * Fire conditions (all required — anything else passes through untouched):
  *  - plan shape `Limit(k, Sort(cosine_sim DESC, global))`, with the score
  *    either sorted on directly or resolved through one projection alias;
  *  - one side of the cosine is a foldable array literal (the query vector),
  *    so the probe cells are computable at planning time;
  *  - the sort subtree scans exactly ONE file-based relation, that relation
  *    carries a `cluster_id` partition column, and the layout record REINDEX
  *    wrote next to the scan root ([[IndexLayout.read]], the one parser the
  *    database uses too) is sign_bucket, kmeans or ivfpq_kmeans — those
  *    layouts' cells at `spark.graft.ann.probeRadius` are the probe set. A
  *    pq layout (its codes are an explicit searchSimilarPq opt-in), a
  *    zorder layout (no cells) or a collection without a record is left
  *    exact; a malformed record fails the analysis, naming its file.
  *
  * The rewrite only ever ADDS a `Filter(cluster_id IN ...)` directly above
  * the relation — output attributes are untouched, so no downstream
  * re-resolution is needed, and Catalyst's own planning turns the filter on
  * the partition column into `PartitionFilters` (asserted in
  * ExtensionsSpec). Reference surface: SEARCHSIMILAR
  * (`/root/reference/src/command/types.rs:121-132`) + REINDEX
  * (`:134-144`).
  */
class AnnProbeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftExtensions.{AutoProbeKey, ProbeRadiusKey}

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get(AutoProbeKey, "false").toBoolean) plan
    else plan.transformDown {
      // the PRIMARY sort key decides; further keys are tie-breaks, which
      // the rewrite preserves untouched (it only adds a filter below)
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, sort: Sort))
          if sort.global && sort.order.nonEmpty =>
        rewriteSort(sort)
          .map(ns => gl.copy(child = ll.copy(child = ns)))
          .getOrElse(gl)
    }

  private def rewriteSort(sort: Sort): Option[Sort] = {
    val so: SortOrder = sort.order.head
    if (so.direction != Descending) return None
    for {
      query <- queryVectorOf(so.child, sort.child)
      rel <- soleFileScan(sort.child)
      cluster <- rel.output.find(_.name == "cluster_id")
      if !alreadyProbed(sort.child)
      codes <- probeCells(rel, query)
      lits <- literalCells(codes, cluster)
    } yield {
      // transformUp, NOT transformDown: down re-applies the rule to the
      // replacement's children, so the freshly-wrapped relation would match
      // again and wrap forever
      val pruned = sort.child.transformUp {
        case r: LogicalRelation if r eq rel => Filter(In(cluster, lits), r)
      }
      sort.copy(child = pruned)
    }
  }

  /** The query vector, when the sort key is `cosine_sim(col, literal)` —
    * directly, or through one level of projection alias (`.select(...
    * cosine_sim(...).as("score")).orderBy(desc("score"))`).
    */
  private def queryVectorOf(key: Expression, child: LogicalPlan): Option[Array[Float]] =
    key match {
      case CosineSimilarity(a, b) =>
        literalVector(a).orElse(literalVector(b))
      case attr: AttributeReference =>
        child match {
          case p: Project =>
            p.projectList.collectFirst {
              case al @ Alias(cs: CosineSimilarity, _) if al.exprId == attr.exprId => cs
            }.flatMap(cs => literalVector(cs.left).orElse(literalVector(cs.right)))
          case _ => None
        }
      case _ => None
    }

  private def literalVector(e: Expression): Option[Array[Float]] = e match {
    case Literal(arr: ArrayData, ArrayType(FloatType, _)) =>
      Some(arr.toFloatArray())
    case Literal(arr: ArrayData, ArrayType(DoubleType, _)) =>
      Some(arr.toDoubleArray().map(_.toFloat))
    case _ => None
  }

  /** The single file-based relation under the sort, or None when the query
    * is more complicated than "scan one collection" (joins, unions — the
    * rewrite doesn't claim to understand those).
    */
  private def soleFileScan(plan: LogicalPlan): Option[LogicalRelation] =
    plan.collect {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => r
    } match {
      case Seq(only) => Some(only)
      case _ => None
    }

  /** Idempotence guard: a plan that already carries a cluster_id In-filter
    * directly above the relation (this rule ran, or the user probed by
    * hand) is left alone — analysis can visit a subtree more than once when
    * an analyzed DataFrame is composed into a larger query.
    */
  private def alreadyProbed(plan: LogicalPlan): Boolean =
    plan.exists {
      case Filter(In(a: AttributeReference, _), _) => a.name == "cluster_id"
      case _ => false
    }

  /** Probe cells of the layout record next to the scan root; None when
    * there is no record or the rule does not probe its layout.
    */
  private def probeCells(rel: LogicalRelation, query: Array[Float]): Option[Seq[Int]] = {
    val radius = spark.conf.get(ProbeRadiusKey, "1").toInt
    for {
      root <- rel.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.headOption
      layout <- IndexLayout.read(
        root.getFileSystem(spark.sessionState.newHadoopConf()), root)
      cells <- layout match {
        // pq's cells are sign buckets, but its codes stay an explicit
        // searchSimilarPq opt-in; ivfpq_kmeans is probed by its coarse
        // cells with an exact rerank inside, never by its codes
        case _: IndexLayout.Pq => None
        case l: CellLayout => Some(l.cells(query, radius))
        case _ => None // zorder: no probe geometry → exact
      }
    } yield cells
  }

  /** Cell ids as literals of the partition column's own type; an unexpected
    * cluster_id type aborts the rewrite rather than risking an analysis
    * error in an already-analyzed plan.
    */
  private def literalCells(codes: Seq[Int], cluster: AttributeReference): Option[Seq[Literal]] =
    cluster.dataType match {
      case IntegerType => Some(codes.map(Literal(_)))
      case LongType => Some(codes.map(c => Literal(c.toLong)))
      case _ => None
    }

}
