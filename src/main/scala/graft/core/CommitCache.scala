package graft.core

import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Driver state valid for exactly one committed state of one collection:
  * the resolved relations of its reads (footer schema, file listing,
  * partition spec), its parsed layout record, its artifacts' snapshots and
  * the stored text index's corpus stats. Each value is computed on first
  * use and served to every later reader of the same state.
  */
private[core] final class CommittedState(val token: String) {
  private val memo = TrieMap.empty[Any, Any]

  def apply[T](key: Any)(compute: => T): T =
    memo.getOrElseUpdate(key, compute).asInstanceOf[T]

  /** `build`'s frame with its relation resolved once for this state.
    * `build` returns a plain relation read or an empty frame; every call
    * gets a frame with fresh attribute ids, so self-joins stay safe.
    */
  def frame(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    apply(key) {
      val df = build
      GraftSqlShims.baseRelation(df).toRight(df.schema)
    } match {
      case Right(rel: BaseRelation) => spark.baseRelationToDataFrame(rel)
      case Left(schema: StructType) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
}

private[core] object CommittedState {
  /** `compute` memoized in `state`; computed afresh without one. */
  def memo[T](state: Option[CommittedState], key: Any)(compute: => T): T =
    state.fold(compute)(_(key)(compute))

  def frame(spark: SparkSession, state: Option[CommittedState], key: Any)(
      build: => DataFrame): DataFrame =
    state.fold(build)(_.frame(spark, key)(build))
}

/** The commit markers of a database's collections and the driver state
  * cached for each. Every write to a collection or to one of its
  * artifacts rewrites the collection's marker (`<collection>/_graft_commit`,
  * a fresh UUID) as its last step — a collection rewrite writes it into
  * the new version before the swap. A reader reads the marker before it
  * lists anything and serves from the state cached under that token, so a
  * cached value is never older than the commit that wrote the token. One
  * state per collection: a new token replaces it. A collection without a
  * marker (never committed by a marker-writing build) is served uncached.
  */
private[core] final class CommitCache(fs: FileSystem) {
  private val states = TrieMap.empty[Path, CommittedState]

  /** The cached state of the collection at `dir` as its marker names it
    * now; None without a readable marker. */
  def current(dir: Path): Option[CommittedState] =
    token(dir).map(stateOf(dir, _))

  def commit(dir: Path): Unit =
    ManagedArtifact.writeString(fs, new Path(dir, CommitCache.File),
      UUID.randomUUID().toString)

  /** The marker of the collection at `dir`, as its artifacts see it. */
  def point(dir: Path): CommitPoint = new CommitPoint {
    def commit(): Unit = CommitCache.this.commit(dir)
    def state: Option[CommittedState] = current(dir)
  }

  /** Drop the state of a collection that no longer exists. */
  def forget(dir: Path): Unit = { states.remove(dir); () }

  // an unreadable marker (absent, or caught mid-overwrite) serves uncached
  private def token(dir: Path): Option[String] =
    try Some(ManagedArtifact.readString(fs, new Path(dir, CommitCache.File)))
      .filter(_.nonEmpty)
    catch { case _: java.io.IOException => None }

  @annotation.tailrec
  private def stateOf(dir: Path, token: String): CommittedState =
    states.get(dir) match {
      case Some(s) if s.token == token => s
      case old =>
        val s = new CommittedState(token)
        val won = old.fold(states.putIfAbsent(dir, s).isEmpty)(
          states.replace(dir, _, s))
        if (won) s else stateOf(dir, token)
    }
}

private[core] object CommitCache {
  /** Hidden from Spark's listing by its leading underscore. */
  val File = "_graft_commit"
}

/** A collection's commit marker as its artifacts see it: their write
  * primitives end with [[commit]], their served snapshots read through
  * [[state]]. */
private[core] trait CommitPoint {
  def commit(): Unit
  def state: Option[CommittedState]
}

private[core] object CommitPoint {
  /** An artifact no collection owns (a pipeline stage): nothing to
    * commit, every read uncached. */
  object Standalone extends CommitPoint {
    def commit(): Unit = ()
    def state: Option[CommittedState] = None
  }
}
