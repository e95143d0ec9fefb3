package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** An artifact's `meta.json`, typed: the artifact `kind` (the `type` key;
  * omitted when empty), its build parameters in written order, the
  * generation pointer and the segment high-water mark. Parsed and
  * rendered only here (Jackson, from Spark's own jars), so every meta
  * field is read one way. Parameter values are Int, Long, Boolean or
  * String.
  */
private[core] final case class ArtifactMeta(kind: String,
    params: Seq[(String, Any)] = Nil, gen: Option[Int] = None,
    maxSeg: Option[Int] = None) {

  def get(key: String): Option[Any] =
    params.collectFirst { case (k, v) if k == key => v }
  def int(key: String): Option[Int] = get(key).collect { case i: Int => i }
  def string(key: String): Option[String] =
    get(key).collect { case s: String => s }
  def bool(key: String): Option[Boolean] =
    get(key).collect { case b: Boolean => b }

  /** A required integer parameter; absent fails loudly with `missing`. */
  def requireInt(key: String, missing: => String): Int =
    int(key).getOrElse(throw new IllegalStateException(missing))

  def json: String = {
    val node = ArtifactMeta.mapper.createObjectNode()
    if (kind.nonEmpty) node.put("type", kind)
    params.foreach {
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v) => node.put(k, v.toString)
    }
    gen.foreach(node.put("gen", _))
    maxSeg.foreach(node.put("max_seg", _))
    ArtifactMeta.mapper.writeValueAsString(node)
  }
}

private[core] object ArtifactMeta {
  private val mapper = new ObjectMapper()

  def parse(json: String): ArtifactMeta = {
    val node = mapper.readTree(json)
    if (node == null || !node.isObject)
      throw new IllegalStateException(s"artifact meta is not a JSON object: $json")
    node.properties().asScala.foldLeft(ArtifactMeta("")) { (m, e) =>
      (e.getKey, e.getValue) match {
        case ("type", v) => m.copy(kind = v.asText)
        case ("gen", v) if v.isInt => m.copy(gen = Some(v.intValue))
        case ("max_seg", v) if v.isInt => m.copy(maxSeg = Some(v.intValue))
        case (k, v) => m.copy(params = m.params :+ (k -> value(v)))
      }
    }
  }

  private def value(v: JsonNode): Any =
    if (v.isBoolean) v.booleanValue
    else if (v.isInt) v.intValue
    else if (v.isIntegralNumber) v.longValue
    else v.asText
}

/** What the artifact looked like at one meta read: a command resolves
  * its tables, tombstones and parameters from ONE snapshot, so a
  * compaction flip between two reads can never mix generations. A
  * served snapshot carries the collection's `committed` state, and the
  * tables read through it are resolved once for that state.
  */
private[core] final case class ArtifactSnapshot(meta: ArtifactMeta,
    stale: Boolean, dataDir: Path,
    committed: Option[CommittedState] = None) {
  def live: Boolean = !stale
}

/** One managed artifact directory beside a collection
  * (`<root>/graft_<kind>_<collection>/`): `meta.json` is its sole commit
  * point, a `stale` marker records that a mutation landed since the last
  * build or refresh, and a generational artifact keeps its data under
  * `gen_<g>/` where `g` is the meta's pointer (a flat one keeps it in the
  * directory itself). Missing directories read as absent artifacts.
  *
  * Every write primitive ends by rewriting the owning collection's commit
  * marker (`commits`), so serving reads ([[served]]) can cache what they
  * resolve per committed state.
  */
private[core] class ManagedArtifact(val spark: SparkSession,
    val fs: FileSystem, val dir: Path, val label: String,
    val commits: CommitPoint = CommitPoint.Standalone,
    val generational: Boolean = true, val staleable: Boolean = true) {
  import ManagedArtifact._

  private val metaPath = new Path(dir, "meta.json")
  private val staleMarker = new Path(dir, "stale")

  def exists: Boolean = fs.exists(metaPath)
  def meta: ArtifactMeta = ArtifactMeta.parse(readString(fs, metaPath))
  def writeMeta(m: ArtifactMeta): Unit = writeString(fs, metaPath, m.json)

  def genDir(g: Int): Path = new Path(dir, s"gen_$g")
  def dataDir(m: ArtifactMeta): Path =
    if (generational) genDir(m.gen.getOrElse(0)) else dir

  /** One meta read (None when the artifact is absent). Write paths use
    * this: they see the artifact as it is on disk. */
  def snapshot: Option[ArtifactSnapshot] =
    if (!exists) None
    else {
      val m = meta
      Some(ArtifactSnapshot(m, fs.exists(staleMarker), dataDir(m)))
    }

  /** The snapshot serving reads use: read once per committed state of the
    * collection, and the tables read through it likewise. */
  def served: Option[ArtifactSnapshot] = commits.state match {
    case None => snapshot
    case st @ Some(s) => s(("snapshot", dir))(snapshot.map(_.copy(committed = st)))
  }

  /** LISTINDEXES state: "live" / "stale", None when absent. */
  def state: Option[String] =
    if (!exists) None else Some(if (fs.exists(staleMarker)) "stale" else "live")

  /** Mark stale (mutations call this); no-op when absent. */
  def invalidate(): Unit =
    if (staleable && exists) {
      writeString(fs, staleMarker, "stale")
      commits.commit()
    }

  def clearStale(): Unit = if (fs.delete(staleMarker, false)) commits.commit()

  def delete(): Unit = if (fs.exists(dir)) {
    fs.delete(dir, true)
    commits.commit()
  }

  /** Full rebuild: drop the whole artifact (stale marker included),
    * write the data, then commit `m` (its own generation, gen 0 for a
    * fresh build). A crash in between leaves the artifact absent.
    */
  def rebuild(m: ArtifactMeta)(write: Path => Unit): Unit = {
    if (fs.exists(dir)) fs.delete(dir, true)
    write(dataDir(m))
    writeMeta(m)
    commits.commit()
  }

  /** Online generation commit: write a fresh `gen_<m.gen>` (an orphan of
    * an earlier crash at that number is cleared first) while readers keep
    * serving the current pointer; the meta overwrite that moves the
    * pointer is the single commit, after which every other generation is
    * swept. A crash before the flip leaves an orphan and an intact
    * artifact; after it, the new generation live and an unreferenced old
    * directory. The commit marker moves with the pointer, before the sweep
    * (which only removes generations no meta references).
    */
  def commitGeneration(m: ArtifactMeta)(write: Path => Unit): Unit = {
    val g = m.gen.getOrElse(
      throw new IllegalArgumentException(s"$label: a generation commit needs a gen"))
    val next = genDir(g)
    if (fs.exists(next)) fs.delete(next, true)
    write(next)
    writeMeta(m)
    commits.commit()
    Option(fs.listStatus(dir)).getOrElse(Array.empty).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("gen_") && n != s"gen_$g") fs.delete(st.getPath, true)
    }
  }

  /** Read a table with its declared schema; a missing directory is the
    * empty frame (nothing was ever written there), and a zero-file
    * partitioned directory reads empty instead of failing inference.
    * Under a `committed` state the relation (listing included) resolves
    * once for that state; without one, every call lists.
    */
  def read(p: Path, schema: StructType,
      committed: Option[CommittedState] = None): DataFrame =
    CommittedState.frame(spark, committed, ("table", p)) {
      if (fs.exists(p))
        graft.operators.ScaleKnobs.withDriverListing(spark)(
          spark.read.schema(schema).parquet(p.toString))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
}

private[core] object ManagedArtifact {
  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}

/** One table of a segmented artifact: sub-directory, declared schema,
  * partition columns. */
private[core] final case class ArtifactTable(sub: String,
    schema: StructType, partitionCols: Seq[String] = Nil)

/** What a diffable artifact family supplies to [[SegmentedArtifact]]:
  * its tables, the diff base table (`id`, `payload_md5`, `seg` columns)
  * and the diff key computed from the collection, a meta check run
  * before anything materializes, and the writer of one segment's rows.
  * `noun`/`command`/`refreshCommand` word the loud refusals.
  */
private[core] final case class SegmentedFamily(noun: String,
    command: String, refreshCommand: String,
    tables: ArtifactMeta => Seq[ArtifactTable], docs: String,
    diffKey: Column, validate: ArtifactMeta => Unit,
    writeSegment: (DataFrame, Int, Path, ArtifactMeta) => Unit)

/** The segment/tombstone/generation lifecycle shared by the diffable
  * artifacts (postings, minhash, winsig, attrs). Every row carries a
  * `seg` number (a build is seg 0); a `tombstones` table lists dead
  * `(id, seg)` versions; live rows are rows anti-joined against it (a
  * broadcast-sized frame). A refresh diffs the collection against the
  * docs table by `(id, diffKey)`, writes only arrivals as a new segment
  * and tombstones departures; a compaction folds live rows into a fresh
  * generation as seg 0 behind the pointer flip.
  *
  * Segment numbers come from the meta's `max_seg`, RESERVED (written)
  * before the segment is appended, so a crash after the append can never
  * hand the same number to the next refresh; a meta without `max_seg`
  * (an older build) falls back once to a `max(seg)` scan of the docs
  * table. The new segment also lands above every departing segment, so
  * a database that crashed under the older record-after-append rule
  * cannot tombstone the fresh version of a document either.
  */
private[core] final class SegmentedArtifact(spark: SparkSession,
    fs: FileSystem, dir: Path, label: String, commits: CommitPoint,
    family: SegmentedFamily)
    extends ManagedArtifact(spark, fs, dir, label, commits) {
  import GraftDatabase.Compression

  private val TombstonesSchema = StructType.fromDDL("id BIGINT, seg INT")

  private def schemaOf(m: ArtifactMeta, sub: String): StructType =
    family.tables(m).find(_.sub == sub).map(_.schema).getOrElse(
      throw new IllegalArgumentException(s"$label has no table $sub"))

  def table(s: ArtifactSnapshot, sub: String): DataFrame =
    read(new Path(s.dataDir, sub), schemaOf(s.meta, sub), s.committed)

  def tombstones(s: ArtifactSnapshot): DataFrame =
    read(new Path(s.dataDir, "tombstones"), TombstonesSchema, s.committed)

  private def tombstoned(s: ArtifactSnapshot): Boolean = {
    val p = new Path(s.dataDir, "tombstones")
    CommittedState.memo(s.committed, ("exists", p))(fs.exists(p))
  }

  /** Live rows of `sub`; `where` filters the table scan itself, so its
    * partition pruning is untouched by the tombstone anti-join. A
    * generation without a `tombstones` table (a build, a compaction, a
    * refresh with no departures) is all live: no anti-join, so no
    * broadcast of an empty frame. */
  def live(s: ArtifactSnapshot, sub: String,
      where: Option[Column] = None): DataFrame = {
    val t = table(s, sub)
    val rows = where.fold(t)(t.filter)
    if (!tombstoned(s)) rows
    else rows.join(broadcast(tombstones(s)), Seq("id", "seg"), "left_anti")
  }

  /** Full build over `rows` as gen 0 / seg 0. */
  def build(m: ArtifactMeta, rows: DataFrame): Unit = {
    val full = m.copy(gen = Some(0), maxSeg = Some(0))
    rebuild(full)(family.writeSegment(rows, 0, _, full))
  }

  /** Append `rows` as the next segment of the snapshot's generation,
    * reserving its number in the meta first and committing after the
    * segment is written; returns the number. */
  def append(s: ArtifactSnapshot, rows: DataFrame, above: Int = 0): Int = {
    val last = s.meta.maxSeg.getOrElse(
      table(s, family.docs).agg(coalesce(max("seg"), lit(0)))
        .head().getInt(0))
    val seg = math.max(last, above) + 1
    val m = s.meta.copy(maxSeg = Some(seg))
    writeMeta(m)
    family.writeSegment(rows, seg, s.dataDir, m)
    commits.commit()
    seg
  }

  /** Incremental refresh against the collection `cur` (read only after
    * the meta checks pass). Returns the segment written, -1 for none.
    */
  def refresh(name: String, cur: => DataFrame): Int = {
    import family._
    val snap = snapshot
    require(snap.isDefined, s"no $noun on $name to refresh — run $command first")
    val s = snap.get
    validate(s.meta)
    val rows = cur
    require(rows.columns.contains("payload"),
      s"$command needs a payload column on $name")
    val curKeys = rows.select(col("id"), diffKey.as("payload_md5"))
    val indexed = live(s, docs).select("id", "payload_md5", "seg")
    // changed docs appear on BOTH sides: as an arrival (new key not
    // indexed) and as a departure (old version's (id, seg) tombstoned).
    // Both frames are delta-sized: materialize each ONCE — otherwise
    // every downstream job re-runs the corpus-vs-artifact diff — and
    // free both on every exit path
    val arrivals = curKeys.join(indexed.select("id", "payload_md5"),
      Seq("id", "payload_md5"), "left_anti").localCheckpoint(true)
    try {
      val departures = indexed.join(curKeys, Seq("id", "payload_md5"),
        "left_anti").select(col("id"), col("seg")).localCheckpoint(true)
      try {
        // one job: the departures' emptiness AND their highest segment
        val depMax = departures.select("seg").queryExecution.toRdd
          .map(_.getInt(0)).fold(-1)(math.max)
        val wrote =
          if (arrivals.isEmpty) -1
          else append(s, rows.join(broadcast(arrivals.select("id")), Seq("id")),
            above = depMax)
        // the union materializes BEFORE the old file goes (never
        // overwrite a path the plan still reads)
        if (depMax >= 0) {
          val tombPath = new Path(s.dataDir, "tombstones")
          val tmp = new Path(s.dataDir, "tombstones_tmp")
          tombstones(s).union(departures)
            .write.mode("overwrite").option("compression", Compression)
            .parquet(tmp.toString)
          if (fs.exists(tombPath)) fs.delete(tombPath, true)
          if (!fs.rename(tmp, tombPath))
            throw new IllegalStateException(
              s"$label tombstone swap failed for $name")
          commits.commit()
        }
        clearStale()
        wrote
      } finally GraftSqlShims.unpersistCheckpoint(departures)
    } finally GraftSqlShims.unpersistCheckpoint(arrivals)
  }

  /** Fold segments + tombstones into a fresh generation as seg 0 (no
    * row is recomputed), committed by the pointer flip. Requires a LIVE
    * artifact: compacting a stale one would only launder staleness. */
  def compact(name: String): Unit = {
    import family._
    val snap = snapshot
    require(snap.isDefined, s"no $noun on $name to compact — run $command first")
    val s = snap.get
    require(s.live, s"$noun on $name is stale — $refreshCommand first, " +
      "then compact")
    validate(s.meta)
    val next = s.meta.copy(gen = Some(s.meta.gen.getOrElse(0) + 1),
      maxSeg = Some(0))
    commitGeneration(next) { nextDir =>
      tables(s.meta).foreach { t =>
        val w = live(s, t.sub).withColumn("seg", lit(0))
          .write.mode("overwrite").option("compression", Compression)
        (if (t.partitionCols.isEmpty) w else w.partitionBy(t.partitionCols: _*))
          .parquet(new Path(nextDir, t.sub).toString)
      }
    }
  }
}
