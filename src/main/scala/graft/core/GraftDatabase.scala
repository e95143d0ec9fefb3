package graft.core

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.IndexLayout.{IvfPqKMeans, KMeans, Pq, SignBucket}
import graft.model.VectorRecord
import graft.operators.{ProductQuantization, SimilaritySearch, TextAnalysis, VectorIndex, ZOrder}

/** A graft database: a directory of named collections, each a Parquet-backed
  * table (SURVEY §1.2). Reference surface: database init at
  * `/root/reference/src/database/setup.rs:3-26` (directory + `vr_config` +
  * `vr_wal`, fail if the directory exists), collections planned at
  * `/root/reference/src/database/mod.rs:6-10`.
  *
  * Layout:
  * {{{
  *   <root>/graft_config.json        // vr_config parity: db metadata
  *   <root>/graft_wal/               // vr_wal parity: streaming checkpoints
  *   <root>/<collection>/_graft_meta.ddl   // collection schema (DDL string)
  *   <root>/<collection>/part-....parquet  // data files (cluster_id=... dirs
  *                                         //   after REINDEX)
  *   <root>/graft_<kind>_<collection>/     // a managed artifact (postings =
  *                                         //   textindex, minhash, winsig,
  *                                         //   dhash, splits, attrs):
  *       meta.json                         //   typed ArtifactMeta, the commit
  *       stale                             //   set by every mutation
  *       gen_<g>/<table>/...parquet        //   the pointer's generation
  *                                         //   (dhash: flat, no gen_)
  *       gen_<g>/tombstones/               //   dead (id, seg) versions
  * }}}
  *
  * Every artifact goes through [[ManagedArtifact]] (meta, stale marker,
  * generation commit, delete); the four diffable ones (postings, minhash,
  * winsig, attrs) share [[SegmentedArtifact]]'s refresh and compaction.
  *
  * All paths go through Hadoop [[FileSystem]], so a database root can live on
  * HDFS/S3/local alike; nothing below assumes a local disk. Mutation commands
  * (UPDATE/DELETE/compaction/REINDEX) are copy-on-write: the new version is
  * fully written to a sibling temp directory, then swapped in — readers of the
  * old version are never mid-overwritten, and a failed job leaves the old
  * version intact (job-level atomicity; a transactional table format would be
  * the production upgrade and slots in behind this same API).
  */
final class GraftDatabase private (val spark: SparkSession, val root: Path) {
  private val fs: FileSystem = root.getFileSystem(spark.sessionState.newHadoopConf())
  private val commits = new CommitCache(fs)

  import GraftDatabase._

  def name: String = root.getName

  // ---- catalog -----------------------------------------------------------

  private def collDir(name: String): Path = {
    require(name.nonEmpty && !name.startsWith(ReservedPrefix) && !name.contains("/"),
      s"illegal collection name: $name")
    new Path(root, name)
  }

  private def metaPath(name: String): Path = new Path(collDir(name), MetaFile)

  /** The collection's committed state as its marker names it now (None
    * before its first commit): what reads resolve once and reuse. */
  private def stateOf(name: String): Option[CommittedState] =
    commits.current(collDir(name))

  /** Rewrite the collection's commit marker: the last step of every write
    * to the collection or its artifacts. */
  private def commit(name: String): Unit = commits.commit(collDir(name))

  private def commitPoint(name: String): CommitPoint =
    commits.point(collDir(name))

  /** CREATE (reference `src/command/types.rs:9-19`): registers an empty
    * collection with a schema; fails if it already exists.
    */
  def createCollection(name: String, schema: StructType = VectorRecord.schema): Unit = {
    recoverIfCrashed(name) // a crashed rewrite's data must not be shadowed
    val dir = collDir(name)
    if (fs.exists(dir)) throw new IllegalStateException(s"collection exists: $name")
    fs.mkdirs(dir)
    writeString(fs, metaPath(name), schema.toDDL)
    commit(name)
  }

  /** Whether collection `name` exists — the cheap probe command
    * compositions use (DECON sink= creates its verdict collection on
    * first use). */
  def collectionExists(name: String): Boolean = fs.exists(metaPath(name))

  /** DROP (reference `src/command/types.rs:21-31`). The artifacts go
    * first (each deletion commits into the still-present collection), so
    * a crash part-way never leaves artifacts a re-created collection
    * would inherit; the collection directory, marker included, goes last.
    */
  def dropCollection(name: String): Unit = {
    val dir = collDir(name)
    if (!fs.exists(dir)) throw new IllegalStateException(s"no such collection: $name")
    artifacts(name).foreach(_.delete())
    if (fs.exists(batchLogDir(name))) fs.delete(batchLogDir(name), true)
    fs.delete(dir, true)
    commits.forget(dir)
  }

  /** LISTCOLLECTIONS (reference `src/command/types.rs:33-42`): collection
    * names, sorted, as a small DataFrame[name: string].
    */
  def listCollections(): DataFrame = {
    import spark.implicits._
    collectionNames().toDF("name")
  }

  def collectionNames(): Seq[String] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith(ReservedPrefix))
      .map(_.getPath.getName)
      .sorted

  /** LISTINDEXES — the artifact inventory of one collection: every
    * managed index/sidecar with its serving state. `stale` means a
    * mutation invalidated the artifact and its reader currently falls
    * back (rescan / in-query recompute) until the next REINDEX — the
    * operational answer to "why is retrieval slow right now". The
    * vector-layout and tokenizer sidecars ride every rewrite, so they
    * are always `live` while present.
    */
  def listIndexes(name: String): DataFrame = {
    requireCollection(name)
    import spark.implicits._
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    layoutOf(name).foreach(l => rows += ((s"vector:${l.kind}", "live")))
    if (fs.exists(new Path(collDir(name), TokenizerMeta.File)))
      rows += (("tokenizer", "live"))
    // the split sidecar never goes stale: assignments are point-in-time
    // placements by design (a re-SPLIT rebuilds, mutations don't move)
    artifacts(name).foreach(a => a.state.foreach(st => rows += ((a.label, st))))
    rows.sortBy(_._1).toSeq.toDF("index_type", "state")
  }

  /** STATS — collection statistics at command grain: row count, column
    * count, embedding dimension (max over rows; −1 when the collection
    * has no vector column), and total payload characters (−1 without a
    * payload column). One aggregation pass; every value an exact
    * BIGINT, so the surface is gate-checkable as-is.
    */
  def stats(name: String): DataFrame = {
    requireCollection(name)
    import spark.implicits._
    val cur = read(name)
    val aggs = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Column](count(lit(1)).as("__n"))
    if (cur.columns.contains("embedding"))
      aggs += coalesce(max(size(col("embedding"))).cast("long"), lit(-1L))
        .as("__dim")
    else aggs += lit(-1L).as("__dim")
    if (cur.columns.contains("payload"))
      aggs += coalesce(sum(length(col("payload"))), lit(-1L))
        .as("__chars")
    else aggs += lit(-1L).as("__chars")
    val r = cur.agg(aggs.head, aggs.tail.toSeq: _*).head()
    Seq(
      ("dim", r.getLong(1)),
      ("n_cols", cur.columns.length.toLong),
      ("n_rows", r.getLong(0)),
      ("payload_chars", r.getLong(2))
    ).toDF("stat", "value").orderBy("stat")
  }

  def hasCollection(name: String): Boolean = fs.exists(metaPath(name))

  private def schemaOf(name: String): StructType =
    StructType.fromDDL(readString(fs, metaPath(name)))

  // ---- read --------------------------------------------------------------

  /** Read a collection as a DataFrame (empty-with-schema when no data files
    * have been written yet). `basePath` keeps partition columns (cluster_id)
    * visible after REINDEX rewrites the layout. Runs no Spark job.
    *
    * The footer read and the listing happen once per committed state: a
    * later read of the same state reuses the resolved relation (a fresh
    * frame over it, fresh attribute ids) and lists nothing. A collection
    * with no commit marker lists on every read.
    */
  def read(name: String): DataFrame = {
    requireCollection(name)
    CommittedState.frame(spark, stateOf(name), "collection")(listed(name))
  }

  /** The collection read as a fresh listing resolves it. */
  private def listed(name: String): DataFrame = {
    val dir = collDir(name)
    firstDataFile(dir) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaOf(name))
      case Some(footer) =>
        // the data schema comes from the files, not the stored DDL: the
        // rewrites add columns (the quantized copy, pq codes) the DDL never
        // names. It is the schema Spark's inference would derive from the
        // same footer, resolved on the driver — inference runs a Spark job
        // per read even for one footer. Partition columns (cluster_id) are
        // still discovered from the directories. Driver-side listing: an
        // indexed layout is tens-to-hundreds of cluster dirs and the
        // distributed listing job is pure overhead there (ScaleKnobs).
        val schema = GraftSqlShims.parquetFooterSchema(spark, footer)
        graft.operators.ScaleKnobs.withDriverListing(spark)(
          spark.read.schema(schema).option("basePath", dir.toString)
            .parquet(dir.toString))
    }
  }

  /** The data file whose footer Spark's parquet schema inference reads:
    * the first non-empty visible file by full path string
    * (`ParquetUtils.splitFiles` sorts the listing that way), found by
    * descending in that order rather than listing the whole tree. A
    * directory sorts as `name/`, which is where its files' paths fall.
    * Hidden names are Spark's listing rule: `.` and `_` prefixes, except
    * `_` names holding a `=`.
    */
  private def firstDataFile(dir: Path): Option[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir)
      .filterNot { s =>
        val n = s.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
      }
      .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
      .iterator
      .flatMap(s =>
        if (s.isDirectory) firstDataFile(s.getPath)
        else Some(s).filter(_.getLen > 0))
      .nextOption()

  // ---- writes ------------------------------------------------------------

  /** Align an incoming frame to the collection schema: project the declared
    * columns (casting where needed), keep any extra columns out. Extra
    * *declared-but-missing* columns fail fast rather than null-fill silently.
    */
  private def align(name: String, df: DataFrame): DataFrame = {
    val schema = schemaOf(name)
    val cols = schema.fields.map { f =>
      require(df.columns.contains(f.name),
        s"bulk insert into $name: missing column ${f.name}")
      col(f.name).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** INSERT a single record (reference `src/command/types.rs:56-67`).
    * Point-writes produce one small file per call — an anti-pattern at scale,
    * kept for command parity; `compact` (TRUNCATEWAL) merges them.
    */
  def insert(name: String, record: VectorRecord): Unit = {
    import spark.implicits._
    bulkInsert(name, Seq(record).toDF())
  }

  /** BULKINSERT (reference `src/command/types.rs:69-80`): append a DataFrame
    * of records. The scalable ingest path — appends parquet part-files, no
    * rewrite of existing data.
    *
    * Indexed collections (REINDEX moved the data under `cluster_id=...`
    * partition dirs): a plain root-level append would be INVISIBLE to the
    * partition-discovering read — silent row loss. So the append is
    * layout-aware: arriving rows get their index columns in the same write
    * pass ([[IndexLayout.assign]] — pure column math against the recorded
    * layout) and land `partitionBy("cluster_id")`; a clustered collection
    * without a recorded cell rule appends into the reserved
    * [[IndexLayout.unindexedTail]].
    */
  def bulkInsert(name: String, df: DataFrame): Unit = {
    requireCollection(name)
    invalidateArtifacts(name) // appended rows are in no stored artifact
    // derived columns the existing data carries (quantized copy, cluster
    // assignment, codes) are recomputed for arriving rows in the same write
    // pass — an append may never produce rows missing a column the readers
    // expect. ONE schema read and ONE sidecar read (this is the hot write
    // path).
    val existing = read(name).columns.toSet
    val arrived = derive(existing, layoutOf(name), align(name, df))
    val w = arrived.write.mode("append").option("compression", Compression)
    (if (existing.contains("cluster_id")) w.partitionBy("cluster_id") else w)
      .parquet(collDir(name).toString)
    commit(name)
  }

  /** Rows arriving in a collection whose data has columns `existing`: the
    * quantized copy when the collection stores one, and in a clustered
    * collection the index columns of `layout` ([[IndexLayout.assign]]) or
    * the unindexed tail when there is no layout record.
    */
  private def derive(existing: Set[String], layout: Option[IndexLayout],
      rows: DataFrame): DataFrame = {
    val quanted =
      if (existing.contains(QuantCol))
        rows.withColumn(QuantCol, quantExpr(col("embedding")))
      else rows
    if (!existing.contains("cluster_id")) quanted
    else layout.fold(IndexLayout.unindexedTail(quanted))(_.assign(quanted))
  }

  /** EXPORT — deterministic sharded egress (the BULKINSERT sources'
    * missing write half): every row lands in shard
    * `md5("export:" + id) 16-bit slice % nShards` (the q82 rule —
    * nShards must divide 65536, no modulo bias), each shard is written
    * as ONE file with rows in id order (repartition on the shard column
    * puts a shard in exactly one task; the within-task sort makes the
    * file bytes a pure function of data + shard count), and the format
    * round-trips through the matching BULKINSERT reader. Placement is
    * md5-derived, so an auditor recomputes every row's shard in SQL.
    *
    * Formats: `jsonl` (default) and `parquet` carry any column type;
    * `csv` requires a flat schema (arrays/binary refused loudly — the
    * csv writer cannot represent them); `text` writes the reference's
    * own `vec;payload` embeddings-file lines (the BULKINSERT text
    * reader's format, now writable too — ids regenerate as line numbers
    * on re-ingest, by that format's design) and refuses payloads that
    * would corrupt the line framing (';' or newline) per row, loudly.
    *
    * `nShards = -1` derives the count from the collection's optimizer
    * size stats (ScaleKnobs.exportShards — ~64 MB of source bytes per
    * shard, power of two).
    *
    * `split=<v>` exports only that split's rows through the managed
    * sidecar; `exclude=<collection>` anti-joins a COMMITTED id-keyed
    * verdict collection (a decon screen's contaminated ids) — the
    * decon→egress step: one export writes the clean set, no re-screen.
    *
    * Returns the per-shard audit (shard, n_rows), ordered.
    */
  def exportCollection(name: String, path: String,
      format: String = "jsonl", nShards: Int = 8,
      split: Option[String] = None,
      exclude: Option[String] = None,
      attrs: Option[String] = None): DataFrame = {
    import spark.implicits._
    val (cur, nSh) = exportPrep(name, format, nShards, split, exclude, attrs)
    val shardExpr = exportShardExpr(nSh)
    // the per-shard audit rides the write pass itself: an observe()
    // metrics node carrying ONE bounded histogram aggregate (O(1)/row,
    // nSh-long buffer) — the export touches the collection exactly ONCE
    // (the r15 verdict's zero-extra-pass ask; the prior audit paid a
    // second id-only scan, which at 100 TB is still a corpus pass)
    val obs = org.apache.spark.sql.Observation()
    val histo = udaf(new graft.operators.ShardHistogram(nSh))
    val sharded = cur
      .withColumn("shard", shardExpr)
      // one task per shard → one file per shard dir; the sort pins the
      // file's row order so the exported bytes are reproducible
      .repartition(nSh, col("shard"))
      .sortWithinPartitions("shard", "id")
      .observe(obs, histo(col("shard")).as("per_shard"))
    format match {
      case "jsonl" => sharded.write.mode("overwrite").partitionBy("shard")
        .json(path)
      case "csv" => sharded.write.mode("overwrite").partitionBy("shard")
        .option("header", "true").csv(path)
      case "parquet" => sharded.write.mode("overwrite").partitionBy("shard")
        .option("compression", Compression).parquet(path)
      case "text" =>
        // the text writer takes exactly one column; the projection after
        // the sort keeps per-partition row order (no exchange)
        sharded.select("shard", "value").write.mode("overwrite")
          .partitionBy("shard").text(path)
      case other => throw new IllegalArgumentException(
        s"EXPORT format must be jsonl, csv, parquet, or text, got: $other")
    }
    // the write was the action — the metrics are already collected;
    // zero-row shards drop (partitionBy parity: their dirs don't exist)
    val counts = obs.get("per_shard").asInstanceOf[scala.collection.Seq[Long]]
    counts.toSeq.zipWithIndex.collect {
      case (rows, s) if rows > 0L => (s.toLong, rows)
    }.toDF("shard", "n_rows").orderBy("shard")
  }

  /** The export's md5-slice placement (the q82 rule): 16-bit slice of
    * md5("export:" + id), modulo a 65536-divisor shard count — every
    * row's shard is recomputable in SQL. */
  private def exportShardExpr(nSh: Int): Column =
    // a NULL id would land its row in the hive default-partition dir
    // while the observe() audit miscounts it — loud per-row guard riding
    // the write projection (the text-format guards' pattern, no extra
    // validation scan)
    when(col("id").isNull, raise_error(lit(
      "EXPORT: NULL id — shard placement is md5(id)-derived; every " +
        "exported row needs a non-null id")))
      .otherwise(conv(substring(md5(concat(lit("export:"),
        col("id").cast("string"))), 1, 4), 16, 10).cast("long") % nSh)

  /** Shared EXPORT validation + projection: reserved-column refusals,
    * shard-count resolution, the text format's framed `value` column
    * with per-row NULL/delimiter refusals, csv flatness, and the
    * optional SPLIT filter (the split lifecycle's consumer step — write
    * the training set, hold back val/test). Returns the frame to shard
    * (id + data columns) and the pinned shard count.
    */
  private def exportPrep(name: String, format: String,
      nShards: Int, split: Option[String] = None,
      exclude: Option[String] = None,
      attrs: Option[String] = None): (DataFrame, Int) = {
    requireCollection(name)
    val cur000 = read(name)
    // attrs=<filter>: keep only rows whose STORED attributes pass the
    // conjunct spec — an id-keyed semi-join against the attribute
    // sidecar ("tag once, filter many": the export never re-scores
    // text). A stale sidecar refuses loudly: silently re-scoring the
    // corpus is the cost this sidecar exists to avoid, and silently
    // filtering on outdated attributes would mislabel updated docs.
    val cur00 = attrs match {
      case None => cur000
      case Some(spec) =>
        val at = this.attrs(name) // the method, not the attrs= parameter
        val snap = at.snapshot
        require(snap.isDefined,
          s"EXPORT attrs= needs the attribute sidecar on $name — run TAG first")
        require(snap.get.live,
          s"attribute sidecar on $name is stale (a mutation landed after " +
            "the last TAG) — TAG mode=refresh first")
        cur000.join(
          attrRowsOf(at, snap.get).filter(attrsPredicate(spec)).select("id"),
          Seq("id"), "left_semi")
    }
    // exclude=<collection>: anti-join against a COMMITTED id-keyed
    // verdict collection (a decon screen's contaminated train ids, a
    // near-dup prune list, ...) — the decon→egress integration step.
    // Id-keyed by contract: the exclusion consumes verdicts, it never
    // re-screens anything.
    val curAll = exclude match {
      case None => cur00
      case Some(ex) =>
        requireCollection(ex)
        val verdicts = read(ex)
        // two accepted shapes: a plain id list, or the decon screen's
        // own verdict schema (DECON sink= writes it verbatim) — there
        // the excluded ids are the CONTAMINATED matches' train ids
        val exIds =
          if (verdicts.columns.contains("id"))
            verdicts.select(col("id").cast("long").as("id"))
          else if (verdicts.columns.contains("train_id") &&
              verdicts.columns.contains("contaminated"))
            verdicts.filter(col("contaminated") === 1L)
              .select(col("train_id").cast("long").as("id"))
          else throw new IllegalArgumentException(
            s"EXPORT exclude=$ex needs an id column (or the decon " +
              "verdict schema train_id/contaminated) on the verdict " +
              s"collection — has: ${verdicts.columns.mkString(", ")}")
        cur00.join(exIds.distinct(), Seq("id"), "left_anti")
    }
    // split=<v> exports only the rows the managed sidecar placed in that
    // split: a semi-join against the (already split-filtered) assignment
    // table — id-keyed, so at scale it shuffles assignment-grain rows,
    // never re-screens text. The label set is closed (leakageSafeSplit's
    // three labels), so a typo refuses instead of exporting zero rows.
    val cur0 = split match {
      case None => curAll
      case Some(sv) =>
        require(Seq("train", "val", "test").contains(sv),
          s"EXPORT split= must be train, val, or test, got '$sv'")
        require(splits(name).exists,
          s"EXPORT split=$sv needs the split sidecar on $name — run SPLIT first")
        curAll.join(
          splitAssignments(name).filter(col("split") === sv).select("id"),
          Seq("id"), "left_semi")
    }
    // 'shard' is the export's reserved placement column (and 'value' the
    // text format's line column): silently overwriting a collection column
    // of that name would drop its data on export and reconstitute
    // placement values on re-ingest — refuse loudly instead.
    require(!cur0.columns.contains("shard"),
      s"EXPORT: collection $name already has a 'shard' column — the name " +
        "is reserved for the export's placement column; rename it first")
    val nSh =
      if (nShards == -1) graft.operators.ScaleKnobs.exportShards(cur0)
      else nShards
    require(nSh >= 1 && 65536 % nSh == 0,
      s"EXPORT shards must divide 65536, got $nSh")
    val cur =
      if (format == "text") {
        require(cur0.columns.contains("embedding") &&
          cur0.columns.contains("payload"),
          "EXPORT format=text writes the reference's vec;payload lines " +
            s"— needs embedding and payload columns on $name")
        require(!cur0.columns.contains("value"),
          s"EXPORT format=text: collection $name already has a 'value' " +
            "column — the name is reserved for the text line column")
        // NULLs would otherwise slip past contains() (NULL-propagating)
        // and surface later as the text writer's opaque null-type error
        cur0.select(col("id"),
          when(col("payload").isNull || col("embedding").isNull,
            raise_error(concat(lit("EXPORT format=text: id "),
              col("id").cast("string"),
              lit(" has a NULL payload or embedding — unrepresentable in " +
                "the line format; use jsonl"))))
            .when(col("payload").contains(";") || col("payload").contains("\n"),
            raise_error(concat(lit("EXPORT format=text: payload of id "),
              col("id").cast("string"),
              lit(" contains ';' or newline — unrepresentable in the " +
                "line format; use jsonl"))))
            .otherwise(concat(concat_ws(",",
              transform(col("embedding"), x => x.cast("string"))),
              lit(";"), col("payload"))).as("value"))
      } else cur0
    require(cur.columns.contains("id"),
      s"EXPORT needs an id column on $name (shard + file order key)")
    if (format == "csv") {
      import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
      val complex = cur.schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType => true
        case _ => false
      })
      require(complex.isEmpty,
        "EXPORT format=csv cannot represent non-atomic columns: " +
          complex.map(f => s"${f.name}: ${f.dataType.simpleString}")
            .mkString(", ") + " — use jsonl or parquet")
    }
    (cur, nSh)
  }

  /** Test hook (spec-only): crash the resumable export after shard N's
    * files are written but BEFORE its marker commits (the mid-shard
    * window), or right AFTER the marker (the post-commit window).
    */
  private[graft] var exportFailBeforeMark: Option[Int] = None
  private[graft] var exportFailAfterMark: Option[Int] = None

  /** RESUMABLE EXPORT (r14 verdict item 3): [[exportCollection]]'s
    * bytes under a per-shard commit discipline, so a preempted export
    * resumes at SHARD grain instead of restarting from zero.
    *
    * Shape: ONE corpus scan stages the sharded frame as parquet
    * partitioned by shard (a [[StageStore]] generation — crash-atomic by
    * the pointer rule), then each shard converts independently from its
    * PRUNED staging partition to the final format and commits a marker
    * carrying its row count. A resume skips the staging scan when the
    * stage is committed and converts ONLY markerless shards; when every
    * marker exists the staging data is swept and nothing recomputes.
    * Shard count and format PIN in `_export_meta.json` at first call — a
    * crashed 16-shard export can never resume as 8 shards (`shards=-1`
    * stats can drift between sessions), and a format mismatch refuses.
    *
    * Written bytes are identical to a fresh [[exportCollection]] run
    * (same placement, same per-file id order, same renderers —
    * ExportResumeSpec compares content per shard); the summary reads the
    * markers, touching no data. Total data passes: one scan + one
    * staging write + one pruned read per shard — the durability price a
    * preemptible 100 TB export pays for never re-reading the corpus.
    *
    * A fully-marked export path is a WRITE-ONCE artifact: re-calling on
    * it is a no-op returning the committed audit (spec-pinned) — the
    * short-circuit fires BEFORE any collection access, so the no-op
    * holds even if the collection has changed schema, gained a reserved
    * column, or been DROPPED since — resume means "finish THE export",
    * never "refresh it". Export fresh data to a new path (or remove the
    * old artifact); incremental re-export is deliberately not conflated
    * with crash resume.
    */
  def exportCollectionResumable(name: String, path: String,
      format: String = "jsonl", nShards: Int = 8,
      parallelism: Int = 1, split: Option[String] = None,
      exclude: Option[String] = None,
      attrs: Option[String] = None): DataFrame = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val spark = this.spark
    import spark.implicits._
    val metaP = new Path(path, ExportMeta.File)
    val pinned: Option[(String, Int)] =
      if (!fs.exists(metaP)) None
      else {
        val pin = ExportMeta.parse(readString(fs, metaP))
        require(pin.isDefined,
          s"EXPORT resume: malformed _export_meta.json at $path")
        val ExportMeta(f, s, sp, exPin, atPin) = pin.get
        require(f == format,
          s"EXPORT resume: $path was started as format=$f, " +
            s"got format=$format — finish or remove the old export first")
        // the split filter is part of the artifact's identity exactly
        // like format: a train-set export must never silently resume as
        // a full-corpus one (or vice versa)
        require(sp == split.getOrElse(""),
          s"EXPORT resume: $path was started with split=" +
            s"${if (sp.isEmpty) "<none>" else sp}, got " +
            s"${split.getOrElse("<none>")} — finish or remove the old export first")
        // the exclusion source is part of the artifact's identity too:
        // a decon-cleaned export must never silently resume uncleaned
        require(exPin == exclude.getOrElse(""),
          s"EXPORT resume: $path was started with exclude=" +
            s"${if (exPin.isEmpty) "<none>" else exPin}, got " +
            s"${exclude.getOrElse("<none>")} — finish or remove the old export first")
        // the attrs filter is artifact identity too: a quality-filtered
        // export must never silently resume unfiltered (or vice versa)
        require(atPin == attrs.getOrElse(""),
          s"EXPORT resume: $path was started with attrs=" +
            s"${if (atPin.isEmpty) "<none>" else atPin}, got " +
            s"${attrs.getOrElse("<none>")} — finish or remove the old export first")
        Some((f, s))
      }
    // -1 adopts the pinned count (the stats-derived call resumed later);
    // an EXPLICIT mismatching count refuses — a crashed 16-shard export
    // must never silently continue as 8
    pinned.foreach { case (_, s) => require(nShards == -1 || nShards == s,
      s"EXPORT resume: $path was started with shards=$s, got $nShards") }
    // write-once short-circuit BEFORE touching the collection: a fully
    // marked path is a finished artifact and re-calling must return the
    // committed audit even if the collection has since changed schema,
    // gained reserved columns, or been dropped (the documented no-op —
    // exportPrep against the live collection would make it throw)
    pinned.foreach { case (_, s) =>
      val allDone = (0 until s).forall(i =>
        fs.exists(new Path(new Path(path, "_shards"), s"$i.done")))
      if (allDone) {
        fs.delete(new Path(path, "_staging"), true)
        val done = (0 until s)
          .map(i => (i.toLong, readString(fs,
            new Path(new Path(path, "_shards"), s"$i.done")).trim.toLong))
          .filter(_._2 > 0L)
        return done.toDF("shard", "n_rows").orderBy("shard")
      }
    }
    requireCollection(name)
    val (cur, nSh) = exportPrep(name, format,
      pinned.map(_._2).getOrElse(nShards), split, exclude, attrs)
    if (pinned.isEmpty) {
      fs.mkdirs(new Path(path))
      writeString(fs, metaP, ExportMeta(format, nSh, split.getOrElse(""),
        exclude.getOrElse(""), attrs.getOrElse("")).json)
    }
    val doneDir = new Path(path, "_shards")
    def marker(s: Int) = new Path(doneDir, s"$s.done")
    val todo = (0 until nSh).filter(s => !fs.exists(marker(s)))
    if (todo.nonEmpty) {
      val store = new StageStore(spark, new Path(path, "_staging").toString)
      val staged = store.stage("sharded", partitionCols = Seq("shard")) {
        cur.withColumn("shard", exportShardExpr(nSh))
      }
      val dataCols = cur.columns.toSeq
      // one job group per invocation: a parallel-mode failure must be
      // able to cancel SUBMITTED shard jobs, not just interrupt pool
      // threads — a write job left running would task-commit into the
      // same shard dir a caller's immediate re-invoke overwrites
      val jobGroup =
        s"graft-export-${java.util.UUID.randomUUID().toString.take(12)}"
      def convertShard(s: Int): Unit = {
        val part = staged.filter(col("shard") === s)
        val rows = part.count()
        // a zero-row shard writes NO dir — partitionBy parity with the
        // single-job export (its dynamic write emits nothing either)
        if (rows > 0) {
          val ordered = part.select(dataCols.map(col): _*)
            .coalesce(1).sortWithinPartitions("id")
          val outDir = new Path(path, s"shard=$s").toString
          format match {
            case "jsonl" => ordered.write.mode("overwrite").json(outDir)
            case "csv" => ordered.write.mode("overwrite")
              .option("header", "true").csv(outDir)
            case "parquet" => ordered.write.mode("overwrite")
              .option("compression", Compression).parquet(outDir)
            case "text" => ordered.select("value").write.mode("overwrite")
              .text(outDir)
          }
        }
        if (exportFailBeforeMark.contains(s))
          throw new IllegalStateException(
            s"injected crash before marker of shard $s")
        writeString(fs, marker(s), rows.toString)
        if (exportFailAfterMark.contains(s))
          throw new IllegalStateException(
            s"injected crash after marker of shard $s")
      }
      // sequential mode needs no job-group games (there can be no
      // concurrent straggler) — and setting one here would clobber any
      // group the CALLING thread already carries
      if (parallelism == 1) todo.foreach(convertShard)
      else {
        // each conversion is a small pruned job; at thousands of shards
        // the driver-side sequencing dominates, so run a BOUNDED pool of
        // concurrent shard jobs (the Spark scheduler interleaves them).
        // Markers stay per-shard, so a crash still resumes at shard
        // grain — only the completion ORDER is nondeterministic, never
        // the bytes (per-shard work is independent by placement).
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, todo.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val fs0 = todo.map(s => scala.concurrent.Future {
            // pool threads are fresh (no caller group to clobber): tag
            // every shard job so a failure can cancel all of them
            spark.sparkContext.setJobGroup(jobGroup,
              s"export shard $s of $name", interruptOnCancel = true)
            convertShard(s)
          })
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(fs0),
            scala.concurrent.duration.Duration.Inf)
          pool.shutdown()
        } catch { case t: Throwable =>
          // no shard job may outlive this invocation: a caller that
          // catches the failure and immediately re-invokes must never
          // race a straggler writing the same shard dir/marker
          // concurrently with the new run's overwrite conversion.
          // THREE layers, ordered: cancel the submitted jobs (an
          // interrupted pool thread does not stop its job's tasks),
          // drain the pool, then cancel AGAIN — a thread that was
          // between setJobGroup and submit when the first cancel ran
          // can have submitted into the already-cancelled group, and
          // only after awaitTermination can no further submit happen.
          spark.sparkContext.cancelJobGroup(jobGroup)
          pool.shutdownNow()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          spark.sparkContext.cancelJobGroup(jobGroup)
          throw t
        }
      }
    }
    // every shard committed: sweep the staging copy (half its storage
    // back), then report from the markers — no data read
    fs.delete(new Path(path, "_staging"), true)
    val counts = (0 until nSh)
      .map(s => (s.toLong, readString(fs, marker(s)).trim.toLong))
      .filter(_._2 > 0L)
    counts.toDF("shard", "n_rows").orderBy("shard")
  }

  /** Materialize an int8 scalar-quantized copy of the embedding column
    * (`embedding_q8`, array<tinyint> — a quarter of the float32 bytes on
    * disk). SEARCHSIMILAR's SQ8 path then reads ONLY (id, embedding_q8)
    * for its full scan and touches full-precision vectors for the
    * shortlist alone. Appends and updates keep the column populated.
    */
  def quantize(name: String): Unit = {
    requireCollection(name)
    val cur = read(name)
    if (!cur.columns.contains(QuantCol))
      rewrite(name, cur.withColumn(QuantCol, quantExpr(col("embedding"))),
        layoutOf(name))
  }

  private def quantExpr(v: Column): Column =
    transform(graft.operators.SimilaritySearch.sq8(v), x => x.cast("tinyint"))


  /** UPDATE (reference `src/command/types.rs:82-93`): upsert by key.
    * anti-join keeps the untouched rows, union appends the new versions —
    * both sides shuffle on the key once; with a small update set Catalyst
    * broadcasts it and the big side never shuffles.
    *
    * Indexed collections: updates arrive without cluster assignments, so
    * the merge runs on the declared schema and then (a) a recorded layout
    * re-assigns every row in the same pass ([[IndexLayout.assign]] — the
    * index survives the update), or (b) a layout with no record (a custom
    * [[reindexWith]]) is dropped: the collection is rewritten flat and
    * SEARCHSIMILAR scans exactly until the next REINDEX.
    */
  def update(name: String, updates: DataFrame, key: String = "id"): Unit = {
    requireCollection(name)
    invalidateArtifacts(name)
    val current = read(name)
    val hasIndex = current.columns.contains("cluster_id")
    val hasQuant = current.columns.contains(QuantCol)
    // derived columns come off before the merge (updates arrive without
    // them) and are re-derived after, so an updated row's quantized copy /
    // cluster assignment always reflects its NEW vector
    val base = current.drop("cluster_id").drop(QuantCol).drop(PqCodeCol)
    val mergedRaw = graft.operators.Mutations.upsert(base, align(name, updates), key)
    val merged =
      if (hasQuant) mergedRaw.withColumn(QuantCol, quantExpr(col("embedding")))
      else mergedRaw
    val layout = layoutOf(name)
    rewrite(name,
      if (hasIndex) layout.fold(merged)(_.assign(merged)) else merged, layout)
  }

  /** DELETE rows matching a predicate (reference `src/command/types.rs:95-106`).
    * NULL-evaluating predicates keep their rows (SQL DELETE semantics — see
    * Mutations.deleteWhere). Cluster assignments survive: removing rows
    * can't change the bucket of any remaining row.
    */
  def delete(name: String, predicate: Column): Unit = {
    requireCollection(name)
    invalidateArtifacts(name)
    rewrite(name, graft.operators.Mutations.deleteWhere(read(name), predicate),
      layoutOf(name))
  }

  /** SYNC (extension): reconcile the collection with a FULL incoming
    * snapshot — the managed form of the incremental-ingest loop
    * ([[graft.operators.Mutations.snapshotDiff]] → apply): removed keys
    * are deleted, added and changed rows land with their derived columns
    * (quantized copy, cluster assignment, PQ codes) re-derived from the
    * sidecar exactly like [[bulkInsert]]/[[update]] appends, and —
    * the point of the diff — UNCHANGED rows keep their stored derived
    * bytes untouched: only the delta pays re-derivation, never the
    * unchanged majority. Content signatures compare the DECLARED schema
    * columns (derived columns excluded, so a reindex never makes
    * everything look "changed").
    *
    * One copy-on-write [[rewrite]] applies the whole reconciliation; the
    * layout record survives, and the delta's index columns derive exactly
    * as a [[bulkInsert]]'s do.
    *
    * Returns the diff report — one row per status (added / changed /
    * removed / unchanged) with its key count: the work-list sizes an
    * incremental pipeline schedules from.
    */
  def sync(name: String, snapshot: DataFrame, key: String = "id"): DataFrame = {
    requireCollection(name)
    invalidateArtifacts(name)
    import spark.implicits._
    val next = align(name, snapshot)
    val current = read(name)
    val schemaCols = schemaOf(name).fields.map(_.name)
    require(schemaCols.contains(key),
      s"sync key '$key' is not a declared column of $name " +
        s"(has: ${schemaCols.mkString(", ")})")
    val declared = schemaCols.filter(_ != key)
    require(declared.nonEmpty, s"sync needs content columns besides '$key'")
    def sig(df: DataFrame): DataFrame = df.withColumn("__sig",
      md5(to_json(struct(declared.map(col).toIndexedSeq: _*))))
    val diff = graft.operators.Mutations
      .snapshotDiff(sig(current), sig(next), key, "__sig").cache()
    // the report materializes the cache; the rewrite below reuses it
    val counts = diff.groupBy("status").agg(count(lit(1)).as("__n"))
      .as[(String, Long)].collect().toMap
    val delta = next.join(
      diff.filter(col("status").isin("added", "changed")).select(key), Seq(key))
    val kept = current.join(
      diff.filter(col("status") === "unchanged").select(key), Seq(key))
    val layout = layoutOf(name)
    val derived = derive(current.columns.toSet, layout, delta)
    rewrite(name, kept.unionByName(derived, allowMissingColumns = false),
      layout)
    diff.unpersist()
    Seq("added", "changed", "removed", "unchanged")
      .map(st => (st, counts.getOrElse(st, 0L))).toDF("status", "n")
  }

  /** SEARCH (reference `src/command/types.rs:108-119`): projection + filter;
    * Catalyst pushes both into the parquet scan.
    */
  def search(name: String, predicate: Column, projection: Seq[String] = Nil): DataFrame = {
    val base = read(name).filter(predicate)
    if (projection.isEmpty) base else base.select(projection.map(col).toIndexedSeq: _*)
  }

  /** SEARCHSIMILAR (reference `src/command/types.rs:121-132`): exact k-NN
    * by default; pass `probeRadius >= 0` on a REINDEXed collection to opt
    * into the IVF probe — a partition-pruned scan of the buckets within
    * `probeRadius` bit-flips of the query's bucket, exact rerank inside.
    *
    * Probing is opt-in rather than automatic because its recall depends on
    * the corpus: strongly clustered embeddings probe well; near-isotropic
    * ones (weak neighbor structure) can see low recall at aggressive
    * pruning (IvfRecallSpec characterizes this on the testdata). The engine
    * never silently trades correctness for speed — callers choose, with the
    * trade measured.
    */
  def searchSimilar(name: String, query: Array[Float], k: Int,
      metric: String = "cosine", probeRadius: Int = -1,
      idCol: String = "id"): DataFrame = {
    val data = read(name)
    // probe ONLY sign_bucket and kmeans layouts ([[CellLayout.cells]] —
    // radius 0 means "just the query's own cell" for both). A cluster_id
    // from an external assign function has no recoverable geometry, so it
    // falls back to exact rather than silently returning wrong neighbors.
    val probeable = probeRadius >= 0 && data.columns.contains("cluster_id")
    def probe(l: CellLayout) =
      data.filter(col("cluster_id").isin(l.cells(query, probeRadius): _*))
    val scanned = (if (probeable) layoutOf(name) else None) match {
      case Some(l: SignBucket) => probe(l)
      case Some(l: KMeans) => probe(l)
      case _ => data
    }
    SimilaritySearch.topK(scanned, query, k, metric, idCol = idCol)
  }

  /** SEARCHTEXT (extension): BM25 keyword retrieval over the collection's
    * payload — the sparse half of a hybrid store (the reference's record
    * format carries the source text beside its vector,
    * `src/utils/embeddings.rs:55-62`; this makes it searchable).
    *
    * With a [[reindexPostings]] artifact present, the query answers from
    * the STORED postings: the scan prunes to the query terms'
    * `term_bucket=` partitions (≤ |terms| directories of a
    * vocabulary-sized table — the plan a search engine runs), scores via
    * [[graft.operators.TextAnalysis.bm25FromIndex]], bit-identical to
    * the rescan. Without one it falls back to the one-pass
    * [[graft.operators.TextAnalysis.bm25]] corpus scan.
    */
  /** SUMMARIZE (extension command, the LISTINDEXES/SEARCHTEXT
    * precedent): TextRank extractive top sentence per document over the
    * collection's payload — `SUMMARIZE [-a "iters=5;maxsents=64"]`.
    * One row per document with ≥ 1 eligible sentence:
    * (id, sent_idx, rank, sent). See
    * [[graft.operators.TextAnalysis.textRankSummary]] for semantics
    * and the cross-engine exactness scheme.
    */
  def summarize(name: String, iters: Int = 5,
      maxSents: Int = 64): DataFrame = {
    requireCollection(name)
    graft.operators.TextAnalysis.textRankSummary(
        read(name).select(col("id"), col("payload")),
        "id", "payload", iters = iters, maxSents = maxSents)
      .orderBy("id")
  }

  /** KEYWORDS — RAKE top phrase per document over the collection
    * payloads ([[graft.operators.TextAnalysis.rakeKeywords]]), the
    * keyword tagger beside [[summarize]]'s sentence extraction.
    */
  def keywords(name: String): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"KEYWORDS needs a payload column on $name")
    graft.operators.TextAnalysis.rakeKeywords(
        cur.select(col("id"), col("payload")),
        "id", "payload")
      .orderBy("id")
  }

  def searchText(name: String, rawTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, k: Int = 20): DataFrame =
    rankText(name, rawTerms)(
      TextAnalysis.bm25FromIndex(_, _, "id", _, k1, b, k, _),
      TextAnalysis.bm25(_, "id", "payload", _, k1, b, k))

  /** The SEARCHTEXT artifact dispatch shared by every scorer: a LIVE
    * postings artifact serves from the query terms' `term_bucket=`
    * partitions (tombstoned (id, seg) versions drop via a broadcast
    * anti-join on both frames, the filter staying scan-side) — a stale
    * posting must never serve, so a stale or absent artifact routes to
    * the exact one-pass rescan. Both the index and the rescan tokenizer
    * store normalized lowercase [a-z0-9]+ tokens, so incoming terms go
    * through the SAME rule (lowercase, split at non-alphanumerics, drop
    * empties, dedup) — a verbatim 'Vector' could never match either path.
    * The stored scorers get the corpus stats of the committed state
    * ([[corpusStats]]).
    */
  private def rankText(name: String, rawTerms: Seq[String])(
      stored: (DataFrame, DataFrame, Seq[String], Option[(Long, Long)]) => DataFrame,
      rescan: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    requireCollection(name)
    val terms = normalizeTerms(rawTerms)
    require(terms.nonEmpty,
      s"no searchable terms after normalization (got: ${rawTerms.mkString(", ")})")
    val post = postings(name)
    post.served.filter(_.live) match {
      case Some(s) =>
        val wanted = terms.map(bucketOfTerm(_, textBuckets(s.meta))).distinct
        stored(post.live(s, "postings", Some(col("term_bucket").isin(wanted: _*) &&
            col("term").isin(terms: _*))),
          post.live(s, "doclens").select(col("id"), col("dl")), terms,
          corpusStats(post, s))
      case None =>
        val cur = read(name)
        require(cur.columns.contains("payload"),
          s"SEARCHTEXT needs a payload column on $name " +
            s"(has: ${cur.columns.mkString(", ")})")
        rescan(cur, terms)
    }
  }

  /** SEARCHTEXT score=ql — Dirichlet-smoothed query-likelihood ranking
    * ([[graft.operators.TextAnalysis.dirichletQL]], the language-model
    * retrieval family beside BM25), with [[searchText]]'s exact
    * artifact dispatch: a LIVE postings artifact serves tf/ctf from
    * ≤ |terms| pruned partitions and |C| from the doclens companion;
    * otherwise the one-pass rescan. Stored ≡ rescan bit-identically.
    */
  def searchTextQL(name: String, rawTerms: Seq[String],
      mu: Double = 2000.0, k: Int = 20): DataFrame =
    rankText(name, rawTerms)(
      TextAnalysis.dirichletQLFromIndex(_, _, "id", _, mu, k, _),
      TextAnalysis.dirichletQL(_, "id", "payload", _, mu, k))

  /** SEARCHTEXT score=jm — Jelinek–Mercer query-likelihood ranking
    * ([[graft.operators.TextAnalysis.jelinekMercerQL]], the linear-
    * interpolation smoother beside score=ql's Dirichlet prior), with
    * [[searchText]]'s exact artifact dispatch. Stored ≡ rescan
    * bit-identically.
    */
  def searchTextJM(name: String, rawTerms: Seq[String],
      lambda: Double = 0.7, k: Int = 20): DataFrame =
    rankText(name, rawTerms)(
      TextAnalysis.jelinekMercerQLFromIndex(_, _, "id", _, lambda, k, _),
      TextAnalysis.jelinekMercerQL(_, "id", "payload", _, lambda, k))

  /** REINDEX type=postings — materialize the text index as a managed
    * artifact beside the collection: term-grain postings partitioned by
    * `term_bucket` (md5 16-bit slice mod `buckets`, which must divide
    * 65536 — the house no-modulo-bias rule) plus the doc-length
    * companion frame. SEARCHTEXT then reads ≤ |terms| partitions
    * instead of re-tokenizing the corpus per query. `buckets = -1` (the
    * default) derives the count from the collection's optimizer size
    * estimate ([[graft.operators.ScaleKnobs.postingsBuckets]]) — the
    * knob that used to be a doc note a 100 TB user had to remember.
    *
    * SEGMENTED layout (round 11 — the Lucene model, Spark-first): every
    * row carries a `seg` generation number (full build = seg 0), the
    * doclens companion carries `payload_md5` (the diff key), and a
    * `tombstones` frame lists dead `(id, seg)` versions. Readers see
    * live rows = rows anti-joined against tombstones (a broadcast-sized
    * frame). [[refreshPostings]] appends a DELTA segment + tombstones
    * instead of re-tokenizing the corpus — the nightly 0.1% delta costs
    * 0.1%, not a corpus pass.
    *
    * Staleness contract (spec-pinned): every MUTATION (insert,
    * bulk-insert, update, delete, sync) marks the artifact STALE — a
    * stale posting must never serve, so SEARCHTEXT falls back to the
    * exact rescan until the next REINDEX type=postings (full rebuild)
    * or mode=refresh (incremental — diffs the stale artifact against
    * the collection). Compaction (content-preserving) keeps the
    * artifact live; DROP deletes it.
    */
  def reindexPostings(name: String, buckets: Int = -1,
      positions: Boolean = false): Unit = {
    requireCollection(name)
    // -1 (the default) derives the bucket count from the collection's
    // optimizer-estimated size (ScaleKnobs.postingsBuckets — power of
    // two in [16, 4096], ~8 MB of source text per bucket) so the layout
    // right-sizes itself from testdata to 100 TB; the derived count is
    // recorded in meta.json, so probes are self-describing either way.
    // Bucket count is RESULT-invariant (it only partitions the term
    // space — ScaleKnobsSpec pins SEARCHTEXT equality at two widths).
    val nBuckets =
      if (buckets == -1)
        graft.operators.ScaleKnobs.postingsBuckets(read(name))
      else buckets
    require(nBuckets >= 1 && 65536 % nBuckets == 0,
      s"buckets must divide 65536 (no modulo bias), got $nBuckets")
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"REINDEX type=postings needs a payload column on $name")
    postings(name).build(ArtifactMeta("postings",
      Seq("buckets" -> nBuckets, "positions" -> positions)), cur)
  }

  /** One index segment: postings (term-bucket-partitioned, `seg`-tagged)
    * + doclens (`dl`, `payload_md5`, `seg`) — and, when the artifact was
    * built `positions=true`, the POSITIONAL rows `(term, id, pos, seg)`
    * in the same bucket layout — for `rows`, APPENDED into the shared
    * artifact directories. Each task sorts its rows by key before writing
    * (the order a shuffle hands them over varies run to run), so a build
    * writes the same bytes every time and row groups are term-sorted for
    * parquet statistics to skip.
    */
  private def writeTextSegment(rows: DataFrame, seg: Int, genDir: Path,
      meta: ArtifactMeta): Unit = {
    val buckets = textBuckets(meta)
    def bucketed(df: DataFrame): DataFrame = df
      .withColumn("seg", lit(seg))
      .withColumn("term_bucket",
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int")
          % buckets).cast("int"))
    // always partitioned, even for a zero-row segment (the write then
    // emits only _SUCCESS): readers pass explicit schemas, so the
    // schemaless-empty-dir inference failure cannot occur, and every
    // later partitioned append lands on a layout-compatible directory
    bucketed(graft.operators.TextAnalysis.invertedIndex(rows, "id", "payload"))
      .sortWithinPartitions("term_bucket", "term", "id")
      .write.mode("append").option("compression", Compression)
      .partitionBy("term_bucket")
      .parquet(new Path(genDir, "postings").toString)
    if (hasPositions(meta))
      bucketed(graft.operators.TextAnalysis
          .invertedIndexPositional(rows, "id", "payload"))
        .sortWithinPartitions("term_bucket", "term", "id", "pos")
        .write.mode("append").option("compression", Compression)
        .partitionBy("term_bucket")
        .parquet(new Path(genDir, "positions").toString)
    graft.operators.TextAnalysis.docLengths(rows, "id", "payload")
      .join(rows.select(col("id"), md5(col("payload")).as("payload_md5")),
        Seq("id"))
      .withColumn("seg", lit(seg))
      .sortWithinPartitions("id")
      .write.mode("append").option("compression", Compression)
      .parquet(new Path(genDir, "doclens").toString)
  }

  /** REINDEX type=postings;mode=refresh — INCREMENTAL index maintenance:
    * diff the collection against the (possibly stale) stored artifact by
    * `(id, payload_md5)`, tokenize ONLY the new/changed documents into a
    * fresh segment, tombstone the replaced/deleted versions, and clear
    * the stale marker. Value-identical to a full rebuild (spec-proven
    * row-for-row; the q202 gate replays the mutated corpus in SQL) at a
    * cost proportional to the DELTA: the expensive pass (tokenize +
    * postings shuffle) touches changed docs only; the diff itself is two
    * anti-joins of (id, md5) frames — doc-count-sized, not token-sized.
    *
    * Requires an existing artifact (nothing to refresh otherwise —
    * loud). Unique ids assumed, as everywhere in the index family (the
    * UPDATE-key contract).
    *
    * Measured (RefreshBench, 1% delta, generation layout): at 5k docs
    * the refresh LOSES (~1.8× — per-job overhead swamps the avoided
    * tokenization); at 100k docs it wins (~0.4–0.6× across runs), and
    * the gap keeps widening because the refresh's corpus-sized work is
    * one cheap (id, md5) column scan while the rebuild re-tokenizes,
    * re-shuffles, and re-writes every posting. The crossover is a few
    * tens of thousands of documents — i.e. everywhere the operator
    * matters.
    *
    * Segments and tombstones accumulate with churn (reads pay one
    * broadcast anti-join regardless, but the dead rows still occupy
    * scan bytes): [[compactPostings]] merges them back to one flat
    * generation at postings-read price (no re-tokenization) — schedule
    * it when the tombstone fraction gets large, exactly like any
    * LSM/Lucene merge policy; a full `REINDEX type=postings` does the
    * same and re-derives from text.
    */
  def refreshPostings(name: String): Unit = {
    requireCollection(name)
    postings(name).refresh(name, read(name))
    ()
  }

  /** REINDEX type=postings;mode=compact — merge the segmented artifact
    * back to ONE flat generation WITHOUT re-tokenizing: live
    * postings/doclens rows (tombstones applied) rewrite as seg 0, the
    * tombstones clear. The cheap half of a full rebuild — it re-reads
    * and re-writes the (already computed) postings bytes but never
    * touches document text — so churn-accumulated segments and dead
    * rows stop costing scan bytes at postings-read price, the classic
    * LSM/Lucene merge. Requires a LIVE artifact: a stale one doesn't
    * reflect the collection, and compacting it would only launder
    * staleness — refresh (or rebuild) first, loudly.
    *
    * Crash discipline — GENERATION POINTER: the merged rows build in a
    * fresh `gen_<g+1>/` directory while readers keep serving `gen_<g>`
    * (compaction is ONLINE — no stale window); the single commit point
    * is the meta.json overwrite that moves the pointer, after which the
    * old generation (and any orphan from an earlier crash) is deleted.
    * A crash before the flip leaves an orphan directory and an intact
    * artifact; a crash after it leaves the new generation live and an
    * unreferenced old directory — never a half-merged index serving.
    */
  def compactPostings(name: String): Unit = {
    requireCollection(name)
    postings(name).compact(name)
  }

  private def hasPositions(meta: ArtifactMeta): Boolean =
    meta.bool("positions").contains(true)

  /** (N, Σdl) over the live doclens rows of a served postings snapshot:
    * one job per committed state, then plan literals for every stored
    * scorer. None for an uncached snapshot — the scorers then aggregate
    * doclens in-plan.
    */
  private def corpusStats(post: SegmentedArtifact,
      s: ArtifactSnapshot): Option[(Long, Long)] =
    s.committed.map(_(("corpusStats", s.dataDir)) {
      val r = post.live(s, "doclens")
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    })

  /** SEARCHPHRASE — exact consecutive-token phrase match. With a LIVE
    * positional artifact (REINDEX type=postings;positions=true) the
    * query reads ONLY the phrase terms' `term_bucket=` partitions of
    * the positions table (m−1 keyed joins on (doc, pos+i) — classic
    * positional-index retrieval, never a corpus scan; tombstoned
    * versions drop via the broadcast anti-join). Without one — or
    * stale — the exact rescan recomputes positional postings from the
    * collection in-query: same rows, corpus-scan price.
    *
    * Phrase terms normalize through the tokenizer's rule ORDERED and
    * UNDEDUPED (unlike SEARCHTEXT's term set — "data data" is a real
    * phrase). Output: (id, n_hits) for documents containing the exact
    * sequence, highest occurrence count first, id tie-break, top `k`.
    */
  def searchPhrase(name: String, rawPhrase: Seq[String],
      k: Int = 20): DataFrame = {
    requireCollection(name)
    require(k >= 1, s"k must be positive, got $k")
    val phrase = rawPhrase.flatMap(t =>
      "[a-z0-9]+".r.findAllIn(t.toLowerCase))
    require(phrase.nonEmpty,
      s"no searchable phrase after normalization (got: ${rawPhrase.mkString(" ")})")
    val positional = positionalRows(name, phrase, "SEARCHPHRASE")
    graft.operators.TextAnalysis.phraseHits(positional, "id", phrase)
      .select(col("id"), col("n_hits"))
      .orderBy(desc("n_hits"), col("id"))
      .limit(k)
  }

  /** SEARCHPROXIMITY — minimal-cover-span ranking (the positional-index
    * signal between BM25 and exact phrase): documents containing ALL
    * query terms, ranked by the width of the smallest token window
    * holding one occurrence of each ([[graft.operators.TextAnalysis
    * .minCoverSpans]]). Same artifact dispatch as [[searchPhrase]]: a
    * LIVE positional artifact serves from ≤ |terms| pruned
    * `term_bucket=` partitions; otherwise the exact rescan recomputes
    * positional postings in-query (same rows, corpus-scan price).
    * Output: (id, min_span, n_occs), smallest window first, id
    * tie-break, top `k` — exact integer ranks, never a float cut.
    */
  def searchProximity(name: String, rawTerms: Seq[String],
      k: Int = 20): DataFrame = {
    requireCollection(name)
    require(k >= 1, s"k must be positive, got $k")
    val terms = normalizeTerms(rawTerms)
    require(terms.size >= 2,
      s"SEARCHPROXIMITY needs >= 2 distinct terms after normalization " +
        s"(got: ${rawTerms.mkString(", ")})")
    val positional = positionalRows(name, terms, "SEARCHPROXIMITY")
    graft.operators.TextAnalysis.minCoverSpans(positional, "id", terms)
      .orderBy(col("min_span"), col("id"))
      .limit(k)
  }

  /** Positional rows `(term, id, pos, seg)` for `terms`: from a LIVE
    * positional artifact, ONLY the terms' `term_bucket=` partitions of
    * the positions table (tombstoned versions dropped); otherwise the
    * exact rescan recomputes them from the collection in-query.
    */
  private def positionalRows(name: String, terms: Seq[String],
      command: String): DataFrame = {
    val post = postings(name)
    post.served.filter(s => s.live && hasPositions(s.meta)) match {
      case Some(s) =>
        val wanted = terms.map(bucketOfTerm(_, textBuckets(s.meta))).distinct
        post.live(s, "positions", Some(col("term_bucket").isin(wanted: _*) &&
          col("term").isin(terms.distinct: _*)))
      case None =>
        val cur = read(name)
        require(cur.columns.contains("payload"),
          s"$command needs a payload column on $name")
        TextAnalysis.invertedIndexPositional(cur, "id", "payload")
    }
  }

  // ---- managed artifacts --------------------------------------------------
  //
  // One registry: DROP deletes every artifact, LISTINDEXES reports each
  // one's state, and every mutation marks them stale (the split sidecar
  // excepted — its placements are point-in-time by design).

  private def artifactDir(kind: String, name: String): Path =
    new Path(root, s"$ReservedPrefix${kind}_$name")

  private def artifacts(name: String): Seq[ManagedArtifact] = Seq(
    postings(name), minhash(name), winsig(name), dhash(name), splits(name),
    attrs(name))

  private def invalidateArtifacts(name: String): Unit =
    artifacts(name).foreach(_.invalidate())

  /** The stored text index (REINDEX type=postings): term-grain postings
    * partitioned by `term_bucket`, the doc-length companion carrying the
    * `payload_md5` diff key, and — built `positions=true` — positional
    * rows in the same bucket layout. Stale artifacts are KEPT: they are
    * the diff base a refresh needs to index only the delta.
    */
  private def postings(name: String): SegmentedArtifact =
    new SegmentedArtifact(spark, fs, artifactDir("textindex", name),
      "postings", commitPoint(name), SegmentedFamily("postings artifact",
        "REINDEX type=postings", "REINDEX type=postings (or mode=refresh)",
        tables = m => Seq(
          ArtifactTable("postings", PostingsSchema, Seq("term_bucket")),
          ArtifactTable("doclens", DoclensSchema)) ++
          (if (hasPositions(m)) Seq(ArtifactTable("positions",
            PositionsSchema, Seq("term_bucket"))) else Nil),
        docs = "doclens", diffKey = md5(col("payload")),
        validate = m => { textBuckets(m); () },
        writeSegment = writeTextSegment))

  private def textBuckets(m: ArtifactMeta): Int =
    m.requireInt("buckets", s"text index meta has no buckets field: ${m.json}")

  // artifact frame schemas — reads pass them EXPLICITLY, so a
  // dynamic-partition directory holding zero data files (an empty
  // segment write emits only _SUCCESS) reads back as the empty frame
  // instead of failing schema inference
  private val PostingsSchema = StructType.fromDDL(
    "term STRING, id BIGINT, tf BIGINT, seg INT, term_bucket INT")
  private val PositionsSchema = StructType.fromDDL(
    "term STRING, id BIGINT, pos BIGINT, seg INT, term_bucket INT")
  private val DoclensSchema = StructType.fromDDL(
    "id BIGINT, dl BIGINT, payload_md5 STRING, seg INT")
  // the (id, payload_md5) diff base of the minhash and winsig artifacts
  private val DocsSchema = StructType.fromDDL(
    "id BIGINT, payload_md5 STRING, seg INT")

  // ---- minhash signature artifact (ingest-time dedup screening) ---------

  private def minhash(name: String): SegmentedArtifact =
    new SegmentedArtifact(spark, fs, artifactDir("minhash", name), "minhash",
      commitPoint(name), SegmentedFamily("minhash artifact", "REINDEX type=minhash",
        "REINDEX type=minhash (or mode=refresh)",
        tables = _ => Seq(
          ArtifactTable("bands", MinhashBandsSchema, Seq("band", "band_bucket")),
          ArtifactTable("docs", DocsSchema)),
        docs = "docs", diffKey = md5(col("payload")),
        validate = m => { minhashParams(m); sigBuckets(m, "minhash", name); () },
        writeSegment = writeMinhashSegment(name)))

  private val MinhashBandsSchema = StructType.fromDDL(
    "id BIGINT, band_key STRING, seg INT, band INT, band_bucket INT")

  private def minhashParams(m: ArtifactMeta): (Int, Int, Int) = {
    def intOf(k: String): Int =
      m.requireInt(k, s"minhash meta has no $k field: ${m.json}")
    (intOf("shingleN"), intOf("numHashes"), intOf("rowsPerBand"))
  }

  // Missing buckets field = an artifact built before the derived
  // sub-bucket layouts landed: its partition dirs have no bucket layer,
  // so segments appended under the current layout would mix flat files
  // with partition dirs (the round-11 discovery-conflict rule). The
  // supported upgrade is a full rebuild — say so, actionably. Shared by
  // the minhash and winsig artifacts.
  private def sigBuckets(m: ArtifactMeta, kind: String, name: String): Int =
    m.requireInt("buckets", s"$kind meta on $name has no buckets field " +
      "(artifact predates the bucketed layout) — run REINDEX " +
      s"type=$kind to rebuild before refresh/compact/screen")

  /** One segment append: banded signatures + the (id, payload_md5)
    * diff-base rows for every doc in `rows` (short docs with no
    * shingles included — the diff must see them).
    */
  private def writeMinhashSegment(name: String)(rows: DataFrame, seg: Int,
      genDir: Path, meta: ArtifactMeta): Unit = {
    val (shingleN, numHashes, rowsPerBand) = minhashParams(meta)
    // every segment shares the generation's bucket layout (from the
    // meta), or the partition dirs diverge mid-artifact
    val buckets = sigBuckets(meta, "minhash", name)
    graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(
          rows, "id", "payload", shingleN, numHashes),
        "id", numHashes, rowsPerBand)
      .withColumn("band_bucket",
        graft.operators.Dedup.sigBucket(col("band_key"), buckets))
      .withColumn("seg", lit(seg))
      // one writer per (band, bucket) directory: signatures come out in
      // the input's (core-widened) partitioning, and every task would
      // otherwise add its own small file to every directory it touches
      .repartition(col("band"), col("band_bucket"))
      .write.mode("append").option("compression", Compression)
      .partitionBy("band", "band_bucket")
      .parquet(new Path(genDir, "bands").toString)
    rows.select(col("id"), md5(col("payload")).as("payload_md5"))
      .withColumn("seg", lit(seg))
      .write.mode("append").option("compression", Compression)
      .parquet(new Path(genDir, "docs").toString)
  }

  /** REINDEX type=minhash — materialize the collection's banded MinHash
    * signatures ([[graft.operators.Dedup.bandKeys]] over the payload
    * column) as a managed artifact partitioned by `band`: the corpus
    * side of [[screenDupes]], computed once instead of per arriving
    * batch. meta.json records (shingleN, numHashes, rowsPerBand) so the
    * probe always hashes with the parameters the artifact was built
    * with (md5 keys from different parameters never collide). Same
    * segment/tombstone/generation lifecycle as the winsig and postings
    * artifacts — [[refreshMinhash]] maintains it at delta price.
    */
  def reindexMinhash(name: String, shingleN: Int = 5, numHashes: Int = 8,
      rowsPerBand: Int = 2, buckets: Int = -1): Unit = {
    requireCollection(name)
    require(shingleN >= 1 && numHashes >= 1 && numHashes <= 8 &&
      numHashes % rowsPerBand == 0,
      s"bad minhash parameters ($shingleN, $numHashes, $rowsPerBand)")
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"REINDEX type=minhash needs a payload column on $name")
    // buckets = -1 derives the band_bucket sub-partition count from the
    // collection's optimizer size stats (ScaleKnobs.sigBuckets — the
    // postings-buckets contract: layout-only, result-invariant); an
    // explicit count must divide 65536 (the 16-bit slice, no modulo bias)
    val nBuckets =
      if (buckets == -1) graft.operators.ScaleKnobs.sigBuckets(cur)
      else buckets
    require(nBuckets >= 1 && 65536 % nBuckets == 0,
      s"minhash buckets must divide 65536, got $nBuckets")
    minhash(name).build(ArtifactMeta("minhash", Seq("shingleN" -> shingleN,
      "numHashes" -> numHashes, "rowsPerBand" -> rowsPerBand,
      "buckets" -> nBuckets)), cur)
  }

  /** REINDEX type=minhash;mode=refresh — incremental signature
    * maintenance ([[refreshWinsig]]'s discipline on the band layout):
    * diff by `(id, payload_md5)`, shingle + minhash ONLY the
    * new/changed docs into a fresh segment, tombstone replaced/deleted
    * versions, clear the stale marker. Parameters come from the meta —
    * the segment must hash in the family the artifact was built with.
    *
    * Measured (RefreshBench, 1% delta): loses at 5k docs (1.37x — the
    * postings pattern, per-job overhead swamps the avoided hashing),
    * wins 0.55x at 100k; the honest crossover is tens of thousands of
    * docs, same as the text index.
    */
  def refreshMinhash(name: String): Unit = {
    requireCollection(name)
    minhash(name).refresh(name, read(name))
    ()
  }

  /** REINDEX type=minhash;mode=compact — merge segments to one flat
    * generation without re-hashing any text, committed by the single
    * meta.json generation-pointer flip ([[compactPostings]]'s online
    * crash discipline). Requires a LIVE artifact.
    */
  def compactMinhash(name: String): Unit = {
    requireCollection(name)
    minhash(name).compact(name)
  }

  /** Screen an arriving batch (`id`, `payload`) for near-duplicates of
    * the collection — [[graft.operators.Dedup.incomingNearDups]] through
    * the managed surface. With a LIVE minhash artifact the corpus side
    * is the stored band table (the batch pays only its own shingling +
    * the probe); without one — or when a mutation has marked it stale —
    * the bands recompute from the collection in the same query (the
    * rescan fallback: identical md5-pure values, so results never
    * change, only cost). Output: (a_id = batch, b_id = stored doc,
    * jaccard ≥ threshold).
    */
  def screenDupes(name: String, batch: DataFrame, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"SCREEN needs a payload column on $name")
    require(batch.columns.contains("id") && batch.columns.contains("payload"),
      s"screen batch needs (id, payload) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    val mh = minhash(name)
    val snap = mh.snapshot
    val liveSnap = snap.filter(_.live)
    val live = liveSnap.isDefined
    // parameters come from the artifact's meta whenever one exists —
    // EVEN STALE: the fallback must screen with the same (shingleN,
    // hashes, bands) family the caller built, or the candidate sets
    // would silently change shape across the stale window. Defaults
    // apply only when no artifact was ever built.
    val (shingleN, numHashes, rowsPerBand) =
      snap.map(s => minhashParams(s.meta)).getOrElse((5, 8, 2))
    val bands =
      // explicit schemas throughout the artifact reads: an artifact
      // built over an empty (or all-too-short-payload) collection has a
      // schemaless partitioned dir — inference would fail, the declared
      // schema reads it empty
      if (live) mh.live(liveSnap.get, "bands")
        // band_bucket rides along: the probe derives the batch's bucket
        // set from the same md5 slice and pushes it as a partition filter
        .select("id", "band", "band_key", "band_bucket")
      else graft.operators.Materialize.corpusScale(
        graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(
          cur, "id", "payload", shingleN, numHashes),
        "id", numHashes, rowsPerBand)
        // the screen consumes the band table twice (hot-key census +
        // probe join): a stored artifact is just two pruned scans, but
        // the stale/absent fallback would re-run the whole corpus
        // signature pipeline per consumer — hash it once (narrow
        // id+band+key rows, the dhashBands precedent); freed below once
        // the batch-sized screen output has materialized. Corpus-row
        // scale: the storage knob applies (Materialize.corpusScale).
      )
    // finally: the screen's output is checkpointed inside the operator,
    // so the fallback seam is freed on success AND on any screen error
    // (an exception path would otherwise leak a corpus-sized block set
    // for the session — r18 ADVICE item)
    try graft.operators.Dedup.incomingNearDups(bands, cur, batch,
      "id", "payload", threshold, shingleN, numHashes, rowsPerBand,
      maxBucketSize,
      // the stored layout's bucket count unlocks partition pruning in
      // the probe; the rescan fallback has no band_bucket column and
      // the operator's cap-and-switch simply ignores the knob then
      corpusBuckets =
        liveSnap.map(s => sigBuckets(s.meta, "minhash", name)).getOrElse(-1))
    finally if (!live) GraftSqlShims.unpersistCheckpoint(bands)
  }

  // ---- managed split sidecar (leakage-safe split lifecycle) ---------------
  //
  // SPLIT materializes [[graft.operators.TrainExport.leakageSafeSplit]]'s
  // (id, rep, split) assignment as a collection sidecar under the
  // generation-pointer discipline; ROUTE screens an arriving batch against
  // the stored minhash bands, inherits splits from the sidecar, and COMMITS
  // the routed rows back into it — which is what makes inheritance
  // TRANSITIVE: tomorrow's crawl of a doc that itself ARRIVED yesterday
  // (and matched nothing older) still inherits yesterday's placement,
  // instead of falling back to its own-id slot one generation out.

  private def splits(name: String): ManagedArtifact =
    new ManagedArtifact(spark, fs, artifactDir("splits", name), "splits",
      commitPoint(name), staleable = false)

  /** The split sidecar's snapshot; `missing` refuses an absent one. */
  private def splitsSnapshot(name: String,
      missing: => String): ArtifactSnapshot = {
    val s = splits(name).snapshot
    require(s.isDefined, missing)
    s.get
  }

  private val SplitAssignSchema = StructType.fromDDL(
    "id BIGINT, rep BIGINT, split STRING")

  /** (slots, val, test). The meta also pins the edge `family`
    * ("minhash"/"embedding"/"winsig"/"dhash"; absent on pre-pin sidecars
    * — treated as unpinned) and the family's width: `bits`, `min_tokens`
    * or `max_hamming`.
    */
  private def splitsParams(m: ArtifactMeta): (Int, Int, Int) = {
    def intOf(k: String): Int =
      m.requireInt(k, s"splits meta has no $k field: ${m.json}")
    (intOf("slots"), intOf("val"), intOf("test"))
  }

  /** Committed ROUTE segment numbers of generation dir `g` — only
    * MARKED segments are live. A crash mid-write leaves an unmarked
    * orphan dir readers never see; segment numbering skips past it (max
    * over ALL routed_* names), so the orphan sits inert until a
    * compactSplits / re-SPLIT sweeps the generation.
    */
  private def routedSegs(g: Path): Seq[Int] =
    if (!fs.exists(g)) Seq.empty
    else fs.listStatus(g).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("routed_") && n.endsWith(".done"))
      // a stray non-numeric file must not brick the assignment read —
      // tolerate it exactly as routeCore's sibling listing does
      .flatMap(n => scala.util.Try(
        n.stripPrefix("routed_").stripSuffix(".done").toInt).toOption)
      .sorted

  /** Durable replay-idempotency record for ROUTE micro-batches: every
    * batch tag ever committed into the CURRENT generation — read from
    * the `routed_<n>.done` marker contents (the tag commits atomically
    * with its segment: the marker write IS the commit) plus the
    * compaction carry file `_batches` (compactSplits folds the markers
    * away, so it carries their tags into the fresh generation as one
    * newline-delimited file written BEFORE the pointer flips). A
    * checkpoint-restarted streaming screen derives its skip set from
    * THIS, not from driver memory, so a replayed micro-batch is
    * recognized across restarts instead of dying on the write-once
    * refusal.
    */
  def routedBatchTags(name: String): Set[String] = {
    requireCollection(name)
    splits(name).snapshot.fold(Set.empty[String])(s => batchTagsOf(s.dataDir))
  }

  private def batchTagsOf(g: Path): Set[String] = {
    val fromMarkers =
      if (!fs.exists(g)) Seq.empty[String]
      else fs.listStatus(g).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("routed_") &&
          p.getName.endsWith(".done"))
        .flatMap(p => RoutedMarker.parse(readString(fs, p), p.toString).batch)
    val carry = new Path(g, "_batches")
    val fromCarry =
      if (!fs.exists(carry)) Seq.empty[String]
      else readString(fs, carry).split('\n').toSeq
        .map(_.trim).filter(_.nonEmpty)
    (fromMarkers ++ fromCarry).toSet
  }

  /** Crash-recovery re-admission — the documented recovery path for the
    * ROUTE commit window: the sidecar marker commits BEFORE the
    * collection insert, so a crash between the two leaves arrivals
    * permanently assigned but absent from the collection (and the
    * write-once rule rightly refuses a plain re-ROUTE). This re-admits
    * such a batch WITHOUT re-assigning: every arrival id must already
    * carry a committed assignment (loud otherwise — an unassigned id
    * means this is not a replay), rows absent from the collection are
    * inserted (band artifact refreshed so the next screen matches
    * them), present rows are left untouched. Idempotent: re-running it
    * on a fully-present batch is a no-op. Returns the re-admitted count.
    *
    * Only the minhash artifact is refreshed here; the winsig/dhash
    * artifacts are marked stale by the insert and heal through their
    * own refresh (their screens fall back to the rescan meanwhile —
    * identical values, cost-only). The attrs sidecar is also marked
    * stale, but its consumers REFUSE rather than fall back — run
    * `TAG mode=refresh` after a readmit before the next attrs-filtered
    * export.
    */
  def readmitRouted(name: String, batch: DataFrame): Long = {
    requireCollection(name)
    require(splits(name).exists,
      s"no split sidecar on $name — nothing was ever routed")
    require(batch.columns.contains("id"),
      "readmitRouted batch needs an id column")
    val arriving = batch.withColumn("id", col("id").cast("long"))
    val unassigned = arriving.select("id").distinct()
      .join(splitAssignments(name).select("id"), Seq("id"), "left_anti")
      .limit(1).collect()
    require(unassigned.isEmpty,
      s"readmitRouted: id ${unassigned.headOption.map(_.getLong(0))
        .getOrElse(-1L)} on $name has no committed assignment — this " +
        "batch is not a crash replay; ROUTE it instead")
    // checkpoint BEFORE the insert: the anti-join plan reads the very
    // collection the insert appends to (the routeCore eager-commit rule)
    val missing = arriving
      .join(read(name).select(col("id").cast("long").as("id")),
        Seq("id"), "left_anti")
      .localCheckpoint(true)
    val n = missing.count()
    if (n > 0L) {
      bulkInsert(name, missing)
      if (minhash(name).exists) refreshMinhash(name)
    }
    n
  }

  /** The committed split assignment table — the SPLIT base plus every
    * committed ROUTE segment: (id, rep, split), one row per document
    * ever placed. Explicit-schema reads throughout (zero-row segments
    * read back as empty frames, the round-11 rule).
    */
  def splitAssignments(name: String): DataFrame = {
    requireCollection(name)
    assignmentsOf(splits(name), splitsSnapshot(name,
      s"no split sidecar on $name — run SPLIT first"))
  }

  private def assignmentsOf(sp: ManagedArtifact,
      s: ArtifactSnapshot): DataFrame = {
    val g = s.dataDir
    val base = sp.read(new Path(g, "assign"), SplitAssignSchema)
    val segs = routedSegs(g)
    if (segs.isEmpty) base
    else base.unionByName(
      // ONE multi-path scan over every MARKED segment — a per-segment
      // union would grow the plan linearly with ROUTE batches (at
      // thousands of admitted batches that's real analysis time);
      // unmarked orphans are excluded by construction (never globbed)
      graft.operators.ScaleKnobs.withDriverListing(spark)(
        spark.read.schema(SplitAssignSchema)
          .parquet(segs.map(n => new Path(g, s"routed_$n").toString): _*)))
  }

  /** SPLIT — build (or rebuild) the managed leakage-safe split sidecar:
    * near-dup candidate pairs over the collection's payloads
    * ([[graft.operators.Dedup.minhashCandidates]], parameters following
    * the minhash artifact's meta when one exists — the [[screenDupes]]
    * family rule, so SPLIT and ROUTE operate in one signature family),
    * whole clusters placed by [[graft.operators.TrainExport
    * .leakageSafeSplit]]'s md5-slice rule, committed as a fresh
    * generation by the single meta overwrite — a rebuild atomically
    * supersedes the base AND all prior ROUTE segments (assignments are
    * point-in-time placements: mutations don't move a doc's split, a
    * re-SPLIT does). Returns the per-split summary
    * (split, n_docs, n_clusters).
    */
  def buildSplits(name: String, nSlots: Int = 16, valSlots: Int = 1,
      testSlots: Int = 1): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"SPLIT needs a payload column on $name (or use SPLIT by=embedding)")
    val (shingleN, numHashes, rowsPerBand) = minhash(name).snapshot
      .map(s => minhashParams(s.meta)).getOrElse((5, 8, 2))
    val pairs = graft.operators.Dedup.minhashCandidates(
      cur, "id", "payload", shingleN, numHashes, rowsPerBand)
    commitSplitBase(name, cur, pairs, nSlots, valSlots, testSlots,
      Seq("family" -> "minhash"))
  }

  /** SPLIT by=embedding — [[buildSplits]] under EMBEDDING edges (the
    * q336 edge family through the managed surface): near-dup pairs from
    * the sign-bucket LSH screen at the ROUNDED-cosine threshold
    * ([[graft.operators.Dedup.embeddingPairs]] — hot buckets capped),
    * same cluster placement, same sidecar. For corpora whose identity
    * lives in the vector, not the payload (image/audio embeddings, the
    * multimodal tables).
    */
  def buildSplitsEmbedding(name: String, threshold: Double = 0.999,
      nBits: Int = -1, nSlots: Int = 16, valSlots: Int = 1,
      testSlots: Int = 1): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("embedding"),
      s"SPLIT by=embedding needs an embedding column on $name")
    // a stored sign layout pins the signature family: SPLIT and ROUTE
    // must bucket identically (the buildSplits/minhashParams rule) or an
    // arrival could near-dup under one bucketing and not the other —
    // inheriting through pairs the split never clustered, or missing a
    // test-set copy entirely. -1 ADOPTS (stored layout's width, else 8);
    // an EXPLICIT mismatching width refuses — the resume-pin doctrine.
    val stored: Option[Int] =
      layoutOf(name).collect { case SignBucket(b) => b }
    val bits = (nBits, stored) match {
      case (-1, Some(b)) => b
      case (-1, None) => 8
      case (b, Some(sb)) =>
        require(b == sb, s"SPLIT by=embedding bits=$b but the stored " +
          s"sign layout on $name uses $sb bits — drop bits= to adopt, " +
          "or REINDEX the layout first")
        b
      case (b, None) => b
    }
    val pairs = graft.operators.Dedup.embeddingPairs(
        cur.select(col("id"), col("embedding")), "id", "embedding", bits)
      .filter(round(col("score"), 6) >= threshold)
      .select("a_id", "b_id")
    commitSplitBase(name, cur, pairs, nSlots, valSlots, testSlots,
      Seq("family" -> "embedding", "bits" -> bits))
  }

  /** SPLIT by=winsig — [[buildSplits]] under EXACT-SUBSTRING edges: two
    * documents sharing any `minTokens`-token window (the winsig
    * artifact's identity, [[graft.operators.Dedup.windowSigRows]]) are
    * one cluster. For corpora where leakage means verbatim passages, not
    * near-dup shingle profiles (license boilerplate corpora, code).
    * `minTokens = -1` ADOPTS the stored winsig artifact's width when one
    * exists (else 15); an explicit mismatch refuses — the SPLIT and the
    * artifact must live in ONE signature family (the
    * buildSplitsEmbedding bits rule). Hot signatures (more than
    * `maxBucketSize` carriers — boilerplate) are dropped whole; a live
    * artifact supplies the stored rows so the build re-windows nothing.
    */
  def buildSplitsWinsig(name: String, minTokens: Int = -1,
      nSlots: Int = 16, valSlots: Int = 1, testSlots: Int = 1,
      maxBucketSize: Int = 1000): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"SPLIT by=winsig needs a payload column on $name")
    val ws = winsig(name)
    val snap = ws.snapshot
    val stored = snap.map(s => winsigMinTokens(s.meta, name))
    val mt = (minTokens, stored) match {
      case (-1, Some(m)) => m
      case (-1, None) => 15
      case (m, Some(sm)) =>
        require(m == sm, s"SPLIT by=winsig minTokens=$m but the stored " +
          s"winsig artifact on $name uses $sm — drop minTokens= to " +
          "adopt, or REINDEX the artifact first")
        m
      case (m, None) => m
    }
    val rows = snap.filter(_.live) match {
      case Some(s) => ws.live(s, "sigs").select(col("id"), col("win_sig"))
      case None => graft.operators.Dedup.windowSigRows(cur, "id", "payload", mt)
    }
    val ok = rows.groupBy("win_sig").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .select("win_sig")
    val el = rows.join(ok, Seq("win_sig"))
    val pairs = el.select(col("win_sig"), col("id").as("a_id"))
      .join(el.select(col("win_sig"), col("id").as("b_id")),
        Seq("win_sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    commitSplitBase(name, cur, pairs, nSlots, valSlots, testSlots,
      Seq("family" -> "winsig", "min_tokens" -> mt))
  }

  /** SPLIT by=dhash — [[buildSplits]] under PERCEPTUAL-IMAGE edges: two
    * documents whose media dHash56 signatures sit within `maxHamming`
    * bits ([[graft.operators.Multimodal.dhashNearDups]] — banded
    * candidates, hot buckets capped, first-band emission, exact
    * bit_count verification) are one cluster. The media column follows
    * the stored dhash artifact's meta when one exists.
    */
  def buildSplitsDhash(name: String, maxHamming: Int = 6,
      mediaCol: String = "media", nSlots: Int = 16, valSlots: Int = 1,
      testSlots: Int = 1): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    val mc = dhash(name).snapshot.map(s => dhashMediaCol(s.meta, name))
      .getOrElse(mediaCol)
    require(cur.columns.contains(mc),
      s"SPLIT by=dhash needs a binary $mc column on $name")
    val pairs = graft.operators.Multimodal.dhashNearDups(
        cur.select(col("id"), col(mc)), "id", mc, maxHamming)
      .select("a_id", "b_id")
    commitSplitBase(name, cur, pairs, nSlots, valSlots, testSlots,
      Seq("family" -> "dhash", "max_hamming" -> maxHamming))
  }

  /** Shared SPLIT commit: place clusters, write the base assignment as a
    * fresh generation (the meta carrying the family's `pins`), flip the
    * pointer, sweep, summarize.
    */
  private def commitSplitBase(name: String, cur: DataFrame,
      pairs: DataFrame, nSlots: Int, valSlots: Int,
      testSlots: Int, pins: Seq[(String, Any)]): DataFrame = {
    val sp = splits(name)
    val g = if (sp.exists) sp.meta.gen.getOrElse(0) + 1 else 0
    // refuse a bad split rule before the components run; they come
    // back checkpointed: free them once the assignment write has
    // consumed them, on success and on failure
    graft.operators.TrainExport.requireSplitRule(cur, "id", nSlots,
      valSlots, testSlots)
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    try sp.commitGeneration(ArtifactMeta("splits", Seq("slots" -> nSlots,
        "val" -> valSlots, "test" -> testSlots) ++ pins, gen = Some(g))) {
      genDir =>
        graft.operators.TrainExport.clusterSplits(
            cur, cc, "id", nSlots, valSlots, testSlots)
          .select(col("id").cast("long").as("id"),
            col("rep").cast("long").as("rep"), col("split"))
          .write.mode("overwrite").option("compression", Compression)
          .parquet(new Path(genDir, "assign").toString)
    } finally GraftSqlShims.unpersistCheckpoint(cc)
    splitSummary(name)
  }

  /** The per-split summary of the committed assignment table — the
    * read-only inspection surface (`SPLIT mode=stats`): what a build
    * returns, WITHOUT rebuilding anything (ROUTE commits included).
    */
  def splitSummary(name: String): DataFrame =
    splitAssignments(name).groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .orderBy("split")

  /** `SPLIT mode=stats` — [[splitSummary]] plus artifact-health columns:
    * `n_segments`, the routed-segment count of the current generation
    * (the auto-compact policy's input — many small segments mean the
    * assignment read is a base + N-file union; `SPLIT mode=compact`
    * folds them, and ROUTE does it automatically past
    * `spark.graft.splits.autoCompactSegments`).
    */
  def splitStats(name: String): DataFrame =
    splitSummary(name).withColumn("n_segments",
      lit(routedSegs(splits(name).snapshot.get.dataDir).size.toLong))

  /** ROUTE — admit an arriving batch (`id`, `payload`) into the managed
    * split lifecycle: screen against the stored minhash bands
    * ([[screenDupes]] — never a corpus text rescan while the artifact is
    * live), inherit each arrival's split from the committed assignment
    * table ([[graft.operators.TrainExport.routeSplits]] — smallest-rep
    * match authoritative, own-id fallback, `bridged` surfaced), then
    * COMMIT the routed (id, rep, split) rows back into the sidecar as a
    * marked segment. That commit is what the API-only operator lacked:
    * the NEXT batch's near-dups of THIS batch inherit through it, so
    * inheritance no longer stops at one generation. With `insert=true`
    * (default) the batch is also appended to the collection (it must
    * carry the collection's declared columns) and the minhash artifact
    * refreshed, so the next batch's screen can MATCH these arrivals.
    *
    * The routed frame is eagerly checkpointed BEFORE the insert+refresh
    * — correctness, not just cost: the returned plan reads the band
    * artifact, and re-running it after the refresh would screen the
    * arrivals against THEMSELVES.
    *
    * Contract: arrival ids must be NEW (loud on a collision — splits are
    * write-once per id; a re-route would duplicate the assignment row —
    * and loud when insert=true on an id already in the collection
    * without a split row: admitting it would duplicate the id).
    * Recovery: the sidecar segment commits BEFORE the insert, so a crash
    * between the two leaves arrivals assigned but absent — re-admit them
    * with [[readmitRouted]] (the streaming screen does this
    * automatically on a recognized replay). Returns
    * (id, rep, split, n_matches, bridged), ordered by id.
    */
  def routeArrivals(name: String, batch: DataFrame,
      threshold: Double = 0.5, insert: Boolean = true,
      batchTag: Option[String] = None,
      dryRun: Boolean = false): DataFrame = {
    requireCollection(name)
    val sp = routeSnapshot(name)
    require(batch.columns.contains("id") && batch.columns.contains("payload"),
      "ROUTE batch needs (id, payload) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    // cross-family routing would inherit through a DIFFERENT edge set
    // than the one that clustered the corpus — refuse, don't guess
    sp.meta.string("family").foreach(f => require(f == "minhash",
      s"the split sidecar on $name was built by=$f — ROUTE (minhash) " +
        s"would inherit through a different edge family; use " +
        s"ROUTE by=$f or re-SPLIT"))
    val arriving = batch.select(col("id").cast("long").as("id"),
      col("payload"))
    routeCore(name, sp, batch, arriving,
      screenDupes(name, arriving, threshold),
      insert, refreshBands = true, batchTag, dryRun)
  }

  /** ROUTE by=embedding — [[routeArrivals]] under EMBEDDING edges: the
    * arriving batch (`id`, `embedding`) screens against the stored
    * SIGN-BUCKET layout (arrival buckets collected driver-side — a
    * ≤ 2^bits value set regardless of batch size — prune the stored
    * scan to exactly those cells; hot buckets capped, the q34 rule),
    * matches at the ROUNDED-cosine threshold inherit as in the minhash
    * path, and routed assignments COMMIT to the same sidecar. With
    * `insert=true` the layout-aware append assigns arriving rows their
    * sign bucket in the write pass — so the NEXT batch's screen matches
    * them with no refresh step at all (the sign layout has no separate
    * band artifact to maintain).
    */
  def routeArrivalsEmbedding(name: String, batch: DataFrame,
      threshold: Double = 0.999, insert: Boolean = true,
      batchTag: Option[String] = None,
      broadcastMaxRows: Long =
        graft.operators.ScaleKnobs.routeBroadcastMaxRows,
      dryRun: Boolean = false): DataFrame = {
    requireCollection(name)
    val sp = routeSnapshot(name)
    require(batch.columns.contains("id") &&
      batch.columns.contains("embedding"),
      "ROUTE by=embedding batch needs (id, embedding) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    // the family pin fires FIRST: a cross-family sidecar is the more
    // fundamental refusal — it survives even after the user runs the
    // REINDEX the layout message would suggest
    sp.meta.string("family").foreach(f => require(f == "embedding",
      s"the split sidecar on $name was built by=$f — ROUTE by=embedding " +
        "would inherit through a different edge family; use the " +
        s"matching ROUTE or re-SPLIT by=embedding"))
    val cur = read(name)
    val signBits = layoutOf(name).collect { case SignBucket(b) => b }
    require(cur.columns.contains("cluster_id") && signBits.isDefined,
      s"ROUTE by=embedding answers from the stored sign-bucket layout — " +
        s"REINDEX type=sign on $name first (the screen must never " +
        "full-scan the corpus)")
    val nBits = signBits.get
    // the sidecar's pinned signature width must match the layout the
    // screen is about to probe — a re-REINDEX at a different width
    // between SPLIT and ROUTE would silently change the edge family
    sp.meta.int("bits").foreach(b => require(b == nBits,
      s"the split sidecar on $name was built at $b sign bits but the " +
        s"stored layout now uses $nBits — re-SPLIT by=embedding (or " +
        "restore the layout) before routing"))
    val arriving = batch.select(col("id").cast("long").as("id"),
      col("embedding"))
    val withB = arriving.withColumn("__b",
      graft.operators.VectorIndex.signBucket(col("embedding"), nBits))
    // ONE job yields both the distinct arrival-bucket set (bounded by
    // 2^bits, never by the batch — prunes the stored scan to those
    // partitions) and the batch row count (decides the join strategy
    // below — the driver never collects the batch itself)
    val bkCounts = withB.groupBy("__b")
      .agg(count(lit(1)).as("__n")).collect()
    val bks = bkCounts.map(_.getInt(0))
    val batchRows = bkCounts.map(_.getLong(1)).sum
    val stored = cur
      .filter(col("cluster_id").isin(bks.toIndexedSeq: _*))
      .select(col("id").cast("long").as("b_id"),
        col("embedding").as("__ce"), col("cluster_id").cast("int").as("__b"))
    // hot-bucket cap over the pruned cells (full bucket contents are in
    // the pruned scan, so the counts are exact — the q34 convention: a
    // degenerate bucket screens nothing)
    val okB = stored.groupBy("__b").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= 1000L).select("__b")
    // micro-batch-grain arrivals broadcast (the stored side is
    // corpus-scale — never shuffle it for a tiny batch); a crawl-day
    // batch past the cap joins plain on the bucket key instead, so the
    // driver never materializes it — the hot-bucket cap (okB, ≤ 2^bits
    // rows, always broadcast) bounds the blow-up either way
    val arrivalSide = withB.join(broadcast(okB), Seq("__b"))
    val matches = stored
      .join(if (batchRows <= broadcastMaxRows) broadcast(arrivalSide)
            else arrivalSide, Seq("__b"))
      .filter(round(graft.functions.cosine_sim(col("embedding"),
        col("__ce")), 6) >= threshold)
      .select(col("id").as("a_id"), col("b_id"))
    routeCore(name, sp, batch, arriving, matches, insert,
      refreshBands = false, batchTag, dryRun)
  }

  /** ROUTE by=winsig — [[routeArrivals]] under EXACT-SUBSTRING edges:
    * the arriving batch windows its own payloads
    * ([[graft.operators.Dedup.windowSigRows]], width pinned by the
    * sidecar) and probes the stored signature table with one sig-keyed
    * equi-join (a live winsig artifact supplies the rows bucket-pruned
    * to the batch's own `sig_bucket` set; stale/absent falls back to
    * the in-query recompute — identical values, only cost). Stored
    * signatures carried by more than `maxBucketSize` docs are dropped
    * whole (boilerplate). With insert=true the batch is admitted and a
    * LIVE artifact is incrementally refreshed ([[refreshWinsig]] — the
    * refreshMinhash discipline), so the next batch can match these
    * arrivals. routeCore semantics are shared: write-once ids, marked
    * segments, batch tags, dryRun.
    */
  def routeArrivalsWinsig(name: String, batch: DataFrame,
      insert: Boolean = true, batchTag: Option[String] = None,
      dryRun: Boolean = false, maxBucketSize: Int = 1000): DataFrame = {
    requireCollection(name)
    val sp = routeSnapshot(name)
    require(batch.columns.contains("id") && batch.columns.contains("payload"),
      "ROUTE by=winsig batch needs (id, payload) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    sp.meta.string("family").foreach(f => require(f == "winsig",
      s"the split sidecar on $name was built by=$f — ROUTE by=winsig " +
        "would inherit through a different edge family; use the " +
        "matching ROUTE or re-SPLIT by=winsig"))
    val mt = sp.meta.int("min_tokens").getOrElse(15)
    // width drift between the sidecar and the artifact is a silent
    // family change — refuse (the bits-pin doctrine)
    val ws = winsig(name)
    val snap = ws.snapshot
    snap.map(s => winsigMinTokens(s.meta, name)).foreach(w => require(w == mt,
      s"the split sidecar on $name pins min_tokens=$mt but the winsig " +
        s"artifact uses $w — re-SPLIT by=winsig (or rebuild the " +
        "artifact) before routing"))
    val arriving = batch.select(col("id").cast("long").as("id"),
      col("payload"))
    val liveSnap = snap.filter(_.live)
    val live = liveSnap.isDefined
    // the batch's windows feed BOTH the bucket derivation and the probe
    // — checkpoint once (the incomingCoveredText discipline), release
    // after the routed frame (itself checkpointed) materializes
    val bRows = graft.operators.Dedup.windowSigRows(
      arriving, "id", "payload", mt).localCheckpoint(true)
    val sRows = liveSnap match {
      case Some(s) =>
        val nb = sigBuckets(s.meta, "winsig", name)
        val bks = bRows.select(graft.operators.Dedup
            .sigBucket(col("win_sig"), nb).as("__sb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val base = ws.live(s, "sigs")
        (if (bks.size < nb) base.filter(col("sig_bucket").isin(bks: _*))
         else base).select(col("id"), col("win_sig"))
      case None => graft.operators.Materialize.corpusScale(
        graft.operators.Dedup.windowSigRows(
          read(name), "id", "payload", mt)
        // the screen consumes the signature table twice (hot-sig census
        // + probe join): the live path is two pruned stored scans, but
        // this stale/absent fallback would re-run the corpus window
        // pipeline per consumer — materialize once (narrow id+sig rows),
        // freed after routeCore's checkpointed return. Corpus-row scale:
        // the storage knob applies.
      )
    }
    val ok = sRows.groupBy("win_sig").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("win_sig")
    val matches = bRows.select(col("win_sig"), col("id").as("a_id"))
      .join(sRows.join(ok, Seq("win_sig"), "left_semi")
        .select(col("win_sig"), col("id").as("b_id")), Seq("win_sig"))
      .select("a_id", "b_id").distinct()
    // finally: routeCore's returned frame is checkpointed before it
    // returns, so the screen seams are freed on success AND on a
    // refusal/error path (a write-once refusal would otherwise leak the
    // batch windows + the corpus-sized fallback table — r18 ADVICE item)
    try {
      val out = routeCore(name, sp, batch, arriving, matches, insert,
        refreshBands = false, batchTag, dryRun)
      if (insert && !dryRun && ws.exists) refreshWinsig(name)
      out
    } finally {
      GraftSqlShims.unpersistCheckpoint(bRows)
      if (!live) GraftSqlShims.unpersistCheckpoint(sRows)
    }
  }

  /** ROUTE by=dhash — [[routeArrivals]] under PERCEPTUAL-IMAGE edges:
    * the arriving batch hashes its own media and probes the stored
    * banded dHash56 artifact through [[screenImages]] (bucket-pruned
    * while live; stale/absent recomputes — identical exact-integer
    * values). With insert=true the batch is admitted and a LIVE
    * artifact gets the arrivals' band rows APPENDED in place (bands are
    * id-attributed append-only rows, so admission is a delta write, not
    * a rebuild), keeping the next batch's screen on the stored path.
    */
  def routeArrivalsDhash(name: String, batch: DataFrame,
      insert: Boolean = true, batchTag: Option[String] = None,
      dryRun: Boolean = false): DataFrame = {
    requireCollection(name)
    val sp = routeSnapshot(name)
    sp.meta.string("family").foreach(f => require(f == "dhash",
      s"the split sidecar on $name was built by=$f — ROUTE by=dhash " +
        "would inherit through a different edge family; use the " +
        "matching ROUTE or re-SPLIT by=dhash"))
    val mh = sp.meta.int("max_hamming").getOrElse(6)
    val dh = dhash(name)
    val snap = dh.snapshot
    val mc = snap.map(s => dhashMediaCol(s.meta, name)).getOrElse("media")
    require(batch.columns.contains("id") && batch.columns.contains(mc),
      s"ROUTE by=dhash batch needs (id, $mc) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    val arriving = batch.select(col("id").cast("long").as("id"), col(mc))
    val matches = screenImages(name, batch, mc, maxHamming = mh)
      .select("a_id", "b_id")
    val out = routeCore(name, sp, batch, arriving, matches, insert,
      refreshBands = false, batchTag, dryRun)
    snap.filter(_.live).foreach { s =>
      if (insert && !dryRun) {
        // delta admission into the band artifact: append the arrivals'
        // rows, then clear the stale marker the insert just set — valid
        // ONLY because the artifact was live before this ROUTE (a marker
        // predating us must stay)
        graft.operators.Multimodal.dhashBands(
            arriving, "id", mc, dhashBuckets(s.meta, name))
          .write.mode("append").option("compression", Compression)
          .partitionBy("band", "key_bucket")
          .parquet(new Path(s.dataDir, "bands").toString)
        dh.clearStale()
      }
    }
    out
  }

  /** Shared ROUTE tail: write-once collision check, inheritance
    * ([[graft.operators.TrainExport.routeSplits]]), the marked-segment
    * sidecar commit, optional admission. The routed frame is eagerly
    * checkpointed BEFORE the insert/refresh — correctness, not just
    * cost: the returned plan reads the screen's inputs, and re-running
    * it after admission would screen the arrivals against THEMSELVES.
    */
  /** Pre-execution plan of the last ROUTE screen (spec introspection):
    * the routed frame the caller gets back is a checkpoint scan, so the
    * screen's pruned-scan shape is not visible there — audits assert on
    * this instead (the StageStore.stagePlans convention).
    */
  private[graft] var lastRouteScreenPlan: Option[String] = None

  /** Job-group prefix of ROUTE's write-once admission check. */
  private[graft] val RouteCheckGroupPrefix = "graft:ROUTE:admission-check:"

  private def routeSnapshot(name: String): ArtifactSnapshot =
    splitsSnapshot(name, s"no split sidecar on $name — run SPLIT before ROUTE")

  private def routeCore(name: String, sp: ArtifactSnapshot, batch: DataFrame,
      arriving: DataFrame, matchesIn: => DataFrame, insert: Boolean,
      refreshBands: Boolean, batchTag: Option[String] = None,
      dryRun: Boolean = false): DataFrame = {
    batchTag.foreach(t => require(t.matches("[A-Za-z0-9_.-]+"),
      s"ROUTE batch tag must be [A-Za-z0-9_.-]+ (it names a durable " +
        s"replay record): '$t'"))
    val (nSlots, valSlots, testSlots) = splitsParams(sp.meta)
    val assign = assignmentsOf(splits(name), sp)
    // admission pre-check BEFORE anything commits: a batch the collection
    // cannot accept (missing declared columns) must fail with NOTHING
    // written — otherwise the sidecar commit lands, bulkInsert throws,
    // and the write-once rule then refuses the corrected batch forever
    // (align only builds the projection — no job runs here)
    if (insert) { align(name, batch); () }
    // loud write-once checks, ONE driver action for all three (per-batch
    // driver-side job overhead dominates small incremental jobs — the
    // round-11 rule): an arrival id may neither carry a committed split
    // already, NOR appear twice within the batch, NOR (insert=true)
    // already exist in the collection WITHOUT a split row (rows
    // bulk-inserted after SPLIT outside ROUTE — admitting such an id
    // would append a duplicate into the collection) — the id-only
    // collection probe rides the same job, column-pruned to the scan.
    // The check reads (arriving, assign, collection ids) — none of the
    // SCREEN's inputs — so it runs as a CONCURRENT job while the screen
    // materializes (guide §2.6 overlap: the check back-fills slots the
    // screen's stage tail leaves idle; `matchesIn` is by-name exactly so
    // the screen's eager checkpoints run AFTER this future launches).
    // Nothing commits until both complete — the fail-with-nothing-written
    // contract is unchanged; the pool thread is fresh (no caller job
    // group to clobber) and always torn down.
    val withCommitted = arriving.groupBy("id").agg(count(lit(1)).as("__n"))
      .join(assign.select(col("id")).distinct()
        .withColumn("__committed", lit(true)), Seq("id"), "left_outer")
    val badFrame = (if (insert)
        withCommitted.join(
          read(name).select(col("id").cast("long").as("id")).distinct()
            .withColumn("__present", lit(true)),
          Seq("id"), "left_outer")
      else withCommitted.withColumn("__present", lit(false)))
      .filter(col("__n") > 1L || col("__committed") || col("__present"))
      .select(col("id"), col("__n"),
        coalesce(col("__committed"), lit(false)).as("__committed"),
        coalesce(col("__present"), lit(false)).as("__present"))
      .limit(1)
    // the check runs under its own job group, so a failed screen can
    // cancel it: an interrupted pool thread alone leaves the Spark job
    // running detached
    val checkGroup = s"$RouteCheckGroupPrefix${UUID.randomUUID()}"
    val checkPool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val checkF = scala.concurrent.Future {
      spark.sparkContext.setJobGroup(checkGroup,
        s"ROUTE $name: admission check", interruptOnCancel = true)
      badFrame.collect()
    }(scala.concurrent.ExecutionContext.fromExecutor(checkPool))
    val matches =
      try matchesIn
      catch { case t: Throwable =>
        // cancel until the check has finished: a job the pool thread
        // submits after a cancel is caught by the next one, so no job of
        // the group outlives the throw
        while (!checkF.isCompleted) {
          spark.sparkContext.cancelJobGroup(checkGroup)
          try scala.concurrent.Await.ready(checkF,
            scala.concurrent.duration.Duration(50, "ms"))
          catch { case _: java.util.concurrent.TimeoutException => () }
        }
        checkPool.shutdownNow()
        throw t
      }
    lastRouteScreenPlan = Some(matches.queryExecution.executedPlan.toString)
    val bad =
      try scala.concurrent.Await.result(checkF,
        scala.concurrent.duration.Duration.Inf)
      finally checkPool.shutdown()
    bad.headOption.foreach { r =>
      val id = r.getLong(0)
      if (r.getLong(1) > 1L) throw new IllegalArgumentException(
        s"requirement failed: ROUTE: arrival id $id appears more than " +
          "once in the batch — ids must be unique (splits are " +
          "write-once per id); dedupe the batch first")
      else if (r.getBoolean(2)) throw new IllegalArgumentException(
        s"requirement failed: ROUTE: arrival id $id already has a " +
          s"committed split on $name — splits are write-once per id; " +
          "re-routing would duplicate its assignment row")
      else throw new IllegalArgumentException(
        s"requirement failed: ROUTE: arrival id $id already exists in " +
          s"$name without a split row (inserted outside ROUTE after " +
          "SPLIT) — admitting it would duplicate the id; re-SPLIT to " +
          "place existing rows, or route a fresh id")
    }
    val routed = graft.operators.TrainExport.routeSplits(
        assign, matches, arriving, "id", nSlots, valSlots, testSlots)
      .localCheckpoint(true)
    // dry run: the full screen + inheritance + placement math with the
    // SAME refusals, but NOTHING commits — the capacity-planning /
    // steady-state-bench shape ("what would this batch's placement be")
    if (dryRun) return routed.orderBy("id")
    val g = sp.dataDir
    val existing = Option(
        if (fs.exists(g)) fs.listStatus(g) else null)
      .getOrElse(Array.empty).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("routed_"))
      .map(_.stripPrefix("routed_").stripSuffix(".done"))
      .flatMap(n => scala.util.Try(n.toInt).toOption)
    val seg = if (existing.isEmpty) 0 else existing.max + 1
    routed.select(col("id"), col("rep"), col("split"))
      .write.mode("overwrite").option("compression", Compression)
      .parquet(new Path(g, s"routed_$seg").toString)
    // the marker write IS the commit — a batch tag rides in its content,
    // so "this micro-batch committed" and "these assignments are live"
    // are ONE atomic durable fact (no tag→data crash window at all)
    writeString(fs, new Path(g, s"routed_$seg.done"), RoutedMarker(batchTag).json)
    commit(name)
    // segment-growth hygiene: past the threshold the assignment read is
    // a base + N-small-file union — fold it NOW (content-preserving,
    // batch tags carried; one extra read+write of assignment-grain rows,
    // never a re-screen). 0 disables; the default keeps per-batch cost
    // amortized to ~1/64 of a compaction.
    val autoAfter = spark.conf
      .getOption("spark.graft.splits.autoCompactSegments")
      .map(_.toInt).getOrElse(64)
    if (autoAfter > 0 && routedSegs(g).size > autoAfter)
      compactSplits(name)
    // capture BEFORE the insert: bulkInsert marks the attrs sidecar
    // stale, and a marker that PREDATES this ROUTE must stay (the dhash
    // delta-admission rule — clearing it would hide someone else's
    // un-healed mutation)
    val at = attrs(name)
    val attrsLiveBefore = at.state.contains("live")
    if (insert) {
      bulkInsert(name, batch)
      // minhash bands live in a separate artifact needing a refresh; the
      // sign layout derives at append (no artifact = the rescan fallback
      // already sees collection rows directly)
      if (refreshBands && minhash(name).exists) refreshMinhash(name)
      // a live attribute sidecar stays current through admissions too
      // (every stored artifact maintains incrementally). DELTA admission:
      // ROUTE ids are write-once, so an admission can only ADD rows —
      // tag JUST the batch (align = the very rows bulkInsert appended)
      // and clear the marker the insert set. No corpus diff: per-batch
      // cost stays batch-sized, where the full refresh would pay two
      // collection-scale anti-joins per micro-batch.
      if (attrsLiveBefore) {
        val seg = at.append(at.snapshot.get, align(name, batch))
        at.clearStale()
        maybeAutoCompactAttrs(name, seg)
      } else if (at.exists)
        // an already-stale sidecar needs the full diff heal anyway
        refreshAttrs(name)
    }
    routed.orderBy("id")
  }

  /** SPLIT mode=compact — merge the base assignment and every committed
    * ROUTE segment into ONE fresh generation (values unchanged — the
    * [[compactMinhash]] content-preserving contract on this artifact):
    * after many routed batches the assignment read is a base + N small
    * segment files; compaction folds them without recomputing any
    * screen or placement, committed by the single meta pointer flip.
    */
  def compactSplits(name: String): Unit = {
    requireCollection(name)
    val sp = splits(name)
    val s = splitsSnapshot(name,
      s"no split sidecar on $name to compact — run SPLIT first")
    splitsParams(s.meta)
    // the typed meta carries over verbatim: the family and width pins
    // are part of the artifact's identity, and ROUTE reads them back.
    // Reads the OLD generation, writes the NEW one, then the pointer
    // flips — readers serve the old one until the flip
    sp.commitGeneration(s.meta.copy(gen = Some(s.meta.gen.getOrElse(0) + 1))) {
      genDir =>
        assignmentsOf(sp, s)
          .write.mode("overwrite").option("compression", Compression)
          .parquet(new Path(genDir, "assign").toString)
        // durable batch tags survive compaction: the markers fold away
        // with their segments, so their tags carry as one file in the
        // new gen — written BEFORE the pointer flip (the gen dir must be
        // complete when it becomes visible)
        val tags = batchTagsOf(s.dataDir)
        if (tags.nonEmpty)
          writeString(fs, new Path(genDir, "_batches"),
            tags.toSeq.sorted.mkString("\n"))
    }
  }

  // ---- durable micro-batch application log (sink-side idempotency) -------

  private def batchLogDir(name: String): Path =
    new Path(root, s"${ReservedPrefix}batchlog_$name")

  /** Record that streaming micro-batch `tag` was applied to collection
    * `name` — one empty marker file per tag, written AFTER the sink
    * append commits. A checkpoint-restarted stream derives its skip set
    * from [[appliedBatchTags]], so an at-least-once replay appends at
    * most once; the only remaining window is a crash BETWEEN the append
    * and this marker (the replay then re-appends — the boundary every
    * non-transactional sink has; the ROUTE screen closes it completely
    * because there the tag rides the artifact's own commit marker).
    */
  def markBatchApplied(name: String, tag: String): Unit = {
    requireCollection(name)
    require(tag.matches("[A-Za-z0-9_.-]+"),
      s"batch tag must be [A-Za-z0-9_.-]+ (it names a marker file): '$tag'")
    val dir = batchLogDir(name)
    if (!fs.exists(dir)) { fs.mkdirs(dir); () }
    writeString(fs, new Path(dir, tag), "")
  }

  /** Every batch tag ever recorded against `name` via
    * [[markBatchApplied]] — the durable skip set a restarted stream
    * loads before its first micro-batch.
    */
  def appliedBatchTags(name: String): Set[String] = {
    requireCollection(name)
    val dir = batchLogDir(name)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).toSet
  }

  // ---- window-signature artifact (exact-substring ingest screening) ------
  //
  // Same lifecycle machinery as the text index: id-attributed rows in
  // SEGMENTS under a GENERATION pointer, (id, seg) tombstones, a docs
  // diff base keyed by payload_md5 — so the artifact refreshes at
  // delta price, compacts online, and a signature keeps screening as
  // long as ANY live document carries it.

  private def winsig(name: String): SegmentedArtifact =
    new SegmentedArtifact(spark, fs, artifactDir("winsig", name), "winsig",
      commitPoint(name), SegmentedFamily("winsig artifact", "REINDEX type=winsig",
        "REINDEX type=winsig (or mode=refresh)",
        tables = _ => Seq(
          ArtifactTable("sigs", WinsigSigsSchema, Seq("sig_bucket")),
          ArtifactTable("docs", DocsSchema)),
        docs = "docs", diffKey = md5(col("payload")),
        validate = m => {
          winsigMinTokens(m, name); sigBuckets(m, "winsig", name); ()
        },
        writeSegment = writeWinsigSegment(name)))

  private val WinsigSigsSchema = StructType.fromDDL(
    "id BIGINT, win_sig STRING, seg INT, sig_bucket INT")

  private def winsigMinTokens(m: ArtifactMeta, name: String): Int =
    m.requireInt("minTokens", s"winsig meta has no minTokens field on $name")

  /** One segment append: per-doc distinct window sigs + the (id,
    * payload_md5) diff-base rows for EVERY doc in `rows` (window-less
    * short docs included — the diff must see them or they re-arrive on
    * every refresh).
    */
  private def writeWinsigSegment(name: String)(rows: DataFrame, seg: Int,
      genDir: Path, meta: ArtifactMeta): Unit = {
    graft.operators.Dedup.windowSigRows(rows, "id", "payload",
        winsigMinTokens(meta, name))
      .withColumn("sig_bucket", graft.operators.Dedup.sigBucket(
        col("win_sig"), sigBuckets(meta, "winsig", name)))
      .withColumn("seg", lit(seg))
      .write.mode("append").option("compression", Compression)
      .partitionBy("sig_bucket")
      .parquet(new Path(genDir, "sigs").toString)
    rows.select(col("id"), md5(col("payload")).as("payload_md5"))
      .withColumn("seg", lit(seg))
      .write.mode("append").option("compression", Compression)
      .parquet(new Path(genDir, "docs").toString)
  }

  /** REINDEX type=winsig — materialize the collection's per-doc window
    * signatures ([[graft.operators.Dedup.windowSigRows]] over the
    * payload column) as a managed artifact: the corpus side of
    * [[screenSubstrings]], computed once instead of per arriving batch.
    * meta.json records minTokens so the probe always windows with the
    * width the artifact was built with (md5 sigs from different widths
    * never collide — a mixed-width probe would silently match nothing).
    */
  def reindexWinsig(name: String, minTokens: Int = 15,
      buckets: Int = -1): Unit = {
    requireCollection(name)
    require(minTokens >= 2, s"bad winsig minTokens: $minTokens")
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"REINDEX type=winsig needs a payload column on $name")
    // derived sub-bucket layout, the reindexMinhash contract: -1 reads
    // the collection's optimizer size stats; explicit counts must
    // divide 65536 (16-bit md5 slice, no modulo bias)
    val nBuckets =
      if (buckets == -1) graft.operators.ScaleKnobs.sigBuckets(cur)
      else buckets
    require(nBuckets >= 1 && 65536 % nBuckets == 0,
      s"winsig buckets must divide 65536, got $nBuckets")
    winsig(name).build(ArtifactMeta("winsig",
      Seq("minTokens" -> minTokens, "buckets" -> nBuckets)), cur)
  }

  /** REINDEX type=winsig;mode=refresh — incremental screening-artifact
    * maintenance ([[refreshPostings]]'s discipline on the winsig
    * layout): diff the collection against the stored docs rows by
    * `(id, payload_md5)`, window ONLY the new/changed documents into a
    * fresh segment, tombstone the replaced/deleted versions, clear the
    * stale marker. The expensive pass (tokenize + window md5s) touches
    * changed docs only; the diff is two anti-joins of doc-count-sized
    * (id, md5) frames, both delta-sized and checkpointed ONCE.
    *
    * Measured (RefreshBench, 1% delta): 0.41x the full rebuild at 5k
    * docs and 0.68x at 100k — the per-window md5 chain is heavy enough
    * that avoiding it pays even below the postings crossover.
    */
  def refreshWinsig(name: String): Unit = {
    requireCollection(name)
    winsig(name).refresh(name, read(name))
    ()
  }

  /** REINDEX type=winsig;mode=compact — merge the segmented artifact to
    * ONE flat generation without re-windowing any text (tombstones
    * apply, rows rewrite as seg 0), committed by the single meta.json
    * generation-pointer flip ([[compactPostings]]'s online crash
    * discipline). Requires a LIVE artifact — compacting a stale one
    * would launder staleness.
    */
  def compactWinsig(name: String): Unit = {
    requireCollection(name)
    winsig(name).compact(name)
  }

  /** Scrub an arriving batch (`id`, `payload`) of every token position
    * covered by a >= minTokens-token window already present in the
    * collection — [[graft.operators.Dedup.incomingCoveredText]] through
    * the managed surface. With a LIVE winsig artifact the corpus side is
    * the stored signature table (the batch pays only its own windows +
    * one semi-join); without one — or when a mutation has marked it
    * stale — the signatures recompute from the collection in the same
    * query (identical md5-pure values, so results never change, only
    * cost). Width comes from the artifact's meta whenever one exists,
    * EVEN STALE ([[screenDupes]]'s recorded-parameters rule); the
    * default applies only when no artifact was ever built. Output:
    * `(id, n_tokens, n_kept, text)` per arriving doc with >= 1 token.
    */
  def screenSubstrings(name: String, batch: DataFrame,
      defaultMinTokens: Int = 15): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"substring screening needs a payload column on $name")
    require(batch.columns.contains("id") && batch.columns.contains("payload"),
      s"screen batch needs (id, payload) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    val ws = winsig(name)
    val snap = ws.snapshot
    val minTokens =
      snap.map(s => winsigMinTokens(s.meta, name)).getOrElse(defaultMinTokens)
    val liveSnap = snap.filter(_.live)
    val sigs = liveSnap.fold(
      graft.operators.Dedup.windowSigs(cur, "id", "payload", minTokens))(
      // explicit schemas throughout the artifact reads: an artifact
      // built over an empty (or all-too-short-payload) collection still
      // reads as an empty frame
      s => ws.live(s, "sigs").select("win_sig", "sig_bucket"))
    graft.operators.Dedup.incomingCoveredText(sigs, batch,
      "id", "payload", minTokens,
      corpusBuckets = liveSnap.fold(-1)(s => sigBuckets(s.meta, "winsig", name)))
  }

  // ---- dhash signature artifact (ingest-time perceptual screening) ------

  /** Flat layout (bands under the artifact dir itself, no generations):
    * a full rebuild is one scan, so dhash has no segments to refresh. */
  private def dhash(name: String): ManagedArtifact =
    new ManagedArtifact(spark, fs, artifactDir("dhash", name), "dhash",
      commitPoint(name), generational = false)

  private val DhashBandsSchema = StructType.fromDDL(
    "id BIGINT, sig BIGINT, band INT, key BIGINT, key_bucket INT")

  private def dhashBuckets(m: ArtifactMeta, name: String): Int =
    m.requireInt("buckets", s"dhash meta on $name has no buckets field")

  private def dhashMediaCol(m: ArtifactMeta, name: String): String =
    m.string("mediaCol").getOrElse(throw new IllegalStateException(
      s"dhash meta on $name has no mediaCol field"))

  /** REINDEX type=dhash — materialize the collection's banded dHash56
    * signatures ([[graft.operators.Multimodal.dhashBands]] over the
    * binary `mediaCol`) as a managed artifact partitioned by
    * `(band, key_bucket)`: the corpus side of [[screenImages]], hashed
    * once instead of per arriving batch. `buckets = -1` derives the
    * sub-bucket count from optimizer size stats
    * ([[graft.operators.ScaleKnobs.sigBuckets]] — power of two, so it
    * divides the 14-bit key space bias-free); explicit counts must
    * divide 16384. meta.json records (mediaCol, buckets) so the probe
    * always hashes the column — and prunes with the layout — the
    * artifact was built with. Full rebuild only: dHash rows carry no
    * diff base, and the hash is pure codegen over a bounded prefix, so
    * a rebuild costs one scan (no refresh mode; mutations mark the
    * artifact stale and the screen falls back to the in-query
    * recompute until the next REINDEX).
    */
  def reindexDhash(name: String, mediaCol: String = "media",
      buckets: Int = -1): Unit = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains(mediaCol),
      s"REINDEX type=dhash needs a binary $mediaCol column on $name " +
        s"(has: ${cur.columns.mkString(", ")})")
    val nBuckets =
      if (buckets == -1) graft.operators.ScaleKnobs.sigBuckets(cur)
      else buckets
    require(nBuckets >= 1 && 16384 % nBuckets == 0,
      s"dhash buckets must divide 16384 (14-bit keys), got $nBuckets")
    dhash(name).rebuild(ArtifactMeta("dhash",
        Seq("mediaCol" -> mediaCol, "buckets" -> nBuckets))) { dir =>
      graft.operators.Multimodal.dhashBands(
          cur.select(col("id"), col(mediaCol)), "id", mediaCol, nBuckets)
        .write.mode("overwrite").option("compression", Compression)
        .partitionBy("band", "key_bucket")
        .parquet(new Path(dir, "bands").toString)
    }
  }

  /** Screen an arriving image batch (`id`, media) for perceptual
    * near-duplicates of the collection —
    * [[graft.operators.Multimodal.incomingDhashDups]] through the
    * managed surface. With a LIVE dhash artifact the corpus side is the
    * stored band table pruned to the batch's own `key_bucket` set (the
    * batch pays only its own hashing + the band-keyed probe); without
    * one — or when a mutation has marked it stale — the bands recompute
    * from the collection in the same query (identical exact-integer
    * values, so results never change, only cost). The media column
    * comes from the artifact's meta whenever one exists, EVEN STALE
    * ([[screenDupes]]' recorded-parameters rule). Output:
    * (a_id = batch, b_id = stored doc, hamming ≤ maxHamming).
    */
  def screenImages(name: String, batch: DataFrame,
      mediaCol: String = "media", maxHamming: Int = 6,
      maxBucketSize: Int = 1000): DataFrame = {
    requireCollection(name)
    val cur = read(name)
    val snap = dhash(name).snapshot
    val liveSnap = snap.filter(_.live)
    val live = liveSnap.isDefined
    val mc = snap.map(s => dhashMediaCol(s.meta, name)).getOrElse(mediaCol)
    require(cur.columns.contains(mc),
      s"SCREEN needs a binary $mc column on $name")
    require(batch.columns.contains("id") && batch.columns.contains(mc),
      s"screen batch needs (id, $mc) columns — got " +
        batch.columns.mkString("(", ", ", ")"))
    val bands =
      // explicit schema: an artifact over an empty collection has a
      // schemaless partitioned dir — the declared schema reads it empty
      if (live) graft.operators.ScaleKnobs.withDriverListing(spark)(
        spark.read.schema(DhashBandsSchema)
          .parquet(new Path(liveSnap.get.dataDir, "bands").toString))
      else graft.operators.Materialize.corpusScale(
        graft.operators.Multimodal.dhashBands(
          cur.select(col("id"), col(mc)), "id", mc)
        // the screen consumes the band table twice (hot-bucket census +
        // probe join): live is two pruned stored scans, but this
        // stale/absent fallback would re-hash the corpus per consumer
        // (63 md5 cells/image) — hash once (the dhashNearDups rule),
        // freed below after the batch-sized screen output materializes.
        // Corpus-row scale: the storage knob applies.
      )
    val out = graft.operators.Multimodal.incomingDhashDups(bands, batch,
      "id", mc, maxHamming, maxBucketSize,
      corpusBuckets = liveSnap.fold(-1)(s => dhashBuckets(s.meta, name)))
    if (live) out
    else
      // finally: the fallback band seam is freed on success AND on a
      // screen error (r18 ADVICE item — an exception would otherwise
      // leak a corpus-sized block set for the session)
      try out.localCheckpoint(true)
      finally GraftSqlShims.unpersistCheckpoint(bands)
  }

  // ---- attribute sidecar (TAG: tag once, filter many) --------------------
  //
  // The curation pattern large-scale pipelines converge on (CCNet, Dolma):
  // per-document quality ATTRIBUTES are computed in ONE pass over the text
  // and persisted; every downstream consumer (filtered egress, mixture
  // selection, audits) is an id-keyed join against the stored attributes —
  // the corpus text is never re-scored. At 100 TB the text scan is the
  // dominant cost, so "tag once, filter many" is the difference between one
  // corpus pass total and one per filter predicate tried.
  //
  // Same lifecycle discipline as the minhash/winsig artifacts: generation
  // pointer in meta.json, segment + tombstone incremental maintenance
  // diffed on (id, payload_md5) — so UPDATEd payloads re-tag and DELETEd
  // docs tombstone at delta price — and a stale marker every mutation sets.
  // Unlike the screens (which silently fall back to an in-query recompute,
  // values identical), the attrs CONSUMER refuses a stale artifact loudly:
  // a silent full-corpus re-scoring is exactly the cost this sidecar
  // exists to avoid, and at scale it must never happen by accident (the
  // unindexed-decon refusal doctrine).

  private def attrs(name: String): SegmentedArtifact =
    new SegmentedArtifact(spark, fs, artifactDir("attrs", name), "attrs",
      commitPoint(name), SegmentedFamily("attribute sidecar", "TAG", "TAG mode=refresh",
        tables = _ => Seq(ArtifactTable("attrs", AttrsSchema)),
        docs = "attrs", diffKey = attrsDiffKey, validate = _ => (),
        writeSegment = (rows, seg, genDir, _) =>
          attrRows(rows, seg)
            .write.mode("append").option("compression", Compression)
            .parquet(new Path(genDir, "attrs").toString)))

  private val AttrsSchema = StructType.fromDDL(
    "id BIGINT, payload_md5 STRING, n_tokens BIGINT, lang STRING, " +
      "quality DOUBLE, n_pii BIGINT, seg INT")

  // the DIFF key: md5(NULL) is NULL, and a NULL key never equals itself
  // in the refresh's anti-joins — null-payload rows would churn
  // (tombstone + re-tag) on every refresh. The sentinel goes OUTSIDE the
  // md5 so NULL and '' stay DISTINCT states: a ''<->NULL update must
  // re-tag (their attribute values differ), which a md5-of-coalesced-text
  // key would silently miss.
  private def attrsDiffKey: Column = coalesce(md5(col("payload")), lit("<null>"))

  private def attrRowsOf(at: SegmentedArtifact,
      s: ArtifactSnapshot): DataFrame =
    at.live(s, "attrs").select("id", "n_tokens", "lang", "quality", "n_pii")

  /** The core tagset over one projection — every attribute is the SAME
    * gate-proven column math its standalone query uses (q36's quality
    * chain, q39's language argmax, the PII census regexes), so the stored
    * values are engine-replayable in plain SQL. The token array and the
    * two quality ratios materialize in their own projections first (the
    * CollapseProject rule — every downstream column reads them).
    */
  private def attrRows(rows: DataFrame, seg: Int): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = regexp_extract_all(lower(col("payload")), lit("\\S+"), lit(0))
    val base = rows
      .select(col("id").cast("long").as("id"), col("payload"),
        toks.as("__toks"))
      .select(col("id"), col("payload"), col("__toks"),
        TextAnalysis.punctRatio(col("payload")).as("__punct"),
        TextAnalysis.stopwordRatioFromToks(col("__toks")).as("__stop"))
    base.select(
      col("id"),
      attrsDiffKey.as("payload_md5"),
      size(col("__toks")).cast("long").as("n_tokens"),
      // q39's argmax fold over the MATERIALIZED token array (langId
      // itself would re-tokenize per profile — 5× the regex cost)
      TextAnalysis.langIdFromToks(col("__toks")).as("lang"),
      // stored ROUNDED (+1e-9, 6 — the q36 midpoint convention): filter
      // thresholds and oracles compare the same 6-decimal lattice
      round(TextAnalysis.qualityScoreFrom(
        col("payload"), col("__punct"), col("__stop")) + lit(1e-9), 6)
        .as("quality"),
      (TextAnalysis.piiCount(col("payload"), "email") +
        TextAnalysis.piiCount(col("payload"), "phone") +
        TextAnalysis.piiCount(col("payload"), "ip")).as("n_pii"),
      lit(seg).as("seg"))
  }

  /** TAG — build (or rebuild) the attribute sidecar: ONE pass over the
    * collection's payloads computing the core tagset (token count,
    * language id, quality score, PII occurrence count) per id, committed
    * as a fresh generation. Pure codegen column math inside the scan —
    * no shuffle, no UDF — so the build runs at scan speed at any scale.
    */
  def reindexAttrs(name: String): Unit = {
    requireCollection(name)
    val cur = read(name)
    require(cur.columns.contains("payload"),
      s"TAG needs a payload column on $name")
    attrs(name).build(ArtifactMeta("attrs"), cur)
  }

  /** TAG mode=refresh — incremental attribute maintenance
    * ([[refreshMinhash]]'s discipline): diff collection vs stored rows on
    * `(id, payload_md5)`, tag ONLY new/changed docs into a fresh segment,
    * tombstone replaced/deleted versions, clear the stale marker. An
    * UPDATEd payload re-tags (its md5 changed); untouched docs never
    * re-score — the point of the sidecar.
    */
  def refreshAttrs(name: String): Unit = {
    requireCollection(name)
    maybeAutoCompactAttrs(name, attrs(name).refresh(name,
      read(name).withColumn("id", col("id").cast("long"))))
  }

  /** Segment hygiene (the splits auto-compact policy, attrs edition):
    * every refresh-with-arrivals or ROUTE delta-admission appends a
    * segment — a streaming twin appends one per micro-batch — so past
    * `spark.graft.attrs.autoCompactSegments` (default 64, 0 disables)
    * the maintenance step folds the artifact flat (values unchanged,
    * pointer-flip commit) before the segment tail and tombstone
    * anti-join grow unbounded. Checked only when a segment was written.
    */
  private def maybeAutoCompactAttrs(name: String, wroteSeg: Int): Unit =
    if (wroteSeg > 0) {
      val autoAfter = spark.conf
        .getOption("spark.graft.attrs.autoCompactSegments")
        .map(_.toInt).getOrElse(64)
      if (autoAfter > 0 && wroteSeg > autoAfter) compactAttrs(name)
    }

  /** TAG mode=compact — fold segments + tombstones to one flat
    * generation without re-scoring any text, committed by the single
    * meta.json pointer flip (the online compaction discipline). Requires
    * a LIVE artifact.
    */
  def compactAttrs(name: String): Unit = {
    requireCollection(name)
    attrs(name).compact(name)
  }

  /** The committed attribute table: (id, n_tokens, lang, quality, n_pii),
    * one row per live tagged doc. Readable while stale (the values were
    * true when tagged — STATS surfaces the state); the filtering
    * CONSUMERS ([[exportCollection]] `attrs=`) refuse staleness loudly.
    *
    * One documented crash window: a [[refreshAttrs]] killed between its
    * arrivals-segment append and its tombstone swap leaves BOTH versions
    * of an updated doc visible here until the next refresh completes
    * (the marker is still set, so filtering consumers refuse
    * throughout; only this read-while-stale surface and
    * [[tagSummary]] can see the transient double row — the decon
    * batch-log window class: documented, not pretended closed).
    */
  def docAttrs(name: String): DataFrame = {
    requireCollection(name)
    val at = attrs(name)
    val snap = at.snapshot
    require(snap.isDefined, s"no attribute sidecar on $name — run TAG first")
    attrRowsOf(at, snap.get)
  }

  /** TAG mode=stats — per-language summary of the committed attributes
    * (the corpus-composition report a mixture designer reads): doc count,
    * token sum, PII-free doc count per language, ordered. Attribute-table
    * grain aggregation — never touches the corpus text.
    */
  def tagSummary(name: String): DataFrame =
    docAttrs(name).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum(when(col("n_pii") === 0L, 1L).otherwise(0L)).as("n_clean"))
      .orderBy("lang")

  /** Parse an `attrs=` filter spec — the closed conjunct grammar
    * `attr op value[,attr op value...]`, op ∈ {>=, <=, !=, =}, attr ∈
    * the core tagset. Closed by design: the filter runs against STORED
    * columns only, so a typo refuses instead of silently matching
    * nothing.
    */
  private def attrsPredicate(spec: String): Column = {
    // the spec is pinned verbatim inside the resumable export's JSON
    // meta, which earlier builds read without unescaping — no quotes
    require(!spec.contains("\""), s"attrs filter: no '\"' allowed in '$spec'")
    val conjuncts = spec.split(",").map(_.trim).filter(_.nonEmpty)
    require(conjuncts.nonEmpty, s"attrs filter: empty spec '$spec'")
    val re = "([a-z_]+)(>=|<=|!=|=)(.+)".r
    def bad(c: String) = throw new IllegalArgumentException(
      s"attrs filter: cannot parse '$c' — grammar is attr(>=|<=|!=|=)value" +
        " with attr in n_tokens, lang, quality, n_pii")
    conjuncts.map {
      case c @ re(attr, op, raw) =>
        val value: Column = attr match {
          case "n_tokens" | "n_pii" =>
            lit(scala.util.Try(raw.trim.toLong).getOrElse(bad(c)))
          case "quality" =>
            lit(scala.util.Try(raw.trim.toDouble).getOrElse(bad(c)))
          case "lang" => lit(raw.trim)
          case _ => bad(c)
        }
        val a = col(attr)
        op match {
          case ">=" => a >= value
          case "<=" => a <= value
          case "!=" => a =!= value
          case _ => a === value
        }
      case c => bad(c)
    }.reduce(_ && _)
  }

  /** Whether the attribute sidecar exists but a mutation marked it
    * stale — the probe the streaming tagger's replay heal uses (a
    * replayed micro-batch whose rows already landed must still clear
    * the staleness its crashed original left behind). Readers of
    * [[docAttrs]] still see the committed values while stale; filtering
    * consumers refuse until a refresh re-tags the delta.
    */
  private[graft] def attrsStale(name: String): Boolean =
    attrs(name).state.contains("stale")

  /** Driver-side twin of [[graft.operators.TextAnalysis.normalizedTokens]]
    * (lowercase, [a-z0-9]+ runs): query terms must pass through the SAME
    * rule the index/tokenizer applied to documents, or they can never
    * match. A multi-token input term ("data-merge") becomes its tokens;
    * duplicates collapse (first occurrence kept — BM25 treats the term
    * set, not multiplicity).
    */
  private[graft] def normalizeTerms(terms: Seq[String]): Seq[String] =
    terms.flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase)).distinct

  /** Driver-side twin of the Spark-side bucket expression —
    * `conv(substring(md5(term), 1, 4), 16, 10) % buckets`.
    */
  private def bucketOfTerm(term: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.take(2).map("%02x".format(_)).mkString
    Integer.parseInt(hex, 16) % buckets
  }

  /** SEARCHHYBRID (extension): reciprocal-rank fusion of SEARCHTEXT and
    * the exact cosine ranking — the modern retrieval-stack shape
    * (sparse ∪ dense → RRF) through one command. Both branch ranks are
    * derived from ROUNDED scores (6 dp, id tie-break — the rank
    * doctrine), the windows run over ≤ `kf` rows post-limit, and the
    * fusion is [[graft.operators.SimilaritySearch.rrfFuse]]'s
    * exact-integer-division sum.
    */
  def searchHybrid(name: String, terms: Seq[String], query: Array[Float],
      k: Int = 10, kf: Int = 20, kRrf: Int = 60,
      probeRadius: Int = -1, shortlist: Int = -1): DataFrame = {
    requireCollection(name)
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.desc("bm25"), col("id"))
    val sparse = searchText(name, terms, k = kf)
      .withColumn("rank", row_number().over(wS).cast("long"))
      .select("id", "rank")
    val wD = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.desc("__cs"), col("id"))
    // dense branch: `probeRadius >= 0` + `shortlist >= 1` opts into the
    // stored ANN composition (IVF cell probe × SQ8 shortlist × exact
    // rerank — [[searchSimilarSq8]]'s dispatch): the serving shape where
    // BOTH retrieval branches answer from stored artifacts. The internal
    // k = shortlist keeps the only engine-side cut on the INTEGER-exact
    // int8 score (the q79 discipline); the kf cut below is on the
    // ROUNDED exact score — never a raw float both engines compute with
    // their own op order. Default (-1) stays the exact corpus scan.
    val denseScored =
      if (probeRadius >= 0 && shortlist >= 1)
        searchSimilarSq8(name, query, k = shortlist, shortlist = shortlist,
            probeRadius = probeRadius)
          .select(col("id"), round(col("score"), 6).as("__cs"))
      else
        read(name).select(col("id"),
          round(graft.functions.cosine_sim(col("embedding"), lit(query)), 6)
            .as("__cs"))
    val dense = denseScored
      .orderBy(org.apache.spark.sql.functions.desc("__cs"), col("id"))
      .limit(kf)
      .withColumn("rank", row_number().over(wD).cast("long"))
      .select("id", "rank")
    graft.operators.SimilaritySearch.rrfFuse(Seq(sparse, dense), "id",
      kRrf = kRrf, k = k)
  }

  /** SEARCHHYBRID for a QUERY BATCH — the concurrent-serving shape
    * (r12 verdict item 7): real retrieval traffic arrives as batches,
    * and a per-query loop would pay one postings scan and one cell
    * probe per query. This answers the WHOLE batch with:
    *
    *  - ONE postings pass pruned to the union of every query's term
    *    buckets: the batch rides a BROADCAST (query_id, term, ord)
    *    catalog joined onto the pruned postings rows, each row computes
    *    its own BM25 contribution ([[graft.operators.TextAnalysis
    *    .bm25FromIndex]]'s arithmetic term-for-term), and the per-
    *    (query, doc) score is an ord-ordered sort+fold — bit-identical
    *    to the single-query fixed-order chain because absent terms
    *    contribute exactly +0.0 (all contributions are ≥ 0, so
    *    skipping zeros is an IEEE identity) and the fold adds in the
    *    query's own term order. The kf cut is [[TopKAggregator]]'s
    *    bounded heap per query on the ROUNDED score — no windows, no
    *    per-query plan branches: plan size is independent of batch
    *    size, and the postings scan executes once for the batch.
    *  - ONE cell-probe scan for every query's dense candidates
    *    ([[VectorIndex.probeBatch]]: the union of all probed cells,
    *    scored per (query, cell) broadcast pair, bounded heap per
    *    query). The kf cut rides the heap's raw exact score (the
    *    q128-gated discipline); ranks are then re-derived on the
    *    ROUNDED score (the hybrid rank doctrine) over the ≤ kf
    *    survivors.
    *  - RRF fusion per query ([[SimilaritySearch.rrfFuse]]'s exact
    *    arithmetic) with a k-cut over the ≤ 2·kf fused rows per query.
    *
    * Queries are driver-side by construction (a serving request, not a
    * table) — that is what lets the term sets prune the postings scan
    * with literal filters and the per-query score chains stay
    * fixed-order plan literals.
    *
    * Dense dispatch mirrors [[searchSimilarBatch]] layout-for-layout:
    * an ADC layout (`pq` / `ivfpq_kmeans`) with `shortlist >= 1` runs
    * the codes-only batch probe ([[ProductQuantization.probeAdcBatch]]
    * / [[ProductQuantization.probeAdcResidualBatch]] — per-(query, cell)
    * broadcast LUTs, bounded shortlist heap, ONE exact rerank whose
    * rank is already on the ROUNDED l2 ascending, id tie-break);
    * `sign_bucket` runs the exact cosine cell probe; `kmeans` the exact
    * cosine nprobe probe (probeRadius = nprobe − 1, the house
    * convention). `probeRadius` on a clustered layout with no batch
    * probe is LOUD — never a silent exact scan the caller believes is
    * pruned. A STALE postings artifact is equally LOUD (a silent
    * per-call corpus tokenize would hide the degradation — refresh or
    * drop the artifact first); no artifact at all → one corpus
    * tokenize, still one pass for the batch; no probeRadius / no cell
    * layout → the exact broadcast batch scan.
    *
    * Output: (query_id, id, rrf, n_lists) — [[SimilaritySearch.rrfFuse]]'s
    * columns per query, ordered (query_id, rrf desc, id).
    */
  def searchHybridBatch(name: String,
      queries: Seq[(Long, Seq[String], Array[Float])],
      k: Int = 10, kf: Int = 20, kRrf: Int = 60,
      probeRadius: Int = -1, shortlist: Int = -1): DataFrame = {
    requireCollection(name)
    require(queries.nonEmpty, "searchHybridBatch needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate query ids in batch: ${queries.map(_._1)}")
    require(k >= 1 && kf >= k && kRrf >= 1,
      s"bad batch cuts (k=$k, kf=$kf, kRrf=$kRrf)")
    val spark = this.spark
    import spark.implicits._
    val termsByQ: Seq[(Long, Seq[String])] = queries.map { case (qid, ts, _) =>
      val nt = normalizeTerms(ts)
      require(nt.nonEmpty, s"no searchable terms for query $qid " +
        s"(got: ${ts.mkString(", ")})")
      (qid, nt)
    }
    val unionTerms: Seq[String] = termsByQ.flatMap(_._2).distinct

    // ---- sparse branch: one pruned postings pass for the whole batch
    val post = postings(name)
    val snap = post.served
    val (hits, doclens, stats) = snap.filter(_.live) match {
      case Some(s) =>
        val wanted = unionTerms.map(bucketOfTerm(_, textBuckets(s.meta))).distinct
        (post.live(s, "postings", Some(col("term_bucket").isin(wanted: _*) &&
            col("term").isin(unionTerms: _*)))
            .select(col("id"), col("term"), col("tf")),
          post.live(s, "doclens").select(col("id"), col("dl")),
          corpusStats(post, s))
      case None =>
        // a STALE artifact never serves — but silently tokenizing the
        // corpus once per batch call hides the degradation from the
        // caller (the dense branch errors loudly on an unprobeable
        // layout; parity here). No artifact at all = the legitimate
        // index-free path, still one pass for the whole batch.
        require(snap.isEmpty,
          s"postings artifact on $name is stale (mutated since the last " +
            "build) — SEARCHHYBRID batch would silently tokenize the " +
            "whole corpus; REINDEX type=postings mode=refresh (or rebuild, " +
            "or DROP the artifact) first")
        val cur = read(name)
        require(cur.columns.contains("payload"),
          s"SEARCHHYBRID needs a payload column on $name " +
            s"(has: ${cur.columns.mkString(", ")})")
        (graft.operators.TextAnalysis.invertedIndex(cur, "id", "payload")
            .filter(col("term").isin(unionTerms: _*)),
          graft.operators.TextAnalysis.docLengths(cur, "id", "payload"),
          None)
    }
    // the batch catalog: (query_id, term, ord) — ord is the term's
    // position in ITS query's list, the fold order that keeps per-query
    // summation identical to the single-query chain
    val qt = broadcast(termsByQ.flatMap { case (qid, terms) =>
      terms.zipWithIndex.map { case (t, o) => (qid, t, o) }
    }.toDF("query_id", "term", "__ord"))
    // per-term document frequencies: term-grain, ≤ |unionTerms| rows
    val dfs = broadcast(hits.groupBy("term")
      .agg(count(lit(1)).as("__df")))
    val k1 = 1.2
    val b = 0.75
    // per (query, doc, term) contribution: bm25()/bm25FromIndex()
    // operation-for-operation (the q136 never-pre-fold rule). tf ≥ 1 by
    // postings construction, so the single-query chain's tf>0 guard is
    // vacuously true on every row here; absent terms have no row and
    // would contribute exactly +0.0 (contributions are ≥ 0 — idf > 0
    // always since its log argument exceeds 1), an IEEE identity.
    val idf = log((col("__n") - col("__df") + 0.5) /
      (col("__df") + 0.5) + 1)
    val contrib = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) *
        (lit(1.0) - b + lit(b) * col("dl") / col("__avgdl")))
    val joined = hits
      .join(qt, Seq("term"))
      .join(doclens, Seq("id"))
      .join(dfs, Seq("term"))
    // N and avgdl: literals from the committed state's corpus stats, else
    // one in-plan doclens aggregation crossed in as a broadcast
    val withStats = stats match {
      case Some(st) => joined.select(col("*") +: TextAnalysis.bm25StatCols(st): _*)
      case None => joined.crossJoin(broadcast(doclens.agg(
        count(lit(1)).as("__n"),
        (sum("dl").cast("double") / count(lit(1))).as("__avgdl"))))
    }
    val scoredRows = withStats
      .select(col("query_id"), col("id"), col("__ord"), contrib.as("__c"))
    // per-(query, doc) score: fold the contributions in ord order (the
    // query's own term order, left-assoc like the single-query chain),
    // round once; the kf cut rides the bounded heap per query on the
    // ROUNDED score, ties on lowest id (TopKAggregator's contract —
    // identical to ORDER BY bm25 DESC, id).
    val perQueryDoc = scoredRows
      .groupBy("query_id", "id")
      .agg(round(aggregate(
          array_sort(collect_list(struct(col("__ord"), col("__c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("__c")) + lit(1e-9), 6).as("bm25"))
    val sparse = SimilaritySearch.boundedTopKPerQuery(
        perQueryDoc.select(col("query_id"), col("id"), col("bm25"))
          .as[(Long, Long, Double)],
        kf, desc_? = true, "id", "query_id")
      .select(col("query_id"), col("id"), col("rank").cast("long").as("rank"))

    // ---- dense branch: one cell-union probe for the whole batch.
    // cosine layouts rank DESC on the rounded similarity; the ADC
    // layouts' exact rerank already ranks ASC on the rounded l2 (a
    // distance) — RRF consumes ranks, so the two conventions fuse
    // identically.
    val qvecs = queries.map { case (qid, _, v) => (qid, v) }
      .toDF("query_id", "query_vec")
    val data = read(name)
    val probeable = probeRadius >= 0 && data.columns.contains("cluster_id")
    val layout = if (probeable) layoutOf(name) else None
    def cosineRanks(denseTop: DataFrame): DataFrame = {
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(org.apache.spark.sql.functions.desc("__cs"), col("id"))
      denseTop
        .select(col("query_id"), col("id"), round(col("score"), 6).as("__cs"))
        .withColumn("rank", row_number().over(wD).cast("long"))
        .select("query_id", "id", "rank")
    }
    val dense = layout match {
      case Some(l: IvfPqKMeans) if shortlist >= 1 =>
        ProductQuantization.probeAdcResidualBatch(data, qvecs, k = kf,
            shortlist = shortlist, codebooks = l.codebooks,
            cellCents = l.cellCents, nprobe = probeRadius + 1,
            vecCol = "embedding", codeCol = PqCodeCol, idCol = "id")
          .select(col("query_id"), col("id"),
            col("rank").cast("long").as("rank"))
      case Some(l: Pq) if shortlist >= 1 =>
        ProductQuantization.probeAdcBatch(data, qvecs, k = kf,
            shortlist = shortlist, codebooks = l.codebooks, nBits = l.bits,
            radius = probeRadius, vecCol = "embedding", codeCol = PqCodeCol,
            idCol = "id")
          .select(col("query_id"), col("id"),
            col("rank").cast("long").as("rank"))
      case Some(l: CellLayout) if !l.isInstanceOf[IvfPqKMeans] =>
        cosineRanks(VectorIndex.probeBatchCells(data.drop(PqCodeCol), qvecs,
          l.cells(_, probeRadius), k = kf, metric = "cosine",
          vecCol = "embedding", idCol = "id"))
      case _ =>
        require(!probeable,
          s"probeRadius=$probeRadius set but layout ${layout.map(_.kind)} " +
            s"on $name has no batch probe — REINDEX to sign/kmeans/pq/ivfpq " +
            "or drop probeRadius for the exact scan")
        cosineRanks(SimilaritySearch.topKBatchAgg(data, qvecs, k = kf,
          metric = "cosine", vecCol = "embedding", idCol = "id"))
    }

    // ---- RRF per query (rrfFuse's exact arithmetic, query-keyed)
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(org.apache.spark.sql.functions.desc("rrf"), col("id"))
    sparse.unionByName(dense)
      .select(col("query_id"), col("id"), col("rank").cast("long").as("__r"))
      .groupBy("query_id", "id")
      .agg(
        round(sum(lit(1.0) / (lit(kRrf) + col("__r"))) + lit(1e-9), 6)
          .as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("__rk", row_number().over(wK))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("id"), col("rrf"), col("n_lists"))
      .orderBy(col("query_id"), desc("rrf"), col("id"))
  }

  /** SQ8-accelerated SEARCHSIMILAR (see [[SimilaritySearch.topKSq8]]): scan
    * int8-quantized scores for everything, exact-rerank only a shortlist.
    * Works on any layout (no index required) — the accelerator of choice
    * when the corpus has no cluster structure for an IVF probe to exploit.
    *
    * On a REINDEXed + quantized collection, `probeRadius >= 0` composes
    * BOTH prunings (the 100 TB plan): partition-prune to the probed cells,
    * int8-rank only inside them, exact-rerank the shortlist —
    * [[VectorIndex.probeCellsSq8]]. Same probeRadius semantics as
    * [[searchSimilar]] (hamming radius for sign_bucket, nprobe − 1 for
    * kmeans); same fallback discipline (no recoverable geometry → the
    * index-free quantized scan, never silently wrong neighbors).
    */
  def searchSimilarSq8(name: String, query: Array[Float], k: Int,
      shortlist: Int = 1000, metric: String = "cosine",
      idCol: String = "id", rerank: Boolean = true,
      probeRadius: Int = -1): DataFrame = {
    val data = read(name)
    val stored = if (data.columns.contains(QuantCol)) Some(QuantCol) else None
    val probeable = probeRadius >= 0 && rerank && stored.isDefined &&
      data.columns.contains("cluster_id")
    def probe(l: CellLayout) = VectorIndex.probeCellsSq8(data,
      l.cells(query, probeRadius), query, k, shortlist, metric,
      q8Col = QuantCol, idCol = idCol)
    (if (probeable) layoutOf(name) else None) match {
      case Some(l: SignBucket) => probe(l)
      case Some(l: KMeans) => probe(l)
      case _ => SimilaritySearch.topKSq8(data, query, k, shortlist, metric,
        idCol = idCol, q8Col = stored, rerank = rerank)
    }
  }

  /** Batch SEARCHSIMILAR — the retrieval-job shape through the managed
    * surface: `queries` is a (`query_id`, `query_vec` array<float>) frame,
    * and the WHOLE batch is answered by ONE scan (the union of all probed
    * cells on an indexed layout) with a bounded per-query heap — never one
    * job per query. Dispatch mirrors the single-query paths:
    * `probeRadius >= 0` + a pq or ivfpq layout + `shortlist >= 1` runs the
    * batch IVF × ADC composition ([[ProductQuantization.probeAdcBatch]] /
    * [[ProductQuantization.probeAdcResidualBatch]]); sign-bucket, pq and
    * kmeans layouts run the exact batch probe over their cells
    * ([[VectorIndex.probeBatchCells]]);
    * anything else is the exact broadcast batch scan
    * ([[SimilaritySearch.topKBatchAgg]]) — same fallback discipline as
    * [[searchSimilar]], never silently wrong neighbors.
    */
  def searchSimilarBatch(name: String, queries: DataFrame, k: Int,
      metric: String = "cosine", probeRadius: Int = -1,
      shortlist: Int = -1, idCol: String = "id"): DataFrame = {
    val data = read(name)
    val probeable = probeRadius >= 0 && data.columns.contains("cluster_id")
    (if (probeable) layoutOf(name) else None) match {
      case Some(l: Pq) if shortlist >= 1 =>
        ProductQuantization.probeAdcBatch(data, queries, k, shortlist,
          l.codebooks, nBits = l.bits, radius = probeRadius,
          vecCol = "embedding", codeCol = PqCodeCol, idCol = idCol)
      case Some(l: IvfPqKMeans) if shortlist >= 1 =>
        // residual batch probe; radius keeps the kmeans convention
        // (nprobe = radius + 1)
        ProductQuantization.probeAdcResidualBatch(data, queries, k, shortlist,
          l.codebooks, l.cellCents, nprobe = probeRadius + 1,
          vecCol = "embedding", codeCol = PqCodeCol, idCol = idCol)
      case Some(l: CellLayout) if !l.isInstanceOf[IvfPqKMeans] =>
        VectorIndex.probeBatchCells(data.drop(PqCodeCol), queries,
          l.cells(_, probeRadius), k, metric, idCol = idCol)
      case _ =>
        SimilaritySearch.topKBatchAgg(data, queries, k, metric, idCol = idCol)
    }
  }

  /** The collection's layout record, None without one. */
  private def layoutOf(name: String): Option[IndexLayout] =
    CommittedState.memo(stateOf(name), "layout")(
      IndexLayout.read(fs, collDir(name)))

  /** The index layout recorded in the collection's sidecar, if any —
    * public so the command layer can dispatch SEARCHSIMILAR options to the
    * path the collection's index actually supports (e.g. `shortlist=` on a
    * PQ collection means the ADC path, not the SQ8 scan).
    */
  def indexTypeOf(name: String): Option[String] = {
    requireCollection(name)
    layoutOf(name).map(_.kind)
  }

  /** The collection without its index columns — what every REINDEX lays
    * out afresh (the old assignment and codes are dead weight). */
  private def unindexed(name: String): DataFrame = {
    requireCollection(name)
    read(name).drop("cluster_id", PqCodeCol)
  }

  /** Rewrite `base` into the cells `layout` assigns, committing the
    * layout record in the same swap — the rule REINDEX lays out with is
    * the one every later arrival is assigned by.
    */
  private def reindexAs(name: String, base: DataFrame,
      layout: IndexLayout): Unit =
    rewrite(name, layout.assign(base), Some(layout), Seq("cluster_id"))

  /** REINDEX with the default deterministic sign-bucket index; records the
    * bit width so probes know the code space.
    */
  def reindex(name: String, nBits: Int = 8): Unit =
    reindexAs(name, unindexed(name), SignBucket(nBits))

  /** REINDEX with a KMeans-centroid IVF layout: train centroids, rewrite
    * partitioned by nearest-centroid cell, and record the centroids in the
    * sidecar — they are what makes the index *live*: SEARCHSIMILAR probes
    * the nprobe nearest cells, and INSERT/BULKINSERT assigns arriving rows
    * by the same nearest-centroid rule (no invalidation, no row loss).
    */
  def reindexKMeans(name: String, k: Int = 16, seed: Long = 42L): Unit = {
    val (assigned, centroids) =
      VectorIndex.kmeansAssign(unindexed(name), "embedding", k, seed)
    rewrite(name, assigned, Some(KMeans(k, None, centroids)),
      Seq("cluster_id"))
  }

  /** [[reindexKMeans]]'s ENGINE-REPLAYABLE sibling (`REINDEX
    * type=kmeans;trainer=md5`): centroids from [[ProductQuantization
    * .trainCodebooks]] with m = 1 — the IVF×PQ COARSE trainer (md5-seeded
    * sample, `rounds` fixed Lloyd refinements, rounded means) — and rows
    * assigned by the same rounded-distance rule ([[ProductQuantization
    * .assignCodes]], lowest-cid tie-break), written 0-indexed to match
    * the kmeans sidecar convention. A SQL oracle replays the training,
    * the layout, and any probe built on it — which the MLlib trainer
    * (seeded but not SQL-reproducible) cannot offer. Same sidecar shape
    * plus a `trainer` tag, so every kmeans-layout reader (probes, the
    * decon screen) serves both trainers identically, and arrivals are
    * assigned by the rounded rule ([[IndexLayout.KMeans]]).
    */
  def reindexKMeansMd5(name: String, k: Int = 16, rounds: Int = 1,
      seed: String = "ivf"): Unit = {
    val base = unindexed(name)
    val cb = ProductQuantization.trainCodebooks(base, "id", "embedding",
      m = 1, ksub = k, rounds = rounds, seed = seed)
    reindexAs(name, base, KMeans(k, Some("md5"), cb(0)))
  }

  /** REINDEX with the IVF × PQ layout — the 100 TB ANN index as a managed
    * artifact: train per-subspace codebooks ([[ProductQuantization
    * .trainCodebooks]] — md5-seeded, `rounds` deterministic Lloyd
    * refinements), rewrite the collection partitioned by sign-bucket
    * `cluster_id` with an m-byte `pq_code` column beside each vector, and
    * record codebooks + geometry in the sidecar. The sidecar is what makes
    * the index live AND reproducible: [[searchSimilarPq]] probes with the
    * stored codebooks, and arriving rows (INSERT/BULKINSERT/UPDATE) get
    * cluster_id and pq_code re-derived by the same deterministic rules —
    * no invalidation, no row loss (both assignment rules are pure column
    * math against sidecar literals).
    */
  def reindexPq(name: String, m: Int = 8, ksub: Int = 16, rounds: Int = 1,
      nBits: Int = 8, idCol: String = "id", seed: String = "pq"): Unit = {
    val base = unindexed(name)
    val cb = ProductQuantization.trainCodebooks(base, idCol, "embedding",
      m, ksub, rounds, seed)
    reindexAs(name, base, Pq(nBits, m, ksub, cb))
  }

  /** PQ-accelerated SEARCHSIMILAR over a `REINDEX type=pq` collection:
    * ADC-score the stored m-byte codes against the query's lookup table
    * (built from the sidecar codebooks), keep the `shortlist` nearest,
    * exact-l2-rerank only those. `probeRadius >= 0` composes the
    * sign-bucket cell pruning (hamming radius, like [[searchSimilar]]) —
    * cell pruning × 32× code compression is the 100 TB read path
    * (≈0.1% of corpus vector bytes at the defaults). l2 metric by
    * construction (ADC decomposes squared l2 per subspace; cosine
    * callers normalize at ingest). Loud on a collection without the pq
    * sidecar — never silently exact-scans when the caller asked for the
    * compressed path.
    */
  def searchSimilarPq(name: String, query: Array[Float], k: Int,
      shortlist: Int = 1000, probeRadius: Int = -1,
      idCol: String = "id"): DataFrame = {
    val data = read(name)
    val pq = layoutOf(name).collect { case l: Pq => l }.getOrElse(
      throw new IllegalStateException(
        s"index sidecar for $name has no codebooks — REINDEX type=pq first"))
    require(data.columns.contains(PqCodeCol),
      s"$name has no $PqCodeCol column — REINDEX type=pq first")
    if (probeRadius >= 0 && data.columns.contains("cluster_id"))
      ProductQuantization.probeAdc(data, query, k, shortlist, pq.codebooks,
        nBits = pq.bits, radius = probeRadius,
        vecCol = "embedding", codeCol = PqCodeCol, idCol = idCol)
    else
      ProductQuantization.topKAdc(data.drop(PqCodeCol), data, query, k,
        shortlist, pq.codebooks, vecCol = "embedding", codeCol = PqCodeCol,
        idCol = idCol)
  }

  /** REINDEX with the FAISS-canonical kmeans-coarse RESIDUAL IVFPQ layout
    * (q169/q170's layout as a managed artifact): a deterministic kmeans
    * coarse quantizer — [[ProductQuantization.trainCodebooks]] at m = 1,
    * the identical seeding/rounded-argmin/rounded-mean rules — partitions
    * the collection by cell, and per-subspace codebooks trained on the
    * RESIDUALS `x − centroid(cell)` yield the m-byte `pq_code` beside
    * each vector. The sidecar records coarse centroids AND codebooks, so
    * the layout survives INSERT/BULKINSERT/UPDATE: both derived columns
    * re-derive from sidecar literals ([[IndexLayout.IvfPqKMeans]]), no
    * invalidation, no row loss. [[searchSimilarIvfPq]] is the read path.
    */
  def reindexIvfPq(name: String, m: Int = 8, ksub: Int = 16,
      rounds: Int = 1, kCells: Int = 8, idCol: String = "id",
      seed: String = "rpq",
      store: Option[StageStore] = None): Unit = {
    val base = unindexed(name)
    // with a store, BOTH codebook trainings commit per Lloyd round (the
    // TrainResumeSpec discipline): a preempted index build resumes its
    // training loops from the committed round stages and pays only the
    // final layout rewrite again — the one non-incremental job left
    val coarse = ProductQuantization.trainCodebooks(base, idCol,
      "embedding", 1, kCells, rounds, seed + ":coarse", store)
    val cb = ProductQuantization.trainCodebooks(
      IndexLayout.residualFrame(base, coarse(0)), idCol, "__res",
      m, ksub, rounds, seed, store)
    reindexAs(name, base, IvfPqKMeans(m, ksub, kCells, cb, coarse(0)))
  }

  /** SEARCHSIMILAR over a `REINDEX type=ivfpq` collection: the query
    * probes its `nprobe` nearest coarse cells (rounded-l2 rank,
    * [[ProductQuantization.nearestCellsD]]), ADC-scores the probed cells'
    * stored codes against per-cell residual lookup tables, and
    * exact-l2-reranks the bounded shortlist — cell pruning × 32× code
    * compression, the deepest managed read path. Loud without the
    * sidecar/codes — never silently exact-scans.
    */
  def searchSimilarIvfPq(name: String, query: Array[Float], k: Int,
      shortlist: Int = 1000, nprobe: Int = 2,
      idCol: String = "id"): DataFrame = {
    val data = read(name)
    require(data.columns.contains(PqCodeCol),
      s"$name has no $PqCodeCol column — REINDEX type=ivfpq first")
    val l = layoutOf(name).collect { case l: IvfPqKMeans => l }.getOrElse(
      throw new IllegalStateException(s"index sidecar for $name has no " +
        "ivfpq layout — REINDEX type=ivfpq first"))
    ProductQuantization.probeAdcResidualCells(data, query,
      l.cells(query, nprobe - 1), k, shortlist, l.codebooks, l.cellCents,
      vecCol = "embedding", codeCol = PqCodeCol, idCol = idCol)
  }

  /** Semantic cross-set decontamination screen over a stored collection
    * — the embedding-level sibling of the n-gram screens, against the
    * collection as the TRAINING corpus: each eval query's nearest train
    * neighbor, flagged when the ROUNDED cosine crosses `threshold`.
    *
    * Exact by default: one corpus pass, eval side broadcast, top-1 via a
    * map-side-combinable max(struct(rounded score, −id)) — ONE struct
    * per query per partition ever shuffles. On an `ivfpq_kmeans`
    * collection with `probeRadius`/`shortlist` set, the screen answers
    * from the stored CODES instead ([[ProductQuantization
    * .adcResidualScored]] — the batched-ADC serving machinery under the
    * decon flag rule): per-query cell probes, broadcast residual LUTs,
    * bounded shortlist heap, then ONE exact cosine rerank of shortlisted
    * rows only — a re-screen per eval-set revision reads m bytes of
    * vector data per row instead of the float corpus. On a `kmeans`
    * collection (the second-most-common layout) `probeRadius` prunes the
    * scan to each query's `probeRadius + 1` nearest coarse cells
    * (rounded-l2 probe rule) and exact-cosine-scores only those cells'
    * float vectors — no shortlist stage (scores are exact already; a
    * caller setting `shortlist` errors rather than being ignored).
    * `probeRadius` on an unprobeable layout — INCLUDING an unindexed
    * collection with no cluster_id at all — is LOUD — never a silent
    * full scan.
    *
    * Both paths rank the top-1 cut on the ROUNDED cosine with an id
    * tie-break (rank-on-rounded doctrine — raw-float ulps never decide
    * the flagged neighbor). A planted exact duplicate ADC-scores at its
    * own quantization error (near the cell minimum), survives any sane
    * shortlist, and reranks to cosine 1.0 — detection recall on exact
    * copies is 1.0 (spec-pinned against the exact screen).
    *
    * `evalQ`: (query_id integral, query_vec array<float>). Output:
    * (eval_id, train_id, score, contaminated), ordered by eval_id.
    */
  def deconScreen(name: String, evalQ: DataFrame, threshold: Double = 0.5,
      probeRadius: Int = -1, shortlist: Int = -1): DataFrame = {
    requireCollection(name)
    val spark = this.spark
    import spark.implicits._
    graft.operators.VectorIndex.requireIntegralCol(evalQ, "query_id",
      "deconScreen")
    val data = read(name)
    val qs = evalQ.select(col("query_id").cast("long").as("query_id"),
      col("query_vec"))
    val scoredTop =
      if (probeRadius >= 0) {
        // probeRadius opted into a pruned screen — EVERY path from here
        // is loud on an unservable request: an unindexed collection (no
        // cluster_id) must never silently degrade to the exact full
        // scan the caller explicitly asked to avoid (the r15 ADVICE
        // note — the DECON command exposes radius= to users)
        require(data.columns.contains("cluster_id"),
          s"probeRadius=$probeRadius set but $name has no cluster_id " +
            "layout — REINDEX type=ivfpq or type=kmeans first, or drop " +
            "probeRadius for the exact screen")
        layoutOf(name) match {
          case Some(l: IvfPqKMeans) =>
            require(shortlist >= 1,
              s"probeRadius=$probeRadius on the ivfpq_kmeans layout " +
                "needs shortlist >= 1 (the ADC screen's rerank bound), " +
                s"got $shortlist")
            val scored = ProductQuantization.adcResidualScored(data, qs,
                l.codebooks, l.cellCents,
                nprobe = probeRadius + 1, codeCol = PqCodeCol, idCol = "id")
              .select(col("query_id").cast("long"), col("id").cast("long"),
                col("s").cast("double"))
              .as[(Long, Long, Double)]
            val short = graft.operators.SimilaritySearch
              .boundedTopKPerQuery(scored, shortlist, desc_? = false,
                "id", "query_id")
              .select(col("query_id"), col("id"))
            data.select(col("id").cast("long").as("id"), col("embedding"))
              .join(broadcast(short), Seq("id"))
              .join(broadcast(qs), Seq("query_id"))
              .select(col("query_id"),
                round(graft.functions.cosine_sim(col("embedding"),
                  col("query_vec")), 6).as("score"),
                (-col("id")).as("nid"))
          case Some(l: KMeans) =>
            // no stored codes on this layout — the screen prunes to each
            // query's nprobe nearest coarse cells (rounded-l2 rank, the
            // [[ProductQuantization.nearestCellsD]] probe rule, so an
            // oracle replays the probe set) and exact-cosine-scores ONLY
            // the probed cells' float vectors: a partition-pruned scan,
            // no rerank stage — `shortlist` has no meaning here and a
            // caller setting it gets told so rather than ignored
            require(shortlist < 1,
              s"shortlist=$shortlist set but the kmeans-layout screen " +
                "scores exact cosines directly (no ADC rerank stage) — " +
                "drop shortlist, or REINDEX type=ivfpq for the " +
                "codes-only screen")
            val cents = l.centroids
            require(cents.nonEmpty,
              s"kmeans sidecar on $name carries no centroids")
            // query→cell assignment runs DISTRIBUTED, as a projection
            // over centroid literals (the searchSimilarBatch pattern —
            // centroids are model-sized plan constants; the eval batch
            // is never collected): per cell the rounded-l2 rank
            // replicates nearestCellsD bit-for-bit — zip_with squares
            // sum left-to-right in element order (the driver loop's
            // order), sqrt is IEEE-correctly-rounded, round is the same
            // HALF_UP, and array_sort on struct(d, cid) is the
            // (dist, cid) tie-break — so an oracle still replays the
            // probe set exactly
            val nprobe = probeRadius + 1
            val centLit = array(cents.zipWithIndex.map { case (c, i) =>
              struct(lit(i).as("cid"),
                array(c.map(lit(_)).toIndexedSeq: _*).as("cent"))
            }.toIndexedSeq: _*)
            val qd = col("query_vec").cast("array<double>")
            val probeCells = transform(
              slice(array_sort(transform(centLit, cSt =>
                struct(round(sqrt(aggregate(
                    zip_with(cSt.getField("cent"), qd, (c, q) =>
                      when(c.isNull, lit(0.0)).otherwise {
                        val d = coalesce(q, lit(0.0)) - c; d * d
                      }),
                    lit(0.0), (acc, x) => acc + x)), 6).as("d"),
                  cSt.getField("cid").as("cid")))),
                1, nprobe),
              s => s.getField("cid"))
            // the cell array materializes in its OWN projection before
            // the generator (the q119 inlined-lambda rule)
            val qCells = qs
              .select(col("query_id"), probeCells.as("__cells"))
              .select(col("query_id"),
                explode(col("__cells")).as("cluster_id"))
            // the distinct probed-cell union stays a bounded driver-side
            // set (≤ k cells regardless of batch size) — it prunes the
            // stored scan to matching partitions
            val union = qCells.select("cluster_id").distinct()
              .collect().map(_.getInt(0)).sorted
            require(union.nonEmpty, "deconScreen: empty eval batch")
            data.filter(col("cluster_id").isin(union.toIndexedSeq: _*))
              .join(broadcast(qCells), Seq("cluster_id"))
              .join(broadcast(qs), Seq("query_id"))
              .select(col("query_id"),
                round(graft.functions.cosine_sim(col("embedding"),
                  col("query_vec")), 6).as("score"),
                (-col("id").cast("long")).as("nid"))
          case other => throw new IllegalArgumentException(
            s"probeRadius=$probeRadius set but layout ${other.map(_.kind)} on $name " +
              "has no decon probe — REINDEX type=ivfpq (with " +
              "shortlist >= 1) or type=kmeans, or drop probeRadius for " +
              "the exact screen")
        }
      } else {
        data.crossJoin(broadcast(qs))
          .select(col("query_id"),
            round(graft.functions.cosine_sim(col("embedding"),
              col("query_vec")), 6).as("score"),
            (-col("id").cast("long")).as("nid"))
      }
    scoredTop.groupBy("query_id")
      .agg(max(struct(col("score"), col("nid"))).as("m"))
      .select(col("query_id").as("eval_id"), (-col("m.nid")).as("train_id"),
        col("m.score").as("score"),
        when(col("m.score") >= threshold, 1L).otherwise(0L)
          .as("contaminated"))
      .orderBy("eval_id")
  }

  /** REINDEX with a Z-ORDER file layout: rewrite the collection
    * range-partitioned on the Morton interleave of two numeric columns
    * (each bucketed to `[0, 2^bits)` via pmod). Unlike sign/kmeans this is
    * a FILE layout, not a partition layout — no `cluster_id` column; range
    * predicates on EITHER column skip files through parquet min/max stats
    * instead of directory pruning, and SEARCHSIMILAR/mutations treat the
    * collection as flat (the probe dispatch ignores non-geometric
    * sidecars by design).
    *
    * Mutation semantics follow the OPTIMIZE model: appends land unordered
    * and updates rewrite without the clustering — the sidecar records
    * layout intent, and a periodic re-REINDEX restores tightness (same
    * contract as Delta/Iceberg clustered tables).
    */
  def reindexZOrder(name: String, aCol: String, bCol: String,
      bits: Int = 8, nFiles: Int = 8): Unit = {
    val m = 1 << bits
    val laid = unindexed(name)
      .withColumn("__za", pmod(col(aCol).cast("long"), lit(m)).cast("int"))
      .withColumn("__zb", pmod(col(bCol).cast("long"), lit(m)).cast("int"))
      .withColumn("__z", ZOrder.zvalue(col("__za"), col("__zb"), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__za", "__zb")
    rewrite(name, laid, Some(IndexLayout.ZOrder(Seq(aCol, bCol), bits)))
  }

  /** TRUNCATEWAL parity (reference `src/command/types.rs:44-54` — "truncate
    * the database's WAL" when no target): storage maintenance. For a
    * collection target, compact small part-files into `targetFiles`; for the
    * database, clear the streaming-checkpoint dir (our WAL equivalent).
    */
  def compact(target: Option[String], targetFiles: Int = 8): Unit = target match {
    case Some(name) =>
      requireCollection(name)
      val data = read(name)
      // indexed collections: cluster-aligned repartition, so each task
      // writes whole cluster_id=... dirs instead of a file per (task ×
      // cluster) pair
      val compacted =
        if (data.columns.contains("cluster_id"))
          data.repartition(targetFiles, col("cluster_id"))
        else data.repartition(targetFiles)
      rewrite(name, compacted, layoutOf(name))
    case None =>
      val wal = new Path(root, WalDir)
      if (fs.exists(wal)) fs.delete(wal, true)
      fs.mkdirs(wal)
      ()
  }

  /** Copy-on-write rewrite: materialize `next` into a temp dir, then swap.
    * An indexed collection (cluster_id present) keeps its partition layout
    * across rewrites — UPDATE/DELETE/compaction must not silently degrade
    * REINDEX's partition pruning. `layout` is the layout record of the new
    * version, committed by the same swap: mutations and compaction carry
    * the current one, a REINDEX passes its own, and a layout without a
    * record passes None — so data and record can never disagree.
    */
  private def rewrite(name: String, next: DataFrame,
      layout: Option[IndexLayout], partitionBy: Seq[String] = Nil): Unit = {
    val dir = collDir(name)
    val tmp = new Path(root, s"${ReservedPrefix}tmp_${name}_${UUID.randomUUID().toString.take(8)}")
    val parts =
      if (partitionBy.nonEmpty) partitionBy
      else if (next.columns.contains("cluster_id")) Seq("cluster_id")
      else Nil
    val writer = next.write.mode("overwrite").option("compression", Compression)
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .parquet(tmp.toString)
    // the collection schema and tokenizer carry over; the layout record
    // is the one given
    writeString(fs, new Path(tmp, MetaFile), readString(fs, metaPath(name)))
    layout.foreach(l => writeString(fs, new Path(tmp, IndexLayout.File), l.json))
    val tok = new Path(dir, TokenizerMeta.File)
    if (fs.exists(tok))
      writeString(fs, new Path(tmp, TokenizerMeta.File), readString(fs, tok))
    // the new version carries its own commit marker: the swap commits
    commits.commit(tmp)
    // crash-safe swap: the old version moves to a trash path (not deleted),
    // so at every instant either the live dir or the trash holds a complete
    // copy — a crash between the two renames is recovered by
    // recoverIfCrashed on the next access. Trash left by a crash AFTER a
    // successful swap is stale (live dir exists) and is discarded here.
    val trash = trashPath(name)
    if (fs.exists(trash)) fs.delete(trash, true)
    if (!fs.rename(dir, trash))
      throw new IllegalStateException(s"rewrite swap failed for $name (live → trash)")
    if (!fs.rename(tmp, dir)) {
      fs.rename(trash, dir) // restore — readers never observe an absent collection
      throw new IllegalStateException(s"rewrite swap failed for $name (new → live)")
    }
    fs.delete(trash, true)
    ()
  }

  private def trashPath(name: String): Path =
    new Path(root, s"${ReservedPrefix}trash_$name")

  /** Recovery for a rewrite that crashed between its two renames: the old
    * version sits whole in the trash path and the live dir is absent (or a
    * partial artifact) — move it back. Idempotent; called before any
    * collection access resolves "no such collection".
    */
  private def recoverIfCrashed(name: String): Unit = {
    val trash = trashPath(name)
    if (fs.exists(new Path(trash, MetaFile)) && !fs.exists(metaPath(name))) {
      if (fs.exists(collDir(name))) fs.delete(collDir(name), true)
      if (!fs.rename(trash, collDir(name)))
        throw new IllegalStateException(s"crash recovery failed for $name")
    }
  }

  /** REINDEX (reference `src/command/types.rs:134-144`): assign a cluster id
    * to every row and rewrite the collection partitioned by it, so
    * SEARCHSIMILAR probes prune partitions. The cluster assignment column is
    * produced by the caller (sign-bucket LSH or KMeans — see
    * [[graft.operators.VectorIndex]]).
    */
  def reindexWith(name: String, assign: DataFrame => DataFrame): Unit = {
    val clustered = assign(unindexed(name))
    require(clustered.columns.contains("cluster_id"),
      "reindex assignment must add a cluster_id column")
    // a custom assignment has no record: probes scan exactly, arrivals
    // go to the unindexed tail
    rewrite(name, clustered, None, Seq("cluster_id"))
  }

  private def requireCollection(name: String): Unit = {
    if (!hasCollection(name)) recoverIfCrashed(name)
    if (!hasCollection(name))
      throw new IllegalArgumentException(s"no such collection: $name")
  }

  /** Train a BPE tokenizer ([[graft.operators.TextAnalysis.bpeTrain]])
    * over a text column and persist the merge SEQUENCE as a collection
    * sidecar — the tokenizer is a managed artifact exactly like an
    * index: it rides through compaction and rewrite swaps, is dropped
    * with the collection, and [[tokenize]] applies it without retraining.
    * (Retraining after significant ingest is the same operational story
    * as re-REINDEX; the sidecar records the vocabulary the corpus was
    * last tokenized under.)
    */
  def trainTokenizer(name: String, textCol: String = "payload",
      nMerges: Int = 10): Unit = {
    requireCollection(name)
    val merges = TextAnalysis.bpeTrain(read(name), textCol, nMerges)
    writeString(fs, new Path(collDir(name), TokenizerMeta.File),
      TokenizerMeta(merges.map { case (a, b, _) => (a, b) }).json)
    commit(name)
  }

  /** Segment `textCol` with the collection's trained tokenizer: the
    * merge chain rides in from the sidecar as plan literals (a fixed
    * per-word replace chain, no UDF, runs inside the scan) — adds
    * `tokens` (subword symbols in document order) and `n_tokens`.
    */
  def tokenize(name: String, textCol: String = "payload"): DataFrame = {
    requireCollection(name)
    val merges = Sidecar.read(fs, new Path(collDir(name), TokenizerMeta.File))(
        TokenizerMeta.parse).getOrElse(throw new IllegalStateException(
        s"no tokenizer sidecar for $name — run trainTokenizer first")).merges
    read(name)
      .withColumn("tokens",
        flatten(transform(TextAnalysis.normalizedTokens(col(textCol)),
          w => TextAnalysis.bpeSegment(w, merges))))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }
}

object GraftDatabase {
  private[core] val ReservedPrefix = "graft_"
  // leading underscore: Spark/Hadoop input listing treats it as hidden, so
  // the parquet reader never trips over the sidecars.
  private[core] val MetaFile = "_graft_meta.ddl"
  private[core] val QuantCol = "embedding_q8"
  private[graft] val PqCodeCol = "pq_code"
  // zstd over the snappy default: ~2× better ratio at comparable decode
  // speed — at 100 TB the scan is IO-bound and storage cost is real; both
  // codecs ship in Spark's own jars so readers need nothing extra.
  private[core] val Compression = "zstd"
  private[core] val ConfigFile = "graft_config.json"
  private[core] val WalDir = "graft_wal"

  /** EP1 parity (`/root/reference/src/database/setup.rs:3-26`): create the
    * database directory; refuse to overwrite; create config + WAL artifacts.
    */
  def create(spark: SparkSession, parent: String, name: String): GraftDatabase = {
    val root = new Path(parent, name)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root))
      throw new IllegalStateException(s"database already exists: $root")
    fs.mkdirs(root)
    writeString(fs, new Path(root, ConfigFile),
      s"""{"name": "$name", "format": "parquet", "version": 1}""")
    fs.mkdirs(new Path(root, WalDir))
    new GraftDatabase(spark, root)
  }

  /** EP2's `Database::load` (a `todo!()` in the reference,
    * `/root/reference/src/database/mod.rs:19-21`) made real.
    */
  def open(spark: SparkSession, path: String): GraftDatabase = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(root, ConfigFile)))
      throw new IllegalArgumentException(s"not a graft database: $path")
    new GraftDatabase(spark, root)
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit =
    ManagedArtifact.writeString(fs, p, s)

  private def readString(fs: FileSystem, p: Path): String =
    ManagedArtifact.readString(fs, p)
}
