package graft.commands

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftDatabase
import graft.model.VectorRecord
import graft.operators.VectorIndex
import graft.sources.EmbeddingTextFormat

/** Executes a parsed [[GraftCommand]] against a [[GraftDatabase]] — the
  * `Command::execute` layer the reference declares but leaves empty
  * (`/root/reference/src/command/types.rs:5-7` and every impl body).
  *
  * Every command returns a DataFrame: query commands return their result
  * rows; effectful commands return a one-row status frame, so the CLI and
  * programmatic callers share one result shape.
  */
object CommandExecutor {
  import GraftCommand._

  def execute(db: GraftDatabase, cmd: GraftCommand): DataFrame = {
    val spark = db.spark
    import spark.implicits._

    def status(command: String, target: String): DataFrame =
      Seq((command, target, "ok")).toDF("command", "target", "status")

    cmd match {
      case CreateCollection(name) =>
        db.createCollection(name); status("CREATE", name)

      case DropCollection(name) =>
        db.dropCollection(name); status("DROP", name)

      case ListCollections =>
        db.listCollections()

      case ListIndexes(coll) =>
        db.listIndexes(coll)

      case TruncateWal(target) =>
        db.compact(target); status("TRUNCATEWAL", target.getOrElse("<database>"))

      case Insert(coll, arg) =>
        db.insert(coll, parseRecord(arg)); status("INSERT", coll)

      case BulkInsert(coll, arg) =>
        // arg grammar: `<path>[;normalize=nfc|fold]` — the same
        // ';'-separated k=v tail REINDEX uses (paths must be ';'-free).
        // normalize runs ingest-side Unicode canonicalization on the
        // payload BEFORE the write: nfc = canonical composition only,
        // fold = nfc + accent folding (the dedup-key normalizers applied
        // where a crawl pipeline applies them — at ingest).
        val parts = arg.split(";").map(_.trim).filter(_.nonEmpty)
        val path = parts.head
        val opts =
          if (parts.length > 1) parseKv(parts.tail.mkString(";"))
          else Map.empty[String, String]
        val raw = readBulkSource(spark, path)
        val source = opts.get("normalize") match {
          case None => raw
          case Some(mode) =>
            require(raw.columns.contains("payload"),
              s"BULKINSERT normalize=$mode needs a payload column, " +
                s"got [${raw.columns.mkString(", ")}]")
            mode match {
              case "nfc" => raw.withColumn("payload",
                graft.functions.nfc_normalize(col("payload")))
              case "fold" => raw.withColumn("payload",
                graft.functions.strip_accents(
                  graft.functions.nfc_normalize(col("payload"))))
              case other => throw new IllegalArgumentException(
                s"unknown normalize mode '$other' (expected nfc or fold)")
            }
        }
        db.bulkInsert(coll, source)
        status("BULKINSERT", coll)

      case Export(coll, arg) =>
        // arg grammar: `<path>[;format=jsonl|csv|parquet|text;shards=<n>;
        // split=train|val|test;exclude=<collection>;resume=true;
        // parallel=<n>]` — BULKINSERT's ';'-separated k=v tail
        // convention; shards=-1 derives the count from size stats
        // (ScaleKnobs.exportShards)
        val parts = arg.split(";").map(_.trim).filter(_.nonEmpty)
        val opts =
          if (parts.length > 1) parseKv(parts.tail.mkString(";"))
          else Map.empty[String, String]
        val shardsStr = opts.getOrElse("shards", "8")
        val nShards =
          try shardsStr.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"EXPORT shards= must be an integer, got '$shardsStr' — " +
                "grammar: <path>[;format=jsonl|csv|parquet|text;shards=<n>" +
                ";resume=true]")
          }
        val fmt = opts.getOrElse("format", "jsonl")
        // split=train|val|test exports only that split's rows through
        // the managed sidecar (the lifecycle's consumer step)
        val split = opts.get("split")
        // exclude=<collection> anti-joins a committed id-keyed verdict
        // collection (decon→egress: write the CLEAN set in one step)
        val exclude = opts.get("exclude")
        // attrs=<spec> filters on the STORED attribute sidecar (tag once,
        // filter many — refuses when missing or stale, never re-scores)
        val attrsF = opts.get("attrs")
        // resume=true opts into the per-shard-committed export (same
        // bytes; a preempted run resumes at shard grain); parallel=<n>
        // bounds concurrent shard-conversion jobs on that path
        if (opts.get("resume").contains("true")) {
          val parStr = opts.getOrElse("parallel", "1")
          val par =
            try parStr.toInt
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"EXPORT parallel= must be an integer, got '$parStr'")
            }
          db.exportCollectionResumable(coll, parts.head, fmt, nShards,
            parallelism = par, split = split, exclude = exclude,
            attrs = attrsF)
        } else db.exportCollection(coll, parts.head, fmt, nShards,
          split = split, exclude = exclude, attrs = attrsF)

      case Decon(coll, arg) =>
        // arg grammar: `queries=<file.parquet>[;threshold=<f>;radius=<n>
        // ;shortlist=<n>]` — the batch-file convention of SEARCHSIMILAR
        val opts = parseKv(arg)
        val path = opts.getOrElse("queries",
          throw new IllegalArgumentException(
            "DECON needs queries=<file.parquet> of (query_id, query_vec)"))
        def num[T](key: String, default: T, parse: String => T): T =
          opts.get(key).map { v =>
            try parse(v)
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"DECON $key= must be numeric, got '$v'")
            }
          }.getOrElse(default)
        val verdictFrame = db.deconScreen(coll, readBatchQueries(spark, path),
          threshold = num("threshold", 0.5, _.toDouble),
          probeRadius = num("radius", -1, _.toInt),
          shortlist = num("shortlist", -1, _.toInt))
        // sink=<collection>: COMMIT the verdicts (created on first use) —
        // the input `EXPORT exclude=` consumes; the screen runs exactly
        // once (checkpointed — the insert and the returned frame share
        // it). Re-running the same DECON appends the same verdicts again:
        // the sink grows, but exclusion semantics are unaffected (the
        // exclude consumer distinct()s its id set); the streaming screen
        // adds the batch-log skip for its at-least-once replays.
        opts.get("sink") match {
          case None => verdictFrame
          case Some(sc) =>
            val committed = verdictFrame.localCheckpoint(true)
            if (!db.collectionExists(sc))
              db.createCollection(sc, committed.schema)
            db.bulkInsert(sc, committed)
            committed
        }

      case Split(coll, arg) =>
        // arg grammar: `[by=minhash|embedding|winsig|dhash;slots=<n>;
        // val=<n>;test=<n>;threshold=<f>;bits=<n>;mintokens=<n>;
        // hamming=<n>]` — all optional; by= picks the edge family:
        // text shingles (minhash), sign-bucket cosine (embedding),
        // exact-substring windows (winsig), perceptual dHash (dhash)
        val opts = arg.map(parseKv).getOrElse(Map.empty)
        def num(key: String, default: Int): Int =
          opts.get(key).map { v =>
            try v.toInt
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"SPLIT $key= must be an integer, got '$v' — grammar: " +
                  "[by=minhash|embedding;slots=<n>;val=<n>;test=<n>]")
            }
          }.getOrElse(default)
        opts.get("mode") match {
          // mode=compact folds the base + every ROUTE segment into one
          // fresh generation (content-preserving; the artifact-family
          // compaction contract)
          case Some("compact") =>
            db.compactSplits(coll); status("SPLIT", coll)
          // mode=stats is the read-only inspection surface: the build's
          // summary over the COMMITTED assignment (ROUTE rows included)
          // plus artifact health (routed-segment count), rebuilding
          // nothing
          case Some("stats") =>
            db.splitStats(coll)
          case Some(other) => throw new IllegalArgumentException(
            "SPLIT mode must be compact or stats (or omitted for a " +
              s"build), got: $other")
          case None => opts.getOrElse("by", "minhash") match {
            case "minhash" =>
              db.buildSplits(coll, nSlots = num("slots", 16),
                valSlots = num("val", 1), testSlots = num("test", 1))
            case "embedding" =>
              val thr = opts.get("threshold").map { v =>
                try v.toDouble
                catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"SPLIT threshold= must be numeric, got '$v'")
                }
              }.getOrElse(0.999)
              // bits=-1 adopts the stored sign layout's width (else 8);
              // an explicit mismatch refuses in buildSplitsEmbedding
              db.buildSplitsEmbedding(coll, threshold = thr,
                nBits = num("bits", -1), nSlots = num("slots", 16),
                valSlots = num("val", 1), testSlots = num("test", 1))
            // exact-substring identity edges (minTokens=-1 adopts the
            // stored winsig artifact's width)
            case "winsig" =>
              db.buildSplitsWinsig(coll, minTokens = num("mintokens", -1),
                nSlots = num("slots", 16), valSlots = num("val", 1),
                testSlots = num("test", 1))
            // perceptual image-identity edges (dHash56, hamming radius)
            case "dhash" =>
              db.buildSplitsDhash(coll, maxHamming = num("hamming", 6),
                nSlots = num("slots", 16), valSlots = num("val", 1),
                testSlots = num("test", 1))
            case other => throw new IllegalArgumentException(
              s"SPLIT by= must be minhash, embedding, winsig, or dhash, " +
                s"got '$other'")
          }
        }

      case Route(coll, arg) =>
        // arg grammar: `batch=<path.parquet>[;by=minhash|embedding|
        // winsig|dhash;threshold=<f>;insert=bool;dryrun=bool]`
        val opts = parseKv(arg)
        val path = opts.getOrElse("batch",
          throw new IllegalArgumentException(
            "ROUTE needs batch=<file.parquet> of arriving rows"))
        require(path.endsWith(".parquet") || path.endsWith(".pq"),
          s"ROUTE batch= requires a parquet file, got: $path")
        def thr(default: Double): Double =
          opts.get("threshold").map { v =>
            try v.toDouble
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"ROUTE threshold= must be numeric, got '$v'")
            }
          }.getOrElse(default)
        def boolOpt(key: String): Boolean = opts.get(key) match {
          case None => key == "insert" // insert defaults true, dryrun false
          case Some("true") => true
          case Some("false") => false
          case Some(other) => throw new IllegalArgumentException(
            s"ROUTE $key= must be true or false, got '$other'")
        }
        val ins = boolOpt("insert")
        // dryrun=true: the full screen + inheritance + placement with the
        // same refusals, NOTHING committed — the preview surface
        val dry = boolOpt("dryrun")
        opts.getOrElse("by", "minhash") match {
          case "minhash" =>
            db.routeArrivals(coll, spark.read.parquet(path),
              threshold = thr(0.5), insert = ins, dryRun = dry)
          case "embedding" =>
            db.routeArrivalsEmbedding(coll, spark.read.parquet(path),
              threshold = thr(0.999), insert = ins, dryRun = dry)
          case "winsig" =>
            db.routeArrivalsWinsig(coll, spark.read.parquet(path),
              insert = ins, dryRun = dry)
          case "dhash" =>
            db.routeArrivalsDhash(coll, spark.read.parquet(path),
              insert = ins, dryRun = dry)
          case other => throw new IllegalArgumentException(
            s"ROUTE by= must be minhash, embedding, winsig, or dhash, " +
              s"got '$other'")
        }

      case Update(coll, arg) =>
        val updates =
          if (arg.endsWith(".parquet") || arg.endsWith(".pq")) spark.read.parquet(arg)
          else Seq(parseRecord(arg)).toDF()
        db.update(coll, updates)
        status("UPDATE", coll)

      case Delete(coll, arg) =>
        db.delete(coll, expr(arg)); status("DELETE", coll)

      case Search(coll, arg) =>
        db.search(coll, expr(arg))

      case SearchSimilar(coll, arg) =>
        val opts = parseKv(arg)
        val k = opts.getOrElse("k", "10").toInt
        val metric = opts.getOrElse("metric", "cosine")
        // radius= and shortlist= pass straight through: the database picks
        // the cells and the scorer from the collection's layout
        // (GraftDatabase.searchSimilar)
        val radius = opts.getOrElse("radius", "-1").toInt
        val shortlist = opts.getOrElse("shortlist", "-1").toInt
        opts.get("batch") match {
          // batch= names a parquet file of (query_id, query_vec) — the
          // retrieval-job shape: the whole batch probes in ONE scan
          case Some(path) =>
            db.searchSimilarBatch(coll, readBatchQueries(spark, path), k,
              metric, radius, shortlist)
          case None =>
            val vec = opts.get("vec") match {
              case Some(v) => v.split(",").map(_.trim.toFloat)
              case None => throw new IllegalArgumentException(
                "SEARCHSIMILAR arg must include vec=f,f,... or batch=<path>")
            }
            db.searchSimilar(coll, vec, k, metric, radius, shortlist)
        }

      case Sync(coll, arg) =>
        // arg grammar: `<path>[;key=<col>]` (the BULKINSERT ';'-tail);
        // reconcile to the snapshot at the path (any BULKINSERT format);
        // the result IS the diff report — a query-like frame of per-status
        // key counts, the work-list an incremental pipeline schedules from
        val sparts = arg.split(";").map(_.trim).filter(_.nonEmpty)
        val sopts =
          if (sparts.length > 1) parseKv(sparts.tail.mkString(";"))
          else Map.empty[String, String]
        db.sync(coll, readBulkSource(spark, sparts.head),
          sopts.getOrElse("key", "id"))

      case SearchText(coll, arg) =>
        val opts = parseKv(arg)
        opts.getOrElse("score", "bm25") match {
          case "bm25" =>
            db.searchText(coll,
              rawTerms = splitTerms(opts, "SEARCHTEXT"),
              k1 = opts.getOrElse("k1", "1.2").toDouble,
              b = opts.getOrElse("b", "0.75").toDouble,
              k = opts.getOrElse("k", "20").toInt)
          // score=ql: Dirichlet-smoothed query likelihood (mu= smoothing)
          case "ql" =>
            db.searchTextQL(coll,
              rawTerms = splitTerms(opts, "SEARCHTEXT"),
              mu = opts.getOrElse("mu", "2000").toDouble,
              k = opts.getOrElse("k", "20").toInt)
          // score=jm: Jelinek–Mercer query likelihood (lambda= mixing)
          case "jm" =>
            db.searchTextJM(coll,
              rawTerms = splitTerms(opts, "SEARCHTEXT"),
              lambda = opts.getOrElse("lambda", "0.7").toDouble,
              k = opts.getOrElse("k", "20").toInt)
          case other => throw new IllegalArgumentException(
            s"SEARCHTEXT score must be bm25, ql, or jm, got: $other")
        }

      case SearchHybrid(coll, arg) =>
        val opts = parseKv(arg)
        opts.get("queries") match {
          // batch grammar: queries=<file> — one query per line,
          // `qid|term1,term2,...|f,f,...` (a serving request is
          // driver-side by construction; Float.toString round-trips, so
          // a file written from the API's vectors parses back exact).
          // The whole batch is answered by ONE postings pass + ONE
          // dense plan (searchHybridBatch).
          case Some(path) =>
            require(!opts.contains("vec") && !opts.contains("terms"),
              "SEARCHHYBRID: queries= (batch file) excludes vec=/terms=")
            val batch = java.nio.file.Files
              .readAllLines(java.nio.file.Paths.get(path)).toArray
              .map(_.toString.trim).filter(_.nonEmpty).toSeq
              .map { ln =>
                val parts = ln.split("\\|", -1)
                require(parts.length == 3,
                  s"bad batch line (want qid|terms|vec): $ln")
                (parts(0).trim.toLong,
                  parts(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
                  parts(2).split(",").map(_.trim.toFloat))
              }
            db.searchHybridBatch(coll, batch,
              k = opts.getOrElse("k", "10").toInt,
              kf = opts.getOrElse("kf", "20").toInt,
              kRrf = opts.getOrElse("krrf", "60").toInt,
              probeRadius = opts.getOrElse("radius", "-1").toInt,
              shortlist = opts.getOrElse("shortlist", "-1").toInt)
          case None =>
            val vec = opts.getOrElse("vec", throw new IllegalArgumentException(
              "SEARCHHYBRID arg must include vec=f,f,... (or queries=<file>)"))
              .split(",").map(_.trim.toFloat)
            db.searchHybrid(coll,
              terms = splitTerms(opts, "SEARCHHYBRID"),
              query = vec,
              k = opts.getOrElse("k", "10").toInt,
              kf = opts.getOrElse("kf", "20").toInt,
              kRrf = opts.getOrElse("krrf", "60").toInt,
              // radius + shortlist choose the dense branch's cells and
              // scorer — the same options SEARCHSIMILAR takes
              probeRadius = opts.getOrElse("radius", "-1").toInt,
              shortlist = opts.getOrElse("shortlist", "-1").toInt)
        }

      case Tag(coll, arg) =>
        // arg grammar: `[mode=refresh|compact|stats]` — no arg builds the
        // attribute sidecar (one text pass); refresh re-tags only the
        // (id, payload_md5) delta; compact folds segments flat; stats
        // reads the committed summary without building anything
        val opts = arg.map(parseKv).getOrElse(Map.empty)
        opts.get("mode") match {
          case Some("refresh") =>
            db.refreshAttrs(coll); db.tagSummary(coll)
          case Some("compact") =>
            db.compactAttrs(coll); status("TAG", coll)
          case Some("stats") =>
            db.tagSummary(coll)
          case Some(other) => throw new IllegalArgumentException(
            "TAG mode must be refresh, compact, or stats (or omitted " +
              s"for a build), got: $other")
          case None =>
            db.reindexAttrs(coll); db.tagSummary(coll)
        }

      case Summarize(coll, arg) =>
        val opts = arg.map(parseKv).getOrElse(Map.empty)
        db.summarize(coll,
          iters = opts.getOrElse("iters", "5").toInt,
          maxSents = opts.getOrElse("maxsents", "64").toInt)

      case Keywords(coll, _) =>
        db.keywords(coll)

      case Stats(coll) =>
        db.stats(coll)

      case SearchPhrase(coll, arg) =>
        val opts = parseKv(arg)
        db.searchPhrase(coll,
          rawPhrase = opts.getOrElse("phrase",
            throw new IllegalArgumentException(
              "SEARCHPHRASE arg must include phrase=word word ..."))
            .split("\\s+").toSeq.filter(_.nonEmpty),
          k = opts.getOrElse("k", "20").toInt)

      case SearchProximity(coll, arg) =>
        val opts = parseKv(arg)
        db.searchProximity(coll,
          rawTerms = splitTerms(opts, "SEARCHPROX"),
          k = opts.getOrElse("k", "20").toInt)

      case Reindex(coll, arg) =>
        val opts = arg.map(parseKv).getOrElse(Map.empty)
        opts.getOrElse("type", "sign") match {
          case "kmeans" =>
            // trainer=md5 selects the engine-replayable trainer (md5-seeded
            // deterministic Lloyd — oracles replay the layout); the default
            // stays MLlib (seeded, not SQL-reproducible)
            opts.getOrElse("trainer", "mllib") match {
              case "mllib" =>
                db.reindexKMeans(coll, k = opts.getOrElse("k", "16").toInt)
              case "md5" =>
                // same default k as the MLlib branch: switching trainers
                // must never silently change the cell count
                db.reindexKMeansMd5(coll,
                  k = opts.getOrElse("k", "16").toInt,
                  rounds = opts.getOrElse("rounds", "1").toInt)
              case other => throw new IllegalArgumentException(
                s"REINDEX type=kmeans trainer must be mllib or md5, got: $other")
            }
          case "sign" =>
            db.reindex(coll, nBits = opts.getOrElse("bits", "8").toInt)
          case "zorder" =>
            val cols = opts.getOrElse("cols",
              throw new IllegalArgumentException(
                "REINDEX type=zorder needs cols=<a>,<b>")).split(",").map(_.trim)
            require(cols.length == 2, s"zorder needs exactly 2 cols, got ${cols.length}")
            db.reindexZOrder(coll, cols(0), cols(1),
              bits = opts.getOrElse("bits", "8").toInt,
              nFiles = opts.getOrElse("files", "8").toInt)
          case "pq" =>
            db.reindexPq(coll,
              m = opts.getOrElse("m", "8").toInt,
              ksub = opts.getOrElse("ksub", "16").toInt,
              rounds = opts.getOrElse("rounds", "1").toInt,
              nBits = opts.getOrElse("bits", "8").toInt)
          case "ivfpq" =>
            db.reindexIvfPq(coll,
              m = opts.getOrElse("m", "8").toInt,
              ksub = opts.getOrElse("ksub", "16").toInt,
              rounds = opts.getOrElse("rounds", "1").toInt,
              kCells = opts.getOrElse("k", "8").toInt)
          case "postings" =>
            opts.getOrElse("mode", "full") match {
              // buckets default -1 = derived from the collection's size
              // (ScaleKnobs.postingsBuckets); explicit values honored
              case "full" => db.reindexPostings(coll,
                buckets = opts.getOrElse("buckets", "-1").toInt,
                positions = opts.getOrElse("positions", "false").toBoolean)
              case "refresh" => db.refreshPostings(coll)
              case "compact" => db.compactPostings(coll)
              case other => throw new IllegalArgumentException(
                "REINDEX type=postings mode must be full, refresh, or " +
                  s"compact, got: $other")
            }
          case "minhash" =>
            opts.getOrElse("mode", "full") match {
              // buckets default -1 = derived from the collection's size
              // (ScaleKnobs.sigBuckets); explicit values honored
              case "full" => db.reindexMinhash(coll,
                shingleN = opts.getOrElse("shingles", "5").toInt,
                numHashes = opts.getOrElse("hashes", "8").toInt,
                rowsPerBand = opts.getOrElse("rows", "2").toInt,
                buckets = opts.getOrElse("buckets", "-1").toInt)
              case "refresh" => db.refreshMinhash(coll)
              case "compact" => db.compactMinhash(coll)
              case other => throw new IllegalArgumentException(
                "REINDEX type=minhash mode must be full, refresh, or " +
                  s"compact, got: $other")
            }
          case "winsig" =>
            opts.getOrElse("mode", "full") match {
              case "full" => db.reindexWinsig(coll,
                minTokens = opts.getOrElse("mintokens", "15").toInt,
                buckets = opts.getOrElse("buckets", "-1").toInt)
              case "refresh" => db.refreshWinsig(coll)
              case "compact" => db.compactWinsig(coll)
              case other => throw new IllegalArgumentException(
                "REINDEX type=winsig mode must be full, refresh, or " +
                  s"compact, got: $other")
            }
          case "dhash" =>
            opts.getOrElse("mode", "full") match {
              // buckets default -1 = derived from the collection's size
              // (ScaleKnobs.sigBuckets); explicit values honored. Full
              // rebuild only: dHash carries no diff base and the hash is
              // one codegen scan — mutations mark the artifact stale and
              // the screen falls back until the next REINDEX.
              case "full" => db.reindexDhash(coll,
                mediaCol = opts.getOrElse("col", "media"),
                buckets = opts.getOrElse("buckets", "-1").toInt)
              case other => throw new IllegalArgumentException(
                "REINDEX type=dhash supports mode=full only (no diff " +
                  s"base to refresh from), got: $other")
            }
          case "tokenizer" =>
            // the trained-artifact family: like zorder this records intent
            // in a sidecar rather than a cluster_id partition layout
            db.trainTokenizer(coll,
              textCol = opts.getOrElse("col", "payload"),
              nMerges = opts.getOrElse("merges", "10").toInt)
          case other => throw new IllegalArgumentException(
            "REINDEX type must be sign, kmeans, zorder, pq, ivfpq, " +
              s"postings, minhash, winsig, dhash, or tokenizer, got: $other")
        }
        status("REINDEX", coll)
    }
  }

  private def splitTerms(opts: Map[String, String], cmd: String): Seq[String] =
    opts.getOrElse("terms", throw new IllegalArgumentException(
      s"$cmd arg must include terms=a,b,...")).split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq

  /** The bulk-load reader dispatch shared by BULKINSERT and SYNC: format
    * by extension — parquet, CSV, JSON Lines, or the reference's
    * `vec;payload` text format.
    */
  private def readBulkSource(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".parquet") || path.endsWith(".pq"))
      spark.read.parquet(path)
    else if (path.endsWith(".orc"))
      // ORC is Spark-native (columnar, predicate-pushdown-capable) — the
      // lakehouse interchange format beside parquet; schema rides in the
      // file like parquet's, so no vector re-parsing is involved
      spark.read.orc(path)
    else if (path.endsWith(".csv"))
      graft.sources.CsvVectorFormat.read(spark, path)
    else if (path.endsWith(".jsonl") || path.endsWith(".json"))
      graft.sources.JsonVectorFormat.read(spark, path)
    else EmbeddingTextFormat.read(spark, path)

  /** Query batch for `SEARCHSIMILAR batch=<path>`: a parquet file with
    * exactly the (query_id, query_vec array<float>) columns the batch
    * operators take. Strict — a mis-shaped file fails loud here, not as a
    * confusing analysis error three operators deep.
    */
  private def readBatchQueries(spark: SparkSession, path: String): DataFrame = {
    require(path.endsWith(".parquet") || path.endsWith(".pq"),
      s"SEARCHSIMILAR batch= requires a parquet file of (query_id, query_vec), got: $path")
    val df = spark.read.parquet(path)
    Seq("query_id", "query_vec").foreach { c =>
      require(df.columns.contains(c),
        s"batch query file $path is missing column $c (has: ${df.columns.mkString(", ")})")
    }
    graft.operators.VectorIndex.requireIntegralCol(df, "query_id",
      "SEARCHSIMILAR batch=")
    df.select(col("query_id"),
      col("query_vec").cast("array<float>").as("query_vec"))
  }

  /** `id;f,f,...,f;payload` — the reference's `vec;payload` line format
    * (`src/utils/embeddings.rs:55-62`) with an explicit leading id.
    */
  private[commands] def parseRecord(arg: String): VectorRecord = {
    val parts = arg.split(";", 3)
    require(parts.length == 3, s"record arg must be id;vec;payload, got: $arg")
    VectorRecord(parts(0).trim.toLong,
      parts(1).split(",").map(_.trim.toFloat), parts(2))
  }

  private[commands] def parseKv(arg: String): Map[String, String] =
    arg.split(";").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"expected key=value, got: $kv")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }.toMap
}
