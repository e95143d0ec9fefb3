package graft.commands

/** The command vocabulary — one case per command dispatched in the
  * reference's `CommandBuilder::build`
  * (`/root/reference/src/command/builder.rs:29-80`). Field shapes follow the
  * reference structs (`/root/reference/src/command/types.rs`): CREATE/DROP
  * carry the collection name from the *command arg*; data commands carry the
  * target collection from the `--collection` flag plus a payload arg;
  * TRUNCATEWAL uniquely reads the collection flag as an optional target.
  *
  * The reference never executes these (every `execute` body is a stub); the
  * payload-arg grammars below are therefore graft's own, frozen here:
  *
  *  - INSERT arg: `id;f,f,...,f;payload` (the reference's embeddings-file
  *    line format `vec;payload` — `src/utils/embeddings.rs:55-62` — with an
  *    explicit leading id).
  *  - BULKINSERT arg: a path — `.parquet` dir, or a text file of `vec;payload`
  *    lines (line number becomes the id).
  *  - UPDATE arg: `id;f,f,...,f;payload` (single record upsert) or a parquet
  *    path of update rows.
  *  - DELETE / SEARCH arg: a SQL boolean expression over the collection's
  *    columns (e.g. `id IN (1,2,3)`, `payload LIKE 'al%'`).
  *  - SEARCHSIMILAR arg: `k=<n>[;metric=cosine|l2|dot][;radius=<r>]
  *    [;shortlist=<n>];vec=f,f,...` — `radius` opts into the index probe
  *    (sign-bucket hamming radius / kmeans nprobe−1); `shortlist` selects
  *    the SQ8 quantized-rerank path (composed with `radius` cell pruning
  *    on a quantized sign/kmeans collection) — except on `type=pq` /
  *    `type=ivfpq` collections, where it means the ADC path over the
  *    stored codes (composed with `radius` cell pruning). `batch=<path>`
  *    answers a whole (query_id, query_vec) parquet in one scan.
  *  - REINDEX arg (optional): `[type=sign;bits=<n>]` (default),
  *    `type=kmeans;k=<n>[;trainer=mllib|md5;rounds=<n>]` (centroid IVF,
  *    centroids stored in the sidecar; trainer=md5 swaps MLlib for the
  *    md5-seeded deterministic Lloyd so oracles can replay the layout),
  *    `type=pq;m=<n>;ksub=<n>[;rounds;bits]` (sign-bucket cells + m-byte
  *    PQ codes + codebooks sidecar),
  *    `type=ivfpq;m=<n>;ksub=<n>[;rounds;k=<cells>]` (kmeans-coarse
  *    RESIDUAL PQ — the FAISS-canonical layout, coarse centroids AND
  *    codebooks in the sidecar),
  *    `type=zorder;cols=<a>,<b>[;bits=<n>;files=<n>]` (Morton file
  *    layout — multi-dimensional min/max file skipping, no partition col),
  *    or `type=tokenizer[;col;merges]` (trained-artifact sidecar).
  *  - SYNC arg (extension — not in the reference grammar): a snapshot path
  *    in any BULKINSERT format; the collection reconciles to the snapshot
  *    (diff → delete removed, upsert added+changed with derived columns
  *    re-derived, unchanged rows untouched) and the command returns the
  *    per-status diff counts.
  *  - EXPORT arg (extension):
  *    `<path>[;format=jsonl|csv|parquet|text;shards=<n>]` — deterministic
  *    sharded egress: md5-slice shard placement (the q82 rule), one
  *    id-ordered file per shard, formats matching the BULKINSERT readers
  *    (csv refuses non-atomic columns loudly; text writes the
  *    reference's own `vec;payload` lines, refusing payloads with ';'
  *    or newline); `shards=-1` derives the count from size stats;
  *    `resume=true` commits per shard (one staged scan, markerless
  *    shards convert on resume — identical bytes, preemption-safe);
  *    `parallel=<n>` bounds concurrent shard conversions on that path;
  *    `split=train|val|test` exports only that split's rows through the
  *    managed SPLIT sidecar (pinned in the resume meta like format — a
  *    train-set export can never silently resume as a full-corpus one).
  *  - DECON arg (extension): `queries=<file.parquet>[;threshold=<f>;
  *    radius=<n>;shortlist=<n>]` — semantic cross-set decontamination of
  *    the eval batch in the file (query_id, query_vec) against the
  *    collection as the TRAINING corpus: nearest train neighbor per eval
  *    row, flagged on the rounded cosine ≥ threshold (default 0.5);
  *    radius+shortlist opt into the stored-codes ADC screen on an
  *    ivfpq_kmeans layout (loud on unprobeable layouts).
  *  - SPLIT arg (extension, optional): `[by=minhash|embedding|winsig|
  *    dhash;slots=<n>;val=<n>;test=<n>;threshold=<f>;bits=<n>;
  *    mintokens=<n>;hamming=<n>]` — build (or rebuild) the
  *    managed leakage-safe train/val/test split sidecar: near-dup
  *    clusters placed whole by the md5-slice-of-representative rule
  *    (slots divides 65536); by=minhash (default) clusters over the
  *    payload column's shingles, by=embedding over the sign-bucket
  *    cosine screen at `threshold` (vector-identity corpora), by=winsig
  *    over shared `mintokens`-token windows (verbatim-passage identity),
  *    by=dhash over dHash56 signatures within `hamming` bits (perceptual
  *    image identity). Returns the per-split summary. A rebuild supersedes all prior ROUTE
  *    commits; `mode=compact` instead folds the base + all ROUTE
  *    segments into one fresh generation, values unchanged;
  *    `mode=stats` returns the summary of the committed assignment
  *    (ROUTE rows included) without rebuilding anything.
  *  - ROUTE arg (extension): `batch=<path.parquet>[;by=minhash|embedding|
  *    winsig|dhash;threshold=<f>;insert=true|false;dryrun=true|false]` —
  *    route an arriving batch
  *    through the split lifecycle: screen against the stored artifact
  *    (minhash bands, the sign-bucket layout, the winsig signature
  *    table, or the dhash band table — matching the sidecar's family),
  *    inherit the split of the smallest-rep match (own-id fallback,
  *    `bridged` flagged), COMMIT the routed assignments back into the
  *    sidecar (transitive inheritance), and with insert=true (default)
  *    append the batch to the collection (+ refresh the minhash artifact;
  *    the sign layout derives at append) so the next batch can match
  *    these arrivals. `dryrun=true` runs the full screen + inheritance +
  *    placement math with the same refusals but commits NOTHING — the
  *    capacity-planning preview.
  *  - TAG arg (extension, optional): `[mode=refresh|compact|stats]` —
  *    build the managed attribute sidecar ("tag once, filter many"): ONE
  *    pass over the payload column computing the core tagset per id
  *    (n_tokens, lang, quality, n_pii — each the same gate-proven math
  *    its standalone query uses), committed under a generation pointer;
  *    `mode=refresh` re-tags only new/changed docs and tombstones
  *    deleted ones (the (id, payload_md5) diff discipline);
  *    `mode=compact` folds segments flat, values unchanged;
  *    `mode=stats` returns the per-language summary without building.
  *    Build/refresh/stats return the summary; downstream consumers
  *    (`EXPORT attrs=`) filter on the STORED attributes by id-keyed
  *    semi-join — the corpus text is never re-scored.
  *  - EXPORT `attrs=<attr op value[,...]>` (extension to the EXPORT arg):
  *    export only rows whose stored attributes pass the conjunct spec
  *    (op ∈ >=, <=, !=, =; attrs n_tokens, lang, quality, n_pii) —
  *    refuses loudly when the sidecar is missing or stale, and is pinned
  *    in the resume meta like split/format/exclude.
  *  - SEARCHTEXT arg (extension): `terms=a,b,c[;k=<n>;k1=<f>;b=<f>]` —
  *    BM25 keyword retrieval over the payload column.
  *  - SEARCHHYBRID arg (extension): `terms=a,b,c;vec=f,f,...[;k;kf;krrf]`
  *    — reciprocal-rank fusion of the BM25 and cosine rankings (each
  *    branch's top `kf`, fused with constant `krrf`, top `k` out); OR
  *    `queries=<file>[;k;kf;krrf;radius;shortlist]` — a batch file
  *    (one `qid|terms|vec` line per query) answered by ONE postings
  *    pass + ONE cell/ADC probe for the whole batch.
  */
sealed trait GraftCommand

object GraftCommand {
  final case class CreateCollection(name: String) extends GraftCommand
  final case class DropCollection(name: String) extends GraftCommand
  final case object ListCollections extends GraftCommand
  final case class ListIndexes(collection: String) extends GraftCommand
  final case class TruncateWal(target: Option[String]) extends GraftCommand
  final case class Insert(collection: String, arg: String) extends GraftCommand
  final case class BulkInsert(collection: String, arg: String) extends GraftCommand
  final case class Update(collection: String, arg: String) extends GraftCommand
  final case class Delete(collection: String, arg: String) extends GraftCommand
  final case class Search(collection: String, arg: String) extends GraftCommand
  final case class SearchSimilar(collection: String, arg: String) extends GraftCommand
  final case class Reindex(collection: String, arg: Option[String]) extends GraftCommand
  final case class Sync(collection: String, arg: String) extends GraftCommand
  final case class SearchText(collection: String, arg: String) extends GraftCommand
  final case class SearchHybrid(collection: String, arg: String) extends GraftCommand
  final case class SearchPhrase(collection: String, arg: String) extends GraftCommand
  final case class SearchProximity(collection: String, arg: String) extends GraftCommand
  final case class Export(collection: String, arg: String) extends GraftCommand
  final case class Decon(collection: String, arg: String) extends GraftCommand
  final case class Split(collection: String, arg: Option[String]) extends GraftCommand
  final case class Route(collection: String, arg: String) extends GraftCommand
  final case class Tag(collection: String, arg: Option[String]) extends GraftCommand
  final case class Summarize(collection: String, arg: Option[String]) extends GraftCommand
  final case class Keywords(collection: String, arg: Option[String]) extends GraftCommand
  final case class Stats(collection: String) extends GraftCommand
}

/** Build failure surface, mirroring `CommandBuilderError`
  * (`/root/reference/src/command/builder.rs:8-15`).
  */
sealed trait CommandError { def message: String }
object CommandError {
  final case class UnrecognizedCommand(raw: String) extends CommandError {
    def message = s"unrecognized command: $raw"
  }
  final case class MissingCollection(command: String) extends CommandError {
    def message = s"$command requires --collection"
  }
  final case class MissingArg(command: String) extends CommandError {
    def message = s"$command requires --command-arg"
  }
}

object CommandParser {
  import GraftCommand._
  import CommandError._

  /** Keyword match is case-insensitive (`command.to_uppercase()`,
    * `/root/reference/src/command/builder.rs:29`); argument routing follows
    * `builder.rs:30-76`.
    */
  def parse(collection: Option[String], command: String,
      arg: Option[String]): Either[CommandError, GraftCommand] = {
    def needColl(name: String)(f: String => GraftCommand) =
      collection.toRight(MissingCollection(name)).map(f)
    def needBoth(name: String)(f: (String, String) => GraftCommand) =
      for {
        c <- collection.toRight(MissingCollection(name))
        a <- arg.toRight(MissingArg(name))
      } yield f(c, a)

    command.toUpperCase match {
      case "CREATE" => arg.toRight(MissingArg("CREATE")).map(CreateCollection(_))
      case "DROP" => arg.toRight(MissingArg("DROP")).map(DropCollection(_))
      case "LISTCOLLECTIONS" => Right(ListCollections)
      case "LISTINDEXES" => needColl("LISTINDEXES")(ListIndexes(_))
      case "TRUNCATEWAL" => Right(TruncateWal(collection))
      case "INSERT" => needBoth("INSERT")(Insert(_, _))
      case "BULKINSERT" => needBoth("BULKINSERT")(BulkInsert(_, _))
      case "UPDATE" => needBoth("UPDATE")(Update(_, _))
      case "DELETE" => needBoth("DELETE")(Delete(_, _))
      case "SEARCH" => needBoth("SEARCH")(Search(_, _))
      case "SEARCHSIMILAR" => needBoth("SEARCHSIMILAR")(SearchSimilar(_, _))
      case "REINDEX" => needColl("REINDEX")(Reindex(_, arg))
      case "SYNC" => needBoth("SYNC")(Sync(_, _))
      case "SEARCHTEXT" => needBoth("SEARCHTEXT")(SearchText(_, _))
      case "SEARCHHYBRID" => needBoth("SEARCHHYBRID")(SearchHybrid(_, _))
      case "SEARCHPHRASE" => needBoth("SEARCHPHRASE")(SearchPhrase(_, _))
      case "SEARCHPROX" => needBoth("SEARCHPROX")(SearchProximity(_, _))
      case "EXPORT" => needBoth("EXPORT")(Export(_, _))
      case "DECON" => needBoth("DECON")(Decon(_, _))
      case "SPLIT" => needColl("SPLIT")(Split(_, arg))
      case "ROUTE" => needBoth("ROUTE")(Route(_, _))
      case "TAG" => needColl("TAG")(Tag(_, arg))
      case "SUMMARIZE" => needColl("SUMMARIZE")(Summarize(_, arg))
      case "KEYWORDS" => needColl("KEYWORDS")(Keywords(_, arg))
      case "STATS" => needColl("STATS")(Stats(_))
      case other => Left(UnrecognizedCommand(other))
    }
  }
}
