package graft.core

import java.io.StringWriter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, JsonProcessingException}
import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, element_at, lit}

import graft.core.GraftDatabase.PqCodeCol
import graft.operators.{ProductQuantization, VectorIndex}
import graft.operators.ProductQuantization.Codebooks

/** The JSON sidecars a collection or an export carries, each one typed
  * record: the index layout (`_graft_index.json`), the BPE tokenizer
  * (`_graft_tokenizer.json`), the resumable-export pin
  * (`_export_meta.json`) and the routed-batch marker (`routed_<n>.done`).
  * Parsed and rendered only here, with the Jackson in Spark's jars (the
  * [[ArtifactMeta]] rule). Rendering reproduces the bytes earlier builds
  * wrote — `": "`/`", "` between object members, no space inside arrays
  * except zorder's `cols`, `Double.toString` numbers (`NaN` unquoted) — so
  * an existing sidecar renders back unchanged; parsing is by key, so
  * member order is free. A malformed sidecar fails loudly, naming its file.
  */
private[graft] object Sidecar {
  private val mapper = new ObjectMapper(new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build())

  private object Spaced extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit =
      g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(if (g.getOutputContext.getParent.getCurrentName == "cols") ", "
        else ",")
  }

  /** One JSON object of `members` (Int, Double, String, or arrays, Seqs
    * and pairs of them); `spaced` is the sidecar style, else compact. */
  def render(spaced: Boolean)(members: (String, Any)*): String = {
    val out = new StringWriter
    val g = mapper.getFactory.createGenerator(out)
    if (spaced) g.setPrettyPrinter(Spaced)
    def value(v: Any): Unit = v match {
      case i: Int => g.writeNumber(i)
      case d: Double => g.writeNumber(d)
      case s: String => g.writeString(s)
      case (a, b) => value(Seq(a, b))
      case a: Array[_] => value(a.toSeq)
      case xs: Seq[_] => g.writeStartArray(); xs.foreach(value); g.writeEndArray()
    }
    try {
      g.writeStartObject()
      members.foreach { case (k, v) => g.writeFieldName(k); value(v) }
      g.writeEndObject()
    } finally g.close()
    out.toString
  }

  def malformed(file: String, why: String): Nothing =
    throw new IllegalStateException(s"malformed sidecar $file: $why")

  /** The object's members, read by key; failures name `file`. */
  final class Fields(json: String, file: String) {
    private val node: JsonNode =
      try mapper.readTree(json)
      catch { case e: JsonProcessingException =>
        malformed(file, e.getOriginalMessage) }
    if (node == null || !node.isObject) malformed(file, "not a JSON object")

    private def req(key: String): JsonNode =
      Option(node.get(key)).getOrElse(malformed(file, s"no $key"))
    private def bad(key: String, what: String) = malformed(file, s"$key holds $what")
    private def arr(n: JsonNode, key: String): Seq[JsonNode] =
      if (n.isArray) n.elements.asScala.toSeq else bad(key, "a non-array")
    private def str(n: JsonNode, key: String): String =
      if (n.isTextual) n.textValue else bad(key, "a non-string")
    private def strs(n: JsonNode, key: String) = arr(n, key).map(str(_, key))
    private def mat(n: JsonNode, key: String): Array[Array[Double]] =
      arr(n, key).map(arr(_, key).map(d =>
        if (d.isNumber) d.doubleValue else bad(key, "a non-number")).toArray).toArray

    def int(key: String): Int = {
      val n = req(key)
      if (n.isInt) n.intValue else bad(key, "a non-int")
    }
    def str(key: String): String = str(req(key), key)
    def optStr(key: String): Option[String] = Option(node.get(key)).map(str(_, key))
    def strings(key: String): Seq[String] = strs(req(key), key)
    def pairs(key: String): Seq[(String, String)] = arr(req(key), key).map(p =>
      strs(p, key) match { case Seq(a, b) => (a, b); case _ => bad(key, "a non-pair") })
    def matrix(key: String): Array[Array[Double]] = mat(req(key), key)
    def cube(key: String): Codebooks = arr(req(key), key).map(mat(_, key)).toArray
  }

  /** The sidecar at `p` parsed by `parse(json, file)`, None when absent. */
  def read[T](fs: FileSystem, p: Path)(parse: (String, String) => T): Option[T] =
    if (!fs.exists(p)) None
    else Some(parse(ManagedArtifact.readString(fs, p), p.toString))
}

/** A collection's vector layout as REINDEX recorded it, with the two rules
  * every layout-aware path needs: how arriving rows get their index
  * columns ([[assign]]) and, for a [[CellLayout]], which cells a query
  * probes. A new layout is one more case here.
  */
private[graft] sealed trait IndexLayout {
  /** The `type` key: LISTINDEXES' `vector:<kind>`, `indexTypeOf`. */
  def kind: String

  /** `cluster_id`, plus `pq_code` where the layout stores codes, for rows
    * arriving in (or rewritten into) a clustered collection — pure column
    * math against the record's literals, the same rule REINDEX laid out.
    */
  def assign(df: DataFrame): DataFrame

  /** The record's members after `type`, in the order it is written. */
  protected def members: Seq[(String, Any)]

  def json: String = Sidecar.render(spaced = true)(("type" -> kind) +: members: _*)
}

/** A layout partitioned into `cluster_id` cells. */
private[graft] sealed trait CellLayout extends IndexLayout {
  /** The cells a query probes at radius `r`: the hamming ball for sign
    * buckets, the `r + 1` nearest centroids for centroid layouts.
    */
  def cells(query: Array[Float], r: Int): Seq[Int]
}

private[graft] object IndexLayout {
  val File = "_graft_index.json"

  final case class SignBucket(bits: Int) extends CellLayout {
    def kind = "sign_bucket"
    def assign(df: DataFrame): DataFrame =
      VectorIndex.assignSignBuckets(df, nBits = bits)
    def cells(query: Array[Float], r: Int): Seq[Int] =
      VectorIndex.signCells(query, bits, r)
    protected def members = Seq("bits" -> bits)
  }

  /** `trainer = Some("md5")`: the engine-replayable trainer, whose cells
    * are DEFINED by the rounded assignCodes rule, so arrivals re-assign by
    * that rule (a raw argmin disagrees at round(l2, 6) boundaries);
    * MLlib layouts (no trainer key) keep the raw argmin.
    */
  final case class KMeans(k: Int, trainer: Option[String],
      centroids: Array[Array[Double]]) extends CellLayout {
    def kind = "kmeans"
    def assign(df: DataFrame): DataFrame =
      if (trainer.contains("md5")) coarseAssign(df, centroids, _ - 1)
      else VectorIndex.assignNearestCentroid(df, centroids)
    def cells(query: Array[Float], r: Int): Seq[Int] =
      VectorIndex.nearestCentroidIds(query, centroids, r + 1)
    protected def members =
      trainer.map("trainer" -> _).toSeq ++ Seq("k" -> k, "centroids" -> centroids)
  }

  /** Sign-bucket cells with an m-byte code per row. */
  final case class Pq(bits: Int, m: Int, ksub: Int, codebooks: Codebooks)
      extends CellLayout {
    def kind = "pq"
    def assign(df: DataFrame): DataFrame = ProductQuantization.assignCodes(
      VectorIndex.assignSignBuckets(df, nBits = bits), "embedding", codebooks,
      PqCodeCol)
    def cells(query: Array[Float], r: Int): Seq[Int] =
      VectorIndex.signCells(query, bits, r)
    protected def members =
      Seq("bits" -> bits, "m" -> m, "ksub" -> ksub, "codebooks" -> codebooks)
  }

  /** Kmeans-coarse cells (1-based, the m = 1 rounded-argmin rule) with
    * codes of the residual `x − centroid(cell)`.
    */
  final case class IvfPqKMeans(m: Int, ksub: Int, k: Int,
      codebooks: Codebooks, centroids: Array[Array[Double]])
      extends CellLayout {
    def kind = "ivfpq_kmeans"
    lazy val cellCents: Map[Int, Array[Double]] = cellMap(centroids)
    def assign(df: DataFrame): DataFrame = ProductQuantization.assignCodes(
      residualFrame(df, centroids), "__res", codebooks, PqCodeCol).drop("__res")
    def cells(query: Array[Float], r: Int): Seq[Int] =
      ProductQuantization.nearestCellsD(query.map(_.toDouble), cellCents, r + 1)
    protected def members = Seq("m" -> m, "ksub" -> ksub, "k" -> k,
      "codebooks" -> codebooks, "centroids" -> centroids)
  }

  /** A FILE layout (range-clustered files, no cells): no probe geometry,
    * and a clustered collection's arrivals go to the unindexed tail.
    */
  final case class ZOrder(cols: Seq[String], bits: Int) extends IndexLayout {
    def kind = "zorder"
    def assign(df: DataFrame): DataFrame = unindexedTail(df)
    protected def members = Seq("cols" -> cols, "bits" -> bits)
  }

  /** The reserved `cluster_id = -1` partition: rows of a clustered
    * collection without a recorded cell rule. Exact scans read it; no
    * probe produces -1, and probes run only on layouts with geometry.
    */
  def unindexedTail(df: DataFrame): DataFrame = df.withColumn("cluster_id", lit(-1))

  /** The collection's record in `dir`, None when there is none. */
  def read(fs: FileSystem, dir: Path): Option[IndexLayout] =
    Sidecar.read(fs, new Path(dir, File))(parse)

  def parse(json: String, file: String = File): IndexLayout = {
    val f = new Sidecar.Fields(json, file)
    f.str("type") match {
      case "sign_bucket" => SignBucket(f.int("bits"))
      case "kmeans" =>
        KMeans(f.int("k"), f.optStr("trainer"), f.matrix("centroids"))
      case "pq" => Pq(f.int("bits"), f.int("m"), f.int("ksub"), f.cube("codebooks"))
      case "ivfpq_kmeans" => IvfPqKMeans(f.int("m"), f.int("ksub"), f.int("k"),
        f.cube("codebooks"), f.matrix("centroids"))
      case "zorder" => ZOrder(f.strings("cols"), f.int("bits"))
      case other => Sidecar.malformed(file, s"unknown layout type $other")
    }
  }

  /** `cluster_id` plus the residual `__res` of the kmeans-coarse layout —
    * also the frame REINDEX type=ivfpq trains its codebooks on.
    */
  def residualFrame(df: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    ProductQuantization.withResiduals(coarseAssign(df, centroids, identity),
      "embedding", cellMap(centroids))

  /** 1-based cell id → coarse centroid. */
  private def cellMap(centroids: Array[Array[Double]]): Map[Int, Array[Double]] =
    centroids.zipWithIndex.map { case (c, i) => (i + 1) -> c }.toMap

  /** The m = 1 rounded-argmin cell (1-based `__coarse`), mapped by `cell`. */
  private def coarseAssign(df: DataFrame, centroids: Array[Array[Double]],
      cell: Column => Column): DataFrame =
    ProductQuantization.assignCodes(df, "embedding", Array(centroids), "__coarse")
      .withColumn("cluster_id", cell(element_at(col("__coarse"), 1)).cast("int"))
      .drop("__coarse")
}

/** `_graft_tokenizer.json`: the BPE merge sequence, in training order. */
private[graft] final case class TokenizerMeta(merges: Seq[(String, String)]) {
  def json: String = Sidecar.render(spaced = true)("type" -> "bpe", "merges" -> merges)
}

private[graft] object TokenizerMeta {
  val File = "_graft_tokenizer.json"

  def parse(json: String, file: String = File): TokenizerMeta =
    TokenizerMeta(new Sidecar.Fields(json, file).pairs("merges"))
}

/** `_export_meta.json`: a resumable export's identity — format, shard
  * count and the split / exclude / attrs filters (empty = none).
  */
private[graft] final case class ExportMeta(format: String, shards: Int,
    split: String, exclude: String, attrs: String) {
  def json: String = Sidecar.render(spaced = true)("format" -> format,
    "shards" -> shards, "split" -> split, "exclude" -> exclude, "attrs" -> attrs)
}

private[graft] object ExportMeta {
  val File = "_export_meta.json"

  /** None when `json` is not an export meta (the caller's refusal). */
  def parse(json: String): Option[ExportMeta] =
    try {
      val f = new Sidecar.Fields(json, File)
      def pin(key: String) = f.optStr(key).getOrElse("")
      Some(ExportMeta(f.str("format"), f.int("shards"), pin("split"),
        pin("exclude"), pin("attrs")))
    } catch { case _: IllegalStateException => None }
}

/** A ROUTE segment's commit marker: empty, or `{"batch":"<tag>"}` when
  * the micro-batch carried a replay tag.
  */
private[graft] final case class RoutedMarker(batch: Option[String]) {
  def json: String = batch.fold("")(t => Sidecar.render(spaced = false)("batch" -> t))
}

private[graft] object RoutedMarker {
  def parse(json: String, file: String): RoutedMarker =
    if (json.trim.isEmpty) RoutedMarker(None)
    else RoutedMarker(Some(new Sidecar.Fields(json, file).str("batch")))
}
