package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst [[Expression]]s and the public [[Column]] API.
  *
  * Spark 4.x decoupled `Column` from Catalyst (columns wrap `ColumnNode`s so the
  * same API serves Spark Connect); the classic conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`. This
  * shim re-exports the two conversions graft needs, from inside the `sql`
  * package — the standard technique for Spark libraries that ship custom
  * Catalyst expressions.
  */
object GraftSqlShims {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a (classic) Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free the block-manager storage behind a `localCheckpoint`ed Dataset.
    *
    * `Dataset.unpersist` only releases entries tracked by the CacheManager
    * (`.cache()`/`.persist()`); a local checkpoint materializes into the
    * checkpointed RDD's own persisted blocks, which `unpersist` never touches
    * — so iterative operators that checkpoint per round would otherwise leak
    * every superseded round's blocks until the RDD reference is GC'd.
    * Peels the `LogicalRDD` the checkpoint produced and unpersists its RDD
    * directly. No-op for non-checkpointed frames.
    */
  def unpersistCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The data schema Spark's parquet inference derives from `file`'s
    * footer, computed on the driver: the same footer read, Spark row
    * metadata (`ParquetFileFormat.readSchemaFromFooter`) and converter
    * flags as `ParquetFileFormat.mergeSchemasInParallel`, without the
    * Spark job that function launches even for a single footer.
    */
  def parquetFooterSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer), converter)
  }

  /** The relation a plain data-source read (`spark.read...parquet`) scans
    * — its resolved schema, file listing and partition spec — or None for
    * any other frame. `SparkSession.baseRelationToDataFrame` turns it back
    * into a frame with fresh attribute ids, so the listing is reused
    * without sharing attributes between two reads.
    */
  def baseRelation(ds: Dataset[_]): Option[sources.BaseRelation] =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(l.relation)
      case _ => None
    }

  /** True if the frame's analyzed plan is a checkpoint scan (used by specs
    * to assert leak-hygiene contracts without peeking at Spark internals).
    */
  def isCheckpointScan(ds: Dataset[_]): Boolean =
    ds.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
}
