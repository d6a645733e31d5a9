package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the private[sql] session and column hooks the library needs. */
object GraftSessions {

  /** `plan` as a DataFrame of `session` — how a frame built on one
    * session (a stream's per-query clone, say) is re-bound onto another
    * without converting its rows (`classic.Dataset.ofRows` is
    * private[sql]). */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** A `foreachBatch` sink that hands `sink` each micro-batch re-bound
    * onto `session`. A stream runs on a clone session made anew at every
    * `start()`, and each session has its own executor class loader,
    * which keys Spark's codegen cache: work done on the batch as given
    * recompiles every generated class on every run of the stream. */
  def foreachBatchOn(session: SparkSession)(sink: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, id) => sink(ofRows(session, batch.queryExecution.logical), id)

  /** The catalyst expression of `c` (unresolved while `c` names columns
    * by name). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` as a Column, bound by expression: an aggregate built this way
    * needs no function-registry lookup, so nothing is registered per
    * session. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Block until `session`'s listener bus has delivered every queued
    * event, so a listener's counts are complete (`listenerBus` is
    * private[spark]). */
  def drainListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema `spark.read.parquet(file)` infers for one parquet file,
    * read from its footer on the driver: Spark's own conversion (the
    * Spark schema stored in the key-value metadata, else the converted
    * parquet schema) under the same confs, without the one-task job the
    * reader runs to read footers. None when the footer cannot be read
    * and corrupt files are ignored. */
  def parquetFileSchema(session: SparkSession,
      file: org.apache.hadoop.fs.Path): Option[types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val state = session.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    val status = file.getFileSystem(hadoopConf).getFileStatus(file)
    // the converter schema inference builds (ParquetFileFormat.mergeSchemasInParallel)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer =
      try Some(ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS))
      catch { case e: java.io.IOException if conf.ignoreCorruptFiles => None }
    footer.map(f => ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, f),
      converter))
  }
}
