package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge into the `private[sql]` Column↔Expression conversions —
 * the standard pattern for libraries that ship custom Catalyst
 * expressions (the public API deliberately hides Expression).
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Catalyst predicate → DSv2 source filter (protected[sql] upstream) —
    * the MoR native-read rule uses it to hand the merge reader the same
    * pushable set the V1 bridge's pushFilters would have received. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** `from` readable as `to` up to nullability widening (private[sql]
    * upstream) — the splice's type-alignment gate. */
  def compatibleType(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.types.DataType.equalsIgnoreCompatibleNullability(from, to)

  /** The schema Spark's parquet inference (`ParquetUtils.inferSchema`
    * without `mergeSchema`) derives from `file`, read from its footer on
    * the calling thread instead of in a one-task Spark job. The footer
    * is read the way the inference job reads it (row groups skipped,
    * session Hadoop conf) and converted by the same `readSchemaFromFooter`
    * with a converter built from this session's conf the way
    * `mergeSchemasInParallel` builds it: the session's binary-as-string,
    * INT96, timestamp-NTZ, nanos-as-long and unknown-annotation flags,
    * the defaults for the rest. */
  def parquetFooterSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val metadata = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, metadata), converter)
  }

  /** Whether Spark's file listing skips a file or dir of this name
    * (`_`/`.`-prefixed names except parquet summary files, and
    * in-flight `._COPYING_` copies). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** DataFrame over an analyzed logical plan (the MERGE rewrite carries
    * the source subplan through to execution this way). */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch result as a streaming DataFrame — what a V1 streaming
    * Source's getBatch must return (the engine asserts streaming leaves,
    * the contract FileStreamSource meets with isStreaming = true).
    * `toRdd` is lazy: planning happens here, execution when the
    * micro-batch runs. */
  def streamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }
}
