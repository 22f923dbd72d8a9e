package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column ⇄ Expression converters.
  *
  * Spark 4 hides the Catalyst `Expression` behind a `ColumnNode`; custom
  * native expressions (e.g. [[graft.functions.JsonFlattenExpr]]) need this
  * two-way mapping to be exposed as user-facing `Column`s. Lives under
  * `org.apache.spark.sql` solely for access — the standard technique for
  * third-party Catalyst extensions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A Column's full Catalyst expression tree. `expression` returns a
    * lazy `ColumnNodeExpression` wrapper (fine inside plans Spark
    * converts itself, but unserializable and opaque to pattern matches);
    * the converter walks the node into the real tree — needed when the
    * expression feeds a CUSTOM logical plan (e.g. the sort keys of
    * [[graft.plans.GlobalRankPlan]]). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `c` with `""` read as null: the rewrite Spark's planned write applies
    * to a nullable string partition column (`V1WritesUtils`), spelled in
    * the plan so the write finds it there and adds no projection of its
    * own. */
  def emptyToNull(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.Empty2Null(expression(c)))

  /** Render a Column's full Catalyst tree as SQL. */
  def sql(c: Column): String = catalystExpression(c).sql

  /** Drain the listener bus so SparkListener-collected task metrics are
    * complete before reading them (listenerBus is private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Wrap a custom logical plan as a DataFrame (classic.Dataset.ofRows is
    * private[sql]) — the entry point for whole-operator custom plans like
    * [[graft.plans.GlobalRankPlan]]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan (private[sql] on classic.Dataset). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .logicalPlan

  /** Spark's hidden-path rule for file listing (names starting with `_`
    * or `.`, except partition dirs and parquet summary files). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The data schema Spark's parquet schema inference takes from one
    * file: the Spark row-metadata key of its footer, else the parquet
    * schema converted under the session's conf — the per-file step of
    * `ParquetFileFormat.mergeSchemasInParallel`, read here on the driver
    * with no job. */
  def parquetFileSchema(spark: org.apache.spark.sql.SparkSession,
                        file: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val sqlConf = state.conf
    val conf = state.newHadoopConf()
    val footer = new org.apache.parquet.hadoop.Footer(file.getPath,
      ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    // the converter mergeSchemasInParallel builds, from the same conf
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation))
  }
}
