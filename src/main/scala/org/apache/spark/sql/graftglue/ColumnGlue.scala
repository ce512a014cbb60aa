package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge between [[Column]] and Catalyst [[Expression]] for custom
  * expressions. Spark 4's `ExpressionUtils` is `private[sql]`, so this
  * one-file shim lives in the `org.apache.spark.sql` package namespace —
  * the conventional extension point for libraries shipping native
  * expressions (no Spark internals are modified).
  */
object ColumnGlue {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper — fine inside plans that Spark analyzes itself. */
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion to a pure catalyst expression tree. The lazy
    * wrapper keeps the non-serializable internal column node alive,
    * which poisons task closures of custom physical operators.
    */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Build a DataFrame from a custom logical plan (classic
    * `Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — what a
    * file-source read reports for any stored schema
    * (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The Spark schema of the parquet file `file`, read from its footer
    * on the driver and converted the way schema inference converts the
    * file it samples: a schema Spark stored in the footer wins, else the
    * parquet schema under the session's settings (nanos as long, NTZ
    * inference, binary as string).
    */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }
}
