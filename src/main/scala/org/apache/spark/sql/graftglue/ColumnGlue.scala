package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

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
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
