package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x decoupled `Column` from `Expression` (column-node API); the
  * supported conversion lives in `org.apache.spark.sql.classic` behind
  * `private[sql]`. This shim (in a subpackage of `org.apache.spark.sql`)
  * re-exports just the two conversions graft's custom expressions need.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The input-type vocabulary of Catalyst's `ExpectsInputTypes`, which
    * Spark keeps `private[sql]`: `inputTypes` is a Seq[AbstractDataType];
    * a TypeCollection accepts any one of its types, NumericType any
    * numeric type. */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
  def TypeCollection(types: AbstractDataType*): AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(types: _*)
  val NumericType: AbstractDataType = org.apache.spark.sql.types.NumericType

  /** try_cast as a Column op (null on failure even under ANSI mode —
    * Spark 4 has no `Column.try_cast`). */
  def tryCast(c: Column, to: org.apache.spark.sql.types.DataType): Column =
    column(org.apache.spark.sql.catalyst.expressions.Cast(
      expression(c), to, None,
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))

  /** Analyzed logical plan of a DataFrame (for composing custom nodes). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** DataFrame from a logical plan (custom operator entry point). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a Catalyst expression builder under `name` for SQL use. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
