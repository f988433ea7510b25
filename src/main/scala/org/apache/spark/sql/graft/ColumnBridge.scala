package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters (Spark
  * 4 moved Column onto ColumnNode; `ExpressionUtils` is the classic-session
  * conversion point) and its plan → DataFrame constructor (`ofRows`, for
  * the compiler's cached query shapes). Lives under `org.apache.spark.sql`
  * solely for access — the one-liners keep graft's native Catalyst
  * expressions (e.g. [[graft.functions.DotProduct]]) in graft's own
  * namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** A DataFrame over an ANALYZED plan, which the analyzer then skips. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
