package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the package-private Column <-> Expression conversions: the
  * one way graft's native Catalyst expressions enter the DataFrame API.
  * Each operator builds its kernel as an expression over the argument
  * columns' expressions (non-column parameters such as a plane matrix
  * baked in), so the kernel needs no per-session function registration
  * and resolves in any session. Living in `org.apache.spark.sql` is the
  * standard technique extension libraries use to reach `private[sql]`
  * surface. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an (already analyzed) logical plan as a DataFrame, REUSING the
    * given tree — so node tags set on it (e.g. the GateHoist passthrough
    * contract) survive into downstream plans built on the frame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
