package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)`/`col.expr` bridge; the
  * supported path for libraries shipping native Catalyst expressions is
  * `sql.classic.ExpressionUtils`, which is `private[sql]`. This shim
  * re-exports the two conversions graft.functions needs, and the
  * plan-to-frame wrap behind `graft.pipeline.LocalPath.emit`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a LogicalPlan as a DataFrame (classic.Dataset.ofRows is
    * `private[sql]`): how a driver path's rows, already in Spark's
    * internal form, become a frame over a `LocalRelation` without a
    * second conversion.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
