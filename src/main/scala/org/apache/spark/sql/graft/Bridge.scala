package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression bridge. Spark 4's Column wraps a
  * ColumnNode rather than an Expression; the classic converters are
  * private[sql], so this one-file subpackage exposes them to graft for
  * registering native codegen expressions (graft.functions.*) without a
  * SparkSessionExtensions round-trip. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan (e.g. [[AsOfJoinPlan]]) as a DataFrame —
    * classic Dataset.ofRows is private[sql]. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for building custom
    * plan nodes from resolved child attributes). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Block until the listener bus has delivered every posted event
    * (`listenerBus` is private[spark]). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
