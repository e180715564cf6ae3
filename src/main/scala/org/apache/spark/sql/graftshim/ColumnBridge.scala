package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Catalyst Expression bridge.
  *
  * Spark 4 made `Column` implementation-agnostic: the
  * Expression-backed constructor and accessor moved behind
  * `private[sql] classic.ExpressionUtils`. Custom native expressions
  * (graft.functions.*) still need both directions, so this one-file
  * shim lives in the sql package to re-export them. No Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (attribute resolution for
    * plan-level operators).
    */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a raw logical plan (the inverse of [[analyzed]]). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The query-execution listeners registered on a session now. */
  def queryListeners(spark: SparkSession): Seq[org.apache.spark.sql.util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
