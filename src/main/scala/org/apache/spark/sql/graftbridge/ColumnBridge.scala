package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made `Column` expression-agnostic (ColumnNode-backed) and
  * the classic converters `private[sql]`; third-party native
  * expressions need this one-hop shim in an `org.apache.spark.sql`
  * subpackage — the same access trick every Spark extension library
  * uses. Keep ALL private-API contact confined to this file.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** The QueryExecution a finished SQL execution ran (null on events
    * replayed from a log).
    */
  def queryExecution(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.QueryExecution] = Option(e.qe)
}
