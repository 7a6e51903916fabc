package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Spark 4 removed the public Column ↔ Expression conversion (the Connect
  * refactor made `Column` wrap a ColumnNode), and the DataFrame of a
  * logical plan is built only by `classic.Dataset.ofRows`; both live in
  * `private[sql]` code. This bridge re-exports just those three: the
  * Column ↔ Expression pair for graft's custom Catalyst expressions, and
  * `ofRows` for the changelog sinks, which start a rewritten plan of the
  * caller's DataFrame. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(session), plan)
}
