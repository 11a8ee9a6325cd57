package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]`-access bridge for the two integration points
  * Spark does not expose publicly for libraries that add their own
  * Catalyst nodes: a custom resolved [[LogicalPlan]] (graft.plans.*) as a
  * DataFrame through the session's normal analyzer/optimizer/planner
  * pipeline, and a custom [[Expression]] (graft.sqlext.*) as a Column
  * (and back), so an operator builds its `cs_*` expression directly
  * instead of looking it up by name in a session's function registry.
  * Everything else in graft stays on the public API.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
