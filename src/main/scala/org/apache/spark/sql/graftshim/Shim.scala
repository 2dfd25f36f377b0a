package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column <-> Expression conversion (Spark 4
  * moved Column onto ColumnNode; the classic converter is package-
  * private). Lives in an org.apache.spark.sql subpackage purely for
  * access; no Spark internals are modified. */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode -> Expression conversion. `toExpression` defers
    * behind a `ColumnNodeExpression` wrapper that only the session's
    * analyzer unwraps — inside an injected SQL FunctionBuilder the
    * wrapper survives to codegen and throws Unevaluable. This runs the
    * classic converter immediately, yielding a plain Catalyst tree. */
  def toExpressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame over an already-resolved logical plan (private[sql] in
    * classic). Used by the MERGE rewrite to re-execute the statement's
    * source query as a plain frame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The physical plan with exchanges planned (EnsureRequirements
    * applied), unwrapped from the AQE adapter — AdaptiveSparkPlanExec
    * has no children, so a plain `collect` over `executedPlan` sees
    * nothing once AQE wraps the query. Used by plan-shape assertions
    * (scale guards). */
  def plannedPhysical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
}
