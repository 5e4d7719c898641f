package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway graft needs, for what Spark keeps
  * package-private to `org.apache.spark.sql`:
  *  - a hand-built [[LogicalPlan]] (the [[graft.plans.AsOfJoinPlan]] node)
  *    back into a user-facing DataFrame (`Dataset.ofRows`);
  *  - a native Catalyst [[Expression]] (the `graft.functions` kernels) to
  *    and from a user-facing [[Column]] (`ExpressionUtils`), so a Column
  *    helper can build a kernel directly, with no function-registry lookup.
  *  - Spark's DIVIDE_BY_ZERO error, so a kernel that folds a division
  *    ([[graft.functions.NearestCentroid]]) fails the way `Divide` does.
  *  - the `private[spark]` listener bus, drained so [[graft.Shape]] reads
  *    its totals after every event of the metered body was delivered.
  * This object lives in a subpackage — the standard pattern Spark
  * extension libraries use for custom-operator entry points. Nothing else
  * in the repo reaches into Spark internals' private surface. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(expr: Expression): Column = classic.ExpressionUtils.column(expr)

  def expression(col: Column): Expression = classic.ExpressionUtils.expression(col)

  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
