package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Shared plan-inspection helpers for the layout/bucketing specs — one
  * AQE-aware walker, so a Spark upgrade that changes
  * `AdaptiveSparkPlanExec`/`QueryStageExec` shapes is fixed in ONE place
  * instead of silently weakening whichever copied spec was missed. */
object PlanCheck {

  /** Every physical node of an EXECUTED plan, descending through AQE
    * wrappers and materialized query stages. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec => p +: walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }

  /** Shuffle-exchange count of `df`'s executed plan (run an action first
    * so AQE has materialized its stages). */
  def shuffles(df: DataFrame): Int =
    walk(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
}
