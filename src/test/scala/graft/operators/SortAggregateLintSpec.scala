package graft.operators

import org.apache.spark.sql.execution.aggregate.SortAggregateExec

import graft.SparkSpec

/** Plan lint for one cost class: a keyed sort-based aggregate. Spark's
  * hash aggregate cannot hold a string, struct or array in its buffer, so
  * one `min` of a string column (or `first` of an array, `max` of a
  * struct) turns the whole aggregate into sort-then-aggregate, and every
  * row it groups is sorted on the aggregate's keys first. A no-key
  * aggregate never sorts (one group), so it passes. Walks the physical
  * plan of every catalog query, subqueries included. */
class SortAggregateLintSpec extends SparkSpec {

  /** The queries whose keyed sort aggregate is the honest shape, each with
    * why no hash aggregate can replace it. */
  private val allowed = Map(
    "q88_source_similarity" ->
      "min(mh) folds each (source, pos) slot of a string minhash signature",
    "q167_attribution" ->
      "min_by(event_type, event_id) carries the winning string in its buffer")

  test("no catalog query groups with a keyed sort aggregate outside the allowlist") {
    val keyed = CatalogPlanSpec.queryExecutions(sfDir).map { case (name, qe) =>
      name -> qe.executedPlan.collectWithSubqueries {
        case a: SortAggregateExec if a.groupingExpressions.nonEmpty => a
      }.size
    }.filter(_._2 > 0)
    val bad = keyed.filterNot { case (name, _) => allowed.contains(name) }
    assert(bad.isEmpty,
      s"keyed SortAggregate in ${bad.size} queries outside the allowlist " +
        s"(${keyed.size} in all): " + bad.map { case (n, c) => s"$n=$c" }.mkString(", "))
    val stale = allowed.keySet -- keyed.map(_._1)
    assert(stale.isEmpty, s"allowlisted queries that now hash-aggregate: $stale")
  }
}
