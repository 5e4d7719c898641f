package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}

import graft.SparkSpec

/** Plan lint for one defect class: a `split` inside a higher-order
  * function's lambda body. Spark evaluates a lambda's outer references
  * again on every call, so such a split re-tokenizes the whole text once
  * per array element — O(n²) string work per document where O(n) would do
  * (the q72 top counts and the old Column-built shingles both had it). The
  * fix is to split once outside the lambda, or to use a native kernel
  * (`graft.functions.Shingles`, `TopCount`). Walks the optimized plan of
  * every catalog query, subqueries included. */
class LambdaSplitLintSpec extends SparkSpec {

  /** StringSplit nodes that sit inside some lambda body of `e`. */
  private def lambdaSplits(e: Expression, inLambda: Boolean = false): Int = e match {
    case l: LambdaFunction => lambdaSplits(l.function, inLambda = true)
    case s: StringSplit if inLambda => 1 + s.children.map(lambdaSplits(_, inLambda)).sum
    case other => other.children.map(lambdaSplits(_, inLambda)).sum
  }

  test("no catalog query splits text inside a lambda body") {
    val counts = CatalogPlanSpec.queryExecutions(sfDir).map { case (name, qe) =>
      name -> qe.optimizedPlan.collectWithSubqueries { case p => p }
        .flatMap(_.expressions).map(lambdaSplits(_)).sum
    }.filter(_._2 > 0)
    assert(counts.isEmpty,
      s"${counts.map(_._2).sum} lambda-bodied split(s) in ${counts.size} queries: " +
        counts.map { case (n, c) => s"$n=$c" }.mkString(", "))
  }
}
