package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for graft's native Catalyst expressions.
  *
  * Two routes:
  *  - [[GraftExtensions]]: the public `SparkSessionExtensions` hook —
  *    `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  *    or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *  - [[GraftFunctions.register]]: imperative + idempotent, for sessions the
  *    caller didn't build (the driver hands `SparkEntry.queries` an existing
  *    session); query builders call it before using `graft_*` functions.
  */
object GraftFunctions {

  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct].getName,
      args => DotProduct(args(0), args(1))),
    ("graft_l2norm", classOf[L2Norm].getName,
      args => L2Norm(args(0))),
    ("graft_minhash_sig", classOf[MinHashSignature].getName,
      args => MinHashSignature(args(0),
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])),
    ("graft_rolling_hash", classOf[RollingHash].getName,
      args => RollingHash(args(0), args(1).eval().asInstanceOf[Int])),
    ("graft_nfc", classOf[NfcNormalize].getName,
      args => NfcNormalize(args(0))),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount].getName,
      args => SortedIntersectCount(args(0), args(1))),
    ("graft_hilbert", classOf[HilbertIndex].getName,
      args => HilbertIndex(args(0), args(1),
        args(2).eval().asInstanceOf[Int])),
    ("graft_shingles", classOf[Shingles].getName,
      args => Shingles(args(0), args(1).eval().asInstanceOf[Int])),
    ("graft_top_count", classOf[TopCount].getName,
      args => TopCount(args(0))),
    ("graft_nearest_centroid", classOf[NearestCentroid].getName,
      args => NearestCentroid(args(0), args(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, className, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) {
        registry.registerFunction(id, new ExpressionInfo(className, name), builder)
      }
    }
    // Skip the experimental append when the rule already reached the
    // optimizer some other way — a session built with [[GraftExtensions]]
    // carries it via injectOptimizerRule, and appending it again would run
    // the (idempotent but non-free) rewrite twice per plan.
    val optimizer = spark.sessionState.optimizer
    val alreadyActive =
      optimizer.extendedOperatorOptimizationRules.contains(graft.plans.CollapseNfcNormalize) ||
        spark.experimental.extraOptimizations.contains(graft.plans.CollapseNfcNormalize)
    if (!alreadyActive) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.CollapseNfcNormalize
    }
    // Same idempotence discipline for the as-of planner strategy: a session
    // built with [[GraftExtensions]] already carries it via
    // injectPlannerStrategy; only append on externally-built sessions.
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, className, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.CollapseNfcNormalize)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
