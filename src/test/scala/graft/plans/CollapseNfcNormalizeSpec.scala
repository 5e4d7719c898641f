package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

class CollapseNfcNormalizeSpec extends SparkSpec {

  private def nfc(c: org.apache.spark.sql.Column) =
    call_function("graft_nfc", c)

  // inputs derive from range() so constant folding cannot pre-evaluate the
  // expression out of the plan before the rule is observable
  private def base = spark.range(2)
    .select(concat(lit("café"), col("id").cast("string")).as("s"))

  test("nested NFC applications collapse to one in the optimized plan") {
    GraftFunctions.register(spark) // installs the rule imperatively
    val df = base.select(nfc(nfc(nfc(col("s")))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val occurrences = "graft_nfc".r.findAllIn(optimized).length
    assert(occurrences == 1, s"expected 1 graft_nfc, plan:\n$optimized")
    // semantics preserved: combining marks folded once, suffix intact
    assert(df.orderBy("n").head().getString(0) == "café0")
  }

  test("a single application is left untouched") {
    GraftFunctions.register(spark)
    val df = base.select(nfc(col("s")).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("graft_nfc".r.findAllIn(optimized).length == 1)
  }

  test("imperative registration is idempotent (one rule instance)") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ eq CollapseNfcNormalize) == 1)
  }
}
