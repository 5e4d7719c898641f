package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native as-of operator: semantics on constructed corners the merge
  * loop must get right, agreement with the composed q48 plan AND the
  * DuckDB-oracle-gated q183 on real data, and the physical shape (custom
  * node present, exactly one shuffle per side). */
class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def leftDf(rows: (Long, Long)*) =
    rows.toDF("k", "t_us").select(col("k"),
      timestamp_micros(col("t_us")).as("t"))

  private def rightDf(rows: (Long, Long, Double)*) =
    rows.toDF("rk", "rt_us", "v").select(col("rk"),
      timestamp_micros(col("rt_us")).as("rt"), col("v"))

  private def run(l: org.apache.spark.sql.DataFrame,
                  r: org.apache.spark.sql.DataFrame) =
    AsOfJoinPlan.asofJoin(l, r, "k", "rk", "t", "rt")
      .select(col("k"), unix_micros(col("t")).as("t"), col("v"))
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toSet

  test("backward match, ties, misses, and cross-key isolation") {
    val l = leftDf((1L, 100L), (1L, 200L), (1L, 50L), (2L, 100L), (3L, 100L))
    val r = rightDf((1L, 100L, 1.0), (1L, 150L, 2.0), (2L, 300L, 9.0))
    assert(run(l, r) == Set(
      (1L, 50L, None),          // before every right row
      (1L, 100L, Some(1.0)),    // tie at equal time matches
      (1L, 200L, Some(2.0)),    // latest <= wins, not first
      (2L, 100L, None),         // right exists but only later
      (3L, 100L, None)))        // key absent from right
  }

  test("null keys and null times never match; right nulls are skipped") {
    val l = Seq((Some(1L), Some(100L)), (None, Some(100L)), (Some(1L), None))
      .toDF("k", "t_us").select(col("k"), timestamp_micros(col("t_us")).as("t"))
    val r = Seq((Some(1L), Some(10L), 1.0), (None, Some(5L), 8.0),
        (Some(1L), None, 9.0))
      .toDF("rk", "rt_us", "v").select(col("rk"),
        timestamp_micros(col("rt_us")).as("rt"), col("v"))
    val out = AsOfJoinPlan.asofJoin(l, r, "k", "rk", "t", "rt")
      .select(col("k"), col("t"), col("v")).collect()
    assert(out.length == 3)
    val matched = out.filter(!_.isNullAt(2))
    assert(matched.length == 1 && matched(0).getLong(0) == 1L &&
      matched(0).getDouble(2) == 1.0)
  }

  test("empty right side leaves every left row unmatched") {
    val l = leftDf((1L, 100L), (2L, 200L))
    val r = rightDf().filter(lit(false))
    assert(run(l, r) == Set((1L, 100L, None), (2L, 200L, None)))
  }

  test("skewed key streams: one key, many rows, interleaved matches") {
    val l = leftDf((0 until 1000).map(i => (7L, i * 10L)): _*)
    val r = rightDf((0 until 100).map(i => (7L, i * 100L + 5L,
      i.toDouble)): _*)
    val got = run(l, r)
    assert(got.size == 1000)
    got.foreach { case (_, t, v) =>
      val expect = if (t < 5L) None
      else Some(math.min((t - 5L) / 100L, 99L).toDouble)
      assert(v == expect, s"t=$t")
    }
  }

  test("q183 native rows equal the composed q48 rows on the testdata") {
    val a = graft.operators.Relational.queries("q183_asof_native")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val b = graft.operators.Relational.queries("q48_asof_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("plan: native node present, exactly one exchange per side, key-clustered") {
    val df = graft.operators.Relational.queries("q183_asof_native")(spark, sfDir)
    val nRows = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan
    val asof = collectWithSubqueries(plan) { case a: AsOfJoinExec => a }
    assert(asof.length == 1, s"expected the native operator in:\n$plan")
    val shuffles = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 2,
      s"as-of must cost exactly one shuffle per side, got ${shuffles.length}")
    shuffles.foreach { s =>
      assert(s.outputPartitioning.toString.contains("user_id") ||
        s.outputPartitioning.toString.contains("cal_user"),
        s"shuffle not keyed by the join key: ${s.outputPartitioning}")
    }
    // operator metrics populated like a built-in join's
    val m = asof.head.metrics
    assert(m("numOutputRows").value == nRows)
    assert(m("numMatchedRows").value > 0 &&
      m("numMatchedRows").value <= nRows)
  }
}
