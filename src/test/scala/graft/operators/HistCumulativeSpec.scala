package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the two-level bucketed cumulative (histCumulative — the q211
  * bucket+offset-spine shape) to the naive single-window formulation it
  * replaced, over inputs that exercise every edge the bucket arithmetic
  * has: negative values, wide (decimal-requiring) ranges, null values
  * (the dedicated last bucket), a NULL GROUP KEY (the null-safe joins),
  * single-value groups (width degenerates to 1), and groups smaller than
  * the bucket count. */
class HistCumulativeSpec extends SparkSpec {

  private def naive(hist: org.apache.spark.sql.DataFrame): Seq[String] = {
    val wCum = Window.partitionBy(col("g")).orderBy(col("v").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(col("g"), col("v"), col("cnt"), col("cum"), col("n"))
      .collect().map(_.toString).sorted.toSeq
  }

  /** Forces the bucketed branch (adaptiveMax 0) so these tests keep
    * exercising the decomposition even though every spec-sized histogram
    * is far below the adaptive ceiling. */
  private def bucketed(hist: org.apache.spark.sql.DataFrame): Seq[String] =
    Relational.histCumulative(hist, "g", "v", adaptiveMax = 0)
      .select(col("g"), col("v"), col("cnt"), col("cum"), col("n"))
      .collect().map(_.toString).sorted.toSeq

  test("bucketed cumulative == windowed cumulative on a mixed-edge corpus") {
    import spark.implicits._
    val rows: Seq[(String, java.lang.Long)] = (0 until 6000).map { i =>
      val g = if (i % 97 == 0) null else s"g${i % 7}"
      val v: java.lang.Long =
        if (i % 53 == 0) null
        else if (i % 7 == 3) java.lang.Long.valueOf((i % 11).toLong - 5L)
        else if (i % 7 == 5) java.lang.Long.valueOf(
          (i.toLong * 1234567891011L) - 3500000000000000L)
        else java.lang.Long.valueOf(((i * 2654435761L) % 1000L) - 300L)
      (g, v)
    } ++ Seq[(String, java.lang.Long)](
      // single-value group (vmax == vmin → width 1, one bucket)
      ("solo", 42L), ("solo", 42L), ("solo", 42L),
      // all-null-value group (bounds row carries null min/max)
      ("nullv", null), ("nullv", null),
      // long-extreme endpoints (the DECIMAL(38,0) subtraction's reason)
      ("wide", java.lang.Long.MIN_VALUE / 2), ("wide", 0L),
      ("wide", java.lang.Long.MAX_VALUE / 2))
    val hist = rows.toDF("g", "v")
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    assert(bucketed(hist) == naive(hist))
  }

  test("rank walk over the bucketed cumulative picks the same quartiles") {
    import spark.implicits._
    val rows = (0 until 4000).map { i =>
      (s"g${i % 3}", ((i * 48271L) % 500L) - 100L)
    }
    val hist = rows.toDF("g", "v")
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val got = Relational.histRankWalk(hist, "g", "v",
        (1 to 3).map(k => s"q$k" -> s"($k * n + 3) div 4"), adaptiveMax = 0)
      .collect().map(_.toString).sorted.toSeq
    // JVM oracle: sort each group's expanded values, pick ceil(k·n/4)-th
    val expected = rows.groupBy(_._1).toSeq.map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      val qs = (1 to 3).map(k => sorted((k * n + 3) / 4 - 1))
      s"[$g,$n,${qs.mkString(",")}]"
    }.sorted
    assert(got == expected)
  }

  test("adaptive switch: small histograms take the one-window shape, " +
    "large the decomposition, with identical output") {
    import spark.implicits._
    val rows = (0 until 5000).map { i =>
      val g = if (i % 41 == 0) null else s"g${i % 5}"
      val v: java.lang.Long =
        if (i % 67 == 0) null
        else java.lang.Long.valueOf(((i * 2654435761L) % 900L) - 450L)
      (g, v)
    }
    val hist = rows.toDF("g", "v")
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    def plan(max: Long): (String, Seq[String]) = {
      val df = Relational.histCumulative(hist, "g", "v", adaptiveMax = max)
      (df.queryExecution.optimizedPlan.toString,
        df.select(col("g"), col("v"), col("cnt"), col("cum"), col("n"))
          .collect().map(_.toString).sorted.toSeq)
    }
    val (smallPlan, smallOut) = plan(1L << 20) // under ceiling
    val (bigPlan, bigOut) = plan(0)            // over ceiling
    // the decomposition is recognizable by its bucket column; the
    // one-window shape must not contain it
    assert(!smallPlan.contains("_bkt"), "small histogram took the bucketed branch")
    assert(bigPlan.contains("_bkt"), "forced-bucketed branch not taken")
    assert(smallOut == bigOut)
    assert(smallOut.nonEmpty)
  }

  test("adaptiveMax <= 0 is an airtight bucketed override: no probe count " +
    "job runs, and an EMPTY histogram still takes the decomposition") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val df = Relational.histCumulative(empty, "g", "v", adaptiveMax = 0)
    // construction must not schedule the count() probe under the override
    assert(sc.statusTracker.getJobIdsForGroup(null).length == before,
      "force-bucketed override still paid a probe count job")
    // 0 rows <= adaptiveMax 0 must NOT route the empty histogram into
    // the windowed branch — the override is absolute, not a size comparison
    assert(df.queryExecution.optimizedPlan.toString.contains("_bkt"),
      "empty histogram slipped into the windowed branch under the override")
    assert(df.count() == 0)
  }
}
