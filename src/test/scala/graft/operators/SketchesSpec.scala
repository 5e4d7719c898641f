package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val counts = Seq(
    ("alpha", 100L), ("beta", 50L), ("gamma", 25L), ("delta", 12L),
    ("epsilon", 6L), ("zeta", 3L), ("eta", 2L), ("theta", 1L))
    .toDF("term", "n")

  test("CMS never underestimates, and min-over-rows tightens the bound") {
    val est = Sketches.cmsEstimates(counts).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(est.size == 8)
    est.foreach { case (term, (n, e)) =>
      assert(e >= n, s"$term underestimated: $e < $n")
    }
    // per-row estimates are each >= the final min-over-rows estimate
    val table = Sketches.cmsTable(counts).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    est.foreach { case (term, (_, e)) =>
      val perRow = (0 until Sketches.Depth).map { r =>
        val b = counts.filter(col("term") === term)
          .select(Sketches.cmsBucket(col("term"), lit(r))).head().getLong(0)
        table((r, b))
      }
      assert(perRow.min == e, s"$term: min(${perRow.mkString(",")}) != $e")
    }
  }

  test("q121: heavy hitters equal the exact census; MG pass never loses a heavy key") {
    val out = Sketches.queries("q121_heavy_hitters")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.load(spark, sfDir, "events")
      .select("user_id").collect()
      .map(_.getAs[Number](0).longValue.toString)
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val total = exact.values.sum
    val expected = exact.filter { case (_, n) => n * (Sketches.MgK + 1) > total }
    assert(out.keySet == expected.keySet)
    out.foreach { case (k, (n, t)) => assert(n == exact(k) && t == total) }

    // MG guarantee under forced eviction + arbitrary merge splits: 3·MgK
    // distinct light keys (eviction is constant) plus two heavy ones; any
    // chunking of the stream, reduced then merged in order, must retain
    // every key with count > total/(MgK+1).
    val heavy = Seq.fill(900)("hot1") ++ Seq.fill(400)("hot2")
    val light = (0 until 3 * Sketches.MgK).flatMap(i => Seq.fill(3)(s"u$i"))
    val stream = scala.util.Random.shuffle((heavy ++ light).toVector)
    val n = stream.size.toLong
    for (chunks <- Seq(1, 4, 13)) {
      val summary = stream.grouped(math.max(1, stream.size / chunks)).toSeq
        .map(_.foldLeft(Sketches.MgAggregate.zero)(Sketches.MgAggregate.reduce))
        .reduce(Sketches.MgAggregate.merge)
      assert(summary.size <= Sketches.MgK)
      val trueCounts = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      trueCounts.filter { case (_, c) => c * (Sketches.MgK + 1) > n }
        .keys.foreach(k => assert(summary.contains(k), s"$k lost at $chunks chunks"))
    }
  }

  test("q119: CMS self-join-size estimate equals a JVM recompute and is sound") {
    val out = Sketches.queries("q119_join_estimate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L until Sketches.Depth).toSeq)
    val counts = graft.Tables.load(spark, sfDir, "events")
      .select("user_id").collect()
      .map(_.getAs[Number](0).longValue.toString)
      .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val bsum = Array.ofDim[Long](Sketches.Depth, Sketches.Width)
    counts.foreach { case (k, n) =>
      (0 until Sketches.Depth).foreach(r => bsum(r)(SketchTwins.bucketOf(k, r)) += n)
    }
    val rowEst = (0 until Sketches.Depth)
      .map(r => bsum(r).map(b => b * b).sum)
    val exact = counts.values.map(n => n * n).sum
    out.foreach { case (r, est, minEst, ex, sound) =>
      assert(est == rowEst(r.toInt) && ex == exact && minEst == rowEst.min && sound,
        s"row $r")
      // soundness is structural, not observed luck: every row overestimates
      assert(est >= ex)
    }
  }

  test("sketch size is Depth x Width regardless of vocabulary") {
    val big = spark.range(0, 2000)
      .select(concat(lit("w"), col("id")).as("term"), lit(1L).as("n"))
    val table = Sketches.cmsTable(big)
    assert(table.count() <= Sketches.Depth * Sketches.Width)
    // total mass per hash row is conserved (each row sees every increment)
    val mass = table.groupBy(col("r")).agg(sum(col("bsum")).as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(mass == Set(2000L))
  }

  test("estimates are exact when no bucket collides") {
    // two terms in a 4x16 sketch: collision in any row is unlikely but not
    // impossible — pick terms verified to not collide in any hash row
    val tiny = Seq(("alpha", 10L), ("beta", 20L)).toDF("term", "n")
    val collides = (0 until Sketches.Depth).exists { r =>
      val bs = Seq("alpha", "beta").map(t =>
        tiny.filter(col("term") === t)
          .select(Sketches.cmsBucket(col("term"), lit(r))).head().getLong(0))
      bs.distinct.size == 1
    }
    val est = Sketches.cmsEstimates(tiny).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    if (!collides) {
      assert(est("alpha") == ((10L, 10L, true)))
      assert(est("beta") == ((20L, 20L, true)))
    } else {
      // degenerate draw: still bounded
      est.values.foreach { case (n, e, _) => assert(e >= n) }
    }
  }

  test("the sketch plan broadcasts the table, never shuffles it twice") {
    val q = Sketches.cmsEstimates(counts)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("Bloom filter: no false negatives, fixed size, merge law") {
    val inserted = (0 until 500).map(i => s"gram $i of the benchmark")
    val onePass = inserted.foldLeft(Sketches.BloomAggregate.zero)(
      Sketches.BloomAggregate.reduce)
    assert(onePass.length == Sketches.BloomWords)
    // THE bloom property: every inserted element tests positive
    inserted.foreach(x => assert(SketchTwins.bloomContains(onePass, x)))
    // chunked reduce + word-wise OR merge == one-pass (partial-agg law)
    val merged = inserted.grouped(97)
      .map(c => c.foldLeft(Sketches.BloomAggregate.zero)(Sketches.BloomAggregate.reduce))
      .reduce(Sketches.BloomAggregate.merge)
    assert(onePass.sameElements(merged))
    // at 500 elements x 4 hashes in 4096 bits, absent keys mostly miss —
    // and any that hit are exactly the dialed FP behavior, not corruption
    val absentHits = (0 until 500)
      .count(i => SketchTwins.bloomContains(onePass, s"unseen $i"))
    assert(absentHits < 250, s"FP rate implausible: $absentHits/500")
  }

  test("histogram aggregate: merge law, fixed size, matches the q74 bucket agg") {
    val lo = 0.0; val hi = 100.0
    val agg = new SketchTwins.HistogramAggregate(lo, hi)
    val values = (0 until 5000).map(i => (i * 37 % 9973) / 99.73)
    val onePass = values.foldLeft(agg.zero)(agg.reduce)
    assert(onePass.length == Sketches.HistBuckets)
    assert(onePass.sum == values.length.toLong)
    // chunked reduce + cell-wise-add merge == one pass (partial-agg law)
    val merged = values.grouped(313)
      .map(c => c.foldLeft(agg.zero)(agg.reduce))
      .reduce(agg.merge)
    assert(onePass.sameElements(merged))
    // the declarative groupBy histogram and the typed accumulator agree
    val viaGroupBy = values.toDF("value")
      .select(Sketches.histBucket(col("value"), lit(lo), lit(hi)).as("idx"))
      .groupBy(col("idx")).count()
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    onePass.zipWithIndex.foreach { case (n, i) =>
      assert(viaGroupBy.getOrElse(i, 0L) == n, s"bucket $i: $n")
    }
  }

  test("histogram saturates out-of-range values into edge buckets") {
    // the streaming deployment dials [lo, hi) from a profiling pass; live
    // data outside the dialed range must degrade, never crash
    val agg = new SketchTwins.HistogramAggregate(0.0, 10.0)
    val cells = List(-5.0, -0.001, 0.0, 9.99, 10.0, 1e9)
      .foldLeft(agg.zero)(agg.reduce)
    assert(cells(0) == 3L, "below-range + exact-lo land in bucket 0")
    assert(cells(Sketches.HistBuckets - 1) == 3L,
      "at-hi + above-range land in the last bucket")
    assert(cells.sum == 6L)
  }

  test("q74: exact percentile lands in the sketch-selected bucket, every p") {
    val rows = Sketches.queries("q74_quantile_hist")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(rows.map(_._1).sorted.toSeq == Sketches.HistPercentiles.map(_.toLong))
    rows.foreach { case (p, qidx, estLo, estHi, exact, boundOk) =>
      assert(boundOk, s"p$p: exact $exact outside bucket $qidx")
      assert(estLo <= exact && exact <= estHi,
        s"p$p: exact $exact not in [$estLo, $estHi]")
      assert(estHi - estLo > 0, s"p$p: degenerate bucket width")
    }
    // quantile estimates are monotone in p
    val byP = rows.sortBy(_._1)
    byP.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"bucket index not monotone: p${a._1} -> p${b._1}")
    }
  }

  test("q80: per-group sketch quantiles hold the bucket bound in every group") {
    val rows = Sketches.queries("q80_group_quantiles")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    val groups = rows.map(_._1).distinct
    assert(groups.size >= 2, s"need multiple groups, got $groups")
    groups.foreach { g =>
      assert(rows.count(_._1 == g) == 3, s"$g must carry p50/p90/p99")
    }
    rows.foreach { case (g, p, estLo, estHi, exact, boundOk) =>
      assert(boundOk, s"$g p$p: exact $exact outside its bucket")
      assert(estLo <= exact && exact <= estHi, s"$g p$p bound violated")
    }
  }

  test("histogram is streaming state: MemoryStream replay == batch cells") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val values = graft.Tables.load(s, sfDir, "events")
      .select(col("value")).as[Double].collect()
    val lo = values.min; val hi = values.max
    val agg = new SketchTwins.HistogramAggregate(lo, hi)
    val batchCells = values.foldLeft(agg.zero)(agg.reduce)

    val mem = MemoryStream[Double]
    val q = mem.toDS().toDF("value")
      .agg(udaf(agg, org.apache.spark.sql.Encoders.scalaDouble)(col("value"))
        .as("cells"))
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    val streamedCells =
      try {
        values.grouped((values.length + 3) / 4)
          .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
        s.table("hist_stream").collect().head.getSeq[Long](0).toArray
      } finally q.stop()
    assert(streamedCells.sameElements(batchCells),
      "streaming histogram state diverged from the batch fold")
  }

  test("per-key histogram is streaming state: grouped replay == batch folds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val rows = graft.Tables.load(s, sfDir, "events")
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    // fixed dialed range (the streaming deployment's profiling-pass output)
    val agg = new SketchTwins.HistogramAggregate(0.0, 500.0)
    val batchCells: Map[String, Array[Long]] = rows.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).foldLeft(agg.zero)(agg.reduce) }

    val mem = MemoryStream[(String, Double)]
    val q = mem.toDS().toDF("event_type", "value")
      .groupBy(col("event_type"))
      .agg(udaf(agg, org.apache.spark.sql.Encoders.scalaDouble)(col("value"))
        .as("cells"))
      .writeStream.format("memory").queryName("hist_grouped_stream")
      .outputMode("complete").start()
    val streamed =
      try {
        rows.grouped((rows.length + 2) / 3)
          .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
        s.table("hist_grouped_stream").collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      } finally q.stop()
    assert(streamed.keySet == batchCells.keySet)
    streamed.foreach { case (k, cells) =>
      assert(cells.sameElements(batchCells(k)), s"group $k diverged")
    }
  }

  test("hll: typed aggregator registers == q107 column-expression registers") {
    // The q107 pipeline computes registers with portable SQL expressions;
    // HllAggregate computes them JVM-side. Same md5, same hex walk — the
    // sketches must agree register-for-register, so the typed/streaming
    // path and the oracle-gated path can never drift apart.
    val tk = graft.Tables.load(spark, sfDir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val typed: Map[String, Array[Long]] = tk.groupBy(col("source"))
      .agg(udaf(SketchTwins.HllAggregate, org.apache.spark.sql.Encoders.STRING)(
        col("term")).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val fromQuery = Sketches.queries("q107_hll_distinct")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    assert(typed.keySet == fromQuery.keySet)
    typed.foreach { case (src, regs) =>
      val (nExact, vZero, sumPow, rawEst, estOk) = fromQuery(src)
      assert(regs.count(_ == 0L) == vZero, s"$src zero-register mismatch")
      assert(SketchTwins.hllSumPow(regs.toIndexedSeq) == sumPow,
        s"$src harmonic-sum mismatch")
      assert(SketchTwins.hllEstimate(sumPow) == rawEst, s"$src estimate mismatch")
      // gated flag agrees with a JVM recompute of the same expression
      assert(estOk == (rawEst <= 2.5 * Sketches.HllRegisters ||
        math.abs(rawEst - nExact) <= 0.4 * nExact))
      // estimate quality: the CORRECTED estimate (linear counting in the
      // small range — the reader-side rule) is within 40% on every source
      val corrected = SketchTwins.hllCorrected(sumPow, vZero)
      assert(math.abs(corrected - nExact) <= 0.4 * nExact,
        s"$src corrected estimate $corrected too far from exact $nExact")
    }
  }

  test("q222: rolling register merge == direct sketch of each window's user union") {
    // The union law is the whole point: max-merging the last 7 days'
    // sketches must yield EXACTLY the sketch of the union of those days'
    // user sets. Recompute both sides in the JVM via HllAggregate's own
    // fold and compare the query's harmonic sums / estimates bit-for-bit.
    val act = graft.Tables.load(spark, sfDir, "events")
      .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
        col("user_id").cast("string").as("term"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDay = act.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (mind, maxd) = (act.map(_._1).min, act.map(_._1).max)
    val exactRolling = (mind to maxd).map { day =>
      day -> (math.max(mind, day - 6) to day)
        .flatMap(dd => byDay.getOrElse(dd, Set.empty)).toSet
    }.filter(_._2.nonEmpty).toMap
    val got = Sketches.queries("q222_hll_rolling_uniques")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(got.keySet == exactRolling.keySet)
    got.foreach { case (day, (nExact, vZero, sumPow, rawEst, estOk)) =>
      val union = exactRolling(day)
      assert(nExact == union.size.toLong, s"day $day exact-audit mismatch")
      // direct sketch of the union set == the query's rolled registers
      val regs = union.toSeq.sorted
        .foldLeft(SketchTwins.HllAggregate.zero)(SketchTwins.HllAggregate.reduce)
      assert(regs.count(_ == 0L).toLong == vZero, s"day $day v_zero")
      assert(SketchTwins.hllSumPow(regs.toIndexedSeq) == sumPow, s"day $day sum_pow")
      assert(SketchTwins.hllEstimate(sumPow) == rawEst, s"day $day raw_est")
      assert(estOk == (rawEst <= 2.5 * Sketches.HllRegisters ||
        math.abs(rawEst - nExact) <= 0.4 * nExact))
      // reader-side corrected estimate stays inside the 40% audit band
      val corrected = SketchTwins.hllCorrected(sumPow, vZero)
      assert(math.abs(corrected - nExact) <= 0.4 * nExact,
        s"day $day corrected $corrected vs exact $nExact")
    }
  }

  test("hll: streaming registers == batch fold (state-store merge law live)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 300).map(i => (s"src${i % 3}", s"tok${i % 87}"))
    val batch: Map[String, Array[Long]] = rows.groupBy(_._1)
      .map { case (k, vs) =>
        k -> vs.map(_._2).foldLeft(SketchTwins.HllAggregate.zero)(
          SketchTwins.HllAggregate.reduce)
      }
    val mem = MemoryStream[(String, String)]
    val q = mem.toDS().toDF("source", "term")
      .groupBy(col("source"))
      .agg(udaf(SketchTwins.HllAggregate, org.apache.spark.sql.Encoders.STRING)(
        col("term")).as("regs"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    val streamed =
      try {
        rows.grouped(100).foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
        spark.table("hll_stream").collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      } finally q.stop()
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, regs) =>
      assert(regs.sameElements(batch(k)), s"source $k registers diverged")
    }
  }

  test("bloom decontamination never misses a true contamination (q57 vs q71)") {
    val exact = Curation.queries("q57_decontam")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val bloom = Curation.queries("q71_bloom_decontam")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(bloom.keySet == exact.keySet)
    // no false negatives: everything q57 flags, q71 flags
    val missed = exact.collect { case (id, true) if !bloom(id) => id }
    assert(missed.isEmpty, s"bloom missed true contaminations: $missed")
    // and the broadcast side is the fixed-size words array, not a gram set
    val plan = Curation.queries("q71_bloom_decontam")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(800))
  }
}
