package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-shape and semantics checks for the relational catalog: the DuckDB
  * oracle proves values; these prove the PLANS are the ones that survive
  * scale — filters reach the parquet scan, projections prune the read
  * schema, small dimensions broadcast. */
class RelationalSpec extends SparkSpec {

  private def plan(name: String): String =
    Relational.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: predicates are pushed to the parquet scan, columns pruned") {
    val p = plan("q01_filter_project")
    // (the toString truncates the filter list; assert on the visible prefix)
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(800))
    assert(p.contains("LessThan(l_shipdate"), p.take(800))
    // projection pruning: the scan must not read all 16 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_suppkey"),
      readSchema)
  }

  test("q03: small dimension join is a broadcast join") {
    assert(plan("q03_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q130: golden record survives a null latest value; equals a JVM recompute") {
    val s0 = spark
    import s0.implicits._
    // constructed history: user 1's LATEST value is null — survivorship
    // must surface 2.0 (the last non-null), while last_event_type is "c"
    val ts = (m: Int) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    val hand = Relational.goldenRecord(Seq(
        (1L, ts(1), 10L, "a", Some(1.0)),
        (1L, ts(2), 11L, "b", Some(2.0)),
        (1L, ts(3), 12L, "c", None: Option[Double]),
        (2L, ts(1), 20L, "b", Some(7.0)))
      .toDF("user_id", "ts", "event_id", "event_type", "value"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4),
        Option(r.get(5)).map(_.asInstanceOf[Double]), r.getString(6)))
    assert(hand.toSeq == Seq(
      (1L, 3L, "c", Some(2.0), "a"), // modal tie a/b/c ×1 → "a" (name asc)
      (2L, 1L, "b", Some(7.0), "b")))

    val out = Relational.queries("q130_golden_record")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getString(4), r.getDouble(5), r.getString(6)))
      .toMap
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    def mic(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val expected = events.groupBy(_._1).map { case (uid, evs) =>
      val desc = evs.sortBy(e => (-mic(e._2), -e._3)).toList
      val modal = evs.groupBy(_._4).toSeq
        .sortBy { case (et, v) => (-v.length, et) }.head._1
      // testdata values are never null, so latest == latest-non-null here;
      // the constructed case above exercises the null-skipping rule
      uid -> (evs.length.toLong, evs.minBy(e => mic(e._2))._2,
        desc.head._2, desc.head._4, desc.head._5, modal)
    }
    assert(out == expected)
  }

  test("q207: RFM segments equal a sequential quartile recompute; census covers all customers") {
    val out = Relational.queries("q207_rfm_segments")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = graft.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_custkey", "cast(o_orderdate as date) as d",
        "cast(cast(o_totalprice as decimal(18,2)) * 100 as long) as cents")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val maxd = orders.map(_._2).max
    val cust = orders.groupBy(_._1).map { case (c, os) =>
      (c, java.time.temporal.ChronoUnit.DAYS.between(os.map(_._2).max, maxd),
        os.size.toLong, os.map(_._3).sum)
    }.toSeq
    def quartileCode(vs: Seq[Long]): Long => Long = {
      val sorted = vs.sorted
      val n = sorted.length
      val cuts = (1 to 3).map(k => sorted((k * n + 3) / 4 - 1))
      v => 1L + cuts.count(v > _)
    }
    val (rc, fc, mc) = (quartileCode(cust.map(_._2)),
      quartileCode(cust.map(_._3)), quartileCode(cust.map(_._4)))
    val expected = cust.groupBy { case (_, r, f, m) =>
      s"R${rc(r)}F${fc(f)}M${mc(m)}"
    }.map { case (seg, vs) => seg -> (vs.size.toLong, vs.map(_._4).sum) }
    assert(out == expected)
    assert(out.values.map(_._1).sum == cust.size.toLong)
  }

  test("q209: daily percentiles equal a sequential sorted recompute; monotone p50<=p95<=p99") {
    val out = Relational.queries("q209_daily_percentiles")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_type", "cast(ts as date) as day", "value").collect()
      .map(r => ((r.getString(0), r.getDate(1).toString),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
    val expected = rows.groupBy(_._1).map { case (k, v) =>
      val cs = v.map(_._2).sorted
      val n = cs.length
      def p(q: Int) = cs((q * n + 99) / 100 - 1)
      k -> (n.toLong, p(50), p(95), p(99))
    }
    assert(out == expected)
    out.values.foreach { case (_, p50, p95, p99) =>
      assert(p50 <= p95 && p95 <= p99)
    }
  }

  test("q128: equal-frequency bins equal a JVM percentile recompute; near-uniform") {
    val out = Relational.queries("q128_eqfreq_bins")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val rows = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
    val expected = rows.groupBy(_._1).flatMap { case (rf, v) =>
      val cs = v.map(_._2).sorted
      val n = cs.length
      val cuts = (1 to 9).map(k => cs((k * n + 9) / 10 - 1))
      val binned = v.map { case (_, c) => (1 + cuts.count(c > _)).toLong -> c }
      binned.groupBy(_._1).map { case (bin, bs) =>
        (rf, bin) -> (bs.length.toLong, bs.map(_._2).min, bs.map(_._2).max)
      }
    }
    assert(out == expected)
    // equal-population contract: each of the 10 bins holds n/10 ± tie mass;
    // with distinct-heavy cents the deviation stays under 2% of the group
    out.toSeq.groupBy(_._1._1).foreach { case (_, bins) =>
      assert(bins.map(_._1._2).toSet == (1L to 10L).toSet)
      val tot = bins.map(_._2._1).sum
      bins.foreach { case (_, (n, _, _)) =>
        assert(math.abs(n - tot / 10.0) <= 0.02 * tot,
          s"bin population $n far from ${tot / 10.0}")
      }
    }
  }

  test("q127: group trend equals an exact BigInt least-squares recompute") {
    val out = Relational.queries("q127_group_trend")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val rows = graft.Tables.load(spark, sfDir, "events")
      .select("event_type", "ts", "value").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).getTime * 1000L +
          (r.getTimestamp(1).getNanos / 1000L) % 1000L,
        BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100))
    val us0 = rows.map(_._2).min
    val expected = rows.groupBy(_._1).map { case (et, v) =>
      val xs = v.map(e => BigInt((e._2 - us0) / 1000000L))
      val ys = v.map(e => e._3.toBigInt)
      val n = BigInt(v.length)
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val den = (n * sxx - sx * sx).toDouble
      et -> (v.length.toLong, (n * sxy - sx * sy).toDouble / den,
        (sy * sxx - sx * sxy).toDouble / den)
    }
    assert(out == expected)
  }

  test("q126: lag features equal a JVM per-user sequence recompute") {
    val out = Relational.queries("q126_lag_features")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4), r.getDouble(5)))
      .toMap
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val expected = events.groupBy(_._2).flatMap { case (_, evs) =>
      val sorted = evs.sortBy(e => (micros(e._3), e._1)).toList
      sorted.zipWithIndex.map { case ((eid, _, ts, v), i) =>
        val l1 = if (i >= 1) Some(sorted(i - 1)) else None
        val l2 = if (i >= 2) Some(sorted(i - 2)) else None
        val gap = l1.map(p => micros(ts) - micros(p._3))
        val n = 1L + l1.size + l2.size
        val mean = ((v + l1.map(_._4).getOrElse(0.0)) +
          l2.map(_._4).getOrElse(0.0)) / n.toDouble
        eid -> (l1.map(_._4), gap, n, mean)
      }
    }.toMap
    assert(out == expected)
  }

  test("q125: z-buckets equal a JVM Morton recompute and bound both dims to 31 bins") {
    val out = Relational.queries("q125_zorder_layout")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val rows = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (amin, amax) = (rows.map(_._1).min, rows.map(_._1).max)
    val (bmin, bmax) = (rows.map(_._2).min, rows.map(_._2).max)
    def binv(v: Long, lo: Long, hi: Long) =
      math.min(1023L, (BigInt(v - lo) * 1024 / (hi - lo + 1)).toLong)
    def morton(xa: Long, xb: Long) =
      (0 until 10).map(k =>
        (((xa >> k) & 1L) << (2 * k)) | (((xb >> k) & 1L) << (2 * k + 1))).sum
    val expected = rows
      .map { case (a, b) => (binv(a, amin, amax), binv(b, bmin, bmax)) }
      .groupBy { case (xa, xb) => morton(xa, xb) >> 10 }
      .map { case (zb, v) =>
        zb -> (v.length.toLong, v.map(_._1).min, v.map(_._1).max,
          v.map(_._2).min, v.map(_._2).max)
      }
    assert(out == expected)
    // the locality contract: a z-bucket pins the top 5 bits of each dim
    out.values.foreach { case (_, xaMin, xaMax, xbMin, xbMax) =>
      assert(xaMax - xaMin <= 31 && xbMax - xbMin <= 31)
    }
    assert(out.values.map(_._1).sum == rows.length.toLong)
  }

  test("q122: SCD2 intervals equal a JVM run-compaction; chains are contiguous") {
    val out = Relational.queries("q122_scd2_compact")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4)))
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    // JVM recompute: sort per user by (ts, event_id), collapse runs
    val expected = events.groupBy(_._1).flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._2.getTime, e._3)).toList
      val runs = sorted.foldLeft(List.empty[(String, java.sql.Timestamp, Long)]) {
        case ((t0, from, n) :: rest, (_, _, _, et)) if t0 == et =>
          (t0, from, n + 1) :: rest
        case (acc, (_, ts, _, et)) => (et, ts, 1L) :: acc
      }.reverse
      runs.zip(runs.drop(1).map(r => Some(r._2)) :+ None).map {
        case ((et, from, n), to) => (uid, et, from, to, n)
      }
    }.toSet
    assert(out.toSet == expected)
    // structural: per user, intervals chain (valid_to == next valid_from),
    // exactly one open interval, n_events sums to the event count
    out.groupBy(_._1).foreach { case (uid, ivs) =>
      val sorted = ivs.sortBy(_._3.getTime).toList
      sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
        assert(a._4.contains(b._3), s"user $uid: broken chain")
      }
      assert(sorted.count(_._4.isEmpty) == 1)
    }
    assert(out.map(_._5).sum == events.length)
  }

  test("q134: PIT snapshots equal a JVM day-boundary probe of the SCD2 runs") {
    val dayMs = 86400000L // UTC session, so epoch-ms floor == date_trunc('day')
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val maxDay = events.map(_._2.getTime).max / dayMs * dayMs
    val expected = events.groupBy(_._1).flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._2.getTime, e._3)).toList
      val runs = sorted.foldLeft(List.empty[(String, Long, Long)]) {
        case ((t0, from, n) :: rest, (_, _, _, et)) if t0 == et =>
          (t0, from, n + 1) :: rest
        case (acc, (_, ts, _, et)) => (et, ts.getTime, 1L) :: acc
      }.reverse
      runs.zip(runs.drop(1).map(r => Some(r._2)) :+ None).flatMap {
        case ((et, from, n), toOpt) =>
          val lo = if (from % dayMs == 0) from else (from / dayMs + 1) * dayMs
          val hi = toOpt.fold(maxDay)(to => (to - 1) / dayMs * dayMs)
          (lo to hi by dayMs).map(m =>
            (uid, new java.sql.Timestamp(m), et, n))
      }
    }.toSet
    val out = Relational.queries("q134_pit_snapshot")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty, "testdata spans day boundaries; snapshots expected")
    assert(out.toSet == expected)
    // exactly one state per (entity, snapshot instant) — the PIT contract
    assert(out.map(r => (r._1, r._2)).distinct.length == out.length)
  }

  test("q145: snapshot diff equals a JVM as-of probe at t1/t2; classes partition the users") {
    val dayMs = 86400000L // UTC session, so epoch-ms floor == date_trunc('day')
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val t1 = events.map(_._2.getTime).min / dayMs * dayMs + dayMs
    val t2 = events.map(_._2.getTime).max / dayMs * dayMs
    // JVM as-of probe: the run (state, from, to, n) containing instant T
    def stateAt(evs: List[(Long, java.sql.Timestamp, Long, String)], at: Long)
        : Option[(String, Long)] = {
      val runs = evs.sortBy(e => (e._2.getTime, e._3))
        .foldLeft(List.empty[(String, Long, Long)]) {
          case ((t0, from, n) :: rest, (_, _, _, et)) if t0 == et =>
            (t0, from, n + 1) :: rest
          case (acc, (_, ts, _, et)) => (et, ts.getTime, 1L) :: acc
        }.reverse
      runs.zip(runs.drop(1).map(r => Some(r._2)) :+ None).collectFirst {
        case ((et, from, n), toOpt) if from <= at && toOpt.forall(_ > at) =>
          (et, n)
      }
    }
    val expected = events.groupBy(_._1).map { case (uid, evs) =>
      val (s1, s2) = (stateAt(evs.toList, t1), stateAt(evs.toList, t2))
      val change = (s1, s2) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some((a, _)), Some((b, _))) => if (a == b) "unchanged" else "changed"
      }
      (uid, s1.map(_._1), s2.map(_._1),
        s1.fold(0L)(_._2), s2.fold(0L)(_._2), change)
    }.filter(r => !(r._2.isEmpty && r._3.isEmpty)).toSet
    val out = Relational.queries("q145_snapshot_diff")(spark, sfDir).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getLong(3), r.getLong(4), r.getString(5)))
    assert(out.toSet == expected)
    // one diff row per user; CDC without delete markers never removes;
    // both surviving classes are populated on the testdata
    assert(out.map(_._1).distinct.length == out.length)
    assert(!out.exists(_._6 == "removed"))
    assert(out.exists(_._6 == "changed") && out.exists(_._6 == "unchanged"))
  }

  test("q152: tolerance as-of equals q48 with the staleness horizon applied; both classes live") {
    val tol = Relational.AsofToleranceUs
    val base = Relational.queries("q48_asof_join")(spark, sfDir).collect()
      .map { r =>
        val calTs = Option(r.getTimestamp(3))
        ((r.getLong(0), r.getTimestamp(1)),
          (r.getDouble(2), calTs, if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      }.toMap
    val out = Relational.queries("q152_asof_tolerance")(spark, sfDir).collect()
    assert(out.length == base.size)
    var matched = 0
    out.foreach { r =>
      val key = (r.getLong(0), r.getTimestamp(1))
      val (value, calTs, calVal) = base(key)
      assert(r.getDouble(2) == value)
      // exact epoch micros (getTime is ms-truncated; nanos carries the rest)
      def us(t: java.sql.Timestamp): Long =
        (t.getTime / 1000) * 1000000L + t.getNanos / 1000
      val expectMatch = calTs.exists(c => us(r.getTimestamp(1)) - us(c) <= tol)
      assert(r.getBoolean(5) == expectMatch, s"row $key")
      if (expectMatch) {
        matched += 1
        assert(Option(r.getTimestamp(3)) == calTs && Some(r.getDouble(4)) == calVal)
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4), s"stale row $key must null out")
      }
    }
    assert(matched > 0 && matched < out.length,
      s"degenerate split: $matched of ${out.length}")
  }

  test("q146: MV refresh merge == from-scratch agg bit-for-bit, under any batching") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, sfDir, "events")
    // from-scratch: one partial over the whole corpus, merged alone
    val scratch = Relational.mergeAggPartials(Relational.aggPartials(ev))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val out = Relational.queries("q146_mv_refresh")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out == scratch)
    // rebatching invariance: three event-id thirds merged pairwise-then-
    // once more give the SAME bits (the decimal sum is what buys this)
    val thirds = (0 until 3).map(i =>
      Relational.aggPartials(ev.filter(pmod(col("event_id"), lit(3)) === i)))
    val rebatched = Relational.mergeAggPartials(
      Relational.aggPartials(ev.filter(pmod(col("event_id"), lit(3)) < 2)),
      thirds(2)).collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(Relational.mergeAggPartials(thirds: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap == rebatched)
    assert(rebatched == scratch)
    // JVM recompute (values are 2-decimal exact: long-cents arithmetic)
    val rows = ev.select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 100).toLong))
    val expected = rows.groupBy(_._1).map { case (uid, vs) =>
      val cents = vs.map(_._2)
      uid -> (cents.length.toLong, cents.sum / 100.0,
        cents.min / 100.0, cents.max / 100.0,
        (cents.sum / 100.0) / cents.length)
    }
    assert(out == expected)
  }

  test("q120: skew profile equals a JVM recompute; skew bounded by [1, n_keys]") {
    val out = Relational.queries("q120_key_skew")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet == Set("events.user_id", "events.event_type",
      "lineitem.l_suppkey", "orders.o_custkey"))
    val counts = graft.Tables.load(spark, sfDir, "events")
      .select("user_id").collect()
      .map(_.getAs[Number](0).longValue.toString)
      .groupBy(identity).map { case (_, v) => v.length.toLong }.toSeq
    val (nk, tot, mx, sq) =
      (counts.size.toLong, counts.sum, counts.max, counts.map(n => n * n).sum)
    assert(out("events.user_id") ==
      ((nk, tot, mx, sq, mx.toDouble / tot, (nk * sq).toDouble / (tot.toDouble * tot))))
    out.values.foreach { case (nKeys, _, _, _, top1, skew) =>
      assert(skew >= 1.0 - 1e-12 && skew <= nKeys.toDouble + 1e-12)
      assert(top1 >= 1.0 / nKeys && top1 <= 1.0)
    }
  }

  test("q118: PageRank equals an exact BigInt recompute; mass is conserved minus floors") {
    val spark0 = spark
    import org.apache.spark.sql.functions.{col, count, lit}
    val sfd = sfDir
    val li = spark0.read.parquet(s"$sfd/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = spark0.read.parquet(s"$sfd/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = spark0.read.parquet(s"$sfd/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = spark0.read.parquet(s"$sfd/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("c_nationkey"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => ((r.getAs[Number](0).longValue, r.getAs[Number](1).longValue),
        r.getLong(2)))
    val nations = spark0.read.parquet(s"$sfd/nation.parquet")
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1))
    val n = nations.length
    val outw = edges.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val S = BigInt(Relational.PrScale)
    var pr = nations.map(_._1 -> (S / n)).toMap
    for (_ <- 1 to Relational.PrIters) {
      val inc = scala.collection.mutable.Map.empty[Long, BigInt].withDefaultValue(BigInt(0))
      edges.foreach { case ((src, dst), w) =>
        inc(dst) += (pr(src) * w * 17) / (BigInt(outw(src)) * 20)
      }
      pr = nations.map { case (k, _) => k -> (S * 3 / (20 * n) + inc(k)) }.toMap
    }
    val out = Relational.queries("q118_pagerank")(spark0, sfd).collect()
      .map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
    val expected = nations.map { case (k, name) => name -> pr(k) }.toMap
    assert(out == expected)
    // floors only ever DROP mass: total stays within n·PrIters units + dangling loss
    assert(out.values.sum <= S)
  }

  test("q114: unpivot is the exact long-form relayout of the q28 pivot") {
    val wide = Relational.queries("q28_pivot")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Seq(
        "f_total" -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1)),
        "o_total" -> (if (r.isNullAt(2)) 0.0 else r.getDouble(2)),
        "p_total" -> (if (r.isNullAt(3)) 0.0 else r.getDouble(3)))).toMap
    val long = Relational.queries("q114_unpivot")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // exactly priorities x 3 rows, including absent combinations as 0.0
    assert(long.length == wide.size * 3)
    long.groupBy(_._1).foreach { case (prio, rows) =>
      assert(rows.map(r => r._2 -> r._3).sortBy(_._1).toSeq ==
        wide(prio).sortBy(_._1), prio)
    }
  }

  test("q05: star-schema multi-join broadcasts nation and region") {
    val p = plan("q05_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1200))
  }

  test("q06/q07: semi and anti joins plan as such") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("q26: HLL sketch holds its 10% bound (approx_ok all true) and raw value within 5%") {
    // The query's output asserts the bound itself (approx_ok vs the oracle's
    // literal TRUE); here also bound the raw sketch value more tightly.
    val rows = Relational.queries("q26_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"flag=${r.getString(0)} approx_ok=false")
    }
    val raw = graft.Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    raw.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"flag=${r.getString(0)} approx=$approx exact=$exact")
    }
  }

  test("q25: session windows partition all events, ends = start-of-next gap") {
    val sess = Relational.queries("q25_session_window")(spark, sfDir)
    val total = sess.agg(sum(col("n_events"))).head().getLong(0)
    val nEvents = graft.Tables.load(spark, sfDir, "events").count()
    assert(total == nEvents, s"sessions must cover every event: $total vs $nEvents")
    // no two sessions of one user may overlap
    val overlapping = sess.as("a").join(sess.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_start") < col("b.session_start") &&
          col("b.session_start") < col("a.session_end"))
      .count()
    assert(overlapping == 0L)
  }

  test("q89: interval coverage equals a JVM sweep recompute") {
    val out = Relational.queries("q89_interval_union")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val iv = rows.sortBy(r => (r._3, r._2))
        .map(r => (r._3, r._3 + 60000000L))
      // linear sweep: merge overlapping/touching-start intervals
      var islands = List.empty[(Long, Long, Long)] // (a, b, n_ev)
      iv.foreach { case (a, b) =>
        islands match {
          case (ia, ib, n) :: rest if a <= ib =>
            islands = (ia, math.max(ib, b), n + 1) :: rest
          case _ => islands = (a, b, 1L) :: islands
        }
      }
      u -> (islands.size.toLong, iv.size.toLong,
        islands.map(i => i._2 - i._1).sum)
    }
    assert(out == expected)
  }

  test("q90: spike flags match an exact BigInt z-squared recompute") {
    val rows = Relational.queries("q90_rate_anomaly")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, hrs) =>
      val cs = hrs.map(h => BigInt(h._3))
      val n = BigInt(hrs.length)
      val s = cs.sum
      val ss = cs.map(c => c * c).sum
      hrs.foreach { case (u, hour, c, nOut, spike) =>
        assert(nOut == hrs.length.toLong)
        val lhs = (BigInt(c) * n - s).pow(2)
        val rhs = 9 * (n * ss - s * s)
        assert(spike == (lhs > rhs), s"user $u hour $hour")
      }
    }
  }

  test("q91: histogram median equals a sort-based JVM recompute") {
    val out = Relational.queries("q91_group_median")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val orders = graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0),
        java.math.BigDecimal.valueOf(r.getDouble(1))
          .movePointRight(2).longValueExact()))
    val expected = orders.groupBy(_._1).map { case (p, rs) =>
      val v = rs.map(_._2).sorted
      val n = v.length
      val lo = v((n + 1) / 2 - 1)
      val hi = v(n / 2)
      p -> (n.toLong, (lo + hi).toDouble / 200.0)
    }
    assert(out == expected)
  }

  test("q92: transition matrix equals a JVM recompute; probs sum to 1 per row") {
    val out = Relational.queries("q92_event_transitions")(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      ordered.zip(ordered.drop(1))
    }
    val expected = trans.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out.view.mapValues(_._1).toMap == expected)
    // exact rational probabilities, each from-row summing to exactly 1
    val fromTotals = expected.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    out.foreach { case ((f, t), (n, p)) =>
      assert(p == n.toDouble / fromTotals(f), s"($f -> $t)")
    }
  }

  test("q95: winsorize cuts equal sort-based ceil-rank percentiles; clamp is tight") {
    val rows = Relational.queries("q95_winsorize")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (tpe, evs) =>
      val cents = evs.map(e => math.round(e._3 * 100)).sorted
      val n = cents.length
      val cLo = cents(((5 * n + 99) / 100 - 1).toInt)
      val cHi = cents(((95 * n + 99) / 100 - 1).toInt)
      evs.foreach { case (id, _, v, w, clipped) =>
        val c = math.round(v * 100)
        val expW = math.min(math.max(c, cLo), cHi)
        assert(w == expW / 100.0, s"event $id of $tpe")
        assert(clipped == (c < cLo || c > cHi), s"event $id of $tpe")
      }
      // the clamp is tight: some value actually sits at each cut
      assert(evs.exists(e => math.round(e._4 * 100) == cLo) &&
        evs.exists(e => math.round(e._4 * 100) == cHi))
    }
  }

  test("q98: correlated EXISTS/NOT EXISTS decorrelate to semi and anti joins") {
    val p = plan("q98_exists_subquery")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must decorrelate to an anti join")
    // behavior: equals the explicit semi/anti DataFrame formulation
    val sql = Relational.queries("q98_exists_subquery")(spark, sfDir).collect()
      .map(_.getLong(0)).sorted
    val cust = graft.Tables.load(spark, sfDir, "customer")
    val ord = graft.Tables.load(spark, sfDir, "orders")
    val api = cust
      .join(ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .join(ord.filter(col("o_totalprice") < 5000)
        .select(col("o_custkey").as("k2")), col("c_custkey") === col("k2"),
        "left_anti")
      .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
    assert(sql.toSeq == api.toSeq && sql.nonEmpty)
  }

  test("q105: top paths equal a JVM sliding-window recompute") {
    val out = Relational.queries("q105_event_paths")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 25)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val walks = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4)
      seq.sliding(3).filter(_.length == 3)
        .map(p => (u, (p(0), p(1), p(2)))).toSeq
    }
    val expected = walks.groupBy(_._2).map { case (p, ws) =>
      (p, ws.size.toLong, ws.map(_._1).distinct.size.toLong)
    }.toSeq
      .sortBy { case ((s1, s2, s3), n, _) => (-n, s1, s2, s3) }
      .take(25)
      .map { case ((s1, s2, s3), n, u) => (s1, s2, s3, n, u) }
    assert(out.toSeq == expected)
  }

  test("q104: drift equals an exact JVM recompute and sits in [0, 2]") {
    val out = Relational.queries("q104_value_drift")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val t0 = ev.map(_._2).min; val t1 = ev.map(_._2).max
    val expected = ev.groupBy(_._1).map { case (tpe, rows) =>
      val cmin = rows.map(_._3).min; val cmax = rows.map(_._3).max
      def bin(c: Long) = math.min(15L, (c - cmin) * 16 / (cmax - cmin + 1))
      val (nw, od) = rows.partition(r => r._2 * 2 >= t0 + t1)
      val hOld = od.groupBy(r => bin(r._3)).view.mapValues(_.length.toLong)
      val hNew = nw.groupBy(r => bin(r._3)).view.mapValues(_.length.toLong)
      val tOld = od.length.toLong; val tNew = nw.length.toLong
      val l1 = (0L to 15L).map { b =>
        (BigInt(hOld.getOrElse(b, 0L)) * tNew -
          BigInt(hNew.getOrElse(b, 0L)) * tOld).abs
      }.sum
      val drift = if (tOld == 0 || tNew == 0) 2.0
        else l1.toDouble / (BigInt(tOld) * BigInt(tNew)).toDouble
      tpe -> (tOld, tNew, drift)
    }
    assert(out == expected)
    out.values.foreach { case (_, _, drift) =>
      assert(drift >= 0.0 && drift <= 2.0)
    }
  }

  test("q100: exact-moment correlation equals a BigInt recompute; |r| <= 1") {
    val out = Relational.queries("q100_group_correlation")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.nonEmpty)
    val rows = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getString(0), BigInt(r.getDouble(1).toLong),
        BigInt(java.math.BigDecimal.valueOf(r.getDouble(2))
          .movePointRight(2).longValueExact())))
    val expected = rows.groupBy(_._1).map { case (f, rs) =>
      val n = BigInt(rs.length)
      val sx = rs.map(_._2).sum; val sy = rs.map(_._3).sum
      val sxx = rs.map(r => r._2 * r._2).sum
      val syy = rs.map(r => r._3 * r._3).sum
      val sxy = rs.map(r => r._2 * r._3).sum
      val r = (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
      f -> (rs.length.toLong, r)
    }
    assert(out == expected)
    out.values.foreach { case (_, r) => assert(math.abs(r) <= 1.0 + 1e-12) }
  }

  test("q97: grid is dense per user; filled hours are zero; counts round-trip") {
    val rows = Relational.queries("q97_time_gridfill")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    val hourMs = 3600L * 1000
    rows.groupBy(_._1).foreach { case (u, g) =>
      val hours = g.map(_._2).sorted
      // dense: every hour between first and last present exactly once
      assert((hours.head to hours.last by hourMs).toSeq == hours.toSeq)
      g.foreach { case (_, _, n, filled) =>
        assert(filled == (n == 0L), s"user $u")
      }
    }
    // total events preserved by the fill
    val total = rows.map(_._3).sum
    assert(total == graft.Tables.load(spark, sfDir, "events").count())
  }

  test("q86: distribution functions and frames match a brute-force recompute") {
    val rows = Relational.queries("q86_window_frames")(spark, sfDir).collect()
    val byCust = rows.groupBy(_.getLong(0))
    assert(byCust.size > 1, "need multiple customer partitions")
    // recompute the largest partition entirely in plain Scala
    val part = byCust.maxBy(_._2.length)._2
      .sortBy(r => (-r.getDouble(2), r.getLong(1)))
    val n = part.length
    assert(n >= 4, "largest customer should have a few orders")
    val cents = part.map(r => math.round(r.getDouble(2) * 100))
    part.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(4) == (i + 1).toDouble / n, s"cume_dist row $i")
      assert(r.getDouble(5) == i.toDouble / (n - 1), s"percent_rank row $i")
      assert(r.getLong(7) == part.head.getLong(1), "best_order")
      assert(r.getLong(8) == part.last.getLong(1), "worst_order")
      // moving 3-row frame, recomputed in exact integer cents
      val mov = cents.slice(math.max(0, i - 2), i + 1).sum
      assert(r.getDouble(6) == mov / 100.0, s"mov3_spend row $i")
      // ntile: first (n mod 4) tiles get ceil(n/4) rows, the rest floor
      val big = n % 4; val size0 = n / 4 + (if (big > 0) 1 else 0)
      val expTile =
        if (big == 0 || i < big * size0) i / size0 + 1
        else (i - big * size0) / (n / 4) + big + 1
      assert(r.getInt(3) == expTile, s"ntile row $i of $n")
    }
  }

  test("q153: single-pass profile equals a JVM recompute; typed extremes land in the right slots") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate").collect()
    val out = Relational.queries("q153_data_profile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size == 11)
    // every row reports the same (and correct) row count; no nulls in testdata
    assert(out.values.forall(_.getLong(1) == li.length))
    assert(out.values.forall(_.getLong(2) == 0L))
    // numeric column: extremes in min_num/max_num, string/ts slots null
    val ok = out("l_orderkey")
    assert(ok.getLong(3) == li.map(_.getLong(0)).distinct.length)
    assert(ok.getDouble(4) == li.map(_.getLong(0)).min.toDouble)
    assert(ok.getDouble(5) == li.map(_.getLong(0)).max.toDouble)
    assert(ok.isNullAt(6) && ok.isNullAt(7) && ok.isNullAt(8) && ok.isNullAt(9))
    val qt = out("l_quantity")
    assert(qt.getDouble(4) == li.map(_.getDouble(1)).min)
    assert(qt.getDouble(5) == li.map(_.getDouble(1)).max)
    // string column: extremes in min_str/max_str, numeric/ts slots null
    val rf = out("l_returnflag")
    assert(rf.getLong(3) == li.map(_.getString(2)).distinct.length)
    assert(rf.getString(6) == li.map(_.getString(2)).min)
    assert(rf.getString(7) == li.map(_.getString(2)).max)
    assert(rf.isNullAt(4) && rf.isNullAt(5) && rf.isNullAt(8) && rf.isNullAt(9))
    // timestamp column: extremes in min_ts/max_ts
    val sd = out("l_shipdate")
    assert(sd.getTimestamp(8).getTime ==
      li.map(_.getTimestamp(3).getTime).min)
    assert(sd.getTimestamp(9).getTime ==
      li.map(_.getTimestamp(3).getTime).max)
    assert(sd.isNullAt(4) && sd.isNullAt(5) && sd.isNullAt(6) && sd.isNullAt(7))
  }

  test("q153: empty, one-row and all-null-string lineitem profile to one row per column") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    val root = java.nio.file.Files.createTempDirectory("graft-q153").toString
    def profile(fixture: String, rows: org.apache.spark.sql.DataFrame): Seq[String] = {
      rows.write.parquet(s"$root/$fixture/lineitem.parquet")
      Relational.queries("q153_data_profile")(spark, s"$root/$fixture").collect().toSeq
        .map(_.toSeq.map {
          case ts: java.sql.Timestamp => ts.getTime.toString
          case v => String.valueOf(v)
        }.mkString("|"))
    }
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    // a global aggregate returns one row on empty input, so every column still
    // reports, in order, with zero counts and null extremes
    assert(profile("empty", li.limit(0)) ==
      cols.map(c => s"$c|0|0|0|null|null|null|null|null|null"))
    assert(profile("one", li.orderBy("l_orderkey", "l_linenumber").limit(1)) == Seq(
      "l_orderkey|1|0|1|0.0|0.0|null|null|null|null",
      "l_partkey|1|0|1|170.0|170.0|null|null|null|null",
      "l_suppkey|1|0|1|3.0|3.0|null|null|null|null",
      "l_linenumber|1|0|1|3.0|3.0|null|null|null|null",
      "l_quantity|1|0|1|36.0|36.0|null|null|null|null",
      "l_extendedprice|1|0|1|56712.15|56712.15|null|null|null|null",
      "l_discount|1|0|1|0.05|0.05|null|null|null|null",
      "l_tax|1|0|1|0.04|0.04|null|null|null|null",
      "l_returnflag|1|0|1|null|null|A|A|null|null",
      "l_linestatus|1|0|1|null|null|F|F|null|null",
      "l_shipdate|1|0|1|null|null|null|null|888883200000|888883200000"))
    val n = li.count()
    val nulled = profile("nullstr", li
      .withColumn("l_returnflag", lit(null).cast("string"))
      .withColumn("l_linestatus", lit(null).cast("string")))
    assert(nulled.length == 11 && nulled.map(_.split('|').head) == cols)
    assert(nulled.slice(8, 10) == Seq(
      s"l_returnflag|$n|$n|0|null|null|null|null|null|null",
      s"l_linestatus|$n|$n|0|null|null|null|null|null|null"))
    assert(nulled.filterNot(r => r.startsWith("l_returnflag") || r.startsWith("l_linestatus")) ==
      profile("full", li).filterNot(r => r.startsWith("l_returnflag") || r.startsWith("l_linestatus")))
  }

  test("q154: clean FK graph audits to zero orphans; injected corruption is detected and counted") {
    import spark.implicits._
    val out = Relational.queries("q154_fk_orphans")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 7)
    val liN = graft.Tables.load(spark, sfDir, "lineitem").count()
    assert(out("lineitem->orders") == ((liN, 0L, 0L)))
    assert(out.values.forall { case (_, orphans, keys) =>
      orphans == 0L && keys == 0L })
    // corruption injection: two child rows referencing a missing parent
    // (one key twice → 2 orphan rows, 1 orphan key) and one NULL FK
    // (MATCH SIMPLE: not a violation, but still a child row)
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(99L), Some(99L), None)
      .toDF("ck")
    val audited = Relational
      .fkOrphanEdge("bad", child, "ck", parent, "pk", bcast = true)
      .collect().head
    assert(audited.getString(0) == "bad")
    assert(audited.getLong(1) == 5L, "child_rows counts NULL-FK rows too")
    assert(audited.getLong(2) == 2L, "both references to the missing key")
    assert(audited.getLong(3) == 1L, "one distinct missing key")
  }

  test("q158: salted join equals the plain join; salt is in the join key and only hot dim rows replicate") {
    // semantics: identical to the unsalted pipeline (the oracle pins this
    // against DuckDB too; here pin it against Spark's own plain join)
    val ev = graft.Tables.load(spark, sfDir, "events")
    val dim = Relational.goldenRecord(
        ev.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value")))
      .select(col("user_id"), col("modal_event_type"))
    val plain = ev.join(dim, Seq("user_id"))
      .groupBy(col("event_type"), col("modal_event_type"))
      .agg(count(lit(1)).as("n_events")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = Relational.queries("q158_salted_join")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
    // the salt actually reaches the join: the physical join keys include
    // __salt, and the dim side carries the hot-only explode
    val p = plan("q158_salted_join")
    assert(p.contains("__salt"), p.take(2000))
    assert(p.toLowerCase.contains("generate explode"), p.take(2000))
  }

  test("q159: time-weighted average equals a BigInt LOCF recompute; single-event users surface NULL") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "value").collect()
      .map { r =>
        val ts = r.getTimestamp(1)
        val us = math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
        (r.getLong(0), us, r.getLong(2),
          BigInt(math.round(r.getDouble(3) * 100)))
      }
    val expected = ev.groupBy(_._1).map { case (uid, rows) =>
      val s = rows.sortBy(r => (r._2, r._3))
      val span = s.last._2 - s.head._2
      val num = s.zip(s.drop(1)).map { case (a, b) =>
        a._4 * BigInt(b._2 - a._2) }.sum
      val twa =
        if (span > 0) Some(num.toDouble / span / 100) else None
      (uid, s.length.toLong, span, twa)
    }.toSet
    val out = Relational.queries("q159_time_weighted_avg")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(out == expected)
  }

  test("q161: bucketed skyline equals the quadratic dominance recompute") {
    val pts = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2).split(" ").distinct.length.toLong))
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y) }
    }.toSet
    val out = Relational.queries("q161_skyline")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected)
    // the frontier is a real trade-off curve on the testdata, not a corner
    assert(out.size > 1, "degenerate single-point skyline")
  }

  private def eventsUsCents: Array[(Long, Long, String, Long, Long)] =
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "ts", "value").collect()
      .map { r =>
        val ts = r.getTimestamp(3)
        val us = math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
        (r.getLong(0), r.getLong(1), r.getString(2), us,
          math.round(r.getDouble(4) * 100))
      }

  test("q167: attribution equals a JVM lookback-scan recompute") {
    val sevenDays = 7L * 86400 * 1000000
    val ev = eventsUsCents
    val touchType = ev.filter(_._3 != "purchase")
      .groupBy(e => (e._2, e._4))
      .map { case (k, v) => k -> v.minBy(_._1)._3 }
    val expected = ev.filter(_._3 == "purchase").map { p =>
      val win = ev.filter(e => e._2 == p._2 && e._3 != "purchase" &&
        e._4 >= p._4 - sevenDays && e._4 < p._4).map(_._4)
      val ft = if (win.isEmpty) None else Some(win.min)
      val lt = if (win.isEmpty) None else Some(win.max)
      (p._2, p._1, p._4, ft, ft.map(u => touchType((p._2, u))),
        lt, lt.map(u => touchType((p._2, u))))
    }.toSet
    val out = Relational.queries("q167_attribution")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        Option(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        Option(r.getString(6)))).toSet
    assert(out == expected)
    // untouched purchases exist AND attributed ones exist — both paths live
    assert(expected.exists(_._4.isEmpty) && expected.exists(_._4.nonEmpty))
  }

  test("q168: histogram percentile rank equals the row-window definition") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (_, v) =>
      val n = v.length
      v.toSeq.map { case (id, src, x) =>
        val below = v.count(_._3 < x)
        (id, src, x, if (n > 1) below.toDouble / (n - 1) else 0.0)
      }
    }.toSet
    val out = Relational.queries("q168_pct_rank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out == expected)
  }

  test("q169: MAD outliers equal a JVM double-median recompute") {
    def loMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.length - 1) / 2)
    val ev = eventsUsCents
    val expected = ev.groupBy(_._3).map { case (et, v) =>
      val cents = v.map(_._5).toSeq
      val med = loMedian(cents)
      val mad = loMedian(cents.map(c => (c - med).abs))
      (et, v.length.toLong, med, mad,
        cents.count(c => (c - med).abs > 3 * mad).toLong)
    }.toSet
    val out = Relational.queries("q169_mad_outliers")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out == expected)
  }

  test("q170: merge equals JVM MERGE semantics; every op class fires") {
    val base = graft.Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val bump = (d: Double) =>
      (BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP) +
        BigDecimal("0.01")).toDouble
    val expected = (base.flatMap { case (k, name, bal) =>
      k % 10 match {
        case 7 => None
        case 3 => Some((k, name.toUpperCase, bump(bal), "update"))
        case _ => Some((k, name, bal, "keep"))
      }
    } ++ base.collect { case (k, name, bal) if k % 10 == 5 =>
      (k + 1000000L, name.toUpperCase, bump(bal), "insert")
    }).toSet
    val out = Relational.queries("q170_merge_upsert")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(out == expected)
    assert(Set("insert", "update", "keep")
      .subsetOf(expected.map(_._4)), "an op class never fired")
  }

  test("q171: rolling trailing window equals a JVM range-scan recompute") {
    val sevenDays = 7L * 86400 * 1000000
    val ev = eventsUsCents
    val expected = ev.map { e =>
      val win = ev.filter(o => o._2 == e._2 &&
        o._4 >= e._4 - sevenDays && o._4 <= e._4)
      (e._1, e._2, e._4, win.length.toLong, win.map(_._5).sum)
    }.toSet
    val out = Relational.queries("q171_rolling_time_window")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out == expected)
  }

  test("q163: exact co-occurrence equals a JVM distinct-pair recompute") {
    val ut = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).distinct.toSeq
    val pairs: Seq[(String, String)] = ut.groupBy(_._1).values.toSeq
      .flatMap { v =>
        val ts = v.map(_._2).distinct.sorted
        for (a <- ts; b <- ts if a < b) yield (a, b)
      }
    val expected = pairs.groupBy(identity)
      .map { case ((a, b), v) => (a, b, v.size.toLong) }.toSet
    val out = Relational.queries("q163_type_cooccurrence")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == expected && out.nonEmpty)
  }

  test("q172: grid-bucketed overlap join equals the brute overlap predicate") {
    def mic(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), mic(r.getTimestamp(1))))
    val gapUs = 12L * 3600 * 1000000
    val dayUs = 86400L * 1000000
    // JVM sessions: 12h-gap islands per user, end = last + gap (half-open).
    val sessions = events.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      val ts = evs.map(_._2).sorted
      val runs = ts.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, t) if t - e0 < gapUs => (s0, t) :: rest
        case (acc, t) => (t, t) :: acc
      }
      runs.map { case (s0, last) => (uid, s0, last + gapUs) }
    }
    // JVM incidents: days whose distinct-user count strictly beats the mean.
    val daily = events.map { case (uid, us) => (us - Math.floorMod(us, dayUs), uid) }
      .distinct.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val totalU = daily.values.sum
    val nDays = daily.size
    val incidents = daily.filter { case (_, u) => u * nDays > totalU }
    val expected = (for {
      (uid, s0, e0) <- sessions
      (day, u) <- incidents
      if s0 < day + dayUs && e0 > day
    } yield (uid, s0, e0, day, u)).toSet
    val out = Relational.queries("q172_interval_overlap")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out == expected && out.nonEmpty)
  }

  test("q173: negative balances get floor bands; risky cells flagged at k<5") {
    val out = Relational.queries("q173_k_anonymity")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // floor banding: some customer has a negative balance → band −1 exists
    // (truncating division would fold it into band 0).
    assert(out.keySet.exists(_._3 == -1L))
    assert(out.keySet.forall(_._3 >= -1L))
    // risky ⟺ k < 5, l never exceeds the 5 distinct priorities.
    assert(out.values.forall { case (k, l, risky) =>
      risky == (k < 5) && l >= 0 && l <= 5 && k >= 1 })
    // k sums to the customer count (QI cells partition the table).
    val nCust = graft.Tables.load(spark, sfDir, "customer").count()
    assert(out.values.map(_._1).sum == nCust)
  }

  test("q179/q180: pivot cells and melted profiles match direct recomputes") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("ts", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    val out = Relational.queries("q179_pivot_matrix")(spark, sfDir).collect()
    // every cell is the direct (day, type) count; cells sum to the corpus
    val dayUs = 86400L * 1000000
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
      us - Math.floorMod(us, dayUs)
    }
    val types = Seq("click", "error", "purchase", "signup", "view")
    val expected = ev.groupBy(e => day(e._1)).view.mapValues(es =>
      types.map(t => es.count(_._2 == t).toLong)).toMap
    val got = out.map(r => day(r.getTimestamp(0)) ->
      (1 to 5).map(r.getLong(_)).toSeq).toMap
    assert(got == expected)
    assert(got.values.flatten.sum == ev.length.toLong)
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_quantity").collect()
      .map(r => BigDecimal(r.getDouble(0)).setScale(2).*(100).toLongExact)
    val prof = Relational.queries("q180_unpivot_profile")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(prof("m_l_quantity") ==
      ((li.length.toLong, li.sum, li.min, li.max)))
    assert(prof.keySet == Set("m_l_quantity", "m_l_extendedprice",
      "m_l_discount", "m_l_tax"))
  }

  test("q181: day peaks equal a brute instant-scan over JVM-derived sessions") {
    def mic(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), mic(r.getTimestamp(1))))
    val gapUs = 12L * 3600 * 1000000
    val dayUs = 86400L * 1000000
    val sessions = events.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val ts = evs.map(_._2).sorted
      val runs = ts.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, t) if t - e0 < gapUs => (s0, t) :: rest
        case (acc, t) => (t, t) :: acc
      }
      runs.map { case (s0, last) => (s0, last + gapUs) }
    }
    // brute: concurrency at instant t = sessions with s <= t < e; peak per
    // day over every candidate instant (day start + in-day session starts)
    def conc(t: Long): Int = sessions.count { case (s, e) => s <= t && t < e }
    val days = sessions.flatMap { case (s, e) =>
      val d0 = s - Math.floorMod(s, dayUs)
      val d1 = (e - 1) - Math.floorMod(e - 1, dayUs)
      d0 to d1 by dayUs
    }.distinct
    val expected = days.map { d =>
      val cands = d +: sessions.collect {
        case (s, _) if s >= d && s < d + dayUs => s }
      d -> cands.map(conc).max.toLong
    }.toMap
    val got = Relational.queries("q181_peak_concurrency")(spark, sfDir)
      .collect().map(r => mic(r.getTimestamp(0)) -> r.getLong(2)).toMap
    // the query emits only days with a delta; brute also covers interior
    // full-coverage days (possible only when a session spans a full day
    // with no starts/ends — then peak == carry which the query must list)
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet.diff(got.keySet)} extra=${got.keySet.diff(expected.keySet)}")
    got.foreach { case (d, p) => assert(p == expected(d), s"day $d") }
    assert(got.values.max >= 2, "testdata should overlap sessions somewhere")
  }

  test("q181: a session ending exactly at midnight does not depress the next day's peak") {
    // planted edge the corpus may never hit: user 1's session is
    // [day0 12:00, day1 00:00) — open through day0 only, half-open end —
    // while user 2 runs [day1 01:00, day1 13:00). Day1's true peak is 1;
    // bucketing the midnight −1 into day1 (the pre-fix formulation) put a
    // leading −1 in its prefix and reported 0.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q181").toString
    try {
      Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-10 12:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-03-11 01:00:00")))
        .toDF("user_id", "ts")
        .write.parquet(s"$dir/events.parquet")
      val got = Relational.queries("q181_peak_concurrency")(spark, dir)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq(
        ("2024-03-10 00:00:00.0", 0L, 1L),
        ("2024-03-11 00:00:00.0", 0L, 1L)), got.mkString(", "))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("q182: kappa equals the textbook (po-pe)/(1-pe) on JVM-counted cells") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("n_chars", "text").collect()
      .map(r => (r.getLong(0) >= 500,
        r.getString(1).split(" ", -1).length >= 80))
    val n = docs.length.toLong
    val n11 = docs.count(d => d._1 && d._2).toLong
    val n10 = docs.count(d => d._1 && !d._2).toLong
    val n01 = docs.count(d => !d._1 && d._2).toLong
    val n00 = n - n11 - n10 - n01
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      .toDouble / n / n
    val r = Relational.queries("q182_cohens_kappa")(spark, sfDir).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getLong(3), r(0).getLong(4)) == ((n, n11, n10, n01, n00)))
    val kappa = r(0).getDouble(5)
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 1e-12)
    // both raters actually fire both ways on the testdata
    assert(n11 > 0 && n00 > 0 && (n10 > 0 || n01 > 0))
  }

  test("q186: quartiles equal a sorted type-7 JVM recompute") {
    val rows = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) ->
        BigDecimal(r.getDouble(1)).setScale(2).*(100).toLongExact)
    def q7(sorted: Array[Long], q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val frac = pos - lo
      if (frac == 0) sorted(lo).toDouble
      else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
    }
    val expected = rows.groupBy(_._1).view.mapValues { g =>
      val s = g.map(_._2).sorted
      (s.length.toLong, q7(s, 0.25), q7(s, 0.5), q7(s, 0.75))
    }.toMap
    val got = Relational.queries("q186_percentile_cont")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got == expected)
    // at least one group must genuinely interpolate (frac != 0)
    assert(expected.values.exists { case (n, _, _, _) => (n - 1) % 4 != 0 })
  }

  test("q188: decayed counts equal a BigInt power-of-two recompute") {
    def mic(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val dayUs = 86400L * 1000000
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_type", "ts", "value").collect()
      .map { r =>
        val us = mic(r.getTimestamp(1))
        (r.getString(0), us - Math.floorMod(us, dayUs),
          BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact)
      }
    val maxDay = ev.map(_._2).max
    val expected = ev.groupBy(_._1).view.mapValues { g =>
      def w(day: Long): BigInt = {
        val age = ((maxDay - day) / dayUs).toInt
        if (age <= 30) BigInt(1) << (30 - age) else BigInt(0)
      }
      val dn = g.map(e => w(e._2)).sum
      val dc = g.map(e => w(e._2) * e._3).sum
      (g.length.toLong, dn.toDouble / 1073741824L,
        dc.toDouble / 1073741824L)
    }.toMap
    val got = Relational.queries("q188_decayed_counts")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == expected)
    // recency weighting actually discriminates: decayed < raw count
    got.foreach { case (t, (n, dn, _)) => assert(dn < n, t) }
  }

  private def hilbertXy2d(n: Int, x0: Int, y0: Int): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  private def hilbertD2xy(n: Int, d0: Long): (Int, Int) = {
    var (x, y) = (0, 0)
    var t = d0
    var s = 1
    while (s < n) {
      val rx = (1L & (t / 2)).toInt
      val ry = (1L & (t ^ rx)).toInt
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tt = x; x = y; y = tt
      }
      x += s * rx; y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  test("q189: Hilbert reference round-trips and consecutive codes are adjacent") {
    val n = 64
    (0 until n * n).foreach { d =>
      val (x, y) = hilbertD2xy(n, d)
      assert(hilbertXy2d(n, x, y) == d, s"round-trip failed at d=$d")
    }
    // THE Hilbert property (z-order fails it): consecutive codes are
    // Manhattan-distance-1 cells
    (0 until n * n - 1).foreach { d =>
      val (x1, y1) = hilbertD2xy(n, d)
      val (x2, y2) = hilbertD2xy(n, d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
    // z-order DOES jump (sanity that the property is discriminating)
    def z(x: Int, y: Int): Long = (0 until 6).map(k =>
      (((x >> k) & 1).toLong << (2 * k)) +
        (((y >> k) & 1).toLong << (2 * k + 1))).sum
    val cells = for (x <- 0 until n; y <- 0 until n) yield (z(x, y), x, y)
    val jumps = cells.sortBy(_._1).sliding(2).count { case Seq(a, b) =>
      math.abs(a._2 - b._2) + math.abs(a._3 - b._3) > 1 }
    assert(jumps > 0)
  }

  test("q189: bucket stats equal the JVM Hilbert walk over binned dims") {
    val dims = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (amin, amax) = (dims.map(_._1).min, dims.map(_._1).max)
    val (bmin, bmax) = (dims.map(_._2).min, dims.map(_._2).max)
    def bin(v: Long, lo: Long, hi: Long): Int =
      math.min(1023L, (v - lo) * 1024 / (hi - lo + 1)).toInt
    val cells = dims.map { case (a, b) =>
      (bin(a, amin, amax), bin(b, bmin, bmax)) }
    val expected = cells.groupBy { case (xa, xb) =>
      hilbertXy2d(1024, xa, xb) >> 10 }.view.mapValues { g =>
      (g.length.toLong, g.map(_._1).min.toLong, g.map(_._1).max.toLong,
        g.map(_._2).min.toLong, g.map(_._2).max.toLong) }.toMap
    val got = Relational.queries("q189_hilbert_layout")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got == expected)
  }

  /** The pre-r8 unrolled Column-tree Hilbert walk, kept as the twin that
    * pins `Relational.hilbertCoded`'s native Expression bit-for-bit. */
  private def hilbertCodedUnrolled(s: SparkSession, d: String): DataFrame = {
    var cur = Relational.layoutBinned(s, d).select(col("xa"), col("xb"),
      col("xa").as("hx"), col("xb").as("hy"), lit(0L).as("hd"))
    (9 to 0 by -1).foreach { k =>
      val sv = 1L << k
      val rx = shiftright(col("hx"), k).bitwiseAND(lit(1L))
      val ry = shiftright(col("hy"), k).bitwiseAND(lit(1L))
      cur = cur.select(col("xa"), col("xb"),
        when(ry === 0, when(rx === 1, lit(1023L) - col("hy"))
          .otherwise(col("hy"))).otherwise(col("hx")).as("hx"),
        when(ry === 0, when(rx === 1, lit(1023L) - col("hx"))
          .otherwise(col("hx"))).otherwise(col("hy")).as("hy"),
        (col("hd") + lit(sv * sv) * (rx * 3).bitwiseXOR(ry)).as("hd"))
    }
    cur.select(col("xa"), col("xb"), col("hd").as("code"))
  }

  test("q189: native graft_hilbert codes equal the unrolled SQL formulation bit-for-bit") {
    val native = Relational.hilbertCoded(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val unrolled = hilbertCodedUnrolled(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(native.length == unrolled.length && native.sameElements(unrolled))
  }

  test("q193: CUPED matches a BigInt-moment recompute and reduces variance") {
    def mic(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val ev = graft.Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), mic(r.getTimestamp(1)),
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    val dayUs = 86400L * 1000000
    val maxTs = ev.map(_._2).max
    val cutUs = (maxTs - Math.floorMod(maxTs, dayUs)) - 15 * dayUs
    val perUser = ev.groupBy(_._1).map { case (u, es) =>
      (u % 2 == 0,
        BigInt(es.filter(_._2 < cutUs).map(_._3).sum),
        BigInt(es.filter(_._2 >= cutUs).map(_._3).sum))
    }.toSeq
    case class M(n: BigInt, sx: BigInt, sy: BigInt, sxx: BigInt,
                 sxy: BigInt, syy: BigInt)
    def mom(g: Seq[(Boolean, BigInt, BigInt)]) = M(g.size,
      g.map(_._2).sum, g.map(_._3).sum, g.map(e => e._2 * e._2).sum,
      g.map(e => e._2 * e._3).sum, g.map(e => e._3 * e._3).sum)
    val byArm = perUser.groupBy(_._1).view.mapValues(mom).toMap
    val gl = mom(perUser)
    val theta = (gl.n * gl.sxy - gl.sx * gl.sy).toDouble /
      (gl.n * gl.sxx - gl.sx * gl.sx).toDouble
    val gxbar = gl.sx.toDouble / gl.n.toDouble
    val got = Relational.queries("q193_cuped")(spark, sfDir).collect()
      .map(r => r.getBoolean(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(got.keySet == Set(true, false))
    got.foreach { case (arm, (n, meanY, meanC, varY, varC, red)) =>
      val m = byArm(arm)
      assert(n == m.n.toLong)
      val nd = m.n.toDouble
      val eMeanY = m.sy.toDouble / nd
      assert(meanY == eMeanY)
      assert(meanC == eMeanY - theta * (m.sx.toDouble / nd - gxbar))
      val eVarY = (m.syy.toDouble - m.sy.toDouble * m.sy.toDouble / nd) /
        (nd - 1)
      val eCov = (m.sxy.toDouble - m.sx.toDouble * m.sy.toDouble / nd) /
        (nd - 1)
      val eVarX = (m.sxx.toDouble - m.sx.toDouble * m.sx.toDouble / nd) /
        (nd - 1)
      val eVarC = eVarY - 2.0 * theta * eCov + theta * theta * eVarX
      assert(varY == eVarY && varC == eVarC)
      assert(red == 1.0 - eVarC / eVarY)
      // the whole point: the covariate genuinely reduces variance
      assert(varC < varY, s"arm $arm: CUPED must reduce variance")
    }
  }

  test("q194: first-digit counts exact; Benford constants and deviations match") {
    val cents = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_extendedprice").collect()
      .map(r => BigDecimal(r.getDouble(0)).setScale(2).*(100).toLongExact)
    val expected = cents.map(_.toString.head.asDigit)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = cents.length.toDouble
    val got = Relational.queries("q194_benford_audit")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (d, (n, obs, p, dev)) =>
      assert(n == expected(d))
      assert(obs == n / total)
      assert(p == math.log10(1.0 + 1.0 / d))
      assert(dev == obs - p)
    }
    // prices are roughly Benford-ish on a broad TPC-H price range: digit 1
    // is the most common observed first digit
    assert(got.maxBy(_._2._1)._1 == 1)
  }

  test("q195: layout quality matches a JVM recompute; Hilbert strictly tighter") {
    // JVM recompute of both code columns over the binned dims
    val dims = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (amin, amax) = (dims.map(_._1).min, dims.map(_._1).max)
    val (bmin, bmax) = (dims.map(_._2).min, dims.map(_._2).max)
    def bin(v: Long, lo: Long, hi: Long): Int =
      math.min(1023L, (v - lo) * 1024 / (hi - lo + 1)).toInt
    val cells = dims.map { case (a, b) =>
      (bin(a, amin, amax), bin(b, bmin, bmax)) }
    def zc(x: Int, y: Int): Long = (0 until 10).map(k =>
      (((x >> k) & 1).toLong << (2 * k)) +
        (((y >> k) & 1).toLong << (2 * k + 1))).sum
    def stats(codes: Array[((Int, Int), Long)]): (Long, Long, Double) = {
      val buckets = codes.groupBy(_._2 >> 9).values.map { g =>
        val xs = g.map(_._1._1); val ys = g.map(_._1._2)
        (g.length.toLong,
          (xs.max - xs.min + (ys.max - ys.min)).toLong)
      }.toSeq
      (buckets.length.toLong, buckets.map(_._1).sum,
        buckets.map(b => b._1 * b._2).sum.toDouble / buckets.map(_._1).sum)
    }
    val expZ = stats(cells.map(c => c -> zc(c._1, c._2)))
    val expH = stats(cells.map(c => c -> hilbertXy2d(1024, c._1, c._2)))
    val got = Relational.queries("q195_layout_quality")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("zorder") == expZ && got("hilbert") == expH)
    // the number that justifies curve layouts: both beat the lexicographic
    // (sort by a, then b) layout's bucket spans by a wide margin — lex
    // buckets cover the full y range, curves stay ~32x16
    val lexBuckets = cells.sortBy(identity).grouped(512).map { g =>
      (g.length.toLong,
        (g.map(_._1).max - g.map(_._1).min +
          (g.map(_._2).max - g.map(_._2).min)).toLong)
    }.toSeq
    val lexAvg = lexBuckets.map(b => b._1 * b._2).sum.toDouble /
      lexBuckets.map(_._1).sum
    assert(got("zorder")._3 < lexAvg / 5 && got("hilbert")._3 < lexAvg / 5,
      s"curves=${got("zorder")._3}/${got("hilbert")._3} lex=$lexAvg")
  }

  test("q196: U from brute pairwise comparison; tie-corrected z² matches") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) % 2 == 0,
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    val got = Relational.queries("q196_mann_whitney")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    ev.groupBy(_._1).foreach { case (ty, g) =>
      val a = g.filter(_._2).map(_._3)
      val b = g.filterNot(_._2).map(_._3)
      // brute 2U: every (a, b) pair contributes 2 if a > b, 1 if tied
      val u2 = BigInt(a.map(x =>
        2L * b.count(_ < x) + b.count(_ == x)).sum)
      val (n1, n2) = (BigInt(a.length), BigInt(b.length))
      val n = n1 + n2
      val ties = g.map(_._3).groupBy(identity).values
        .map(t => BigInt(t.size).pow(3) - t.size).sum
      val num = 3 * (u2 - n1 * n2).pow(2) * n * (n - 1)
      val den = n1 * n2 * (n * (n - 1) * (n + 1) - ties)
      val (gn1, gn2, gu2, gz2, gsig) = got(ty)
      assert((gn1, gn2, gu2) == ((n1.toLong, n2.toLong, u2.toLong)), ty)
      assert(gz2 == num.toDouble / den.toDouble, ty)
      assert(gsig == (10000 * num > 38416 * den), ty)
    }
    assert(got.nonEmpty)
  }

  test("q197: H equals a textbook midrank recompute with tie correction") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2).*(100).toLongExact))
    val n = ev.length
    // textbook: average (mid) ranks over the pooled sample, rank sums per
    // group, H = 12/(n(n+1))·ΣR²/n_j − 3(n+1), tie-corrected divisor
    val sorted = ev.map(_._2).sorted
    val rankOf: Map[Long, Double] = sorted.zipWithIndex
      .groupBy(_._1).view.mapValues { g =>
        g.map(_._2 + 1).sum.toDouble / g.size }.toMap
    val groups = ev.groupBy(_._1)
    val sumR2 = Seq("click", "error", "purchase", "signup", "view").map { ty =>
      val g = groups(ty)
      val r = g.map(e => rankOf(e._2)).sum
      r * r / g.size
    }.sum
    val h = 12.0 / (n.toDouble * (n + 1)) * sumR2 - 3.0 * (n + 1)
    val ties = ev.map(_._2).groupBy(identity).values
      .map(t => t.size.toLong * t.size * t.size - t.size).sum
    val hc = h / (1.0 - ties.toDouble / (n.toDouble * n * n - n))
    val r = Relational.queries("q197_kruskal_wallis")(spark, sfDir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == n.toLong)
    // the engine path uses exact-integer 2R sums then fixed-order float
    // algebra; the textbook midrank path accumulates doubles — agree to
    // relative 1e-9 (both are the same statistic)
    assert(math.abs(r(0).getDouble(1) - h) / math.abs(h) < 1e-9)
    assert(math.abs(r(0).getDouble(2) - hc) / math.abs(hc) < 1e-9)
    assert(r(0).getBoolean(3) == (r(0).getDouble(2) > 9.487729036781154))
  }

  test("q214: KS D equals a brute per-value ECDF-gap recompute") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) % 2 == 0,
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    val got = Relational.queries("q214_ks_test")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    ev.groupBy(_._1).foreach { case (ty, g) =>
      val a = g.filter(_._2).map(_._3)
      val b = g.filterNot(_._2).map(_._3)
      val (na, nb) = (BigInt(a.length), BigInt(b.length))
      // brute: scaled ECDF gap at every distinct pooled value
      val dNum = g.map(_._3).distinct.map { v =>
        (BigInt(a.count(_ <= v)) * nb - BigInt(b.count(_ <= v)) * na).abs
      }.max
      val (gna, gnb, gnum, gd, gsig) = got(ty)
      assert((gna, gnb, gnum) == ((na.toLong, nb.toLong, dNum.toLong)), ty)
      assert(gd == dNum.toDouble / (na.toDouble * nb.toDouble), ty)
      assert(gsig ==
        (1000000 * dNum * dNum > 1844164 * na * nb * (na + nb)), ty)
    }
    assert(got.nonEmpty)
  }

  test("q223: Poisson-bootstrap CI equals a JVM recompute of the whole pipeline") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    def weight(b: Int, id: Long): Long = {
      val h = TextFns.md5hex(s"bs|${b / 8}|$id")
      val u = java.lang.Long.parseLong(h.substring(4 * (b % 8), 4 * (b % 8) + 4), 16)
      val k = Relational.PoissonCdf16.indexWhere(u < _)
      if (k < 0) Relational.PoissonCdf16.length.toLong else k.toLong
    }
    val got = Relational.queries("q223_bootstrap_ci")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6))).toMap
    ev.groupBy(_._2).foreach { case (ty, g) =>
      val means = (0 until Relational.BootReplicas).flatMap { b =>
        val ws = g.map { case (id, _, c) => (weight(b, id), c) }
        val sw = ws.map(_._1).sum
        if (sw == 0) None
        else Some(b -> (BigInt(ws.map { case (w, c) => w * c }.sum) * 10000
          / sw).toLong)
      }
      val ordered = means.sortBy { case (b, m) => (m, b) }.map(_._2)
      val nb = ordered.length
      val meanU = (BigInt(g.map(_._3).sum) * 10000 / g.length).toLong
      val (gn, gmean, gboot, glo, ghi, gcov) = got(ty)
      assert(gn == g.length.toLong, ty)
      assert(gmean == meanU, ty)
      assert(gboot == nb.toLong, ty)
      assert(glo == ordered(1), ty)
      assert(ghi == ordered(nb - 2), ty)
      assert(gcov == (glo <= meanU && meanU <= ghi), ty)
      // statistical sanity, not just plumbing: the interval is non-trivial
      // (strictly ordered tails) and the replica spread brackets the
      // point estimate on this corpus
      assert(glo < ghi, ty)
      assert(gcov, ty)
    }
    assert(got.nonEmpty)
  }

  test("q224: burst flags equal a brute trailing-week recompute") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long"),
        unix_date(to_date(col("ts"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hist = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val mind = ev.map(_._2).min
    val got = Relational.queries("q224_term_bursts")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val expected = hist.keys.filter(_._2 >= mind + 7).map { case (item, day) =>
      val base = (day - 7 until day)
        .map(dd => hist.getOrElse((item, dd), 0L)).sum
      val n = hist((item, day))
      (item, day) -> (n, base,
        n * 7 > base * Relational.BurstFactor && n >= Relational.MinBurstCount)
    }.toMap
    assert(got == expected)
    // non-vacuous on this corpus: both verdicts occur
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("q229: survival table equals a JVM recompute with proper censoring") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000))
    val gapUs = 12L * 3600 * 1000000
    // sessionize per user: a gap ≥ 12 h starts a new session
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val ts = g.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var (st, en) = (ts.head, ts.head)
      ts.tail.foreach { t =>
        if (t - en >= gapUs) { out += ((st, en)); st = t; en = t }
        else en = t
      }
      out += ((st, en)); out
    }.toSeq
    val maxEn = sessions.map(_._2).max
    val lifet = sessions.map { case (st, en) =>
      ((en - st) / 3600000000L, en < maxEn - gapUs)
    }
    val hist = lifet.groupBy(_._1).view.mapValues { g =>
      (g.count(_._2).toLong, g.count(!_._2).toLong)
    }.toMap
    val ts = hist.keys.toSeq.sorted
    var (risk, haz) = (lifet.size.toLong, 0L)
    val expected = ts.map { t =>
      val (d, c) = hist(t)
      haz += 1000000L * d / risk
      val row = (t, risk, d, c, haz)
      risk -= d + c
      row
    }
    val got = Relational.queries("q229_session_survival")(spark, sfDir)
      .orderBy(col("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == expected)
    // survival semantics hold: the risk set is a proper decreasing
    // filtration, the hazard is nondecreasing, and censoring is REAL on
    // this corpus (some sessions end too close to the corpus edge to call)
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
    assert(got.map(_._5).toSeq == got.map(_._5).toSeq.sorted)
    assert(got.map(_._4).sum > 0 && got.map(_._3).sum > 0)
  }

  test("q230: windowed CUSUM equals the RECURSIVE Page statistic fold") {
    // The implementation computes S via the prefix-sum/prefix-min
    // identity; the ground truth here is the textbook recursion
    // S_t = max(0, S_{t-1} + y_t) folded sequentially — if the identity
    // were wrong anywhere (sign, frame bound, LEAST vs MIN), this is
    // where it dies.
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_date(to_date(col("ts"))).cast("long"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    val got = Relational.queries("q230_cusum_shift")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    ev.groupBy(_._1).foreach { case (ty, g) =>
      val daily = g.groupBy(_._2).view
        .mapValues(rows => (rows.length.toLong, rows.map(_._3).sum)).toMap
      val mu = (BigInt(daily.values.map(_._2).sum) * 10000 /
        daily.values.map(_._1).sum).toLong
      var s = 0L
      daily.keys.toSeq.sorted.foreach { day =>
        val (n, sc) = daily(day)
        val y = (BigInt(sc) * 10000 / n).toLong - mu -
          Relational.CusumAllowanceU
        s = math.max(0L, s + y)
        assert(got((ty, day)) ==
          ((n, y, s, s > Relational.CusumThresholdU)), s"$ty day $day")
      }
    }
    // both verdicts occur (the dials are calibrated, not vacuous)
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("q216: rolling 7-day uniques equal a brute per-day membership scan") {
    val act = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_date(to_date(col("ts"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val maxd = act.map(_._2).max
    val brute = (act.map(_._2).min to maxd).map { day =>
      day -> act.filter(a => a._2 >= day - 6 && a._2 <= day)
        .map(_._1).distinct.length.toLong
    }.filter(_._2 > 0).toMap
    val got = Relational.queries("q216_rolling_uniques")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute)
    // non-vacuous: the window actually carries users past their last
    // active day somewhere (a day with no fresh activity still reports)
    val activeDays = act.map(_._2).toSet
    assert(brute.keySet.exists(d => !activeDays.contains(d)) ||
      brute.values.exists(_ > 1))
  }

  test("q219: compaction bins equal a JVM quota-packing recompute") {
    val files = graft.Tables.load(spark, sfDir, "documents")
      .groupBy(col("source"), expr("doc_id div 4").as("file_id"))
      .agg(sum(col("n_chars")).as("bytes")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val T = Relational.CompactTargetBytes
    val expected = files.groupBy(_._1).flatMap { case (src, fs) =>
      val ordered = fs.sortBy(f => (-f._3, f._2))
      val cumBefore = ordered.scanLeft(0L)(_ + _._3).dropRight(1)
      ordered.zip(cumBefore)
        .groupBy { case (_, cb) => cb / T }
        .map { case (bin, members) =>
          (src, bin, members.length.toLong, members.map(_._1._3).sum,
            members.map(_._1._2).min, members.map(_._1._2).max)
        }
    }.toSet
    val got = Relational.queries("q219_compaction_plan")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the planner actually packs: some source has multiple bins, and every
    // non-final bin carries at least a target's worth minus one file
    val bySrc = got.groupBy(_._1)
    assert(bySrc.values.exists(_.size > 1))
    bySrc.foreach { case (src, bins) =>
      val maxBin = bins.map(_._2).max
      val maxFile = files.filter(_._1 == src).map(_._3).max
      bins.filter(_._2 < maxBin).foreach { b =>
        assert(b._4 >= T - maxFile, s"$src bin ${b._2} underfull: ${b._4}")
      }
    }
  }

  test("q198: Spearman equals Pearson over textbook midranks") {
    val rows = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2).*(100).toLongExact,
        BigDecimal(r.getDouble(2)).setScale(2).*(100).toLongExact))
    def midranks(vs: Seq[Long]): Map[Long, Double] =
      vs.sorted.zipWithIndex.groupBy(_._1).view
        .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
    val expected = rows.groupBy(_._1).view.mapValues { g =>
      val rx = midranks(g.map(_._2)); val ry = midranks(g.map(_._3))
      val xs = g.map(e => rx(e._2)); val ys = g.map(e => ry(e._3))
      val n = g.size
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum *
        ys.map(y => (y - my) * (y - my)).sum)
      (n.toLong, num / den)
    }.toMap
    val got = Relational.queries("q198_spearman")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (g, (n, rho)) =>
      val (en, erho) = expected(g)
      assert(n == en)
      assert(math.abs(rho - erho) < 1e-9, s"$g: $rho vs $erho")
      // the synthetic generator draws quantity and price independently, so
      // the true monotone association is ~0 — the statistic must say so
      // (|rho| well inside the null band), which is itself the check that
      // ranks, not raw magnitudes, drive the value
      assert(math.abs(rho) < 0.1, s"$g: independent dims must give rho~0")
    }
  }

  test("q174: z² and the significance bit match a BigInt recompute") {
    val evs = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n1 = evs.count(_._1 % 2 == 0).toLong
    val x1 = evs.count(e => e._1 % 2 == 0 && e._2 == "purchase").toLong
    val n2 = evs.length - n1
    val x2 = evs.count(_._2 == "purchase") - x1
    val (bn1, bx1, bn2, bx2) = (BigInt(n1), BigInt(x1), BigInt(n2), BigInt(x2))
    val dd = bx1 * bn2 - bx2 * bn1
    val n = bn1 + bn2
    val x = bx1 + bx2
    val z2 = (dd * dd * n).toDouble / (bn1 * bn2 * x * (n - x)).toDouble
    val sig = 10000 * dd * dd * n > 38416 * bn1 * bn2 * x * (n - x)
    val r = Relational.queries("q174_ab_ztest")(spark, sfDir).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getLong(3)) == (n1, x1, n2, x2))
    assert(r(0).getDouble(4) == z2)
    assert(r(0).getBoolean(5) == sig)
    // the integer significance gate and the float z² must agree whenever z²
    // is not razor-close to the 3.8416 cut (it never is on this testdata).
    assert(sig == (z2 > 3.8416))
  }
}
