package graft.operators


import graft.{Shape, SparkSpec}

/** Measured proof of the monitoring tier's shuffle-volume claims (the
  * ShuffleBytesSpec discipline applied to q223/q224): the Poisson
  * bootstrap's map-side combine must collapse the explode×B row volume
  * to (groups × B) counters per task BEFORE any exchange, and the burst
  * board must shuffle only (item × day) histogram cells — in both cases
  * shuffle volume is value-domain-sized, independent of corpus row
  * count. Broadcast stays ON here (these plans' exchanges are the
  * aggregations themselves, not joins); what is measured is exactly
  * what a 1000-executor run would pay per stage boundary. */
class MonitoringShuffleBytesSpec extends SparkSpec {

  test("q223: bootstrap shuffles (groups × B)-sized partials, not the ×B explode (measured)") {
    val dir = sfDirAt("0.01")
    val events = graft.Tables.load(spark, dir, "events")
    // shape bounds come from the data itself, not literals — the spec
    // must hold wherever the testdata lives and whatever its cardinality
    val shape = events.selectExpr("count(1)", "count(distinct event_type)")
      .collect()(0)
    val (nRows, nTypes) = (shape.getLong(0), shape.getLong(1))
    val b = Relational.BootReplicas.toLong
    val exploded = nRows * b // what a combine-less plan would shuffle
    val (_, Shape(_, _, _, _, bytes, records, _)) = Shape.of(spark) {
      assert(Relational.queries("q223_bootstrap_ci")(spark, dir)
        .collect().nonEmpty)
    }
    info(f"q223 shuffled ${bytes}%,d B / ${records}%,d records " +
      f"(corpus $nRows%,d rows × $b replicas = $exploded%,d exploded rows)")
    // map-side combine ceiling: per task at most (types × B) partials
    // cross the exchange, plus the tiny window/CI stages — orders of
    // magnitude under the exploded row count
    val tasks = TextFns.cpuPartitions.toLong
    assert(records <= tasks * nTypes * b * 4 + 10000,
      s"bootstrap shuffle is not map-side combined ($records records)")
    assert(records < exploded / 50,
      s"shuffle volume tracks the explode ($records of $exploded)")
  }

  test("q224: burst board shuffles histogram cells, not events (measured)") {
    val dir = sfDirAt("0.01")
    val events = graft.Tables.load(spark, dir, "events")
    // the (item × day) cell-grid bound is measured from the data, not a
    // literal grid: q224's item key is the props.k payload attribute
    val shape = events.selectExpr("count(1)",
      "count(distinct get_json_object(props, '$.k'))",
      "count(distinct cast(ts as date))").collect()(0)
    val nRows = shape.getLong(0)
    val cells = shape.getLong(1) * shape.getLong(2)
    val (_, Shape(_, _, _, _, bytes, records, _)) = Shape.of(spark) {
      assert(Relational.queries("q224_term_bursts")(spark, dir)
        .collect().nonEmpty)
    }
    info(f"q224 shuffled ${bytes}%,d B / ${records}%,d records " +
      f"(corpus $nRows%,d rows; ≤ $cells histogram cells)")
    val tasks = TextFns.cpuPartitions.toLong
    // partial-agg ceiling: per task at most the full cell grid, twice
    // (histogram + window input), plus the 1-row min-day agg
    assert(records <= tasks * cells * 2 + 1000,
      s"burst shuffle is not cell-sized ($records records)")
    assert(records < nRows,
      s"burst board shuffled event rows ($records of $nRows)")
  }
}
