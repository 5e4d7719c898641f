package graft

import org.apache.spark.sql.execution.streaming.state.StateStore

import graft.SparkSpec

/** Sanity gate for the bench's HTTP-source leg: the load generator, the
  * real `NgsiHttpSource` listener, and the example1 pipeline wire
  * together and report a positive notifications/s with zero failed POSTs
  * (the full-size leg runs inside `Bench.main`; this keeps the leg from
  * bit-rotting between bench runs), and stop the state-store maintenance
  * task when they are done. */
class HttpBenchSpec extends SparkSpec {
  test("http_source bench leg measures end-to-end ingest") {
    val json = Bench.httpSourceBench(spark, total = 1000, threads = 4)
    assert(json.contains("\"pipeline\":\"http_source_min_temperature\""), json)
    assert(!json.contains("\"err\""), json)
    assert(json.contains("\"post_failures\":0"), json)
    val nps = "\"notifications_per_sec\":([0-9.]+)".r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
    assert(nps.exists(_ > 0), json)
    // the leg leaves no state-store maintenance behind: the task is
    // JVM-wide and would outlive the session it served
    assert(!StateStore.isMaintenanceRunning,
      "state-store maintenance task still running after the leg")
    info(json)
  }
}
