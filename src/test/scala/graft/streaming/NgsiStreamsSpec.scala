package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.ngsi.{NgsiFixtures, NgsiPipelines}

/** Streaming e2e (SURVEY §5.3): MemoryStream of NGSI payloads -> pipeline
  * -> memory sink, deterministic via explicit event timestamps and
  * processAllAvailable (never wall-clock). */
class NgsiStreamsSpec extends SparkSpec with Matchers {

  private def runStream(bodies: Seq[(String, Long)],
                        pipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        sinkName: String) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val raw = mem.toDF()
      .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
    val out = pipeline(raw)
    val query = out.writeStream
      .format("memory").queryName(sinkName)
      .outputMode("update")
      .start()
    try {
      mem.addData(bodies: _*)
      query.processAllAvailable()
      s.table(sinkName).collect()
    } finally query.stop()
  }

  test("example1 streaming e2e: windowed min temperature over MemoryStream") {
    val rows = runStream(
      Seq((NgsiFixtures.flatSensorAt("R1", 30.0), 0L),
          (NgsiFixtures.flatSensorAt("R1", 22.0), 1000L),
          (NgsiFixtures.flatSensorAt("R2", 45.0), 1500L)),
      raw => NgsiStreams.minTemperatureStream(raw, "10 seconds", "5 seconds", "5 seconds"),
      "ngsi_min_stream")
    val byId = rows.map(r => (r.getAs[String]("id"), r.getAs[Float]("temperature_min"))).toMap
    byId shouldBe Map("R1" -> 22.0f, "R2" -> 45.0f)
  }

  test("example4 streaming e2e: Aggregator avg over MemoryStream") {
    val rows = runStream(
      Seq((NgsiFixtures.flatSensorAt("R1", 10.0), 0L),
          (NgsiFixtures.flatSensorAt("R1", 30.0), 2000L)),
      raw => NgsiStreams.avgTemperatureStream(raw, "10 seconds", "5 seconds", "5 seconds"),
      "ngsi_avg_stream")
    rows.map(_.getAs[Float]("temperature_avg")).toSet shouldBe Set(20.0f)
  }

  test("example5 streaming e2e: structured attrs windowed min price") {
    val rows = runStream(
      Seq((NgsiFixtures.structured, 0L)),
      raw => NgsiStreams.minBusPriceStream(raw, "10 seconds", "5 seconds", "5 seconds"),
      "ngsi_bus_stream")
    val byName = rows.map(r => (r.getAs[String]("name"), r.getAs[Int]("price_min"))).toMap
    byName shouldBe Map("BusCompany1" -> 33, "BusCompany2" -> 21)
  }

  test("watermark bounds state: late row beyond watermark is dropped in append mode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val raw = mem.toDF()
      .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
    val out = NgsiStreams.minTemperatureStream(raw, "2 seconds", "5 seconds", "5 seconds")
    val query = out.writeStream
      .format("memory").queryName("ngsi_late")
      .outputMode("append")
      .start()
    try {
      // batch 1: rows up to t=20s -> watermark advances to 18s, window [0,5) closes
      mem.addData((NgsiFixtures.flatSensorAt("R1", 25.0), 1000L),
                  (NgsiFixtures.flatSensorAt("R1", 99.0), 20000L))
      query.processAllAvailable()
      // batch 2: a very late row for the closed window — must not resurrect it
      mem.addData((NgsiFixtures.flatSensorAt("R1", 1.0), 1500L))
      query.processAllAvailable()
      val closed = s.table("ngsi_late")
        .filter(col("window.start") === new Timestamp(0L)).collect()
      closed.map(_.getAs[Float]("temperature_min")).toSeq shouldBe Seq(25.0f)
    } finally query.stop()
  }

  test("example1 console sink: toConsole prints one batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val raw = mem.toDF()
      .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
    val temps = NgsiPipelines.flattenEntities(NgsiPipelines.parseEvents(raw).toDF())
      .select(col("id"), NgsiPipelines.attrValue("temperature").as("temperature"))
    val printed = new java.io.ByteArrayOutputStream()
    // the stream thread inherits the redirected Console.out from here
    Console.withOut(printed) {
      val q = NgsiStreams.start(NgsiStreams.toConsole(temps))
      try {
        mem.addData((NgsiFixtures.flatSensorAt("R1", 30.5), 0L))
        q.processAllAvailable()
      } finally q.stop()
    }
    val out = printed.toString("UTF-8")
    assert(out.linesIterator.count(_.startsWith("Batch: ")) == 1, out)
    assert(out.contains("Batch: 0") && out.contains("R1") && out.contains("30.5"), out)
  }
}
