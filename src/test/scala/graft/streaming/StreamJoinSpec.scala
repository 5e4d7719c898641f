package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Streaming join coverage: stream-static enrichment (dimension broadcast
  * per micro-batch) and watermarked stream-stream inner join (bounded
  * state via time-range condition). */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private def sensorStream(mem: MemoryStream[(String, Double, Long)],
                           valueName: String) =
    mem.toDF()
      .select(col("_1").as("id"), col("_2").as(valueName),
        timestamp_millis(col("_3")).as("recvTime"))

  test("stream-static: entity stream enriched with a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val dim = Seq(("R1", "lab", 2), ("R2", "office", 3))
      .toDF("id", "room_kind", "floor")
    val out = sensorStream(mem, "temperature").join(broadcast(dim), "id")
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(("R1", 21.5, 1000L), ("R2", 19.0, 2000L), ("R9", 5.0, 3000L))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select(col("id"), col("room_kind"), col("floor"), col("temperature"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      // inner join: the unregistered R9 drops out
      assert(rows.toSet == Set(("R1", "lab", 2, 21.5), ("R2", "office", 3, 19.0)))
    } finally q.stop()
  }

  test("stream-stream: watermarked join pairs readings within tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val temps = MemoryStream[(String, Double, Long)]
    val hums = MemoryStream[(String, Double, Long)]
    val joined = NgsiStreams.joinSensorStreams(
      sensorStream(temps, "temperature"), sensorStream(hums, "humidity"),
      watermark = "10 seconds", tolerance = "5 seconds")
    val q = joined.writeStream.format("memory").queryName("paired")
      .outputMode(OutputMode.Append()).start()
    try {
      temps.addData(("R1", 21.5, 10_000L), ("R2", 30.0, 10_000L))
      hums.addData(
        ("R1", 40.0, 12_000L),  // within 5s of R1's reading -> pairs
        ("R1", 99.0, 40_000L),  // 30s later -> outside tolerance
        ("R3", 55.0, 11_000L))  // no matching temperature entity
      q.processAllAvailable()
      val rows = spark.table("paired")
        .select(col("id"), col("temperature"), col("humidity"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSet == Set(("R1", 21.5, 40.0)))
    } finally q.stop()
  }
}
