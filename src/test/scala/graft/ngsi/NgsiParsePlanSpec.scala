package graft.ngsi

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, MapElements, SerializeFromObject}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.streaming.NgsiStreams

/** The notification parse is Spark functions end to end: no optimized
  * plan of a pipeline that parses carries an object round trip
  * (`DeserializeToObject → MapElements → SerializeFromObject`), which the
  * optimizer can neither see into nor prune through, and each JSON value
  * is parsed once: no inferred filter copies the parse below its
  * projection. That holds for the body in every example pipeline and for
  * Example5's `information` attribute. */
class NgsiParsePlanSpec extends SparkSpec with Matchers {

  private def objectNodes(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case p @ (_: DeserializeToObject | _: MapElements | _: SerializeFromObject) => p.nodeName
    }

  /** How many times a row of the plan is parsed: its `from_json` calls. */
  private def parses(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum }.sum

  test("minTemperatureStream's micro-batch plan has no object round trip and parses once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val raw = mem.toDF()
      .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
    val query = NgsiStreams.minTemperatureStream(raw, "10 seconds", "5 seconds", "5 seconds")
      .writeStream.format("memory").queryName("ngsi_parse_plan").outputMode("update").start()
    try {
      mem.addData((NgsiFixtures.flatSensorAt("R1", 30.0), 0L))
      query.processAllAvailable()
      val plan = query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      objectNodes(plan) shouldBe empty
      parses(plan) shouldBe 1
      s.table("ngsi_parse_plan").count() shouldBe 1L
    } finally query.stop()
  }

  /** `rows` of (body, recvTime epoch millis) written as a JSON capture and
    * replayed. */
  private def replay(rows: Seq[(String, Long)]): Dataset[NgsiEvent] = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ngsi-parse-plan").toFile
    dir.deleteOnExit()
    rows.toDF("value", "recvTime").write.mode("overwrite").json(dir.getAbsolutePath)
    NgsiPipelines.replayCaptured(s, dir.getAbsolutePath, "json")
  }

  /** An Example5 notification whose `information` value is `value`. */
  private def busInfo(id: String, value: String): String =
    s"""{"data":[{"id":"$id","type":"Node","information":{"type":"object",""" +
      s""""value":$value,"metadata":{}}}],"subscriptionId":"sub5"}"""

  /** Example1 and Example5 bodies, with `information` values that hold
    * buses, no buses, a null bus, a bus without a price and no object. */
  private val mixed = Seq(
    NgsiFixtures.structured -> 1000L,
    NgsiFixtures.flatSensorAt("R1", 30.0) -> 1500L,
    busInfo("B2", """{"buses":[{"name":"BusCompany1","price":30,"schedule":{"morning":[7]}}]}""") -> 2000L,
    busInfo("B3", """{"buses":[]}""") -> 3000L,
    busInfo("B4", """{"buses":[null]}""") -> 3500L,
    busInfo("B5", "\"no buses today\"") -> 4000L,
    busInfo("B6", """{"buses":[{"name":"BusCompany2","price":25}]}""") -> 6000L,
    busInfo("B7", """{"buses":[{"name":"BusCompany3"}]}""") -> 7000L)

  test("replayCaptured's JSON backfill plan has no object round trip and parses once") {
    val events = replay(Seq(NgsiFixtures.flatSensorAt("R1", 30.0) -> 0L))
    val mins = NgsiPipelines.minTemperature(events)
    val plan = mins.queryExecution.optimizedPlan
    objectNodes(plan) shouldBe empty
    parses(plan) shouldBe 1
    // every field kept, subscriptionId included
    parses(events.toDF().queryExecution.optimizedPlan) shouldBe 1
    mins.filter(col("id") === "R1").count() should be > 0L
  }

  test("each example pipeline parses the body once and Example5's information once") {
    val events = replay(mixed)
    Seq(
      "minTemperature" -> NgsiPipelines.minTemperature(events),
      "avgTemperature" -> NgsiPipelines.avgTemperature(events),
      "minBusPrice" -> NgsiPipelines.minBusPrice(events))
      .map { case (name, df) => name -> parses(df.queryExecution.optimizedPlan) } shouldBe Seq(
      "minTemperature" -> 1, "avgTemperature" -> 1, "minBusPrice" -> 2)
  }

  test("minBusPrice over a mixed capture: one row per (window, bus name), null buses kept") {
    val got = NgsiPipelines.minBusPrice(replay(mixed), "5 seconds", "5 seconds").collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime, Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    got should contain theSameElementsAs Seq(
      (0L, Some("BusCompany1"), Some(30)),
      (0L, Some("BusCompany2"), Some(21)),
      (0L, None, None),
      (5000L, Some("BusCompany2"), Some(25)),
      (5000L, Some("BusCompany3"), None))
  }
}
