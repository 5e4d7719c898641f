package graft.ngsi

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, MapElements, SerializeFromObject}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.streaming.NgsiStreams

/** The notification parse is Spark functions end to end: no optimized
  * plan of a pipeline that parses carries an object round trip
  * (`DeserializeToObject → MapElements → SerializeFromObject`), which the
  * optimizer can neither see into nor prune through, and each body is
  * parsed once: no inferred filter copies the parse below its projection. */
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

  test("replayCaptured's JSON backfill plan has no object round trip and parses once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ngsi-parse-plan").toFile
    dir.deleteOnExit()
    Seq((NgsiFixtures.flatSensorAt("R1", 30.0), 0L)).toDF("value", "recvTime")
      .write.mode("overwrite").json(dir.getAbsolutePath)
    val events = NgsiPipelines.replayCaptured(s, dir.getAbsolutePath, "json")
    val mins = NgsiPipelines.minTemperature(events)
    val plan = mins.queryExecution.optimizedPlan
    objectNodes(plan) shouldBe empty
    parses(plan) shouldBe 1
    // every field kept, subscriptionId included
    parses(events.toDF().queryExecution.optimizedPlan) shouldBe 1
    mins.filter(col("id") === "R1").count() should be > 0L
  }
}
