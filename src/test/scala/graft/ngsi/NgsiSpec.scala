package graft.ngsi

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Fixtures = the exact payload shapes from the reference's curl
  * simulators (its de-facto test inputs, SURVEY.md §5):
  * `files/example1/curl_Notification.sh:12-25` (flat sensor) and
  * `files/example5/curl_Notification.sh:12-46` (structured attribute). */
object NgsiFixtures {
  val flatSensor: String =
    """{
      |  "data": [{
      |    "id": "R1", "type": "Node",
      |    "co":          {"type": "Float", "value": 0,    "metadata": {}},
      |    "co2":         {"type": "Float", "value": 0,    "metadata": {}},
      |    "humidity":    {"type": "Float", "value": 40,   "metadata": {}},
      |    "pressure":    {"type": "Float", "value": 1432, "metadata": {}},
      |    "temperature": {"type": "Float", "value": 26.5, "metadata": {}},
      |    "wind_speed":  {"type": "Float", "value": 1.06, "metadata": {}}
      |  }],
      |  "subscriptionId": "57458eb60962ef754e7c0998"
      |}""".stripMargin

  def flatSensorAt(id: String, temperature: Double): String =
    s"""{"data":[{"id":"$id","type":"Node",
        |"temperature":{"type":"Float","value":$temperature,"metadata":{}},
        |"pressure":{"type":"Float","value":720,"metadata":{}}}],
        |"subscriptionId":"sub1"}""".stripMargin.replace("\n", "")

  val structured: String =
    """{
      |  "data": [{
      |    "id": "R1", "type": "Node",
      |    "information": {
      |      "type": "object",
      |      "value": {
      |        "buses": [
      |          {"name": "BusCompany1",
      |           "schedule": {"morning": [7,9,11], "afternoon": [13,15,17,19], "night": [23,1,5]},
      |           "price": 33},
      |          {"name": "BusCompany2",
      |           "schedule": {"morning": [8,10,12], "afternoon": [16,20], "night": [23]},
      |           "price": 21}
      |        ]
      |      },
      |      "metadata": {}
      |    }
      |  }],
      |  "subscriptionId": "57458eb60962ef754e7c0998"
      |}""".stripMargin
}

/** `NgsiPipelines.parseEvents` on single bodies: the attribute-rendering
  * contract of [[NgsiAttribute]] and the bodies that give no entities. */
class NgsiParserSpec extends SparkSpec with Matchers {

  private def parse(body: String): NgsiEvent = parseAll(body).head

  private def parseAll(bodies: String*): Seq[NgsiEvent] = {
    val s = spark
    import s.implicits._
    NgsiPipelines.parseEvents(bodies.toDF("value")).collect().toSeq
  }

  private def oneAttr(attr: String): String =
    s"""{"data":[{"id":"E1","type":"T","a":$attr}],"subscriptionId":"s"}"""

  test("parses flat sensor notification (example1 wire format)") {
    val s = spark
    import s.implicits._
    val raw = Seq((NgsiFixtures.flatSensor, "demo", "/test", new Timestamp(1000L)))
      .toDF("value", "service", "servicePath", "recvTime")
    val Array(ev) = NgsiPipelines.parseEvents(raw).collect()
    ev.subscriptionId shouldBe "57458eb60962ef754e7c0998"
    ev.service shouldBe "demo"
    ev.servicePath shouldBe "/test"
    ev.recvTime shouldBe new Timestamp(1000L)
    ev.entities should have size 1
    val e = ev.entities.head
    e.id shouldBe "R1"
    e.entityType shouldBe "Node"
    e.attrs.keySet shouldBe Set("co", "co2", "humidity", "pressure", "temperature", "wind_speed")
    e.attrs("temperature").attrType shouldBe "Float"
    e.attrs("temperature").value shouldBe "26.5"
    e.attrs("temperature").metadata shouldBe "{}"
    // integer-valued Float attr stays castable
    e.attrs("pressure").value shouldBe "1432"
  }

  test("parses structured attribute notification (example5 wire format)") {
    val ev = parse(NgsiFixtures.structured)
    ev.service shouldBe ""
    ev.servicePath shouldBe ""
    val info = ev.entities.head.attrs("information")
    info.attrType shouldBe "object"
    // value is compact JSON, round-trippable by from_json
    info.value should include (""""buses":[""")
    info.value should include (""""price":33""")
  }

  test("string attribute values are unwrapped (no JSON quotes)") {
    val ev = parse(
      """{"data":[{"id":"E1","type":"T","name":{"type":"Text","value":"hello","metadata":{}}}],"subscriptionId":"s"}""")
    ev.entities.head.attrs("name").value shouldBe "hello"
  }

  test("a JSON null value reads as null; missing metadata reads as {}") {
    val a = parse(oneAttr("""{"type":"Float","value":null}""")).entities.head.attrs("a")
    a.attrType shouldBe "Float"
    a.value shouldBe null
    a.metadata shouldBe "{}"
    parse(oneAttr("""{"type":"Float","value":1,"metadata":{"unit":{"type":"Text","value":"C"}}}"""))
      .entities.head.attrs("a").metadata shouldBe """{"unit":{"type":"Text","value":"C"}}"""
  }

  test("numbers render as Jackson's double text, objects and arrays as compact JSON") {
    def value(v: String) = parse(oneAttr(s"""{"type":"Float","value":$v}""")).entities.head.attrs("a").value
    value("1e3") shouldBe "1000.0"
    value("23.50") shouldBe "23.5"
    value("-7") shouldBe "-7"
    value("true") shouldBe "true"
    value("""{ "x" : [1, 2] }""") shouldBe """{"x":[1,2]}"""
    value("""[ "a", 1 ]""") shouldBe """["a",1]"""
  }

  test("a duplicated attribute key keeps the last value") {
    val body =
      """{"data":[{"id":"R1","type":"Node",
        |"temperature":{"type":"Float","value":10,"metadata":{}},
        |"temperature":{"type":"Float","value":30,"metadata":{}}}],
        |"subscriptionId":"s"}""".stripMargin.replace("\n", "")
    parse(body).entities.head.attrs("temperature").value shouldBe "30"
    val s = spark
    import s.implicits._
    val events = NgsiPipelines.parseEvents(Seq(body).toDF("value"))
    NgsiPipelines.flattenEntities(events.toDF())
      .select(NgsiPipelines.attrValue("temperature")).as[String].collect() shouldBe Array("30")
  }

  test("data as an object, data:[5], a null entity and a non-JSON body give no entities") {
    val evs = parseAll(
      """{"data":{"id":"R1","type":"Node","temperature":{"type":"Float","value":1}},"subscriptionId":"s"}""",
      """{"data":[5],"subscriptionId":"s"}""",
      """not json at all""",
      """{"data":[null],"subscriptionId":"s"}""",
      """{"subscriptionId":"s"}""")
    evs.map(_.entities) shouldBe Seq.fill(5)(Seq.empty)
    evs.last.subscriptionId shouldBe "s"
    evs(2).subscriptionId shouldBe null
  }
}

class NgsiPipelineSpec extends SparkSpec with Matchers {
  import NgsiFixtures._

  private def eventsDf(bodies: (String, Long)*) = {
    val s = spark
    import s.implicits._
    bodies.toSeq.toDF("value", "ms")
      .select(col("value"), timestamp_millis(col("ms")).as("recvTime"))
  }

  test("example1 batch: windowed per-entity min temperature") {
    // two entities, values spread over one 5s window starting at t=0
    val raw = eventsDf(
      (flatSensorAt("R1", 30.0), 0L), (flatSensorAt("R1", 22.0), 1000L),
      (flatSensorAt("R2", 45.0), 1000L), (flatSensorAt("R1", 28.0), 2000L))
    val out = NgsiPipelines
      .minTemperature(NgsiPipelines.parseEvents(raw), "5 seconds", "5 seconds")
      .select(col("id"), col("temperature_min")).collect()
      .map(r => (r.getString(0), r.getFloat(1))).toMap
    out shouldBe Map("R1" -> 22.0f, "R2" -> 45.0f)
  }

  test("example1 sliding windows assign rows to every overlapping pane") {
    val raw = eventsDf((flatSensorAt("R1", 20.0), 2500L))
    val wins = NgsiPipelines
      .minTemperature(NgsiPipelines.parseEvents(raw), "5 seconds", "2 seconds")
      .select(col("window.start")).collect().map(_.getTimestamp(0).getTime).sorted
    // 5s window / 2s slide: event at t=2.5s falls in windows starting at -2, 0, 2
    wins shouldBe Array(-2000L, 0L, 2000L)
  }

  test("example4 batch: Aggregator average matches avg()") {
    val raw = eventsDf(
      (flatSensorAt("R1", 10.0), 0L), (flatSensorAt("R1", 20.0), 1000L),
      (flatSensorAt("R1", 33.0), 2000L))
    val out = NgsiPipelines
      .avgTemperature(NgsiPipelines.parseEvents(raw), "5 seconds", "5 seconds")
      .select(col("temperature_avg")).collect()
    out.map(_.getFloat(0)) shouldBe Array(21.0f)
  }

  test("avg skips entities missing the attribute instead of counting 0.0") {
    // regression: the scala-Float encoder turns a SQL null into 0.0f, so an
    // entity without `temperature` must be filtered before the Aggregator
    val noTemp =
      """{"data":[{"id":"R1","type":"Node",
        |"pressure":{"type":"Float","value":720,"metadata":{}}}],
        |"subscriptionId":"sub1"}""".stripMargin.replace("\n", "")
    val raw = eventsDf(
      (flatSensorAt("R1", 10.0), 0L), (flatSensorAt("R1", 30.0), 1000L),
      (noTemp, 2000L))
    val out = NgsiPipelines
      .avgTemperature(NgsiPipelines.parseEvents(raw), "5 seconds", "5 seconds")
      .select(col("temperature_avg")).collect()
    out.map(_.getFloat(0)) shouldBe Array(20.0f)
  }

  test("example5 batch: structured attrs -> explode buses -> min price") {
    val raw = eventsDf((structured, 0L), (structured, 1000L))
    val out = NgsiPipelines
      .minBusPrice(NgsiPipelines.parseEvents(raw), "5 seconds", "5 seconds")
      .select(col("name"), col("price_min")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    out shouldBe Map("BusCompany1" -> 33, "BusCompany2" -> 21)
  }

  test("example2 serialization: NGSI update payload + per-record URL") {
    val raw = eventsDf((flatSensorAt("Room1", 24.5), 0L))
    val minDf = NgsiPipelines.minTemperature(
      NgsiPipelines.parseEvents(raw), "5 seconds", "5 seconds")
    val upd = NgsiPipelines
      .toOrionUpdates(minDf, "http://localhost:1026/v2/entities/").collect().head
    upd.getAs[String]("content") shouldBe
      """{"temperature_min":{"value":24.5,"type":"Float"}}"""
    upd.getAs[String]("url") shouldBe "http://localhost:1026/v2/entities/Room1/attrs"
    upd.getAs[String]("method") shouldBe "POST"
  }
}
