package graft.ngsi

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ListBuffer

import com.sun.net.httpserver.HttpServer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.NgsiStreams

/** Delivery tests for the HTTP write-back sink: an embedded receiver
  * captures what actually arrives on the wire (method, path, content type,
  * body) — the loop the reference validates manually with curl against a
  * live broker (`README.md:341-345`). */
class OrionSinkSpec extends SparkSpec {
  import spark.implicits._

  case class Received(method: String, path: String, contentType: String, body: String)

  private def withReceiver[A](f: (Int, ListBuffer[Received]) => A): A = {
    val got = ListBuffer.empty[Received]
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      got.synchronized {
        got += Received(exchange.getRequestMethod, exchange.getRequestURI.getPath,
          Option(exchange.getRequestHeaders.getFirst("Content-Type")).getOrElse(""), body)
      }
      exchange.sendResponseHeaders(204, -1)
      exchange.close()
    })
    server.start()
    try f(server.getAddress.getPort, got) finally server.stop(0)
  }

  test("writeBatch posts each record to its per-record URL, PATCH included") {
    withReceiver { (port, got) =>
      val updates = Seq(
        OrionSinkRecord("""{"temperature_min":{"value":19.5,"type":"Float"}}""",
          s"http://127.0.0.1:$port/v2/entities/R1/attrs"),
        OrionSinkRecord("""{"temperature_min":{"value":7.0,"type":"Float"}}""",
          s"http://127.0.0.1:$port/v2/entities/R2/attrs", method = "PATCH")
      ).toDF()
      OrionSink.writeBatch(updates)
      val seen = got.synchronized(got.toList)
      assert(seen.map(_.path).toSet ==
        Set("/v2/entities/R1/attrs", "/v2/entities/R2/attrs"))
      assert(seen.map(_.method).toSet == Set("POST", "PATCH"))
      assert(seen.forall(_.contentType == "application/json"))
      assert(seen.exists(_.body.contains(""""value":19.5""")))
    }
  }

  test("streaming example2 loop: notification in -> NGSI update out over HTTP") {
    withReceiver { (port, got) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long)]
      val raw = mem.toDF()
        .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
      val minDf = NgsiStreams.minTemperatureStream(raw)
      val updates = NgsiPipelines.toOrionUpdates(minDf,
        s"http://127.0.0.1:$port/v2/entities/")
      val q = NgsiStreams.start(NgsiStreams.toOrion(updates))
      try {
        val body =
          """{"subscriptionId":"sub1","data":[{"id":"Room1","type":"Room",
            |"temperature":{"type":"Float","value":23.5,"metadata":{}}}]}"""
            .stripMargin.replace("\n", "")
        mem.addData(body -> 1700000000000L)
        q.processAllAvailable()
        val seen = got.synchronized(got.toList)
        assert(seen.nonEmpty)
        assert(seen.forall(_.path == "/v2/entities/Room1/attrs"))
        assert(seen.forall(_.body.contains(""""temperature_min"""")))
        assert(seen.forall(_.body.contains("23.5")))
      } finally q.stop()
    }
  }

  private def notification(entity: String) =
    s"""{"subscriptionId":"sub1","data":[$entity]}"""

  private def room(id: String, value: String) =
    s"""{"id":"$id","type":"Room","temperature":{"type":"Float","value":$value,"metadata":{}}}"""

  test("valid JSON with no entity id, a space in the id or a non-numeric value " +
    "does not kill the example2 query") {
    withReceiver { (port, got) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long)]
      val raw = mem.toDF()
        .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
      val minDf = NgsiStreams.minTemperatureStream(raw, "10 seconds", "5 seconds", "5 seconds")
      val updates = NgsiPipelines.toOrionUpdates(minDf,
        s"http://127.0.0.1:$port/v2/entities/")
      val q = NgsiStreams.start(NgsiStreams.toOrion(updates))
      try {
        val bodies = Seq(
          notification(room("Room1", "21.5")),
          // no id: the update URL is null
          notification("""{"type":"Room","temperature":{"type":"Float","value":20.0}}"""),
          // a space in the id: the update URL is not a URI
          notification(room("R 1", "20.0")),
          // a string value: not a float
          notification(room("Room3", "\"hot\"")),
          notification(room("Room1", "19.0")))
        // one micro-batch per body, all in one 5 s window
        bodies.zipWithIndex.foreach { case (b, i) =>
          mem.addData(b -> (1700000000000L + i))
          q.processAllAvailable()
        }
        assert(q.isActive && q.exception.isEmpty)
        val room1 = got.synchronized(got.toList)
          .filter(_.path == "/v2/entities/Room1/attrs").map(_.body)
        assert(room1.exists(_.contains(""""value":21.5""")), room1)
        assert(room1.exists(_.contains(""""value":19.0""")),
          s"the valid update after the three bad ones never arrived: $room1")
      } finally q.stop()
    }
  }

  test("example2 fan-out: toOrionAndConsole posts the update and prints its content once") {
    withReceiver { (port, got) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long)]
      val raw = mem.toDF()
        .select(col("_1").as("value"), timestamp_millis(col("_2")).as("recvTime"))
      // a tumbling window: one window, so one update row per notification
      val minDf = NgsiStreams.minTemperatureStream(raw, "10 seconds", "5 seconds", "5 seconds")
      val printed = new java.io.ByteArrayOutputStream()
      // the stream thread inherits the redirected Console.out from here
      Console.withOut(printed) {
        val q = NgsiStreams.start(NgsiStreams.toOrionAndConsole(minDf,
          s"http://127.0.0.1:$port/v2/entities/"))
        try {
          mem.addData(notification(room("Room1", "23.5")) -> 1700000000000L)
          q.processAllAvailable()
        } finally q.stop()
      }
      val content = """{"temperature_min":{"value":23.5,"type":"Float"}}"""
      assert(got.synchronized(got.toList).map(r => (r.method, r.path, r.body)) ==
        List(("POST", "/v2/entities/Room1/attrs", content)))
      val out = printed.toString("UTF-8")
      assert(out.split(java.util.regex.Pattern.quote(content), -1).length - 1 == 1, out)
    }
  }
}
