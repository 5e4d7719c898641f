package graft.ngsi

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ListBuffer

import com.sun.net.httpserver.HttpServer

import org.scalatest.funsuite.AnyFunSuite

/** Round-trip tests for the typed subscription client against an embedded
  * broker stand-in: the loop the reference validates manually with
  * `curl_SubscribeToEntityNotifications.sh` against a live Orion. No
  * SparkSession involved — subscriptions are driver-side control plane. */
class OrionSubscriptionsSpec extends AnyFunSuite {

  case class Received(method: String, path: String, contentType: String,
                      service: String, body: String)

  private def withBroker[A](f: (Int, ListBuffer[Received]) => A): A = {
    val got = ListBuffer.empty[Received]
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      got.synchronized {
        got += Received(exchange.getRequestMethod,
          exchange.getRequestURI.getPath,
          Option(exchange.getRequestHeaders.getFirst("Content-Type")).getOrElse(""),
          Option(exchange.getRequestHeaders.getFirst("Fiware-Service")).getOrElse(""),
          body)
      }
      (exchange.getRequestMethod, exchange.getRequestURI.getPath) match {
        case ("POST", "/v2/subscriptions") =>
          // Orion's create contract: 201 + Location, empty body
          exchange.getResponseHeaders.add("Location",
            "/v2/subscriptions/sub-42-abc")
          exchange.sendResponseHeaders(201, -1)
        case ("DELETE", _) => exchange.sendResponseHeaders(204, -1)
        case _             => exchange.sendResponseHeaders(404, -1)
      }
      exchange.close()
    })
    server.start()
    try f(server.getAddress.getPort, got) finally server.stop(0)
  }

  private val sub = OrionSubscription(
    description = "A subscription to get info about Room1",
    entities = Seq(OrionSubscription.Entity("Room1", "Room")),
    conditionAttrs = Seq("pressure", "temperature"),
    notificationUrl = "http://127.0.0.1:9001/notify",
    notificationAttrs = Seq("temperature", "pressure"),
    expires = Some("2040-01-01T14:00:00.00Z"),
    throttlingSeconds = Some(5))

  test("payload matches the reference script's shape field for field") {
    val json = OrionSubscription.toJson(sub)
    // every field of curl_SubscribeToEntityNotifications.sh, one JSON doc
    assert(json.contains(""""description":"A subscription to get info about Room1""""))
    assert(json.contains(""""entities":[{"id":"Room1","type":"Room"}]"""))
    assert(json.contains(""""condition":{"attrs":["pressure","temperature"]}"""))
    assert(json.contains(""""http":{"url":"http://127.0.0.1:9001/notify"}"""))
    assert(json.contains(""""attrs":["temperature","pressure"]}"""))
    assert(json.contains(""""expires":"2040-01-01T14:00:00.00Z""""))
    assert(json.contains(""""throttling":5"""))
    // optional fields really are optional
    val bare = OrionSubscription.toJson(
      sub.copy(expires = None, throttlingSeconds = None))
    assert(!bare.contains("expires") && !bare.contains("throttling"))
    // strings are escaped, not interpolated raw
    val hostile = OrionSubscription.toJson(
      sub.copy(description = "a \"b\"\nc"))
    assert(hostile.contains("""a \"b\"\nc"""))
  }

  test("create POSTs to /v2/subscriptions and returns the Location id") {
    withBroker { (port, got) =>
      val client = new OrionSubscriptionClient(s"http://127.0.0.1:$port",
        service = Some("tenant1"))
      val id = client.create(sub)
      assert(id == "sub-42-abc")
      val seen = got.synchronized(got.toList)
      assert(seen.map(r => (r.method, r.path)) ==
        List(("POST", "/v2/subscriptions")))
      assert(seen.head.contentType == "application/json")
      assert(seen.head.service == "tenant1", "tenancy rides as a header")
      assert(seen.head.body == OrionSubscription.toJson(sub))
    }
  }

  test("delete targets the subscription path; create failure is loud") {
    withBroker { (port, got) =>
      val client = new OrionSubscriptionClient(s"http://127.0.0.1:$port")
      assert(client.delete("sub-42-abc"))
      val seen = got.synchronized(got.toList)
      assert(seen.map(r => (r.method, r.path)) ==
        List(("DELETE", "/v2/subscriptions/sub-42-abc")))
    }
    // a broker that rejects (405 here) must raise, not return garbage
    withBroker { (port, _) =>
      val e = intercept[IllegalStateException] {
        // PUT-only stub answers 405 to nothing but POST/DELETE; force a
        // non-201 by posting to a path the stub rejects
        new OrionSubscriptionClient(s"http://127.0.0.1:$port/bad-base")
          .create(sub)
      }
      assert(e.getMessage.contains("subscription create failed"))
    }
  }
}
