package graft.ngsi

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}

/** A typed NGSI v2 subscription — the request the reference drives with
  * `files/example2/curl_SubscribeToEntityNotifications.sh` (entity
  * selector, condition attrs, notification URL + attrs, expiry,
  * throttling), as data instead of a shell heredoc. */
case class OrionSubscription(
    description: String,
    entities: Seq[OrionSubscription.Entity],
    conditionAttrs: Seq[String],
    notificationUrl: String,
    notificationAttrs: Seq[String],
    expires: Option[String] = None,
    throttlingSeconds: Option[Int] = None)

object OrionSubscription {
  /** Entity selector row: exact id + type (the reference's usage); an
    * idPattern-based selector would slot in the same place. */
  case class Entity(id: String, entityType: String)

  import NgsiJson.esc

  private def arr(xs: Seq[String]): String =
    xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")

  /** The exact NGSI v2 subscription payload shape of the reference script
    * (`curl_SubscribeToEntityNotifications.sh`): subject.entities +
    * subject.condition.attrs, notification.http.url + notification.attrs,
    * optional expires/throttling. */
  def toJson(s: OrionSubscription): String = {
    val ents = s.entities
      .map(e => s"""{"id":"${esc(e.id)}","type":"${esc(e.entityType)}"}""")
      .mkString("[", ",", "]")
    val tail =
      s.expires.map(e => s""","expires":"${esc(e)}"""").getOrElse("") +
        s.throttlingSeconds.map(t => s""","throttling":$t""").getOrElse("")
    s"""{"description":"${esc(s.description)}",""" +
      s""""subject":{"entities":$ents,"condition":{"attrs":${arr(s.conditionAttrs)}}},""" +
      s""""notification":{"http":{"url":"${esc(s.notificationUrl)}"},""" +
      s""""attrs":${arr(s.notificationAttrs)}}$tail}"""
  }
}

/** Minimal typed client for the NGSI v2 subscription API — the last
  * operational step the reference leaves to curl. Same HTTP stack and
  * tenancy-header convention as [[OrionSink]] (`Fiware-Service` /
  * `Fiware-ServicePath` ride as headers, never in the payload), and the
  * sink's JVM-wide client and timeout. This is DRIVER-side control-plane
  * code: subscriptions are created once per pipeline, so there is nothing
  * to distribute.
  */
class OrionSubscriptionClient(brokerBase: String,
                              service: Option[String] = None,
                              servicePath: Option[String] = None) {

  private def builder(path: String): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder()
      .uri(URI.create(brokerBase.stripSuffix("/") + path))
      .timeout(OrionSink.Timeout)
    service.foreach(b.header("Fiware-Service", _))
    servicePath.foreach(b.header("Fiware-ServicePath", _))
    b
  }

  /** POST /v2/subscriptions; returns the broker-assigned subscription id
    * (last segment of the Location header). Broker errors surface as
    * IllegalStateException with the status + body — a silent failed
    * subscribe would look exactly like a silent broker. */
  def create(sub: OrionSubscription): String = {
    val resp = OrionSink.client.send(
      builder("/v2/subscriptions")
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(OrionSubscription.toJson(sub)))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 201)
      throw new IllegalStateException(
        s"subscription create failed: HTTP ${resp.statusCode()} ${resp.body()}")
    resp.headers().firstValue("Location")
      .map(_.split("/").last)
      .orElseThrow(() =>
        new IllegalStateException("201 without a Location header"))
  }

  /** DELETE /v2/subscriptions/{id}; true iff the broker acknowledged
    * (204). */
  def delete(id: String): Boolean =
    OrionSink.client.send(builder(s"/v2/subscriptions/$id").DELETE().build(),
      HttpResponse.BodyHandlers.discarding()).statusCode() == 204
}
