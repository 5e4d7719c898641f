package graft.ngsi

import java.sql.Timestamp

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** NGSI v2 notification data model.
  *
  * Mirrors the event shape the reference consumes from the
  * fiware-cosmos-orion-flink-connector (reference usage:
  * `Example1.scala:21-24` — `event.entities`, `entity.id`,
  * `entity.attrs(name).value`; wire format
  * `files/example1/curl_Notification.sh:12-25`).
  *
  * Divergence from the reference, by design (SURVEY.md §1.4): attribute
  * `value` is dynamically typed on the wire (`Float` vs nested object vs
  * array — `Example5.scala:22-27` downcasts with `asInstanceOf`). The
  * honest Spark encoding keeps `value` as a JSON string and late-binds at
  * extraction time with `cast` / `from_json` — the relational analog of the
  * reference's late `asInstanceOf`.
  */
case class NgsiAttribute(
    attrType: String,
    /** JSON-encoded attribute value; scalars unwrapped (numbers/booleans as
      * their literal text, strings without quotes) so `.cast(...)` works
      * directly; objects/arrays as compact JSON for `from_json`. */
    value: String,
    /** JSON-encoded metadata object (`{}` when absent). */
    metadata: String)

case class NgsiEntity(
    id: String,
    entityType: String,
    attrs: Map[String, NgsiAttribute])

/** One NGSI v2 notification. Header-borne tenancy metadata
  * (`Fiware-Service` / `Fiware-ServicePath`,
  * `files/example1/curl_Notification.sh:7-11`) rides along; `recvTime` is
  * the ingest (processing-time) timestamp that stands in for Flink's
  * processing-time windows (`Example1.scala:27`). */
case class NgsiEvent(
    subscriptionId: String,
    service: String,
    servicePath: String,
    recvTime: Timestamp,
    entities: Seq[NgsiEntity])

/** Parser: NGSI v2 notification JSON body -> [[NgsiEvent]].
  *
  * Dynamic attribute keys (each entity object has `id`, `type`, plus one
  * key per attribute) rule out a fixed `from_json` StructType, so the
  * parse is a typed `Dataset.map` over Jackson (shipped with Spark). This
  * runs distributed — one executor task per input partition — and emits a
  * fully encodable case class; everything downstream is Catalyst.
  */
object NgsiParser extends Serializable {

  // Jackson's ObjectMapper is thread-safe after configuration; one per JVM.
  @transient private lazy val mapper = new ObjectMapper()

  /** Render a JSON subtree per the [[NgsiAttribute.value]] contract. */
  private def renderValue(n: JsonNode): String =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText()
    else mapper.writeValueAsString(n)

  def parse(body: String,
            service: String = "",
            servicePath: String = "",
            recvTime: Timestamp = new Timestamp(0L)): NgsiEvent = {
    val root = mapper.readTree(body)
    val entities = Option(root.get("data")).toSeq.flatMap { data =>
      data.elements().asScala.map { ent =>
        val fields = ent.properties().iterator().asScala
        val attrs = fields.collect {
          case e if e.getKey != "id" && e.getKey != "type" =>
            val a = e.getValue
            e.getKey -> NgsiAttribute(
              attrType = Option(a.get("type")).map(_.asText()).orNull,
              value = renderValue(a.get("value")),
              metadata =
                Option(a.get("metadata")).map(mapper.writeValueAsString).getOrElse("{}"))
        }.toMap
        NgsiEntity(
          id = Option(ent.get("id")).map(_.asText()).orNull,
          entityType = Option(ent.get("type")).map(_.asText()).orNull,
          attrs = attrs)
      }
    }
    NgsiEvent(
      subscriptionId =
        Option(root.get("subscriptionId")).map(_.asText()).orNull,
      service = service,
      servicePath = servicePath,
      recvTime = recvTime,
      entities = entities)
  }
}

/** The JSON string escaper behind both hand-written JSON shapes: the HTTP
  * source's capture lines and [[OrionSubscription.toJson]]. Quote,
  * backslash and the three named controls get their short escapes, other
  * control characters four-hex-digit unicode escapes; everything else,
  * non-ASCII included, is written raw. */
object NgsiJson {
  def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }
}
