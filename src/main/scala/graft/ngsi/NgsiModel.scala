package graft.ngsi

import java.sql.Timestamp

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
  *
  * No code builds these classes: they are the schema that
  * [[NgsiPipelines.parseEvents]] produces with Spark's JSON functions. The
  * dynamic attribute keys of an entity object need no fixed StructType:
  * `from_json` reads each entity as a `MAP<STRING, STRING>` whose values
  * are the attributes' raw JSON.
  */
case class NgsiAttribute(
    attrType: String,
    /** JSON-encoded attribute value; scalars unwrapped (numbers/booleans as
      * JSON text, fractions as doubles; strings without quotes) so
      * `.cast(...)` works directly; objects/arrays as compact JSON for
      * `from_json`; JSON `null` as null. */
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

/** The JSON string escaper behind the three hand-written JSON shapes: the
  * HTTP source's capture lines, [[OrionSubscription.toJson]] and
  * `graft.Verify`'s `oracle_sql.json`. Quote,
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
