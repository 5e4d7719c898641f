package graft.ngsi

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}

/** HTTP write-back sink — the reference's `OrionSink.addSink`
  * (`Example2.scala:42`) re-expressed over Structured Streaming's unit of
  * work, the micro-batch: `foreachBatch` hands each batch of updates to
  * [[writeBatch]], whose partitions post from the executors, never through
  * the driver. Supports POST/PUT/PATCH (`README.md:326`) via
  * java.net.http.HttpClient (JDK built-in; HttpURLConnection cannot send
  * PATCH).
  */
object OrionSink {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Connect and request timeout of every broker call. */
  private[ngsi] val Timeout: Duration = Duration.ofMillis(5000L)

  /** One HttpClient per JVM, shared by every partition and by
    * [[OrionSubscriptionClient]]: each client owns a selector thread, an
    * executor and a connection pool, so one per partition per batch
    * would leak threads and never reuse a connection. */
  private[ngsi] lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Timeout).build()

  /** POST every row of an update DataFrame from the executors, one
    * partition at a time. Rows must have columns (content, url,
    * contentType, method) — the four fields of the reference's
    * `OrionSinkObject` (`Example2.scala:35-38`), as produced by
    * [[NgsiPipelines.toOrionUpdates]]; `headers` ride on every request. */
  def writeBatch(updates: DataFrame,
                 headers: Map[String, String] = Map.empty): Unit =
    updates.foreachPartition { rows: Iterator[Row] =>
      rows.foreach(post(_, headers))
    }

  /** Fire-and-forget per record, matching the reference sink's
    * best-effort semantics (no retry/ack logic in the connector usage).
    * A row whose URL is null or not a URI (an entity without an id, or an
    * id with a space) and an IOException are best-effort losses: one bad
    * notification must not fail the query. An interrupt is task
    * cancellation and must abort the partition with the flag restored. */
  private def post(row: Row, headers: Map[String, String]): Unit = {
    val url = row.getAs[String]("url")
    Option(url).flatMap(u => Try(URI.create(u)).toOption) match {
      case None => log.warn(s"OrionSink: skipped an update with invalid URL '$url'")
      case Some(uri) =>
        val builder = HttpRequest.newBuilder()
          .uri(uri)
          .timeout(Timeout)
          .header("Content-Type", row.getAs[String]("contentType"))
          .method(row.getAs[String]("method"),
                  HttpRequest.BodyPublishers.ofString(row.getAs[String]("content")))
        headers.foreach { case (k, v) => builder.header(k, v) }
        try { client.send(builder.build(), HttpResponse.BodyHandlers.discarding()); () }
        catch {
          case _: java.io.IOException => ()
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            throw new RuntimeException("interrupted during HTTP sink write", e)
        }
    }
  }
}
