package graft.ngsi

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}

/** One outgoing HTTP update — content + per-record URL + method +
  * content type, the same four fields as the reference's
  * `OrionSinkObject(content, url, contentType, method)`
  * (`Example2.scala:35-38`, `README.md:322-327`). */
case class OrionSinkRecord(
    content: String,
    url: String,
    contentType: String = "application/json",
    method: String = "POST",
    headers: Map[String, String] = Map.empty)

/** HTTP write-back sink — the reference's `OrionSink.addSink`
  * (`Example2.scala:42`) re-expressed as a Structured Streaming
  * [[ForeachWriter]]: one writer instance per partition per epoch, so
  * posts run distributed on executors, never through the driver.
  * Supports POST/PUT/PATCH (`README.md:326`) via java.net.http.HttpClient
  * (JDK built-in; HttpURLConnection cannot send PATCH).
  */
object OrionSink {

  // One HttpClient per JVM per connect timeout, shared by every writer:
  // each client owns a selector thread, an executor and a connection
  // pool, so building one per partition per batch leaked threads and
  // never reused a connection.
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Int, HttpClient]()

  private[ngsi] def client(connectTimeoutMs: Int): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, ms =>
      HttpClient.newBuilder().connectTimeout(Duration.ofMillis(ms.toLong)).build())

  /** Rows must have columns (content, url, contentType, method) — the
    * shape produced by [[NgsiPipelines.toOrionUpdates]]. */
  class Writer(connectTimeoutMs: Int = 5000,
               headers: Map[String, String] = Map.empty)
      extends ForeachWriter[Row] {
    @transient private var client: HttpClient = _

    override def open(partitionId: Long, epochId: Long): Boolean = {
      client = OrionSink.client(connectTimeoutMs)
      true
    }

    override def process(row: Row): Unit = {
      val builder = HttpRequest.newBuilder()
        .uri(URI.create(row.getAs[String]("url")))
        .timeout(Duration.ofMillis(connectTimeoutMs.toLong))
        .header("Content-Type", row.getAs[String]("contentType"))
        .method(row.getAs[String]("method"),
                HttpRequest.BodyPublishers.ofString(row.getAs[String]("content")))
      headers.foreach { case (k, v) => builder.header(k, v) }
      // Fire-and-forget per record, matching the reference sink's
      // best-effort semantics (no retry/ack logic in the connector usage).
      // IOExceptions are best-effort losses; an interrupt is task
      // cancellation and must abort the partition with the flag restored.
      try { client.send(builder.build(), HttpResponse.BodyHandlers.discarding()); () }
      catch {
        case _: java.io.IOException => ()
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw new RuntimeException("interrupted during HTTP sink write", e)
      }
    }

    override def close(errorOrNull: Throwable): Unit = ()
  }

  /** Batch-side sink: POST every row of an (already small/aggregated)
    * update DataFrame from executors via foreachPartition — used by
    * foreachBatch fan-out (reference Example2 sinks the same stream to
    * HTTP and console, `Example2.scala:42,45`). */
  def writeBatch(updates: DataFrame,
                 headers: Map[String, String] = Map.empty): Unit = {
    updates.foreachPartition { rows: Iterator[Row] =>
      val w = new Writer(headers = headers)
      w.open(0L, 0L)
      rows.foreach(w.process)
      w.close(null)
    }
  }
}
