package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.ngsi._

/** Streaming assembly of the reference jobs (SURVEY §2A #1-#15):
  * raw-notification stream -> parse -> windowed aggregate -> sink(s).
  *
  * Divergence, by design (SURVEY §2B "watermarks"): the reference uses
  * processing-time windows with no lateness handling at all
  * (`Example1.scala:27`); here `recvTime` is the ingest timestamp
  * (processing-time analog) but flows through event-time machinery with a
  * watermark, so state is bounded — the part Flink's processing-time
  * windows did implicitly and unboundedly keyed state would otherwise
  * leak.
  */
object NgsiStreams {

  /** The reference's `env.addSource(new OrionSource(port))`
    * (`Example1.scala:17`): an unbounded stream of NGSI notifications
    * pushed over HTTP. See [[graft.sources.NgsiHttpSource]].
    *
    * `captureDir` enables the durable-ingest tee: every acked notification
    * is also fsynced to a JSON-lines capture log there, replayable after a
    * restart with [[graft.ngsi.NgsiPipelines.replayCaptured]]. */
  def fromHttp(spark: org.apache.spark.sql.SparkSession, port: Int,
               captureDir: Option[String] = None): DataFrame = {
    val r = spark.readStream
      .format("graft.sources.NgsiHttpSource")
      .option("port", port)
    captureDir.fold(r)(d => r.option("captureDir", d)).load()
  }

  /** Example1 streaming: body stream -> windowed per-entity min. */
  def minTemperatureStream(raw: DataFrame,
                           watermark: String = "10 seconds",
                           windowDur: String = "5 seconds",
                           slide: String = "2 seconds"): DataFrame = {
    val parsed = NgsiPipelines.parseEvents(raw)
    NgsiPipelines.minTemperature(
      parsed.withWatermark("recvTime", watermark), windowDur, slide)
  }

  /** Example4 streaming: windowed average via the typed Aggregator. */
  def avgTemperatureStream(raw: DataFrame,
                           watermark: String = "10 seconds",
                           windowDur: String = "5 seconds",
                           slide: String = "2 seconds"): DataFrame = {
    val parsed = NgsiPipelines.parseEvents(raw)
    NgsiPipelines.avgTemperature(
      parsed.withWatermark("recvTime", watermark), windowDur, slide)
  }

  /** Example5 streaming: structured-attribute navigation + windowed min. */
  def minBusPriceStream(raw: DataFrame,
                        watermark: String = "10 seconds",
                        windowDur: String = "5 seconds",
                        slide: String = "2 seconds"): DataFrame = {
    val parsed = NgsiPipelines.parseEvents(raw)
    NgsiPipelines.minBusPrice(
      parsed.withWatermark("recvTime", watermark), windowDur, slide)
  }

  /** Stream-static enrichment: join the (unbounded) entity stream with a
    * (bounded) dimension table. The dimension is broadcast per micro-batch,
    * so the stream side never shuffles — the standard shape for attaching
    * reference data (device registry, room metadata) to sensor streams. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Stream-stream inner join of two sensor streams on entity id within a
    * time tolerance. Both sides carry watermarks so the state store can
    * evict rows once the other side can no longer match them — without the
    * range condition + watermarks, stream-stream join state grows forever. */
  def joinSensorStreams(left: DataFrame, right: DataFrame,
                        key: String = "id",
                        watermark: String = "10 seconds",
                        tolerance: String = "5 seconds"): DataFrame = {
    val l = left.withWatermark("recvTime", watermark)
    val r = right
      .withColumnRenamed("recvTime", "recvTimeR")
      .withColumnRenamed(key, s"${key}R")
      .withWatermark("recvTimeR", watermark)
    l.join(r,
      col(key) === col(s"${key}R") &&
        col("recvTimeR") >= col("recvTime") - expr(s"INTERVAL $tolerance") &&
        col("recvTimeR") <= col("recvTime") + expr(s"INTERVAL $tolerance"))
  }

  /** Example1's sink: console, single output partition — the analog of
    * `.print().setParallelism(1)` (`Example1.scala:31`). */
  def toConsole(df: DataFrame, numRows: Int = 20): DataStreamWriter[Row] =
    df.coalesce(1).writeStream
      .format("console")
      .option("numRows", numRows)
      .outputMode(OutputMode.Update())

  /** Example2/3's dual sink (`Example2.scala:42,45`): each micro-batch is
    * serialized to NGSI update payloads once, then fanned out to BOTH the
    * HTTP broker sink and the console — one foreachBatch with a local
    * persist beats two independent writeStream queries (which would run
    * the whole window aggregation twice). */
  def toOrionAndConsole(minDf: DataFrame,
                        urlBase: String,
                        method: String = "POST",
                        headers: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    minDf.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val updates = NgsiPipelines.toOrionUpdates(batch, urlBase, method).persist()
        try {
          OrionSink.writeBatch(updates, headers)
          updates.select(col("content")).coalesce(1).show(20, truncate = false)
        } finally { updates.unpersist(); () }
      }

  /** HTTP-only sink: each micro-batch of updates goes to
    * [[graft.ngsi.OrionSink.writeBatch]], the one POST path. */
  def toOrion(updates: DataFrame,
              headers: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        OrionSink.writeBatch(batch, headers)
      }

  def start(w: DataStreamWriter[Row], trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    w.trigger(trigger).start()
}
