package graft.ngsi

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The reference's five example jobs, re-expressed as pure
  * `DataFrame => DataFrame` transforms over parsed [[NgsiEvent]] rows.
  *
  * Structured Streaming's unified model means each transform runs
  * unchanged on a batch DataFrame (tests, backfill) and a streaming one
  * (`readStream` + watermark) — the Spark-idiomatic answer to the
  * reference's single-mode Flink DataStream graphs.
  *
  * Shuffle placement matches the reference exactly: the one hash
  * repartition sits at the `groupBy(window, key)` where Flink had
  * `keyBy` (`Example1.scala:26-27`); everything before it is a narrow
  * chain (explode + projections) that whole-stage-codegens into the scan.
  */
object NgsiPipelines {

  /** The notification body as `from_json` reads it: each entity is a map
    * from key to raw JSON text, so the dynamic attribute keys need no
    * fixed StructType. */
  private val notificationSchema = "subscriptionId STRING, data ARRAY<MAP<STRING, STRING>>"

  /** `m` without the earlier entries of a key given twice. `from_json`
    * keeps every entry and a map lookup finds the first, but the typed
    * `Map` a collect builds keeps the last; this makes both see the last. */
  private def lastWins(m: Column): Column =
    map_filter(m, (k, v) => v <=> element_at(filter(map_entries(m), _("key") === k), -1)("value"))

  /** Parse a Dataset/DataFrame of raw notification bodies (one JSON body
    * per row, column `value`, optional `service`/`servicePath`/`recvTime`)
    * into NgsiEvent rows. Works on both batch and streaming inputs
    * (socket/file/custom source deliver exactly this shape).
    *
    * Spark functions only, so the whole parse stays in Catalyst. Each
    * attribute's `value` is `get_json_object`'s rendering: strings
    * unquoted, fractions and exponents as doubles (`1e3` reads `1000.0`,
    * `23.50` reads `23.5`), objects and arrays as compact JSON, JSON `null`
    * as SQL null. A body that is not JSON, whose `data` is not an array of
    * objects, or that has no `data`, gives an event with no entities.
    */
  def parseEvents(raw: DataFrame): Dataset[NgsiEvent] = {
    import raw.sparkSession.implicits._
    def colOr(name: String, dflt: Column): Column =
      if (raw.columns.contains(name)) col(name) else dflt
    val maps = transform(filter(col("body.data"), _.isNotNull), lastWins(_))
    val entities = transform(maps, entity => struct(
      entity("id").as("id"),
      entity("type").as("entityType"),
      transform_values(map_filter(entity, (k, _) => !k.isin("id", "type")), (_, a) => struct(
        get_json_object(a, "$.type").as("attrType"),
        get_json_object(a, "$.value").as("value"),
        coalesce(get_json_object(a, "$.metadata"), lit("{}")).as("metadata"))).as("attrs")))
    // The parse is its own projection, so a plan that keeps both of its
    // fields parses each body once: reading them straight off `from_json`
    // lets the optimizer split it into one pruned parse per field.
    raw.select(
      from_json(col("value").cast("string"), notificationSchema, Map.empty[String, String]).as("body"),
      colOr("service", lit("")).cast("string").as("service"),
      colOr("servicePath", lit("")).cast("string").as("servicePath"),
      colOr("recvTime", current_timestamp()).as("recvTime"))
      .select(
        col("body.subscriptionId").as("subscriptionId"),
        col("service"), col("servicePath"), col("recvTime"),
        coalesce(entities, typedLit(Seq.empty[NgsiEntity])).as("entities"))
      .as[NgsiEvent]
  }

  /** Batch replay of captured notifications: read a capture directory
    * (parquet/JSON/CSV rows shaped like the HTTP source's output — `value`
    * plus optional `service`/`servicePath`/`recvTime`) and run the
    * identical parse. Because every transform here is mode-agnostic, any
    * example pipeline re-runs over history unchanged — the backfill path
    * the streaming-only reference lacks (`Example1.scala:17` is push-only).
    * NgsiReplaySpec proves batch replay == streaming result on the same
    * capture. */
  def replayCaptured(spark: SparkSession, path: String,
                     format: String = "parquet"): Dataset[NgsiEvent] = {
    // CSV needs header=true (keep column names) and multiLine=true
    // (notification bodies may contain embedded newlines inside the quoted
    // field); both are no-ops for parquet and line-delimited JSON.
    val reader = spark.read.format(format)
    val raw = (if (format == "csv")
      reader.option("header", "true").option("multiLine", "true")
    else reader).load(path)
    // Re-shape recvTime to a proper timestamp by its ARRIVED type: numeric
    // captures are epoch millis (a bare cast would read them as SECONDS and
    // corrupt every window), strings parse, timestamps pass through.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val shaped = raw.schema.find(_.name == "recvTime").map(_.dataType) match {
      case Some(LongType | IntegerType | ShortType | ByteType) =>
        raw.withColumn("recvTime", timestamp_millis(col("recvTime").cast("long")))
      case Some(_) =>
        raw.withColumn("recvTime", col("recvTime").cast("timestamp"))
      case None => raw
    }
    parseEvents(shaped)
  }

  /** `flatMap(event => event.entities)` (`Example1.scala:21`) as a
    * Catalyst Generator: one row per entity, recvTime carried along.
    *
    * `explode_outer` and a null filter, not `explode`: for an inner explode
    * the optimizer infers `size(entities) > 0` and pushes it below the
    * projection that computes `entities`, so every body would be parsed
    * twice. An outer explode infers nothing; the filter drops the one null
    * row it gives an event with no entities. */
  def flattenEntities(events: DataFrame): DataFrame =
    events
      .select(col("recvTime"), col("service"), col("subscriptionId"),
              explode_outer(col("entities")).as("entity"))
      .filter(col("entity").isNotNull)
      .select(col("recvTime"), col("service"), col("subscriptionId"),
              col("entity.id").as("id"),
              col("entity.entityType").as("entityType"),
              col("entity.attrs").as("attrs"))

  /** Late-bound attribute value extraction — the relational analog of
    * `entity.attrs("temperature").value.asInstanceOf[Number].floatValue()`
    * (`Example1.scala:23`). */
  def attrValue(name: String): Column =
    element_at(col("attrs"), name).getField("value")

  /** The `temperature` attribute as a float. `try_cast`: a value that is
    * not a number (`"hot"`) reads as a missing attribute instead of failing
    * the query under ANSI casts. */
  private def temperature: Column =
    attrValue("temperature").try_cast("float").as("temperature")

  /** Example1 (`Example1.scala:17-31`): per-entity temperature, keyed
    * sliding window, MIN. Emits (window, id, temperature_min) — the
    * deterministic projection of Flink's `min("temperature")` record
    * output (SURVEY §7.4 #3). */
  def minTemperature(events: Dataset[NgsiEvent],
                     windowDur: String = "5 seconds",
                     slide: String = "2 seconds"): DataFrame =
    flattenEntities(events.toDF())
      .select(col("recvTime"), col("id"),
              temperature)
      .groupBy(window(col("recvTime"), windowDur, slide), col("id"))
      .agg(min(col("temperature")).as("temperature_min"))

  /** Example4 (`Example4.scala:28,39-49`): windowed AVG via a typed
    * [[Aggregator]] whose zero/reduce/merge/finish are the 1:1 semantic
    * match of the reference AggregateFunction's
    * createAccumulator/add/merge/getResult — Spark runs reduce map-side
    * (partial) and merge at the exchange (final), same partial+final
    * split Flink applies to pane merges. Accumulator widened to
    * (Double, Long) — the reference's (Float, Float) running float sum
    * (`Example4.scala:39`) loses precision at scale; semantics otherwise
    * identical. */
  def avgTemperature(events: Dataset[NgsiEvent],
                     windowDur: String = "5 seconds",
                     slide: String = "2 seconds"): DataFrame =
    flattenEntities(events.toDF())
      .select(col("recvTime"), col("id"),
              temperature)
      // Entities without the attribute must not reach the Aggregator: the
      // scala-Float encoder deserializes SQL null as 0.0f, which would be
      // COUNTED and corrupt the average (min() skips nulls natively; this
      // filter gives avg the same skip-missing semantics).
      .filter(col("temperature").isNotNull)
      .groupBy(window(col("recvTime"), windowDur, slide), col("id"))
      .agg(AverageAggregate.toColumn("temperature").as("temperature_avg"))

  /** NGSI `object`-typed attribute schema for Example5's `information`
    * attribute (fixture `files/example5/curl_Notification.sh:17-42`). */
  val busInfoSchema =
    "STRUCT<buses: ARRAY<STRUCT<name: STRING, price: INT, " +
      "schedule: MAP<STRING, ARRAY<INT>>>>>"

  /** Example5 (`Example5.scala:20-30`): navigate the structured attribute
    * (map -> list -> map, reference does it with asInstanceOf chains),
    * explode buses, keyed sliding window, MIN(price). The `from_json` +
    * explode + `getField` chain is the declarative equivalent; the parse
    * keeps the whole `busInfoSchema`, `schedule` included.
    *
    * Each `information` value is parsed once, by the recipe of
    * [[flattenEntities]]: the parse is its own projection, and the explode
    * is an outer one, so the optimizer infers no `size(buses) > 0` or
    * `isnotnull(buses)` filter to push below that projection with a copy
    * of the parse in each. The filter on `pos` drops only the row the
    * outer explode gives a null or empty `buses`; a null element of
    * `buses` still yields its row, as an inner explode would. */
  def minBusPrice(events: Dataset[NgsiEvent],
                  windowDur: String = "5 seconds",
                  slide: String = "2 seconds"): DataFrame =
    flattenEntities(events.toDF())
      .select(col("recvTime"),
              from_json(attrValue("information"), busInfoSchema,
                        Map.empty[String, String]).as("info"))
      .select(col("recvTime"), posexplode_outer(col("info.buses")).as(Seq("pos", "bus")))
      .filter(col("pos").isNotNull)
      .select(col("recvTime"), col("bus.name").as("name"),
              col("bus.price").as("price"))
      .groupBy(window(col("recvTime"), windowDur, slide), col("name"))
      .agg(min(col("price")).as("price_min"))

  /** Example2/3 (`Example2.scala:35-38,49-51`): serialize each windowed
    * minimum to an NGSI attribute-update payload and a per-record broker
    * URL — `{"temperature_min": {"value": <v>, "type": "Float"}}` POSTed
    * to `<base>/v2/entities/<id>/attrs`. Example3 is the same job with a
    * different base URL (`Example3.scala:13`), so the URL is a parameter.
    *
    * A window whose minimum is null (every reading missing or non-numeric)
    * sends nothing: `to_json` drops the null value, and the payload
    * `{"temperature_min":{"type":"Float"}}` would null the broker's stored
    * attribute.
    */
  def toOrionUpdates(minDf: DataFrame,
                     urlBase: String = "http://localhost:1026/v2/entities/",
                     method: String = "POST"): DataFrame =
    minDf.filter(col("temperature_min").isNotNull).select(
      to_json(struct(
        struct(col("temperature_min").as("value"),
               lit("Float").as("type")).as("temperature_min"))).as("content"),
      concat(lit(urlBase), col("id"), lit("/attrs")).as("url"),
      lit("application/json").as("contentType"),
      lit(method).as("method"))
}

/** Typed incremental average — semantic match of the reference's
  * `AverageAggregate extends AggregateFunction[Temp_Node, (Float, Float),
  * Float]` (`Example4.scala:39-49`): zero=createAccumulator,
  * reduce=add, merge=merge, finish=getResult. */
object AverageAggregate extends Aggregator[Float, (Double, Long), Float] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), a: Float): (Double, Long) =
    (b._1 + a, b._2 + 1L)
  override def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
    (x._1 + y._1, x._2 + y._2)
  override def finish(r: (Double, Long)): Float =
    if (r._2 == 0L) Float.NaN else (r._1 / r._2).toFloat
  override def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  override def outputEncoder = Encoders.scalaFloat

  /** Untyped-column form for use inside a relational `agg(...)`. */
  def toColumn(colName: String): Column =
    udaf(this, Encoders.scalaFloat).apply(col(colName))
}
