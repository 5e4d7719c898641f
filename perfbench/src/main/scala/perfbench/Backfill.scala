package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import graft.ngsi.{NgsiEvent, NgsiPipelines}

/** Closed-loop batch replay: a seeded capture log in the HTTP source's
  * capture-line format is replayed with `NgsiPipelines.replayCaptured(dir,
  * "json")` into `minTemperature`, `avgTemperature` and `minBusPrice`, each
  * collected in full. Every pipeline re-reads and re-parses the log, as a
  * user running the three backfills would. No HTTP, micro-batch or sink. */
object Backfill {
  val Rooms = 200
  val Stops = 50
  val Companies = 20
  val T0Ms = 1700000000000L

  /** The generator's own records: 70% Example1/4 temperatures on a 0.5
    * grid (so sums are exact), 30% Example5 bus-info objects. */
  final class Log(val recvMs: Array[Long], val id: Array[String],
                  val temp: Array[Double], val buses: Array[Seq[(String, Int)]]) {
    def n: Int = recvMs.length
  }

  def generate(seed: Long, n: Int): Log = {
    val rnd = new java.util.Random(seed)
    val recv = new Array[Long](n)
    val id = new Array[String](n)
    val temp = Array.fill(n)(Double.NaN)
    val buses = Array.fill(n)(Seq.empty[(String, Int)])
    (0 until n).foreach { i =>
      recv(i) = T0Ms + 2L * i + rnd.nextInt(2)
      if (rnd.nextDouble() < 0.7) {
        id(i) = s"Room${rnd.nextInt(Rooms)}"
        temp(i) = 0.5 * rnd.nextInt(80)
      } else {
        id(i) = s"Stop${rnd.nextInt(Stops)}"
        buses(i) = Seq.fill(1 + rnd.nextInt(3))((s"Company${rnd.nextInt(Companies)}", 1 + rnd.nextInt(50)))
      }
    }
    new Log(recv, id, temp, buses)
  }

  def body(log: Log, i: Int): String =
    if (!log.temp(i).isNaN)
      OrionRoundtrip.body(log.id(i), log.temp(i))
    else {
      val bs = log.buses(i).map { case (name, price) =>
        s"""{"name":"$name","schedule":{"morning":[7,9,11],"afternoon":[13,15]},"price":$price}"""
      }
      s"""{"subscriptionId":"perfbench","data":[{"id":"${log.id(i)}","type":"BusStop",""" +
        s""""information":{"type":"object","value":{"buses":[${bs.mkString(",")}]},"metadata":{}}}]}"""
    }

  /** Writes the log as capture lines, in four files. */
  def write(log: Log, dir: Path): Unit = {
    Setup.rmTree(dir)
    Files.createDirectories(dir)
    val files = 4
    val ws = (0 until files).map(k => Files.newBufferedWriter(dir.resolve(f"capture-$k%02d.json")))
    try (0 until log.n).foreach { i =>
      ws(i * files / log.n).write(s"""{"value":${Json.str(body(log, i))},"service":"perfbench",""" +
        s""""servicePath":"/perfbench","recvTime":${log.recvMs(i)}}""" + "\n")
    } finally ws.foreach(_.close())
  }

  type Pipeline = Dataset[NgsiEvent] => DataFrame
  val Pipelines: Seq[(String, Pipeline)] = Seq(
    "minTemperature" -> (e => NgsiPipelines.minTemperature(e)),
    "avgTemperature" -> (e => NgsiPipelines.avgTemperature(e)),
    "minBusPrice" -> (e => NgsiPipelines.minBusPrice(e)))

  def replay(spark: SparkSession, dir: Path): Dataset[NgsiEvent] =
    NgsiPipelines.replayCaptured(spark, dir.toString, "json")

  /** A result row keyed by (window start ms, key) with its value as text. */
  def keyed(rows: Array[Row]): Map[(Long, String), String] =
    rows.map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1)) -> String.valueOf(r.get(2))).toMap

  /** The same 5 s windows sliding by 2 s, computed in plain Scala. */
  def reference(log: Log): Map[String, Map[(Long, String), String]] = {
    def windows(t: Long): Seq[Long] = {
      val last = t - Math.floorMod(t, 2000L)
      Seq(last, last - 2000, last - 4000).filter(s => t < s + 5000)
    }
    // entities without a temperature still form groups; their min is null
    val mins = mutable.Map.empty[(Long, String), Option[Float]]
    val sums = mutable.Map.empty[(Long, String), (Double, Long)]
    val prices = mutable.Map.empty[(Long, String), Int]
    (0 until log.n).foreach { i =>
      windows(log.recvMs(i)).foreach { w =>
        if (!log.temp(i).isNaN) {
          val k = (w, log.id(i))
          val t = log.temp(i).toFloat
          mins(k) = Some(math.min(mins.get(k).flatten.getOrElse(Float.MaxValue), t))
          val (s, c) = sums.getOrElse(k, (0.0, 0L))
          sums(k) = (s + t, c + 1)
        } else {
          mins.getOrElseUpdate((w, log.id(i)), None)
          log.buses(i).foreach { case (name, price) =>
            val k = (w, name)
            prices(k) = math.min(prices.getOrElse(k, Int.MaxValue), price)
          }
        }
      }
    }
    Map(
      "minTemperature" -> mins.map { case (k, v) => k -> v.fold("null")(_.toString) }.toMap,
      "avgTemperature" -> sums.map { case (k, (s, c)) => k -> (s / c).toFloat.toString }.toMap,
      "minBusPrice" -> prices.map { case (k, v) => k -> v.toString }.toMap)
  }

  def run(a: Args): Result = {
    val r = new Result
    val n = if (a.toy) 5000 else 120000
    val dir = a.runDir.resolve("backfill-log")
    var log: Log = null
    val session = Setup(a, r) { () =>
      log = generate(a.seed, n)
      write(log, dir)
    } { s =>
      val warmDir = a.runDir.resolve("backfill-warm")
      write(generate(a.seed + 1, n / 20), warmDir)
      Pipelines.foreach { case (_, p) => p(replay(s.spark, warmDir)).collect() }
    }
    val spark = session.spark
    val expected = reference(log)

    val gcBefore = Jvm.gcMs()
    val passes = mutable.ArrayBuffer.empty[Double]
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var shuffle = 0L
    val t0 = System.nanoTime()
    while (passes.isEmpty || Stats.secs(t0) < a.seconds) {
      session.drain()
      val before = session.shapes.shape
      val pass = Trace.span("ngsi.backfill", trace = s"pass-${passes.size}") { passId =>
        Stats.timed(Pipelines.foreach { case (name, p) =>
          r.attempted += 1
          try {
            val (rows, t) = Trace.span(s"ngsi.$name", passId) { id =>
              session.shapes.parent = id
              Stats.timed(p(replay(spark, dir)).collect())
            }
            times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
            val got = keyed(rows)
            val want = expected(name)
            val bad = want.count { case (k, v) => !got.get(k).contains(v) } + (got.keySet -- want.keySet).size
            r.check(bad == 0, s"$name: $bad of ${want.size} windows differ from the reference")
          } catch {
            case e: Exception =>
              r.failed += 1
              r.problems += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        })._2
      }
      passes += pass
      session.drain()
      shuffle += (session.shapes.shape - before).shuffleWrite
    }
    if (a.trace) {
      // parse alone, materialized: what each pipeline pays before its window
      val (_, t) = Trace.span("ngsi.parseEvents") { id =>
        session.shapes.parent = id
        Stats.timed(replay(spark, dir).write.format("noop").mode("overwrite").save())
      }
      r.layer("ngsi.parseEvents_s") = t
      r.layer("ngsi.parse_nps") = n / t
    }
    session.shapes.parent = 0L
    val pipelineMs = times.values.flatten.map(_ * 1000).toSeq
    val backfill = Stats.median(passes.toSeq)
    r.primary(Stats.median(pipelineMs), Stats.pct(pipelineMs, 99), n / backfill)
    times.foreach { case (name, ts) => r.layer(s"ngsi.${name}_s") = Stats.median(ts.toSeq) }
    r.layer("ngsi.shuffle_write_bytes") = shuffle.toDouble / passes.size
    r.layer("jvm.gc_ms") = (Jvm.gcMs() - gcBefore).toDouble
    r.notes ++= Seq(
      ("backfill_s", backfill, "s"),
      ("passes", passes.size.toDouble, "count"),
      ("notifications", n.toDouble, "count")) ++
      times.toSeq.sortBy(_._1).map { case (name, ts) => (s"ngsi.${name}_s", Stats.median(ts.toSeq), "s") } ++
      Seq(("error_rate", r.failed.toDouble / math.max(1L, r.attempted), s"of ${r.attempted}"))
    session.stop()
    r
  }
}
