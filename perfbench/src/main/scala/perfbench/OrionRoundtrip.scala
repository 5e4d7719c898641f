package perfbench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.ngsi.{NgsiPipelines, OrionSink}
import graft.streaming.NgsiStreams

/** Example2's loop, open loop: a seeded generator POSTs Example1-shaped
  * notifications to `NgsiStreams.fromHttp`; `minTemperatureStream` and
  * `NgsiPipelines.toOrionUpdates` turn them into `temperature_min` updates,
  * which a `foreachBatch` hands to `OrionSink.writeBatch`, which POSTs them
  * to an in-process Orion stub.
  *
  * Notification i goes to entity `Room<e_i>` with temperature `Base - i`, so
  * each entity's temperature strictly decreases, every window minimum is the
  * window's latest notification, and every update the stub receives names
  * the notification it came from. Latency is read per update from that
  * notification's scheduled send time. */
object OrionRoundtrip {
  val Entities = 1000
  val Base = 1000000
  val ParentHeader = "X-Span-Parent"
  private val ValueRe = "\"value\":(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)".r

  /** Offered load: a steady phase at about a third of capacity, then an
    * overload phase well above it, then a drain. The steady phase is
    * preceded by `warmBatches` micro-batches of the same load whose updates
    * are checked but not timed: batch times keep falling for about a dozen
    * batches after the stream starts, as the JIT compiles the per-batch
    * paths, and the state store fills to its steady size. */
  final case class Load(steadyRate: Double, steadySec: Double,
                        overRate: Double, overSec: Double, warmBatches: Int)

  def load(a: Args): Load =
    if (a.toy) Load(100, 2, 400, 1, 2)
    else Load(500, 2.5 * a.seconds, 4000, 0.5 * a.seconds, 18)

  /** The generator's schedule: due time (ns after the phase's start),
    * entity and body of every notification; temperatures count down from
    * `top`. */
  final class Schedule(val due: Array[Long], val entity: Array[Int],
                       val body: Array[String], val steadyN: Int, val top: Int) {
    def n: Int = due.length
    def id(i: Int): String = s"Room${entity(i)}"
    /** Trace id of notification i, shared with the spans of its updates. */
    def trace(i: Int): String = traceOf(id(i), value(i))
    def value(i: Int): Float = (top - i).toFloat
    /** The notification an update names, if it names one of this schedule's. */
    def index(id: String, value: Float): Option[Int] = {
      val i = top - value.toInt
      if (value == value.floor && i >= 0 && i < n && this.id(i) == id) Some(i) else None
    }
  }

  def traceOf(id: String, value: Float): String = s"$id@${value.toInt}"

  /** What the generator saw for each notification of a schedule. */
  final class Sent(n: Int, val t0: Long) {
    val sentNs, ackNs = new Array[Long](n)
    val status = new Array[Int](n)
  }

  def body(id: String, value: Double): String =
    s"""{"subscriptionId":"perfbench","data":[{"id":"$id","type":"Room",""" +
      s""""temperature":{"type":"Float","value":$value,"metadata":{}}}]}"""

  def schedule(seed: Long, l: Load, top: Int): Schedule = {
    val rnd = new java.util.Random(seed)
    val steadyN = (l.steadyRate * l.steadySec).toInt
    val n = steadyN + (l.overRate * l.overSec).toInt
    val due = new Array[Long](n)
    var t = 0.0
    (0 until n).foreach { i =>
      if (i == steadyN) t = l.steadySec
      val rate = if (i < steadyN) l.steadyRate else l.overRate
      t += -math.log(1.0 - rnd.nextDouble()) / rate
      due(i) = (t * 1e9).toLong
    }
    val entity = Array.fill(n)(rnd.nextInt(Entities))
    val bodies = Array.tabulate(n)(i => body(s"Room${entity(i)}", (top - i).toDouble))
    new Schedule(due, entity, bodies, steadyN, top)
  }

  /** Sends a schedule open loop over `threads` connections: each send waits
    * for its due time, never for the previous reply, except that a thread
    * busy with a slow send runs late, which is reported. */
  def drive(sched: Schedule, port: Int, threads: Int, acked: AtomicLong,
            stop: () => Boolean = () => false): Sent = {
    val sent = new Sent(sched.n, System.nanoTime() + 50000000L)
    val senders = (0 until threads).map { k =>
      val th = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        val uri = URI.create(s"http://127.0.0.1:$port/notify")
        var i = k
        while (i < sched.n && !stop()) {
          val due = sent.t0 + sched.due(i)
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          sent.sentNs(i) = now
          sent.status(i) = post(client, uri, sched.body(i))
          sent.ackNs(i) = System.nanoTime()
          if (sent.status(i) == 200) acked.incrementAndGet()
          if (Trace.on) {
            val g = Trace.newId()
            Trace.record(g, 0L, sched.trace(i), "gen.post", due, sent.ackNs(i))
            Trace.record(Trace.newId(), g, sched.trace(i), "sources.accept",
              sent.sentNs(i), sent.ackNs(i))
          }
          i += threads
        }
      }, s"perfbench-gen-$k")
      th.setDaemon(true)
      th.start()
      th
    }
    senders.foreach(_.join())
    sent
  }

  /** One update as the stub received it. */
  final case class Received(atNs: Long, id: String, value: Float)

  /** In-process Orion: accepts `POST /v2/entities/<id>/attrs` and records
    * what arrived. `dropEvery` > 0 discards every n-th update after
    * answering it, a lost write the sink cannot see. */
  final class OrionStub(threads: Int, dropEvery: Int) {
    val received = new ConcurrentLinkedQueue[Received]()
    private val seen = new AtomicLong(0L)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(Executors.newFixedThreadPool(threads))
    server.start()

    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}/v2/entities/"

    private def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      var trace = ""
      try {
        val path = ex.getRequestURI.getPath
        val text = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val id = path.stripPrefix("/v2/entities/").stripSuffix("/attrs")
        val keep = dropEvery <= 0 || seen.incrementAndGet() % dropEvery != 0
        ValueRe.findFirstMatchIn(text).foreach { m =>
          val value = m.group(1).toFloat
          trace = traceOf(id, value)
          if (keep) received.add(Received(t0, id, value))
        }
        ex.sendResponseHeaders(204, -1)
      } finally ex.close()
      val parent = Option(ex.getRequestHeaders.getFirst(ParentHeader)).map(_.toLong).getOrElse(0L)
      Trace.record(Trace.newId(), parent, trace, "stub.receive", t0, System.nanoTime())
    }

    def stop(): Unit = server.stop(0)
  }

  /** Progress of each micro-batch, stamped on arrival. */
  final case class Progress(atNs: Long, batchId: Long, rows: Long, startMs: Long,
                            phases: Map[String, Long], stateRows: Long,
                            stateMem: Long, commitMs: Long)

  def run(a: Args): Result = {
    val r = new Result
    val l = load(a)
    var sched: Schedule = null
    val stub = new OrionStub(a.cpus, a.dropEvery)
    val threads = math.max(1, math.min(a.cpus, 4))
    val progress = new ConcurrentLinkedQueue[Progress]()
    val acked = new AtomicLong(0L)
    val processed = new AtomicLong(0L)
    val backlogMax = new AtomicLong(0L)
    val emitted = new AtomicLong(0L)
    val writeMs = new ConcurrentLinkedQueue[java.lang.Double]()
    // span ids of each batch and its addBatch phase, shared by the
    // foreachBatch (which runs first) and the progress listener
    val batchSpans = new ConcurrentHashMap[Long, (Long, Long)]()
    def spansOf(b: Long) = batchSpans.computeIfAbsent(b, _ => (Trace.newId(), Trace.newId()))
    val srcPort = freePort()
    val query = new AtomicReference[StreamingQuery]()

    var warm: Schedule = null
    var warmSent: Sent = null
    val session = Setup(a, r) { () =>
      sched = schedule(a.seed, l, Base)
      // the same entities, at temperatures above every timed one
      warm = schedule(a.seed + 1, l.copy(steadySec = 60, overSec = 0), 2 * Base)
    } { s =>
      val spark = s.spark
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val now = System.nanoTime()
          val done = processed.addAndGet(p.numInputRows)
          backlogMax.accumulateAndGet(acked.get - done, math.max)
          val ops = p.stateOperators
          val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val pr = Progress(now, p.batchId, p.numInputRows,
            java.time.Instant.parse(p.timestamp).toEpochMilli, phases,
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(_.commitTimeMs).sum)
          progress.add(pr)
          if (Trace.on) batchSpan(pr, spansOf(p.batchId))
        }
      })
      val mins = NgsiStreams.minTemperatureStream(NgsiStreams.fromHttp(spark, srcPort))
      val perBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val (_, addBatchSpan) = spansOf(batchId)
        Trace.span("sink.batch", addBatchSpan, s"batch-$batchId") { id =>
          val updates = Trace.span("streaming.materialize", id) { _ =>
            val u = NgsiPipelines.toOrionUpdates(batch, stub.base).persist()
            emitted.addAndGet(u.count())
            u
          }
          try {
            val t0 = System.nanoTime()
            Trace.span("sink.writeBatch", id) { w =>
              OrionSink.writeBatch(updates, Map(ParentHeader -> w.toString))
            }
            writeMs.add((System.nanoTime() - t0) / 1e6)
          } finally { updates.unpersist(); () }
        }
      }
      query.set(mins.writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", a.runDir.resolve("checkpoint").toString)
        .foreachBatch(perBatch)
        .trigger(Trigger.ProcessingTime(0L))
        .start())
      val warmEnd = System.nanoTime() + 45L * 1000000000L
      warmSent = warmUp(warm, srcPort, threads, acked,
        () => progress.size >= l.warmBatches || System.nanoTime() > warmEnd)
    }

    // measured phases: steady, overload, drain
    val gcBefore = Jvm.gcMs()
    val writesBefore = writeMs.size
    val n = sched.n
    val sent = drive(sched, srcPort, threads, acked)
    val (t0, sentNs, ackNs, status) = (sent.t0, sent.sentNs, sent.ackNs, sent.status)

    // the lowest acked value sent to each entity is what it must end at
    val finalValue = mutable.Map.empty[String, Float]
    Seq((warm, warmSent), (sched, sent)).foreach { case (sc, se) =>
      (0 until sc.n).foreach(i => if (se.status(i) == 200) finalValue(sc.id(i)) = sc.value(i))
    }
    val deadline = System.nanoTime() + (if (a.toy) 30L else 60L) * 1000000000L
    def drained: Boolean = {
      val low = mutable.Map.empty[String, Float]
      stub.received.asScala.foreach { u =>
        if (u.value < low.getOrElse(u.id, Float.MaxValue)) low(u.id) = u.value
      }
      processed.get >= acked.get &&
        finalValue.forall { case (id, v) => low.get(id).exists(_ <= v) }
    }
    while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
    query.get.stop()
    session.stop()
    stub.stop()

    // checks and figures
    val updates = stub.received.asScala.toSeq.filter(_.id.startsWith("Room"))
    val firstArrival = mutable.Map.empty[Int, Long]
    def ackedIn(sc: Schedule, se: Sent, u: Received) = sc.index(u.id, u.value).exists(se.status(_) == 200)
    val (valid, invalid) = updates.partition(u => ackedIn(sched, sent, u) || ackedIn(warm, warmSent, u))
    r.check(invalid.isEmpty, s"${invalid.size} updates name a value never acked for " +
      s"their entity, e.g. ${invalid.take(3).map(u => s"${u.id}=${u.value}").mkString(", ")}")
    valid.foreach { u =>
      sched.index(u.id, u.value).foreach { i =>
        if (firstArrival.get(i).forall(_ > u.atNs)) firstArrival(i) = u.atNs
      }
    }
    val lowest = updates.groupBy(_.id).map { case (id, us) => id -> us.map(_.value).min }
    val wrong = finalValue.filter { case (id, v) => !lowest.get(id).contains(v) }
    r.check(wrong.isEmpty, s"${wrong.size} entities did not end at their lowest acked " +
      s"temperature, e.g. ${wrong.take(3).map { case (id, v) => s"$id: $v vs ${lowest.get(id)}" }.mkString(", ")}")
    val lost = emitted.get - stub.received.size
    val unacked = (status.count(_ != 200) +
      warmSent.status.count(st => st != 0 && st != 200)).toLong
    r.attempted = n + warmSent.status.count(_ != 0) + emitted.get
    r.failed = unacked + math.max(0L, lost)

    val steadyLat = firstArrival.collect {
      case (i, at) if i < sched.steadyN => (at - t0 - sched.due(i)) / 1e6
    }.toSeq
    val overN = (sched.steadyN until n).count(i => status(i) == 200)
    val ovStart = t0 + sched.due(sched.steadyN)
    // when the last entity's final value first arrived
    val done = finalValue.toSeq.flatMap { case (id, v) =>
      sched.index(id, v).flatMap(firstArrival.get).filter(_ => lowest.get(id).contains(v))
    }.maxOption.getOrElse(System.nanoTime())
    val capacity = overN / ((done - ovStart) / 1e9)
    r.check(steadyLat.size >= sched.steadyN / 2,
      s"only ${steadyLat.size} of ${sched.steadyN} steady notifications produced an update")
    r.primary(Stats.median(steadyLat), Stats.pct(steadyLat, 99), capacity)

    val measured = progress.asScala.toSeq.filter(_.atNs >= t0)
    val late = (0 until n).map(i => (sentNs(i) - t0 - sched.due(i)) / 1e6)
    val postMs = (0 until n).map(i => (ackNs(i) - sentNs(i)) / 1e6)
    val writes = writeMs.asScala.toSeq.drop(writesBefore).map(_.doubleValue)
    r.layer ++= Seq(
      "gen.late_ms_p99" -> Stats.pct(late, 99),
      "gen.offered_nps" -> (n - sched.steadyN) / l.overSec,
      "sources.post_ms_p50" -> Stats.median(postMs),
      "sources.post_ms_p99" -> Stats.pct(postMs, 99),
      "sources.refused" -> status.count(_ == 429).toDouble,
      "sources.backlog_max" -> backlogMax.get.toDouble,
      "streaming.batches" -> measured.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(measured.map(_.rows.toDouble)),
      "streaming.state_rows" -> measured.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mem_bytes" -> measured.map(_.stateMem.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_commit_ms" -> Stats.median(measured.map(_.commitMs.toDouble)),
      "sink.writeBatch_ms_p50" -> Stats.median(writes),
      "sink.writeBatch_ms_total" -> writes.sum,
      "sink.posts" -> emitted.get.toDouble,
      "sink.lost" -> lost.toDouble,
      "jvm.gc_ms" -> (Jvm.gcMs() - gcBefore).toDouble)
    Metrics.StreamPhases.foreach { ph =>
      r.layer(s"streaming.${ph}_ms_p50") =
        Stats.median(measured.flatMap(_.phases.get(ph)).map(_.toDouble))
    }
    r.notes ++= Seq(
      ("notify_p50_ms", Stats.median(steadyLat), "ms"),
      ("notify_p99_ms", Stats.pct(steadyLat, 99), "ms"),
      ("notify_samples", steadyLat.size.toDouble, "count"),
      ("capacity_nps", capacity, "notifications/s"),
      ("offered_steady_nps", l.steadyRate, "notifications/s"),
      ("offered_overload_nps", l.overRate, "notifications/s"),
      ("gen.late_ms_p99", Stats.pct(late, 99), "ms"),
      ("error_rate", r.failed.toDouble / r.attempted, s"of ${r.attempted}"))
    r
  }

  /** Streaming spans from a progress report: the batch, with its phases
    * laid end to end in the order the micro-batch engine runs them. */
  private def batchSpan(p: Progress, ids: (Long, Long)): Unit = {
    val start = Trace.epochNs + p.startMs * 1000000L
    val total = p.phases.getOrElse("triggerExecution", 0L)
    Trace.record(ids._1, 0L, s"batch-${p.batchId}", "streaming.batch",
      start, start + total * 1000000L)
    var at = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { ph =>
        val d = p.phases.getOrElse(ph, 0L) * 1000000L
        val id = if (ph == "addBatch") ids._2 else Trace.newId()
        Trace.record(id, ids._1, s"batch-${p.batchId}", s"streaming.$ph", at, at + d)
        at += d
      }
  }

  /** Drives the warm-up schedule, once the source's listener is up, until
    * `done`: codegen, JIT and the state store's growth are paid here. */
  private def warmUp(sched: Schedule, port: Int, threads: Int,
                     acked: AtomicLong, done: () => Boolean): Sent = {
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val uri = URI.create(s"http://127.0.0.1:$port/notify")
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (post(client, uri, body("Warm-probe", 0.0)) != 200 && System.nanoTime() < deadline)
      Thread.sleep(20)
    acked.incrementAndGet()
    drive(sched, port, threads, acked, done)
  }

  private def post(client: HttpClient, uri: URI, body: String): Int =
    try client.send(
      HttpRequest.newBuilder(uri)
        .header("Fiware-Service", "perfbench")
        .header("Fiware-ServicePath", "/perfbench")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
    catch { case _: java.io.IOException => -1 }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}
