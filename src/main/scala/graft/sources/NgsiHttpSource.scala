package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSourceMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ngsi.NgsiJson.esc

/** Structured Streaming source for NGSI v2 notifications pushed over HTTP —
  * the Spark rebuild of the reference's `OrionSource(port)` (reference usage
  * `Example1.scala:17`; wire format `files/example1/curl_Notification.sh`,
  * headers `Fiware-Service`/`Fiware-ServicePath` lines 7-11).
  *
  * Shape: DataSourceV2 `TableProvider` whose `MicroBatchStream` embeds a
  * zero-dependency `com.sun.net.httpserver` listener on the driver. Each
  * POSTed notification becomes one buffered row; offsets are monotonically
  * increasing sequence numbers over an in-driver ring buffer, trimmed on
  * commit. Emitted schema matches what [[graft.ngsi.NgsiPipelines.parseEvents]]
  * consumes:
  *
  *   value STRING, service STRING, servicePath STRING, recvTime TIMESTAMP
  *
  * Options: `port` (required) and `captureDir`. Any other key fails
  * `load()` by name, so a retired dial is never silently ignored.
  *
  * Semantics and scale notes:
  *  - Like the reference's Netty server, ingest is a single listener and,
  *    without `captureDir`, offsets are NOT replayable across driver
  *    restarts (the reference has the same at-most-once property). The
  *    optional `captureDir` upgrades this to durable at-least-once: every
  *    notification is appended (+fsync) to a JSON-lines capture log in that
  *    directory BEFORE it is acked, so an ack means durably-on-disk — and
  *    offsets become RESUMABLE: a restarted source numbers the prior
  *    capture history as sequence [0, N) and serves the gap between the
  *    restored checkpoint offset and N straight through
  *    `planInputPartitions`, so the restarted streaming query recovers
  *    every acked-but-unprocessed event transparently (a fresh query with
  *    no checkpoint replays the log from the start). The batch-side
  *    [[graft.ngsi.NgsiPipelines.replayCaptured]](dir, format="json")
  *    reads the same files for batch backfill. Restart edge contracts, all
  *    spec-pinned (NgsiHttpSourceSpec): a crash between write and fsync
  *    can tear only the final line of the open capture file, and that
  *    event was never acked — the restarted source skips a torn TAIL but
  *    refuses (loudly) to resume over mid-file corruption, which would be
  *    a hole of acked events; and deleting FULLY-COMMITTED capture files
  *    (operator compaction) is safe — the checkpoint offset rebases the
  *    live numbering past the shortened history, replaying nothing and
  *    duplicating nothing. Kill + restart loses zero acked events on
  *    both the durable and non-durable paths.
  *  - Rows are shipped to executors inside the planned partition (the same
  *    pattern as Spark's own socket source). Parsing/windowing downstream is
  *    fully distributed; the listener is only the accept path.
  *  - Slow-consumer bound: the in-driver ring is capped at
  *    [[NgsiHttpSource.MaxBufferBytes]] (512 MiB of estimated HEAP —
  *    2 bytes per UTF-16 char plus per-record overhead) of
  *    accepted-but-uncommitted notifications.
  *    Admission is while-UNDER-the-cap (overshoot by at most one record,
  *    plus one more once the whole ring is planned so the next batch can
  *    commit it: the hard bound is the cap + two payloads, and an oversized
  *    notification can never be starved by smaller traffic); at or over
  *    the cap the source answers 429 + Retry-After instead of acking —
  *    nothing is buffered or captured for a refused post. One body is
  *    read up to [[NgsiHttpSource.MaxBodyBytes]] (8 MiB); a longer one
  *    gets 413, also unbuffered and uncaptured. No ACKED event
  *    is ever dropped (NgsiHttpSourceSpec pins the ceiling, the 429s,
  *    the drain-then-recover cycle, and exactly-once delivery of every
  *    acked post), but whether a REFUSED post comes back depends on the
  *    broker's retry configuration: Orion Context Broker does not retry
  *    failed notifications by default, so pair a default-config broker
  *    with an upstream queue (or enable broker retries) if refused
  *    events must not be lost. Refusals are counted
  *    ([[NgsiHttpMicroBatchStream.refusedCount]]) and logged so the
  *    loss window is operator-visible; bounding driver memory remains
  *    the right trade-off versus an OOM that kills the whole query.
  *  - Task-payload bound: live rows ride inside serialized partitions,
  *    so the planned live slice is chunked at
  *    [[NgsiHttpSource.LiveChunkBytes]] (4 MiB) per partition — a
  *    drain-the-ring recovery batch plans many bounded tasks across
  *    executors instead of one 512 MiB task.
  *  - Capture-log reclamation is the operator's (the compaction contract
  *    above): the source never deletes capture files, because
  *    `replayCaptured` backfills read committed ones.
  *
  * Usage: `spark.readStream.format("graft.sources.NgsiHttpSource")
  *   .option("port", 9001).load()`
  */
class NgsiHttpSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NgsiHttpSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // properties arrive with original-case keys; DSv2 options are
    // case-insensitive by contract, so compare and look up ignoring case
    properties.keySet.forEach { k =>
      if (!NgsiHttpSource.Options.exists(_.equalsIgnoreCase(k)))
        throw new IllegalArgumentException(s"ngsi-http source: unknown option " +
          s"'$k'; it accepts only ${NgsiHttpSource.Options.mkString(" and ")}")
    }
    val opts = new CaseInsensitiveStringMap(properties)
    new NgsiHttpTable(
      Option(opts.get("port")).map(_.toInt)
        .getOrElse(throw new IllegalArgumentException("ngsi-http source requires a 'port' option")),
      Option(opts.get("capturedir")))
  }
}

object NgsiHttpSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("service", StringType),
    StructField("servicePath", StringType),
    StructField("recvTime", TimestampType)))

  /** The only option keys the source accepts; `getTable` refuses others. */
  private val Options: Seq[String] = Seq("port", "captureDir")

  /** Ceiling for the driver-resident ingest ring (estimated
    * HEAP bytes of accepted-but-uncommitted notifications: 2 bytes per
    * UTF-16 char of payload + header strings, plus fixed per-record
    * overhead — JVM Strings store chars two bytes wide, so charging raw
    * `length` would admit ~2× the intended heap for ASCII payloads and
    * drift further for the capture-tee duplication). A consumer slower
    * than the poster can otherwise grow the ring without bound — the
    * measured ~5-6k notif/s ingest against a stalled query is ~5 MB/s
    * of driver heap at 1 KB notifications, i.e. driver OOM in under an
    * hour. At the cap the source stops ACKING: posts get 429 +
    * Retry-After and are neither buffered nor captured. Whether a
    * refused post is ever redelivered depends on the BROKER's retry
    * configuration — Orion Context Broker does NOT retry failed
    * notifications by default, so under a stalled consumer refused
    * events can be lost upstream; the source counts every refusal
    * ([[NgsiHttpMicroBatchStream.refusedCount]]) and logs the running
    * total so that loss is visible, and bounding driver memory remains
    * the right trade-off versus an OOM that kills the whole query.
    * 512 MiB ≈ a quarter million 1 KB notifications of headroom —
    * minutes of a stalled consumer at full ingest rate, far beyond any
    * micro-batch hiccup. */
  val MaxBufferBytes: Long = 512L << 20

  /** Largest request body the accept path reads: 8 MiB, at least Orion's
    * default `-outReqMsgMaxSize` (8 MB), so no notification a
    * default-configured broker sends is refused. A longer body gets 413
    * after this many bytes + 1 are read, and is neither buffered nor
    * captured: one huge or endless POST cannot fill driver heap before
    * the ring's [[MaxBufferBytes]] admission check runs. */
  val MaxBodyBytes: Int = 8 << 20

  /** Per-partition byte budget when planning the LIVE ring slice: a
    * drain-the-ring batch (recovery after a stall) can hold up to
    * [[MaxBufferBytes]] of rows, and rows ride INSIDE the serialized
    * partition to executors — one unchunked partition would ship up to
    * 512 MiB through a single task (task-binary warnings, single-task
    * parse). Chunking by bytes keeps every task payload bounded and
    * spreads the recovery parse across executors; steady-state batches
    * are far below one chunk and still plan a single partition. */
  val LiveChunkBytes: Long = 4L << 20

  /** Records per history-replay partition: one incarnation writes ONE
    * capture file, so a long-lived incarnation's file can be huge — and
    * an unchunked slice would make one executor task buffer it whole.
    * Chunking bounds per-task memory AND spreads a recovery batch
    * across executors; the skip phase of a chunk is parse-free line
    * counting (construction already validated the file), so the re-walk
    * cost per chunk is line I/O, not JSON work. */
  val HistoryChunkRecords: Long = 1L << 16
}

/** The three sizes are [[NgsiHttpSource]]'s constants; specs shrink them
  * through these parameters. */
private[sources] class NgsiHttpTable(port: Int, captureDir: Option[String],
    maxBufferBytes: Long = NgsiHttpSource.MaxBufferBytes,
    historyChunkRecords: Long = NgsiHttpSource.HistoryChunkRecords,
    liveChunkBytes: Long = NgsiHttpSource.LiveChunkBytes)
    extends Table with SupportsRead {
  override def name(): String = s"ngsi-http:$port"
  override def schema(): StructType = NgsiHttpSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NgsiHttpSource.Schema
        override def toBatch: Batch =
          throw new UnsupportedOperationException("ngsi-http is streaming-only")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new NgsiHttpMicroBatchStream(port, captureDir, maxBufferBytes,
            historyChunkRecords, liveChunkBytes)
      }
    }
}

/** Offset = count of notifications accepted since source start, stamped
  * with the MINTING INCARNATION's nonce (r17). The stamp is what makes the
  * restart rebase exact: a deserialized offset carrying another
  * incarnation's nonce (or the legacy bare-long format of older
  * checkpoints) can only be a restored checkpoint position — never one of
  * this incarnation's own offset-log entries — so "restored vs self-minted"
  * is a fact read off the offset, not an inference from counters. The r16
  * `maxMinted` inference had a residual window (ADVICE r16): enough posts
  * racing into the restore window minted past the checkpoint and the
  * rebase was skipped, trimming acked-but-never-delivered ring entries at
  * the first commit. Legacy bare-long json still parses (old checkpoints
  * restore fine); self-minted offsets always serialize with the nonce.
  *
  * The format change is ONE-WAY: a binary older than the nonce stamp
  * parses offsets with `json.toLong` and throws on `{"n":...,"inc":...}`.
  * Upgrading onto an old checkpoint works; rolling back to an older binary
  * after this one has checkpointed does not — do not roll back. */
private[sources] case class SeqOffset(n: Long, inc: String = "") extends Offset {
  override def json(): String =
    if (inc.isEmpty) n.toString else s"""{"n":$n,"inc":"$inc"}"""
}

private[sources] final case class BufferedNotification(
    body: String, service: String, servicePath: String, recvTimeMicros: Long)

private[sources] class NgsiHttpMicroBatchStream(
    port: Int, captureDir: Option[String] = None,
    maxBufferBytes: Long = NgsiHttpSource.MaxBufferBytes,
    historyChunkRecords: Long = NgsiHttpSource.HistoryChunkRecords,
    liveChunkBytes: Long = NgsiHttpSource.LiveChunkBytes)
    extends MicroBatchStream with ReportsSourceMetrics {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // The capture log and the history replay read driver-local paths; on a
  // real cluster the replay tasks run on EXECUTORS, so captureDir must
  // live on storage they can read (the same contract as every file
  // source). Nothing can verify reachability from here, but a non-local
  // master with a captureDir is worth a loud warning at construction
  // rather than a FileNotFoundException at recovery time.
  captureDir.foreach { dir =>
    val master = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.sparkContext.master)
      .getOrElse("")
    if (master.nonEmpty && !master.startsWith("local"))
      log.warn(s"ngsi-http captureDir=$dir with master=$master: history " +
        "replay reads this path ON EXECUTORS — it must be on shared " +
        "storage (NFS/DFS), or restart recovery will fail with " +
        "FileNotFoundException at task time")
  }

  // Resumable history: everything captured by PREVIOUS incarnations of this
  // source (same captureDir), indexed once at construction in capture-file
  // name order (file names are timestamped, so lexicographic = arrival
  // order). History occupies global sequence numbers [prevBase, prevEnd);
  // the live buffer numbers from prevEnd. A restarted query's checkpoint
  // offset n <= prevEnd, so planInputPartitions serves [n, prevEnd) from
  // history — the acked-but-never-planned tail — and everything past it
  // from the live buffer: restart recovery is transparent to the streaming
  // query, no separate batch replay.
  //
  // The index is O(FILES), not O(events): construction streams every
  // capture file once to VALIDATE it (the torn-tail / corruption
  // contract below must fail at restart, not mid-replay) and record its
  // first global sequence + record count; the records themselves are
  // re-read lazily, file-slice by file-slice, only for the ranges
  // planInputPartitions actually serves. The previous implementation
  // buffered the whole history in a driver ArrayBuffer — a long-lived
  // deployment's multi-GB capture log would have OOM'd the driver at
  // construction for a restart that typically replays a few seconds of
  // tail. Committed history advances `prevBase` (a watermark, nothing to
  // trim).
  private case class HistFile(file: java.io.File, start: Long, count: Long)
  private val histFiles = new ArrayBuffer[HistFile]()
  @volatile private var prevBase = 0L
  private val prevEnd: Long = {
    var seq = 0L
    captureDir.foreach { dir =>
      val d = new java.io.File(dir)
      val files = Option(d.listFiles((_, n) =>
        n.startsWith("capture-") && n.endsWith(".json"))).getOrElse(Array.empty)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      files.sortBy(_.getName).foreach { f =>
        var cnt = 0L
        NgsiCaptureLog.foreachValidLine(f, mapper)(_ => cnt += 1)
        if (cnt > 0) { histFiles += HistFile(f, seq, cnt); seq += cnt }
      }
    }
    seq
  }

  // Ring buffer of accepted-but-uncommitted notifications. `firstSeq` is the
  // sequence number of buffer(0); lock is the buffer itself. Live numbering
  // continues after the durable history.
  private val buffer = new ArrayBuffer[BufferedNotification]()
  private var firstSeq = prevEnd
  // highest end offset planned so far (guarded by the buffer lock)
  private var plannedEnd = 0L

  // Back-pressure accounting for the live ring (guarded by the buffer
  // lock): estimated heap bytes of accepted-but-uncommitted
  // notifications. At `maxBufferBytes` the accept path stops ACKING —
  // 429 + Retry-After, nothing buffered, nothing captured — so a
  // consumer slower than the posters bounds driver memory instead of
  // growing it. Whether a refused post comes back depends on the
  // broker's retry configuration (Orion does NOT retry failed
  // notifications by default), so every refusal is counted and logged:
  // the bound-memory trade-off is deliberate, the potential upstream
  // loss must be visible. Commit trims restore the budget.
  // @volatile: written only under the buffer lock; read lock-free by the
  // 429 log line (informational) — volatile rules out a torn long read
  @volatile private var bufferedBytes = 0L
  // Heap estimate: JVM Strings are UTF-16, 2 bytes per char (String
  // `.length` counts chars, not bytes) — charge 2× so the cap means
  // heap bytes, not "Mi-chars". 64 B covers the record object, the
  // buffer slot, and String headers.
  private def recBytes(rec: BufferedNotification): Long =
    2L * (rec.body.length + rec.service.length + rec.servicePath.length) + 64L

  // Total posts refused with 429 since source start (monotonic; survives
  // nothing — a restarted source starts at 0). Read by operators/bench
  // legs to see how hard back-pressure engaged and how much the broker
  // must redeliver (or, with a non-retrying broker, may have LOST).
  private val refused = new java.util.concurrent.atomic.AtomicLong(0L)
  def refusedCount: Long = refused.get()

  // Durable-ingest tee: one JSON-lines capture file per source incarnation
  // (append-only, so restarts add a new file to the same directory and
  // replayCaptured reads them all). Opened lazily on the first notification.
  private var captureOut: java.io.FileOutputStream = null

  /** Append + fsync one accepted notification BEFORE it is acked: once the
    * poster sees 200, the event is on disk and survives any driver kill.
    * recvTime is epoch millis — the numeric shape `replayCaptured` already
    * dispatches on. Per-record fsync is the durable-ack contract; a
    * throughput-focused deployment would batch syncs (group commit) at the
    * cost of widening the ack-vs-durable window. */
  private def capture(rec: BufferedNotification): Unit = captureDir.foreach { dir =>
    if (captureOut == null) {
      new java.io.File(dir).mkdirs()
      // zero-padded timestamp prefix: lexicographic file-name order across
      // incarnations = arrival order, which the resume path relies on
      captureOut = new java.io.FileOutputStream(
        new java.io.File(dir, f"capture-${System.currentTimeMillis()}%015d-${System.nanoTime()}%019d.json"), true)
    }
    val line = s"""{"value":"${esc(rec.body)}","service":"${esc(rec.service)}","servicePath":"${esc(rec.servicePath)}","recvTime":${rec.recvTimeMicros / 1000L}}""" + "\n"
    captureOut.write(line.getBytes(StandardCharsets.UTF_8))
    captureOut.flush()
    captureOut.getFD.sync()
  }

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/", (exchange: HttpExchange) => handle(exchange))
    // Small accept pool: the reference's Netty listener serves concurrent
    // broker connections from an event loop; `null` (the dispatcher
    // thread) serializes whole request round-trips and caps measured
    // ingest at ~2k notifications/s regardless of pipeline headroom.
    // Handlers stay race-free — the buffer append (and capture tee) is
    // the existing synchronized block, and sequence numbers are assigned
    // inside it. Pool size is deliberately modest: ingest accept is not
    // where 100 TB goes, it only has to outrun the downstream pipeline.
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      8,
      (r: Runnable) => {
        val t = new Thread(r, s"ngsi-http-$port")
        t.setDaemon(true)
        t
      }))
    s.start()
    s
  }

  // Boundary validation: the notification contract is JSON (the broker
  // never sends anything else), so anything unparseable is rejected HERE
  // with 400 — never buffered, never captured. This is what keeps the
  // downstream typed parse strict: one garbage POST to a public port must
  // not become a task exception that kills a 24/7 streaming query, and
  // must not poison the durable capture log either.
  @transient private lazy val validator =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def isJson(body: String): Boolean =
    try { validator.readTree(body); true }
    catch { case _: Exception => false }

  private def handle(exchange: HttpExchange): Unit = {
    try {
      if (exchange.getRequestMethod.equalsIgnoreCase("POST")) {
        val bytes = exchange.getRequestBody.readNBytes(NgsiHttpSource.MaxBodyBytes + 1)
        lazy val body = new String(bytes, StandardCharsets.UTF_8)
        if (bytes.length > NgsiHttpSource.MaxBodyBytes) {
          exchange.sendResponseHeaders(413, -1)
        } else if (!isJson(body)) {
          exchange.sendResponseHeaders(400, -1)
        } else {
          val h = exchange.getRequestHeaders
          val rec = BufferedNotification(
            body,
            Option(h.getFirst("Fiware-Service")).getOrElse(""),
            Option(h.getFirst("Fiware-ServicePath")).getOrElse(""),
            System.currentTimeMillis() * 1000L)
          val cost = recBytes(rec)
          val accepted = buffer.synchronized {
            // admit while UNDER the cap (refuse at/over it): the ring can
            // overshoot by at most one record (two, see below), so the
            // bound is maxBufferBytes + two payloads — and admission never
            // depends on the arriving record's size, so an oversized notification
            // cannot be starved by a stream of small ones: the moment
            // commits drain the ring below the cap, the next arrival
            // lands whatever its size. A 429'd notification is refused
            // BEFORE capture — never acked, so redelivery (if any) is the
            // broker's: Orion does not retry by default, hence the
            // refusal counter + log below.
            // Spark commits a batch's offsets to the source only when it
            // constructs the NEXT batch, and constructs one only for new
            // data. So once every ring record is planned, one more record
            // is admitted over the cap: without it a full ring planned in
            // a single batch would never be committed, and every later
            // post would be refused forever.
            if (bufferedBytes >= maxBufferBytes &&
                plannedEnd < firstSeq + buffer.size) false
            else {
              capture(rec) // durable first: 200 must imply on-disk when teeing
              buffer += rec
              bufferedBytes += cost
              true
            }
          }
          if (accepted) exchange.sendResponseHeaders(200, -1)
          else {
            // first refusal and every 10k-th thereafter: enough to make
            // back-pressure (and, with a non-retrying broker, potential
            // upstream loss) operator-visible without log-flooding at
            // full refusal rate
            val n = refused.incrementAndGet()
            if (n == 1L || n % 10000L == 0L)
              log.warn(s"ngsi-http:$port refused $n posts with 429 (ring " +
                s"at $bufferedBytes/$maxBufferBytes bytes); redelivery " +
                "depends on broker retry config — Orion does not retry " +
                "by default")
            exchange.getResponseHeaders.set("Retry-After", "1")
            exchange.sendResponseHeaders(429, -1)
          }
        }
      } else {
        exchange.sendResponseHeaders(405, -1)
      }
    } finally exchange.close()
  }

  /** Nonce identifying THIS source incarnation; every offset it mints
    * carries it (see [[SeqOffset]]). */
  private val incarnation = java.util.UUID.randomUUID().toString

  override def initialOffset(): Offset =
    buffer.synchronized { SeqOffset(0L, incarnation) }

  override def latestOffset(): Offset =
    buffer.synchronized { SeqOffset(firstSeq + buffer.size, incarnation) }

  /** On restart with a checkpoint, the checkpointed offset is ahead of this
    * fresh instance's numbering (which starts at 0 when the capture history
    * is shorter than the checkpoint — the compaction case). A restored
    * offset rebases the sequence: buffered notifications (all post-restart
    * arrivals) keep their order but renumber to follow the checkpointed
    * position, so nothing that arrived after the restart is lost; only the
    * previous incarnation's unread buffer is (the documented at-most-once
    * contract across restarts).
    *
    * ORDER-INDEPENDENT AND COUNT-INDEPENDENT (r17): Spark 4.1.2's
    * committed-equal restart path (populateStartOffsets with offset log ==
    * commit log) makes NO source call during restore — the first call is
    * constructNextBatch's latestOffset(), and the restored offset only
    * arrives at the first runBatch's deserializeOffset, possibly after any
    * number of posts were accepted. The r16 `n > maxMinted` inference
    * closed the common ordering race but left a counting window (ADVICE
    * r16): once ≥ (checkpoint − prevEnd) posts raced in, the live numbering
    * minted PAST the checkpoint, the inference read the restored offset as
    * self-minted, and the regression batch's commit trimmed acked ring
    * entries below the checkpoint. The incarnation nonce removes the
    * inference entirely: an offset stamped by another incarnation (or a
    * legacy bare-long checkpoint) IS a restored position — rebase,
    * whatever was minted meanwhile; an offset stamped by this incarnation
    * is one of its own offset-log entries — never rebase (a rebase there
    * would renumber uncommitted buffer entries and replay them as
    * duplicates). The spec "restart rebase is count-independent…" pins the
    * exact ADVICE scenario. */
  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    val (n, inc) =
      if (t.startsWith("{")) {
        val nM = """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(t)
        val iM = """"inc"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(t)
        (nM.map(_.group(1).toLong).getOrElse(
          throw new IllegalArgumentException(s"malformed ngsi offset: $json")),
          iM.map(_.group(1)).getOrElse(""))
      } else (t.toLong, "")
    buffer.synchronized {
      if (inc != incarnation && n > firstSeq) firstSeq = n
    }
    SeqOffset(n, inc)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].n
    val e = end.asInstanceOf[SeqOffset].n
    // a range can straddle the durable history and the live buffer
    // (exactly the recovery batch after a restart). History is planned
    // as (file, skip, take) slice partitions — the records are read on
    // the EXECUTOR running the partition, so the driver never
    // materializes the history (O(files) plan metadata, not O(events)
    // rows — a fresh checkpoint over a multi-GB capture log plans in
    // constant driver memory) and the planner thread does NO file I/O:
    // histFiles is immutable after construction and prevBase only
    // advances, so the slice math runs outside the ring lock and the
    // accept path never blocks behind a replay. (On a real cluster this
    // requires captureDir on storage the executors can read — the same
    // contract as every file source; local modes trivially satisfy it.)
    val histParts: Seq[InputPartition] =
      if (s < prevEnd && e > s) {
        val lo = math.max(s, prevBase)
        val hi = math.min(e, prevEnd)
        if (hi > lo)
          histFiles.iterator.flatMap { hf =>
            val fLo = math.max(lo, hf.start)
            val fHi = math.min(hi, hf.start + hf.count)
            // chunked: a long-lived incarnation's single file can be
            // huge, and one task buffering its whole slice is the same
            // O(events) trap one hop further out — bounded chunks keep
            // per-task memory constant and let a recovery batch read in
            // parallel across executors
            (fLo until fHi by historyChunkRecords).map { c =>
              NgsiHistoryPartition(hf.file.getAbsolutePath,
                c - hf.start, math.min(historyChunkRecords, fHi - c))
            }
          }.toSeq
        else Nil
      } else Nil
    val liveRows = buffer.synchronized {
      plannedEnd = math.max(plannedEnd, e)
      val from = math.max(0L, s - firstSeq).toInt
      val until = math.max(0L, e - firstSeq).toInt
      buffer.slice(from, until).toArray
    }
    // Chunk the live slice the same way the history replay is chunked:
    // rows ride INSIDE the serialized partition, so a drain-the-ring
    // recovery batch (up to maxBufferBytes of rows) must never ship as
    // ONE task payload — split greedily at `liveChunkBytes` (≥1 record
    // per chunk, so an oversized single record still plans). Steady-state
    // batches stay below one chunk and plan a single partition; order is
    // preserved because chunks are consecutive slices.
    val live = new ArrayBuffer[InputPartition]()
    var lo = 0
    while (lo < liveRows.length) {
      var hi = lo
      var bytes = 0L
      while (hi < liveRows.length && (hi == lo || bytes < liveChunkBytes)) {
        bytes += recBytes(liveRows(hi))
        hi += 1
      }
      live += NgsiHttpInputPartition(liveRows.slice(lo, hi))
      lo = hi
    }
    (histParts ++ live).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    NgsiHttpReaderFactory

  /** The ring's state in each `StreamingQueryProgress` source entry:
    * records and estimated bytes buffered but not yet committed, and
    * posts refused with 429 since this source started. */
  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] = {
    val ringRecords = buffer.synchronized(buffer.size)
    util.Map.of("ringRecords", ringRecords.toString,
      "bufferedBytes", bufferedBytes.toString,
      "refusedCount", refusedCount.toString)
  }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[SeqOffset].n
    buffer.synchronized {
      // committed history just advances the watermark — there is no
      // buffered history to trim (records are file-resident)
      prevBase = math.max(prevBase, math.min(e, prevEnd))
      val drop = math.min(math.max(0L, e - firstSeq).toInt, buffer.size)
      var i = 0
      while (i < drop) { bufferedBytes -= recBytes(buffer(i)); i += 1 }
      buffer.remove(0, drop)
      firstSeq = math.max(firstSeq, e)
    }
  }

  override def stop(): Unit = {
    server.stop(0)
    // server.stop does not shut down a user-provided executor; without
    // this every stopped source would leak its accept pool
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
    if (captureOut != null) captureOut.close()
  }
}

private[sources] case class NgsiHttpInputPartition(
    rows: Array[BufferedNotification]) extends InputPartition

/** One capture-file slice of the durable history: records [skip,
  * skip+take) of `path`'s valid lines, read ON THE EXECUTOR running the
  * partition — the driver plans O(1) metadata per overlapping file. */
private[sources] case class NgsiHistoryPartition(
    path: String, skip: Long, take: Long) extends InputPartition

/** Shared reader factory for both partition shapes (an object, so the
  * factory serializes to executors without capturing the stream). */
private[sources] object NgsiHttpReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case NgsiHttpInputPartition(rows) =>
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = {
            val r = rows(i)
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(r.body),
              UTF8String.fromString(r.service),
              UTF8String.fromString(r.servicePath),
              r.recvTimeMicros))
          }
          override def close(): Unit = ()
        }
      case NgsiHistoryPartition(path, skip, take) =>
        new PartitionReader[InternalRow] {
          // the slice is chunk-bounded (plan-time chunking), so
          // buffering it per-task is the standard input-split shape;
          // the slice read parses only in-range lines — the skip phase
          // is line counting, valid because construction validated the
          // file (every non-empty line is a record, except a torn,
          // never-acked tail that sits BEYOND every planned range)
          private val rows =
            NgsiCaptureLog.readSlice(new java.io.File(path), skip, take)
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = rows(i)
          override def close(): Unit = ()
        }
    }
}

/** The capture-log line walker, shared by the driver-side
  * validate-and-count pass and the executor-side history readers. */
private[sources] object NgsiCaptureLog {

  /** Executor-side slice read: records [skip, skip+take) of `f`'s
    * lines as InternalRows. The skip phase counts non-empty lines
    * WITHOUT parsing — line index equals record index for every valid
    * record, because the source's construction pass already validated
    * the file (the only permissible invalid line is a torn,
    * never-acked tail, which sorts after every indexed record and is
    * excluded from every planned range). An in-range parse failure
    * therefore means the file changed under us — fail loudly. */
  def readSlice(f: java.io.File, skip: Long, take: Long)
      : scala.collection.mutable.ArrayBuffer[InternalRow] = {
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](
      math.min(take, Int.MaxValue.toLong).toInt)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f),
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      var idx = 0L
      var line = in.readLine()
      while (line != null && idx < skip + take) {
        if (line.nonEmpty) {
          if (idx >= skip) {
            val node =
              try mapper.readTree(line)
              catch {
                case e: Exception => throw new IllegalStateException(
                  s"capture log $f changed since it was indexed " +
                    s"(record $idx unparseable)", e)
              }
            out += new GenericInternalRow(Array[Any](
              UTF8String.fromString(node.get("value").asText()),
              UTF8String.fromString(node.get("service").asText()),
              UTF8String.fromString(node.get("servicePath").asText()),
              node.get("recvTime").asLong() * 1000L))
          }
          idx += 1
        }
        line = in.readLine()
      }
    } finally in.close()
    out
  }

  /** Stream one capture file's valid records through `sink` under the
    * durability contract: a crash between write and fsync can tear only
    * the FINAL line of the file that was open — that event was never
    * acked (sync precedes the 200), so an unparseable, UNTERMINATED last
    * line is skipped; an unparseable line anywhere else (or a corrupt
    * but newline-terminated final line) is real corruption over ACKED
    * events — fail loudly rather than silently resume over a hole.
    * Decoding is lenient (InputStreamReader's default REPLACE action):
    * NgsiJson.esc writes non-ASCII raw, so a tear mid-multibyte-character
    * must reach the JSON parse as U+FFFD and the torn-tail logic, not
    * kill the whole read with a charset exception. Memory is O(line) —
    * this walker must never buffer a file. */
  def foreachValidLine(f: java.io.File,
      mapper: com.fasterxml.jackson.databind.ObjectMapper)(
      sink: com.fasterxml.jackson.databind.JsonNode => Unit): Unit = {
    val endsWithNewline = {
      val raf = new java.io.RandomAccessFile(f, "r")
      try raf.length > 0 && {
        raf.seek(raf.length - 1); raf.read() == '\n'
      } finally raf.close()
    }
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f),
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      var lineNo = 0
      while (line != null) {
        lineNo += 1
        val next = in.readLine()
        if (line.nonEmpty) {
          val node =
            try mapper.readTree(line)
            catch {
              case e: Exception =>
                if (next == null && !endsWithNewline) null // torn tail
                else throw new IllegalStateException(
                  s"corrupt capture log $f at line $lineNo " +
                    "(not a torn tail — refusing to resume over acked events)",
                  e)
            }
          if (node != null) sink(node)
        }
        line = next
      }
    } finally in.close()
  }
}
