package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.streaming.NgsiStreams

/** End-to-end: HTTP POST (the reference's curl simulator shape,
  * `files/example1/curl_Notification.sh`) -> DataSourceV2 micro-batch source
  * -> parse -> memory sink. */
class NgsiHttpSourceSpec extends SparkSpec {

  private val notification =
    """{"subscriptionId":"57458eb60962ef754e7c0998",
      |"data":[{"id":"R1","type":"Room",
      |"temperature":{"type":"Float","value":21.5,"metadata":{}}}]}"""
      .stripMargin.replace("\n", "")

  private def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  /** The source's listener binds lazily when the query plans its first
    * batch; a post racing that bind dies with ConnectException (the one
    * full-suite flake this spec ever showed, under host load). Probe with
    * a bare TCP connect until the port is up before the first post. */
  private def waitListening(port: Int): Unit = {
    val deadline = System.nanoTime() + 45L * 1000 * 1000 * 1000
    var up = false
    while (!up && System.nanoTime() < deadline) {
      try {
        val sock = new java.net.Socket()
        try { sock.connect(new java.net.InetSocketAddress("127.0.0.1", port), 500); up = true }
        finally sock.close()
      } catch { case _: java.io.IOException => Thread.sleep(100) }
    }
    assert(up, s"listener on $port never came up")
  }

  /** The bodies `s` serves from `parts`, in partition order. */
  private def readAll(s: NgsiHttpMicroBatchStream, parts: Array[InputPartition]): Seq[String] =
    parts.toSeq.flatMap { p =>
      val r = s.createReaderFactory().createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (r.next()) out += r.get().getUTF8String(0).toString
      out
    }

  private def post(port: Int, body: String, headers: Map[String, String]): Int = {
    val b = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/notify"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    HttpClient.newHttpClient()
      .send(b.build(), HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  test("HTTP notifications flow through the micro-batch source") {
    val port = freePort()
    val raw = NgsiStreams.fromHttp(spark, port)
    val q = raw.writeStream
      .format("memory").queryName("ngsi_http_raw")
      .outputMode(OutputMode.Append())
      .start()
    try {
      waitListening(port)
      assert(post(port, notification,
        Map("Fiware-Service" -> "demo", "Fiware-ServicePath" -> "/test")) == 200)
      assert(post(port, notification, Map.empty) == 200)
      q.processAllAvailable()
      val rows = spark.table("ngsi_http_raw").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getAs[String]("value").contains("57458eb60962ef754e7c0998")))
      assert(rows.map(_.getAs[String]("service")).toSet == Set("demo", ""))
      assert(rows.forall(_.getAs[java.sql.Timestamp]("recvTime") != null))
    } finally q.stop()
  }

  test("source composes with the example1 pipeline (parse -> window -> min)") {
    val port = freePort()
    val out = NgsiStreams.minTemperatureStream(NgsiStreams.fromHttp(spark, port))
    val q = out.writeStream
      .format("memory").queryName("ngsi_http_min")
      .outputMode(OutputMode.Update())
      .start()
    try {
      waitListening(port)
      post(port, notification, Map.empty)
      post(port, notification.replace("21.5", "19.5"), Map.empty)
      q.processAllAvailable()
      val rows = spark.table("ngsi_http_min")
        .select(col("id"), col("temperature_min")).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getString(0) == "R1"))
      assert(rows.map(_.getFloat(1)).min == 19.5f)
    } finally q.stop()
  }

  test("sustains a burst of 500 notifications without loss") {
    val port = freePort()
    val raw = NgsiStreams.fromHttp(spark, port)
    val q = raw.writeStream
      .format("memory").queryName("ngsi_http_burst")
      .outputMode(OutputMode.Append())
      .start()
    try {
      waitListening(port)
      val client = HttpClient.newHttpClient()
      (1 to 500).foreach { i =>
        val req = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/notify"))
          .POST(HttpRequest.BodyPublishers.ofString(
            notification.replace("R1", s"R$i")))
          .build()
        assert(client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode() == 200)
      }
      q.processAllAvailable()
      val got = spark.table("ngsi_http_burst").count()
      assert(got == 500L, s"ingested $got of 500")
    } finally q.stop()
  }

  test("offset contract: restart rebase delivers post-restart notifications") {
    val port = freePort()
    val stream = new NgsiHttpMicroBatchStream(port)
    try {
      // notifications can arrive BEFORE Spark restores the checkpoint —
      // they are post-restart data and must not be lost by the rebase
      post(port, notification, Map.empty)
      // simulate the restart: the checkpoint holds offset 100 from the
      // previous incarnation; this fresh instance has numbered from 0
      val restored = stream.deserializeOffset("100")
      assert(restored.asInstanceOf[SeqOffset].n == 100L)
      post(port, notification, Map.empty)
      val latest = stream.latestOffset().asInstanceOf[SeqOffset]
      assert(latest.n == 102L,
        s"expected rebase to 100 + 2 surviving arrivals, got ${latest.n}")
      // this incarnation's OWN offsets round-tripped through the offset
      // log (stamped json since r17) must NOT rebase — the batch-end
      // offset case. (A second LEGACY bare-long restore call would rebase
      // further forward, which is restore-time-only and loss-free: live
      // entries only ever renumber PAST offsets the engine may commit.)
      stream.deserializeOffset(latest.json())
      assert(stream.latestOffset().asInstanceOf[SeqOffset].n == 102L)
      val parts = stream.planInputPartitions(SeqOffset(100L), latest)
      val rows = parts.flatMap(_.asInstanceOf[NgsiHttpInputPartition].rows)
      assert(rows.length == 2)
      stream.commit(latest)
      assert(stream.latestOffset().asInstanceOf[SeqOffset].n == 102L)
      assert(stream.planInputPartitions(latest, latest).isEmpty)
    } finally stream.stop()
  }

  test("soak: 8 concurrent posters, exactly-once ingest + sliding-window min") {
    // Concurrent bursts are where the r01 review found the offset-rebase
    // duplicate; this drives the full path (accept -> buffer -> micro-batch
    // -> parse -> sliding-window min) under contention and asserts
    // exactly-once WITHIN the run: every posted entity appears, none twice.
    val port = freePort()
    val raw = NgsiStreams.fromHttp(spark, port)
    // example1's sliding-window min, plus a per-(window, id) event count:
    // each entity is posted exactly once, so any replayed duplicate (same
    // buffered row planned twice, identical recvTime -> identical windows)
    // shows up as n > 1 — min alone cannot see duplicates of an equal value.
    val parsed = graft.ngsi.NgsiPipelines.parseEvents(raw)
      .withWatermark("recvTime", "30 seconds")
    val out = graft.ngsi.NgsiPipelines.flattenEntities(parsed.toDF())
      .select(col("recvTime"), col("id"),
        graft.ngsi.NgsiPipelines.attrValue("temperature").cast("float").as("temperature"))
      .groupBy(window(col("recvTime"), "5 seconds", "2 seconds"), col("id"))
      .agg(min(col("temperature")).as("temperature_min"),
        count(lit(1)).as("n"))
    val q = out.writeStream.format("memory").queryName("ngsi_soak_min")
      .outputMode(OutputMode.Update())
      .start()
    val threads = 8
    val perThread = 250
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val pool = (0 until threads).map { t =>
        new Thread(() => {
          val client = HttpClient.newHttpClient()
          (0 until perThread).foreach { i =>
            val id = s"S${t}_$i"
            val temp = (t * perThread + i).toDouble / 10.0
            val body = notification
              .replace("R1", id).replace("21.5", temp.toString)
            val req = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/notify"))
              .POST(HttpRequest.BodyPublishers.ofString(body)).build()
            if (client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode() != 200)
              errors.incrementAndGet()
          }
        })
      }
      waitListening(port)
      pool.foreach(_.start())
      pool.foreach(_.join())
      assert(errors.get() == 0, s"${errors.get()} posts failed")
      q.processAllAvailable()
      val rows = spark.table("ngsi_soak_min")
        .select(col("id"), col("temperature_min"), col("n")).collect()
      // no loss: every one of the 2000 distinct entities surfaced
      val byId = rows.groupBy(_.getString(0))
      assert(byId.size == threads * perThread,
        s"expected ${threads * perThread} distinct entities, got ${byId.size}")
      // exactly-once: one posted event per entity -> every window sees it once
      assert(rows.forall(_.getLong(2) == 1L),
        s"duplicate delivery: ${rows.filter(_.getLong(2) != 1L).take(5).mkString(", ")}")
      // windowed-min semantics under load: each entity was posted exactly one
      // value, so every window's min for it must equal that value
      byId.foreach { case (id, rs) =>
        val Array(t, i) = id.drop(1).split("_").map(_.toInt)
        val expected = ((t * perThread + i).toDouble / 10.0).toFloat
        assert(rs.forall(_.getFloat(1) == expected),
          s"$id: got ${rs.map(_.getFloat(1)).toSet}, expected $expected")
      }
    } finally q.stop()
  }

  test("durable-ingest tee: kill + restart loses zero acked notifications") {
    val dir = java.nio.file.Files.createTempDirectory("ngsi_capture").toString

    // incarnation 1: 8 acks, then the query is killed
    val port1 = freePort()
    val q1 = NgsiStreams.fromHttp(spark, port1, captureDir = Some(dir))
      .writeStream.format("memory").queryName("ngsi_tee1")
      .outputMode(OutputMode.Append()).start()
    try {
      waitListening(port1)
      (1 to 5).foreach { i =>
        assert(post(port1, notification.replace("R1", s"A$i"),
          Map("Fiware-Service" -> "tee")) == 200)
      }
      q1.processAllAvailable()
      // acked but possibly never planned into a micro-batch before the kill
      (1 to 3).foreach { i =>
        assert(post(port1, notification.replace("R1", s"B$i"), Map.empty) == 200)
      }
    } finally q1.stop()

    // incarnation 2 ("restart"): same capture dir, new port, 2 more acks
    val port2 = freePort()
    val q2 = NgsiStreams.fromHttp(spark, port2, captureDir = Some(dir))
      .writeStream.format("memory").queryName("ngsi_tee2")
      .outputMode(OutputMode.Append()).start()
    try {
      waitListening(port2)
      (1 to 2).foreach { i =>
        assert(post(port2, notification.replace("R1", s"C$i"), Map.empty) == 200)
      }
      q2.processAllAvailable()
    } finally q2.stop()

    // the replay path sees every acked notification across both lifetimes,
    // including any the killed stream never processed
    val replayed = graft.ngsi.NgsiPipelines
      .replayCaptured(spark, dir, format = "json")
    val entities = graft.ngsi.NgsiPipelines.flattenEntities(replayed.toDF())
      .select(col("id"), col("service"), col("recvTime")).collect()
    assert(entities.length == 10, s"replayed ${entities.length} of 10 acked")
    val ids = entities.map(_.getString(0)).toSet
    assert(ids == ((1 to 5).map(i => s"A$i") ++ (1 to 3).map(i => s"B$i")
      ++ (1 to 2).map(i => s"C$i")).toSet)
    assert(entities.count(_.getString(1) == "tee") == 5)
    assert(entities.forall(_.getAs[java.sql.Timestamp]("recvTime") != null))
  }

  test("resumable offsets: restarted streaming query recovers acked events from the capture log") {
    val dir = java.nio.file.Files.createTempDirectory("ngsi_resume_cap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ngsi_resume_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ngsi_resume_out").toString + "/sink"

    def startQuery(port: Int) =
      NgsiStreams.fromHttp(spark, port, captureDir = Some(dir))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()

    // the source (and its listener) is instantiated lazily when the query
    // plans its first batch; wait for the bind before posting
    def postRetrying(port: Int, body: String): Int = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last: Option[Int] = None
      while (last.isEmpty && System.nanoTime() < deadline) {
        try last = Some(post(port, body, Map.empty))
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      last.getOrElse(throw new IllegalStateException(s"port $port never came up"))
    }

    // incarnation 1: 5 processed acks, then 3 acked-but-never-planned, kill
    val port1 = freePort()
    val q1 = startQuery(port1)
    try {
      assert(postRetrying(port1, notification.replace("R1", "A1")) == 200)
      (2 to 5).foreach { i =>
        assert(post(port1, notification.replace("R1", s"A$i"), Map.empty) == 200)
      }
      q1.processAllAvailable()
      (1 to 3).foreach { i =>
        assert(post(port1, notification.replace("R1", s"B$i"), Map.empty) == 200)
      }
    } finally q1.stop()

    // incarnation 2: SAME checkpoint — the restarted streaming query alone
    // (no batch replay) must surface the B events from the durable log
    val port2 = freePort()
    val q2 = startQuery(port2)
    try {
      assert(postRetrying(port2, notification.replace("R1", "C1")) == 200)
      assert(post(port2, notification.replace("R1", "C2"), Map.empty) == 200)
      q2.processAllAvailable()
    } finally q2.stop()

    val ids = graft.ngsi.NgsiPipelines
      .flattenEntities(graft.ngsi.NgsiPipelines.parseEvents(
        spark.read.schema(NgsiHttpSource.Schema).parquet(out)).toDF())
      .select(col("id")).collect().map(_.getString(0)).toSeq
    val expected = (1 to 5).map(i => s"A$i") ++ (1 to 3).map(i => s"B$i") ++
      (1 to 2).map(i => s"C$i")
    // exactly-once end to end: offsets dedup the committed prefix, the file
    // sink dedups re-attempted batches — every acked id appears once
    assert(ids.sorted == expected.sorted,
      s"restart recovery mismatch: got ${ids.sorted.mkString(",")}")
  }

  test("malformed JSON is rejected 400 at the boundary; the stream survives") {
    val port = freePort()
    val raw = NgsiStreams.fromHttp(spark, port)
    val q = raw.writeStream
      .format("memory").queryName("ngsi_http_badjson")
      .outputMode(OutputMode.Append())
      .start()
    try {
      waitListening(port)
      // garbage a public port WILL receive: not-JSON, truncated JSON, binary
      assert(post(port, "this is not json", Map.empty) == 400)
      assert(post(port, """{"data": [ {"id": """, Map.empty) == 400)
      assert(post(port, " ", Map.empty) == 400)
      // the pipeline keeps working afterwards — the crash mode this guards
      // against is a poisoned buffer entry killing the whole query at parse
      assert(post(port, notification, Map.empty) == 200)
      q.processAllAvailable()
      val rows = spark.table("ngsi_http_badjson").collect()
      assert(rows.length == 1, s"only the valid notification may flow: ${rows.length}")
      // and the typed parse over the surviving row is clean
      val parsed = graft.ngsi.NgsiPipelines.parseEvents(
        spark.table("ngsi_http_badjson")).collect()
      assert(parsed.head.entities.nonEmpty)
    } finally q.stop()
  }

  test("a body over 8 MiB gets 413 and is neither buffered nor captured; the next post lands") {
    val port = freePort()
    val dir = java.nio.file.Files.createTempDirectory("ngsi-http-413").toFile
    dir.deleteOnExit()
    val stream = new NgsiHttpMicroBatchStream(port, Some(dir.toString))
    try {
      waitListening(port)
      def ringRecords = stream.metrics(java.util.Optional.empty()).get("ringRecords")
      def captured = dir.listFiles().toSeq.sortBy(_.getName)
        .map(f => f.getName -> java.nio.file.Files.readString(f.toPath))
      assert(post(port, notification, Map.empty) == 200)
      val (ringBefore, capturedBefore) = (ringRecords, captured)
      // valid JSON, one byte over the cap: the refusal is the size check's
      val huge = "{\"pad\":\"" + "x" * (NgsiHttpSource.MaxBodyBytes + 1 - 10) + "\"}"
      assert(huge.length == NgsiHttpSource.MaxBodyBytes + 1)
      assert(post(port, huge, Map.empty) == 413)
      assert(ringRecords == ringBefore, "a refused body must not be buffered")
      assert(captured == capturedBefore, "a refused body must not be captured")
      assert(post(port, notification, Map.empty) == 200)
      assert(ringRecords == "2")
      assert(captured.map(_._2.linesIterator.size).sum == 2)
    } finally stream.stop()
  }

  test("restart over a torn capture tail recovers every acked event and drops the torn one") {
    // a driver crash between write and fsync can tear the FINAL line of
    // the capture file that was open; that event was never acked (sync
    // precedes the 200), so a restart must recover every complete line
    // and skip the torn tail instead of dying in source construction
    val dir = java.nio.file.Files.createTempDirectory("ngsi_torn_cap")
    def line(id: String) =
      s"""{"value":"{\\"data\\":[{\\"id\\":\\"$id\\",\\"type\\":\\"Room\\",\\"temperature\\":{\\"type\\":\\"Float\\",\\"value\\":1.0,\\"metadata\\":{}}}]}","service":"","servicePath":"","recvTime":1700000000000}"""
    java.nio.file.Files.write(dir.resolve("capture-000000000000001-a.json"),
      (line("T1") + "\n" + line("T2") + "\n").getBytes)
    java.nio.file.Files.write(dir.resolve("capture-000000000000002-b.json"),
      (line("T3") + "\n" + """{"value":"{\"data\":[{\"id\":\"TORN""").getBytes)

    val port = freePort()
    val q = NgsiStreams.fromHttp(spark, port, captureDir = Some(dir.toString))
      .writeStream.format("memory").queryName("ngsi_torn")
      .outputMode(OutputMode.Append()).start()
    val ids = try {
      q.processAllAvailable()
      spark.table("ngsi_torn").select(col("value")).collect()
        .map(_.getString(0)).toSeq
    } finally q.stop()
    assert(ids.count(_.contains("T1")) == 1 && ids.count(_.contains("T2")) == 1
      && ids.count(_.contains("T3")) == 1, s"lost acked events: $ids")
    assert(!ids.exists(_.contains("TORN")), "replayed a never-acked torn line")
  }

  test("restart over a tail torn MID-MULTIBYTE-CHARACTER still recovers") {
    // NgsiJson.esc writes non-ASCII raw, so a crash can tear the tail inside a
    // UTF-8 sequence; a strict decoder (Files.readAllLines) throws for the
    // whole file then — the restart must instead decode leniently and let
    // the torn line reach the ordinary last-line skip.
    val dir = java.nio.file.Files.createTempDirectory("ngsi_torn_mb")
    def line(id: String) =
      s"""{"value":"{\\"data\\":[{\\"id\\":\\"$id\\",\\"type\\":\\"Room\\",\\"temperature\\":{\\"type\\":\\"Float\\",\\"value\\":1.0,\\"metadata\\":{}}}]}","service":"","servicePath":"","recvTime":1700000000000}"""
    val tornBytes = """{"value":"{\"data\":[{\"id\":\"Tè""".getBytes("UTF-8")
    java.nio.file.Files.write(dir.resolve("capture-000000000000001-a.json"),
      (line("M1") + "\n").getBytes("UTF-8")
        ++ tornBytes.dropRight(1)) // cut inside è's 2-byte sequence
    val port = freePort()
    val q = NgsiStreams.fromHttp(spark, port, captureDir = Some(dir.toString))
      .writeStream.format("memory").queryName("ngsi_torn_mb")
      .outputMode(OutputMode.Append()).start()
    val ids = try {
      q.processAllAvailable()
      spark.table("ngsi_torn_mb").select(col("value")).collect()
        .map(_.getString(0)).toSeq
    } finally q.stop()
    assert(ids.count(_.contains("M1")) == 1, s"lost acked events: $ids")
    assert(ids.length == 1, s"replayed a never-acked torn line: $ids")
  }

  test("mid-file capture corruption fails the restart loudly, never resumes over a hole") {
    val dir = java.nio.file.Files.createTempDirectory("ngsi_corrupt_cap")
    java.nio.file.Files.write(dir.resolve("capture-000000000000001-a.json"),
      ("{not json\n" +
        """{"value":"ok","service":"","servicePath":"","recvTime":1700000000000}""" +
        "\n").getBytes)
    val port = freePort()
    val q = NgsiStreams.fromHttp(spark, port, captureDir = Some(dir.toString))
      .writeStream.format("memory").queryName("ngsi_corrupt")
      .outputMode(OutputMode.Append()).start()
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val msgs = Iterator.iterate(failure: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("not a torn tail"), s"wrong failure: $msgs")
  }

  test("capture-log compaction: deleting fully-committed files keeps restart exact") {
    // the capture log grows forever unless an operator compacts it; the
    // offset contract makes deleting FULLY-COMMITTED files safe — the
    // restarted source sees shorter history (prevEnd < checkpoint n), the
    // checkpoint offset simply rebases the live numbering, and new events
    // flow with nothing replayed and nothing duplicated
    val dir = java.nio.file.Files.createTempDirectory("ngsi_gc_cap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ngsi_gc_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ngsi_gc_out").toString + "/sink"
    def startQuery(port: Int) =
      NgsiStreams.fromHttp(spark, port, captureDir = Some(dir))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()

    val port1 = freePort()
    val q1 = startQuery(port1)
    try {
      waitListening(port1)
      (1 to 4).foreach { i =>
        assert(post(port1, notification.replace("R1", s"G$i"), Map.empty) == 200)
      }
      q1.processAllAvailable() // all 4 committed => capture files GC-able
    } finally q1.stop()

    val gone = new java.io.File(dir).listFiles((_, n) => n.startsWith("capture-"))
    gone.foreach(f => assert(f.delete()))

    val port2 = freePort()
    val q2 = startQuery(port2)
    try {
      waitListening(port2)
      assert(post(port2, notification.replace("R1", "H1"), Map.empty) == 200)
      q2.processAllAvailable()
    } finally q2.stop()

    val ids = graft.ngsi.NgsiPipelines
      .flattenEntities(graft.ngsi.NgsiPipelines.parseEvents(
        spark.read.schema(NgsiHttpSource.Schema).parquet(out)).toDF())
      .select(col("id")).collect().map(_.getString(0)).toSeq
    val expected = (1 to 4).map(i => s"G$i") :+ "H1"
    assert(ids.sorted == expected.sorted,
      s"compacted-log restart mismatch: ${ids.sorted.mkString(",")}")
  }

  test("non-POST requests are rejected, stream unaffected") {
    val port = freePort()
    val raw = NgsiStreams.fromHttp(spark, port)
    val q = raw.writeStream
      .format("memory").queryName("ngsi_http_405")
      .outputMode(OutputMode.Append())
      .start()
    try {
      waitListening(port)
      val get = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/")).GET().build()
      val code = HttpClient.newHttpClient()
        .send(get, HttpResponse.BodyHandlers.discarding()).statusCode()
      assert(code == 405)
      post(port, notification, Map.empty)
      q.processAllAvailable()
      assert(spark.table("ngsi_http_405").count() == 1)
    } finally q.stop()
  }

  test("lazy history slicing: ranges straddling capture-file boundaries " +
    "replay exactly, in order, from the O(files) index") {
    val dir = java.nio.file.Files.createTempDirectory("ngsi_slices").toString
    def body(i: Int) = s"""{"ev":"n$i"}"""
    // three incarnations -> three capture files of 5, 4, and 3 records
    // (global sequences [0,5), [5,9), [9,12))
    var next = 0
    Seq(5, 4, 3).foreach { k =>
      val port = freePort()
      val s = new NgsiHttpMicroBatchStream(port, Some(dir))
      try {
        waitListening(port)
        (0 until k).foreach { _ =>
          assert(post(port, body(next), Map.empty) == 200); next += 1
        }
      } finally s.stop()
    }

    // a fourth incarnation indexes the 12-record history WITHOUT
    // buffering it; serve ranges that start and end mid-file, span a
    // whole middle file, and clip at the history edges
    val port = freePort()
    val s = new NgsiHttpMicroBatchStream(port, Some(dir))
    try {
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 12L,
        "restarted source must number the full capture history")
      def serve(lo: Long, hi: Long): Seq[String] =
        readAll(s, s.planInputPartitions(SeqOffset(lo), SeqOffset(hi)))
      // mid-file-1 -> mid-file-2 (straddles one boundary)
      assert(serve(3, 7) == (3 until 7).map(body))
      // mid-file-1 -> mid-file-3 (spans the whole middle file)
      assert(serve(2, 11) == (2 until 11).map(body))
      // exactly one whole file
      assert(serve(5, 9) == (5 until 9).map(body))
      // full history
      assert(serve(0, 12) == (0 until 12).map(body))
      // commit advances the watermark: earlier history is no longer
      // served, later history still is
      s.commit(SeqOffset(7))
      assert(serve(0, 12) == (7 until 12).map(body),
        "committed history must not replay")
    } finally s.stop()

    // chunked replay: a tiny chunk size splits each file span into
    // record-bounded partitions (per-task memory stays constant however
    // large one incarnation's file grew), and the chunk boundaries must
    // be invisible in the replayed stream
    val port2 = freePort()
    val s2 = new NgsiHttpMicroBatchStream(port2, Some(dir),
      historyChunkRecords = 2L)
    try {
      val parts = s2.planInputPartitions(SeqOffset(0), SeqOffset(12))
      assert(parts.length == 7, // ceil(5/2) + ceil(4/2) + ceil(3/2)
        s"expected 7 chunked history partitions, got ${parts.length}")
      assert(parts.forall {
        case NgsiHistoryPartition(_, _, take) => take <= 2L
        case _ => false
      }, "every history partition must be chunk-bounded")
      val replayed = parts.flatMap { p =>
        val r = s2.createReaderFactory().createReader(p)
        val out = scala.collection.mutable.ArrayBuffer[String]()
        while (r.next()) out += r.get().getUTF8String(0).toString
        out
      }.toSeq
      assert(replayed == (0 until 12).map(body),
        "chunk boundaries leaked into the replayed stream")
    } finally s2.stop()
  }

  test("capture log round-trips JSON-escaped characters in the body and Fiware-Service") {
    // A capture line is hand-written JSON (NgsiJson.esc); each character
    // the escaper rewrites must come back unchanged from the history
    // partition. JSON allows a raw newline or tab only between tokens and
    // a quote or backslash only escaped inside a string; a header value
    // holds no newline, and the JDK listener reads a tab in it as a space:
    // the body carries quote, backslash, newline and tab, Fiware-Service
    // quote, backslash and U+0001. The JDK HttpClient refuses control
    // characters in headers, so the post is written to a bare socket.
    val dir = java.nio.file.Files.createTempDirectory("ngsi_escape").toString
    val body = "{\"s\":\"a\\\"b\\\\c è\",\n\t\"t\":1}"
    val service = "q\"b\\c" + 1.toChar + "e"
    def rawPost(port: Int): String = {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val bytes = body.getBytes("UTF-8")
        val head = "POST /notify HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Fiware-Service: " + service + "\r\n" +
          s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n"
        sock.getOutputStream.write(head.getBytes("ISO-8859-1") ++ bytes)
        sock.getOutputStream.flush()
        new java.io.BufferedReader(new java.io.InputStreamReader(
          sock.getInputStream, "ISO-8859-1")).readLine()
      } finally sock.close()
    }
    val port = freePort()
    val s = new NgsiHttpMicroBatchStream(port, Some(dir))
    try {
      waitListening(port)
      val status = rawPost(port)
      assert(status.startsWith("HTTP/1.1 200"), status)
    } finally s.stop()
    val s2 = new NgsiHttpMicroBatchStream(freePort(), Some(dir))
    try {
      val parts = s2.planInputPartitions(SeqOffset(0), SeqOffset(1))
      assert(parts.toSeq.map(_.getClass) == Seq(classOf[NgsiHistoryPartition]))
      val r = s2.createReaderFactory().createReader(parts.head)
      assert(r.next())
      assert(r.get().getUTF8String(0).toString == body)
      assert(r.get().getUTF8String(1).toString == service)
      assert(!r.next())
    } finally s2.stop()
  }

  test("live-slice chunking: a drained ring plans multiple bounded partitions, " +
    "chunk boundaries invisible in the stream") {
    val port = freePort()
    // per-record heap estimate is 88 bytes (12-char body, headerless);
    // a 200-byte chunk budget admits 3 records per chunk (88 < 200,
    // 176 < 200, then 264 stops the chunk) — 10 buffered records must
    // plan as ceil-chunked partitions 3+3+3+1, never one 10-record task
    val stream = new NgsiHttpMicroBatchStream(port, None,
      liveChunkBytes = 200L)
    try {
      waitListening(port)
      def body(i: Int) = f"""{"n":"$i%04d"}"""
      (0 until 10).foreach(i => assert(post(port, body(i), Map.empty) == 200))
      val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(10))
      assert(parts.length == 4,
        s"expected 4 byte-bounded live partitions, got ${parts.length}")
      assert(parts.forall {
        case NgsiHttpInputPartition(rows) => rows.length <= 3
        case _ => false
      }, "every live partition must respect the chunk budget")
      // chunk boundaries must not reorder, drop, or duplicate records
      val replayed = readAll(stream, parts)
      assert(replayed == (0 until 10).map(body),
        "chunk boundaries leaked into the live stream")
      // steady state: a small batch still plans exactly one partition
      stream.commit(SeqOffset(10))
      assert(post(port, body(10), Map.empty) == 200)
      assert(stream.planInputPartitions(SeqOffset(10), SeqOffset(11)).length == 1)
    } finally stream.stop()
  }

  test("restart rebase is order-independent: latestOffset before the " +
    "checkpoint restore must not strand or drop an acked post") {
    // Spark 4.1.2's committed-equal restart makes NO source call during
    // populateStartOffsets: the first call is constructNextBatch's
    // latestOffset(), and the checkpointed offset only arrives at the
    // first runBatch's deserializeOffset. A post racing into that window
    // is numbered below the checkpoint; the regression batch
    // [checkpoint, staleLatest) then commits and must NOT trim the acked
    // record (the first-call-wins rebase lost it here, timing-dependent).
    val port = freePort()
    val s = new NgsiHttpMicroBatchStream(port, None)
    try {
      waitListening(port)
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 0L) // trigger A
      assert(post(port, """{"ev":"X"}""", Map.empty) == 200) // pre-restore post
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 1L)
      s.deserializeOffset("4") // checkpoint restored only now (runBatch)
      // the regression batch [4, 1) plans empty and its commit drops nothing
      assert(s.planInputPartitions(SeqOffset(4), SeqOffset(1)).isEmpty)
      s.commit(SeqOffset(1))
      // the acked post renumbered past the checkpoint, delivered exactly once
      val latest = s.latestOffset().asInstanceOf[SeqOffset]
      assert(latest.n == 5L, s"rebase must slide the ring past the checkpoint, tail=${latest.n}")
      val rows = readAll(s, s.planInputPartitions(SeqOffset(4), latest))
      assert(rows == Seq("""{"ev":"X"}"""), s"acked pre-restore post lost: $rows")
      s.commit(latest)
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 5L)
    } finally s.stop()
  }

  test("restart rebase is count-independent: posts minting past the " +
    "checkpoint before the restore must not defeat the rebase") {
    // The ADVICE r16 residual window: with the rebase keyed on
    // `n > maxMinted`, ≥ (checkpoint − prevEnd) accepted posts before the
    // restore minted the live numbering PAST the checkpoint; the restored
    // offset then read as self-minted, the rebase was skipped, and the
    // regression batch's commit trimmed the acked-but-never-delivered
    // entries below the checkpoint. The r17 incarnation stamp makes the
    // rebase exact: a foreign-stamped (or legacy bare-long) offset IS a
    // restored position, whatever was minted meanwhile; a self-minted
    // offset never rebases.
    val port = freePort()
    val s = new NgsiHttpMicroBatchStream(port, None)
    try {
      waitListening(port)
      def body(i: Int) = s"""{"ev":"C$i"}"""
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 0L) // trigger A
      // THREE acked posts race into the restore window: live numbering
      // mints to 3 — past the checkpointed 2 (the maxMinted blind spot)
      (0 until 3).foreach(i => assert(post(port, body(i), Map.empty) == 200))
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 3L)
      // the checkpoint (previous incarnation — legacy format) arrives last
      s.deserializeOffset("2")
      val latest = s.latestOffset().asInstanceOf[SeqOffset]
      assert(latest.n == 5L,
        s"rebase defeated by pre-restore mints, tail=${latest.n}")
      val rows = readAll(s, s.planInputPartitions(SeqOffset(2), latest))
      assert(rows == (0 until 3).map(body),
        s"acked pre-restore posts lost: $rows")
      s.commit(latest)
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 5L)
      // a self-minted offset round-tripped through the offset-log json
      // must NOT rebase (it is one of this incarnation's own entries)
      s.deserializeOffset(s.latestOffset().json())
      assert(s.latestOffset().asInstanceOf[SeqOffset].n == 5L,
        "self-minted offset must never rebase")
    } finally s.stop()
  }

  test("a retired or unknown option fails at load(), naming the key") {
    // the four retired dials (now constants, or deleted) and a typo: a
    // deployment that still sets one must fail, not be silently ignored
    Seq("maxBufferBytes", "historyChunkRecords", "liveChunkBytes",
        "compactCommitted", "captureDirectory").foreach { k =>
      val e = intercept[IllegalArgumentException](
        spark.readStream.format("graft.sources.NgsiHttpSource")
          .option("port", freePort()).option(k, "1").load())
      assert(e.getMessage.contains(s"'$k'") &&
        e.getMessage.contains("port and captureDir"), e.getMessage)
    }
  }

  test("progress reports the ring's source metrics; refusedCount counts the 429s") {
    import org.apache.spark.sql.streaming.Trigger
    val port = freePort()
    // 88 bytes per 12-char headerless body: a 200-byte ring refuses its 4th
    val q = spark.readStream.format("graft.sources.TinyRingNgsiSource")
      .option("port", port)
      .load()
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    try {
      waitListening(port)
      def body(i: Int) = f"""{"n":"$i%04d"}"""
      val burst = (0 until 20).map(i => post(port, body(i), Map.empty))
      // a last post retried until it lands, so a batch (and its
      // progress) follows the last refusal; it lands only because the
      // source admits one record over the cap once the full ring is
      // planned, else the ring would never be committed
      var retries = 0
      while (post(port, body(20), Map.empty) == 429 && retries < 300) {
        retries += 1; Thread.sleep(100)
      }
      assert(retries < 300, "the ring never drained")
      val refused = burst.count(_ == 429) + retries
      assert(refused > 0, s"a 200-byte ring must refuse part of a burst: $burst")
      q.processAllAvailable()
      def reported: Option[java.util.Map[String, String]] =
        Option(q.lastProgress).map(_.sources(0).metrics)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!reported.exists(_.get("refusedCount") == refused.toString) &&
        System.nanoTime() < deadline) Thread.sleep(100)
      val m = reported.getOrElse(fail("no progress reported"))
      assert(m.get("refusedCount") == refused.toString, s"metrics $m")
      assert(m.get("ringRecords").toLong >= 0L && m.get("bufferedBytes").toLong >= 0L,
        s"metrics $m")
    } finally q.stop()
  }

  test("slow consumer: ingest ring is byte-bounded, 429s past the cap, " +
    "drains and recovers with every ACKED post delivered exactly once") {
    val port = freePort()
    // per-record cost = 2 × (body.length + service + servicePath) + 64
    // (heap estimate: UTF-16 chars are 2 bytes wide); bodies are 12
    // chars and headerless, so each acked post books 88 bytes.
    // Admission is while-UNDER-the-cap (overshoot by at most one
    // record): a 500-byte cap admits 6 posts (5 × 88 = 440 < 500, the
    // 6th lands at 528) before the ring refuses
    val cap = 500L
    val stream = new NgsiHttpMicroBatchStream(port, None, cap)
    try {
      waitListening(port)
      def body(i: Int) = f"""{"n":"$i%04d"}"""
      // a stalled consumer: no planning, no commits — post at full rate
      val statuses = (0 until 20).map(i => post(port, body(i), Map.empty))
      assert(statuses.take(6).forall(_ == 200),
        s"posts under the cap must ack: $statuses")
      assert(statuses.drop(6).forall(_ == 429),
        s"posts past the cap must back-pressure, not buffer: $statuses")
      // the measured ceiling: only acked records occupy the ring
      assert(stream.latestOffset().asInstanceOf[SeqOffset].n == 6L,
        "ring holds exactly the acked records")
      // every refusal is counted (a non-retrying broker makes refusals
      // potential upstream loss — the counter is how operators see it)
      assert(stream.refusedCount == 14L,
        s"expected 14 counted refusals, got ${stream.refusedCount}")

      // the consumer catches up: one micro-batch drains the ring
      val first = readAll(stream, stream.planInputPartitions(SeqOffset(0), SeqOffset(6)))
      assert(first == (0 until 6).map(body),
        "drained batch must be the acked posts, in order")
      stream.commit(SeqOffset(6))

      // recovered: a retry-configured broker re-posts the refused
      // notifications while the consumer now keeps up (drains on each
      // 429) — every event lands exactly once, and the ring re-caps
      // whenever the consumer falls behind again
      val delivered = scala.collection.mutable.ArrayBuffer[String]()
      var next = 6L
      (6 until 20).foreach { i =>
        var code = post(port, body(i), Map.empty)
        var drains = 0
        while (code == 429 && drains < 10) {
          val upto = stream.latestOffset().asInstanceOf[SeqOffset]
          assert(upto.n - next <= 6L, "ring grew past its byte cap")
          delivered ++= readAll(stream,
            stream.planInputPartitions(SeqOffset(next), upto))
          stream.commit(upto); next = upto.n
          drains += 1
          code = post(port, body(i), Map.empty)
        }
        assert(code == 200, s"retry of ${body(i)} never acked")
      }
      val fin = stream.latestOffset().asInstanceOf[SeqOffset]
      delivered ++= readAll(stream, stream.planInputPartitions(SeqOffset(next), fin))
      stream.commit(fin)
      assert(delivered.toSeq == (6 until 20).map(body),
        "retried posts must each appear exactly once, in ack order")

      // no-wedge guard: a single record larger than the whole cap is
      // still accepted when the ring is empty (else it could never land)
      val big = s"""{"pad":"${"x" * 600}"}"""
      assert(post(port, big, Map.empty) == 200,
        "oversized single record on an empty ring must not wedge")
    } finally stream.stop()
  }
}

/** The NGSI source with a 200-byte ring: the cap is a constant, not an
  * option, so a `readStream` spec of the 429 path shrinks it here. */
class TinyRingNgsiSource extends NgsiHttpSource {
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new NgsiHttpTable(properties.get("port").toInt, None, maxBufferBytes = 200L)
}
