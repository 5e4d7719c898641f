package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.StreamingQuery
object Bench {

  /** Per-query repetitions. Min-of-3: this host shows 3-5x run-to-run noise
    * (shared VM), and min-of-N is the standard estimator for the code's
    * actual cost under external interference; three samples make a single
    * contended window visibly recoverable where two often are not. */
  val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    warmUp(spark, SparkEntry.queries.keys)
    // A query that throws reports -1 (NOT its time-to-exception, which would
    // read as a speedup). Raw per-run times are emitted alongside the min so
    // a noisy host window is self-evident in the artifact: a real regression
    // shows all runs slow; noise shows one slow run next to fast ones.
    //
    // Each of the three passes times the queries in a DIFFERENT (seeded,
    // reproducible) order: a contended window on the shared host then lands
    // on different queries in different passes, so min-of-3 actually
    // suppresses it. With the old query-major loop the same neighbors
    // contended in all three runs (round 5: q11/q27 read 3-6x their
    // clean-JVM cost purely from run ordering).
    val names = SparkEntry.queries.keys.toSeq.sorted
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to Runs).foreach { run =>
      new scala.util.Random(run).shuffle(names).foreach { name =>
        val t0 = System.nanoTime()
        val t =
          try { SparkEntry.queries(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        samples(name) = samples(name) :+ t
      }
    }
    val rawTimes: Map[String, Seq[Double]] = names.map(n => n -> samples(n)).toMap
    val results = rawTimes.map { case (name, times) =>
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = rawTimes.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // total sums only successful queries; a -1 failure marker must not
    // subtract from (i.e. "speed up") the aggregate
    val total = results.values.filter(_ >= 0).sum
    val streamingJson = streamingBench(spark)
    val httpJson = httpSourceBench(spark)
    // Isolated floors for the heavy tier: the in-board numbers above share
    // one JVM-long session with every other query's pinned memo blocks and
    // cache pressure — measured to overstate a plan up to 2.4× (q78 at
    // sf10: 35.4 s in-board vs 14.9 s isolated). Emitted NEXT TO the
    // in-board numbers, never replacing them.
    spark.stop()
    val (isolatedJson, isolatedRunsJson) = isolatedFloors(cpus, sfDir)
    val retrainJson = retrainLeg(cpus, sfDir)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runsJson,"isolated":$isolatedJson,"isolated_runs":$isolatedRunsJson,"retrain":$retrainJson,"streaming":[$streamingJson,$httpJson],"sf":"$sfDir"}"""
    // The driver captures only the TAIL of stdout, and any line that embeds
    // a per-query map (~4 KB at 100+ queries) has twice been long enough to
    // get head-truncated out of the artifact. Persist the full JSON to a
    // file, print it, then print a SHORT final line — total only, NO
    // per-query map — so the last stdout line is always complete and
    // parseable regardless of tail-capture size. build.sbt hands the forked
    // JVM sbt's raw stdout and drops the trailing "[success]" banner, so
    // the compact line IS the last bare stdout line of
    // `sbt "runMain graft.Bench"`; `bench_summary.json` holds it too.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"), fullJson.getBytes("UTF-8"))
    println(fullJson)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_summary.json"), compact.getBytes("UTF-8"))
    println(compact)
  }

  /** A graft session at WARN. `setLogLevel` re-applies the root config, so
    * the expected warnings are muted again after it. */
  private def session(cpus: String): SparkSession = {
    val s = GraftSession.local(cpus)
    s.sparkContext.setLogLevel("WARN")
    GraftSession.muteExpectedWarnings()
    s
  }

  private val WarmDir = "/root/testdata/sf0.001"

  /** Runs each named query once at the smallest SF, when that dir exists.
    * Generated code is identical across SF dirs (only file paths differ),
    * so this JIT-compiles and janino-caches each plan's codegen classes
    * for ~free; a timed run after it measures data processing, not
    * one-time compilation. Session memos are keyed per sf dir, so the
    * warm-up does not warm the timed dir's memos. Failures are ignored:
    * the timed run reports them. */
  private def warmUp(spark: SparkSession, names: Iterable[String]): Unit =
    if (new java.io.File(WarmDir).isDirectory)
      names.foreach { n =>
        try { SparkEntry.queries(n)(spark, WarmDir).count(); () }
        catch { case _: Throwable => }
      }

  /** One cold run: its seconds, the model artifacts it trained and loaded,
    * and its [[Shape]]. A failed run reads -1 in every field, never a
    * plausible time or count. */
  private[graft] final case class Cold(sec: Double, trained: Long,
                                       loaded: Long, shape: Shape)

  private val Failed = Cold(-1.0, -1L, -1L, Shape(-1L, -1L, -1L, -1L, -1L, -1L, -1L))

  /** Times query `name` at `sfDir` cold: in a fresh session (fresh session
    * memos, zero foreign blocks), after [[warmUp]], one timed `count()`
    * metered by [[Shape.of]]. A second run inside one context would hit
    * the session memos (q41's signature memo measured 0.07 s where the
    * cold plan costs ~1 s), so a min over these runs is a min of COLD
    * runs. Stopping the session frees the run's blocks, so peak disk is
    * one query's own footprint (a shared session at sf100 filled the disk
    * with 36 GB of other queries' pinned blocks). ModelStore artifacts
    * still load from disk — that IS the production warm-serve path.
    * `after` sees the query's frame once the timed run is done, in the
    * still-live session. */
  private[graft] def coldRun(cpus: String, name: String, sfDir: String,
                             after: DataFrame => Unit = _ => ()): Cold =
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = session(cpus)
      try {
        warmUp(s, Seq(name))
        val ((df, sec, trained, loaded), shape) = Shape.of(s) {
          val t0 = System.nanoTime()
          val (df, trained, loaded) = ModelStore.counted {
            val df = SparkEntry.queries(name)(s, sfDir)
            df.count()
            df
          }
          (df, (System.nanoTime() - t0) / 1e9, trained, loaded)
        }
        after(df)
        Cold(sec, trained, loaded, shape)
      } finally s.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name@$sfDir failed: $e")
        Failed
    }

  /** The 26-query heavy tier (the BENCH_sf10 second-decade set): the
    * queries whose in-board/isolated gap is worth the extra contexts. */
  private[graft] val HeavyTier = Seq(
    "q107_hll_distinct", "q108_bm25_rank", "q110_dup_spans",
    "q128_eqfreq_bins", "q12_window_rank", "q140_ivfpq_rerank",
    "q144_semdedup", "q200_curation_pipeline_v2", "q201_bipartite_pagerank",
    "q202_bfs_khop", "q203_kmeans_lloyd", "q208_hits",
    "q210_copurchase_topk", "q211_global_rank", "q217_cdc_chunks",
    "q218_weighted_sssp", "q223_bootstrap_ci", "q225_grid_dbscan",
    "q34_text_tfidf", "q41_dedup_minhash", "q44_dedup_ngram_jaccard",
    "q46_dedup_components", "q70_curation_pipeline", "q73_ngram_novelty",
    "q78_containment_dedup", "q97_time_gridfill")

  /** Min-of-[[Runs]] [[coldRun]]s per heavy-tier query, with the raw
    * per-run vector emitted alongside: this VM's drift put single cold
    * contexts up to 3.5× off same-binary cross-checks (r16's q46 read
    * 0.28× from one bad context), and a visible vector makes a noise spike
    * self-evident — a real regression shows all runs slow. The retrain
    * leg below prices the alternative to warm serve. Failures report -1
    * (never a speedup). */
  private[graft] def isolatedFloors(cpus: String, sfDir: String): (String, String) = {
    val rows = HeavyTier.map { name =>
      val ts = (1 to Runs).map(_ => coldRun(cpus, name, sfDir).sec)
      val t = if (ts.contains(-1.0)) -1.0 else ts.min
      (s""""$name":$t""", s""""$name":${ts.mkString("[", ",", "]")}""")
    }
    (rows.map(_._1).mkString("{", ",", "}"),
      rows.map(_._2).mkString("{", ",", "}"))
  }

  /** The learned tier: queries that serve ModelStore-trained artifacts
    * (IVF centroids, PQ/OPQ codebooks). Their board numbers measure
    * warm-SERVE cost by design (disclosed production framing); this leg
    * makes the warm-serve advantage a measured number instead of an
    * invisible one. */
  private[graft] val LearnedTier = Seq(
    "q52_knn_ivf", "q115_pq_encode", "q117_ivf_pq",
    "q137_ivfpq_residual", "q140_ivfpq_rerank")

  /** Warm-serve vs pure-retrain A/B for the learned tier: each query gets
    * two [[coldRun]]s — one with the ModelStore enabled (the production
    * warm path, artifacts load from disk) and one with persistence
    * disabled (`ModelStore.root = None`, the exact semantics of
    * `SPARK_GRAFT_MODEL_DIR=""`), which forces a full retrain from the
    * parquet inputs, since trained models are memoized per session. Each
    * run also reports the artifacts its timed execution trained and
    * loaded (`warm_serve_models` / `retrain_models`), so a cold store that
    * trained during the "warm" run shows as trained, not as warm serve.
    * Failures report -1. */
  private[graft] def retrainLeg(cpus: String, sfDir: String): String =
    LearnedTier.map { name =>
      def once(disableStore: Boolean): Cold = {
        val saved = ModelStore.root
        if (disableStore) ModelStore.root = None
        try coldRun(cpus, name, sfDir) finally ModelStore.root = saved
      }
      def models(run: Cold) = s"""{"trained":${run.trained},"loaded":${run.loaded}}"""
      val warm = once(disableStore = false)
      val retrain = once(disableStore = true)
      s""""$name":{"warm_serve":${warm.sec},"retrain":${retrain.sec},""" +
        s""""warm_serve_models":${models(warm)},"retrain_models":${models(retrain)}}"""
    }.mkString("{", ",", "}")

  /** Runs `body` with the streaming legs' per-job knobs set on `spark` and
    * hands it `start`, which starts a stream into the `noop` sink in update
    * mode. Afterwards the started query is stopped and both knobs are
    * restored, whatever `body` did: a failed leg must not leave the
    * session, which the caller keeps using, with streaming-leg tuning.
    *  - `spark.sql.shuffle.partitions`: a 2k-row micro-batch against 32
    *    state-store partitions is pure task/commit overhead. The stream's
    *    stateful exchange picks its partition count at query START from
    *    this conf — the same knob a real deployment sets per streaming
    *    job. 2 measured best for these batch sizes (1/2/4 within noise,
    *    32 was 2×).
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` off: no-data
    *    micro-batches exist to advance the watermark when no rows arrive.
    *    Both legs drain after every add, so each data batch would drag an
    *    empty watermark-advance batch behind it — pure per-batch overhead
    *    that halves measured throughput (measured 2.4k -> 5.3k/s) while
    *    changing nothing the noop sink can observe. State still evicts on
    *    the next data batch's watermark. */
  private def withStreamingConf[A](spark: SparkSession, partitions: String)(
      body: (DataFrame => StreamingQuery) => A): A = {
    val knobs = Seq("spark.sql.shuffle.partitions" -> partitions,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val saved = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    var q: StreamingQuery = null
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      body { agg =>
        q = agg.writeStream.format("noop").outputMode("update").start()
        q
      }
    } finally {
      // stop() can itself throw (hung micro-batch, terminal query error);
      // the conf restores below must run regardless
      if (q != null) { try { q.stop() } catch { case _: Throwable => () } }
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // unload the leg's state-store providers and stop Spark's JVM-wide
      // maintenance task: left running, it outlives the session and logs
      // a failed round per provider once the state-store coordinator is
      // gone. A provider's close() can throw; the restores above are done
      try StateStore.stop() catch { case _: Throwable => () }
    }
  }

  /** A streaming leg's JSON, or an "err" field when it failed, so a
    * streaming failure does not sink the batch bench. */
  private def leg(pipeline: String)(body: => String): String =
    try body
    catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).replaceAll("[\"\\\\\\n\\r\\t]", " ")
        s"""{"pipeline":"$pipeline","err":"$msg"}"""
    }

  /** Informational streaming micro-bench: notifications/s through the
    * Example1 pipeline (MemoryStream -> NGSI parse -> flatten -> sliding
    * window min -> noop sink), a fixed number of micro-batches. Tracked next
    * to the batch numbers so streaming throughput has a per-round figure. */
  private[graft] def streamingBench(spark: SparkSession,
                                    batches: Int = 5,
                                    perBatch: Int = 2000,
                                    partitions: String = "2"): String =
    leg("example1_min_temperature") {
      withStreamingConf(spark, partitions) { start =>
        import spark.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val stream = MemoryStream[String]
        val q = start(graft.streaming.NgsiStreams.minTemperatureStream(
          stream.toDF().select(col("value"))))
        val bodies = (0 until perBatch).map { i =>
          s"""{"subscriptionId":"bench","data":[{"id":"R${i % 50}","type":"Room","temperature":{"type":"Float","value":${20.0 + (i % 15)},"metadata":{}}}]}"""
        }
        val t0 = System.nanoTime()
        (1 to batches).foreach { _ =>
          stream.addData(bodies)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val n = batches.toLong * perBatch
        s"""{"pipeline":"example1_min_temperature","notifications":$n,"batches":$batches,"elapsed_sec":$sec,"notifications_per_sec":${n / sec}}"""
      }
    }

  /** End-to-end throughput through the REAL HTTP push source — the
    * reference's operating mode (`Example1.scala:17` listens for Orion
    * notifications): an in-process multi-threaded load generator POSTs
    * real HTTP notifications at `NgsiHttpSource`, and the measured leg is
    * accept → parse → flatten → sliding-window min → noop sink. Reported
    * next to the MemoryStream figure so the artifact separates pipeline
    * cost (memory leg) from ingest cost (this leg); the elapsed clock
    * covers first POST to fully-drained sink. Same per-job knobs as the
    * memory leg. */
  private[graft] def httpSourceBench(spark: SparkSession,
                                     total: Int = 10000,
                                     threads: Int = 8,
                                     partitions: String = "2"): String =
    leg("http_source_min_temperature") {
      val port = {
        val ss = new java.net.ServerSocket(0)
        try ss.getLocalPort finally ss.close()
      }
      withStreamingConf(spark, partitions) { start =>
        val q = start(graft.streaming.NgsiStreams.minTemperatureStream(
          graft.streaming.NgsiStreams.fromHttp(spark, port)))
        // wait for the listener to accept
        var up = false
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!up && System.nanoTime() < deadline) {
          try {
            val s = new java.net.Socket("127.0.0.1", port); s.close(); up = true
          } catch { case _: Throwable => Thread.sleep(50) }
        }
        require(up, s"ngsi-http listener never came up on $port")
        val bodies = (0 until 200).map { i =>
          s"""{"subscriptionId":"bench","data":[{"id":"R${i % 50}","type":"Room","temperature":{"type":"Float","value":${20.0 + (i % 15)},"metadata":{}}}]}"""
        }
        val per = total / threads
        val failures = new java.util.concurrent.atomic.AtomicLong(0L)
        val t0 = System.nanoTime()
        val ts = (0 until threads).map { _ =>
          val th = new Thread(() => {
            val client = java.net.http.HttpClient.newHttpClient()
            var i = 0
            while (i < per) {
              val req = java.net.http.HttpRequest
                .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/notify"))
                .POST(java.net.http.HttpRequest.BodyPublishers
                  .ofString(bodies(i % bodies.length)))
                .header("Fiware-Service", "bench")
                .header("Fiware-ServicePath", "/bench")
                .build()
              val code = client.send(req,
                java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
              if (code != 200) { failures.incrementAndGet(); () }
              i += 1
            }
          })
          th.start(); th
        }
        ts.foreach(_.join())
        val postSec = (System.nanoTime() - t0) / 1e9
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = threads.toLong * per - failures.get()
        s"""{"pipeline":"http_source_min_temperature","notifications":$n,"post_failures":${failures.get()},"post_sec":$postSec,"elapsed_sec":$sec,"notifications_per_sec":${n / sec}}"""
      }
    }
}
