package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: Path,
    dataDir: Path,
    digests: Path,
    cpus: Int,
    toy: Boolean,
    dropEvery: Int,
    corruptDigest: Boolean)

/** What one workload run measured and checked. Per-layer metrics a
  * workload never sets read 0: that workload bypasses the layer. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.Map.empty[String, Double]
  val layer = mutable.Map.empty[String, Double]
  /** The workload's own figures under their familiar names, printed as
    * `# name value unit` lines before the result line. */
  val notes = mutable.ArrayBuffer.empty[(String, Double, String)]

  def check(ok: Boolean, problem: => String): Unit =
    if (!ok) { problems += problem; () }

  /** The three end-to-end figures every workload reports. */
  def primary(p50Ms: Double, p99Ms: Double, perSec: Double): Unit = {
    e2e("latency_p50_ms") = p50Ms
    e2e("latency_p99_ms") = p99Ms
    e2e("throughput_per_s") = perSec
  }
}

object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms",
    "throughput_per_s" -> "1/s", "peak_rss_mb" -> "MiB", "setup_s" -> "s")

  val Modules: Seq[String] = Seq(
    "Relational", "TextAnalysis", "Dedup", "Similarity", "Curation", "Sketches", "Graph")

  val SpanLayers: Seq[String] = Seq(
    "setup", "gen", "sources", "streaming", "ngsi", "sink", "stub",
    "operators", "plans", "spark")

  val StreamPhases: Seq[String] = Seq(
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution")

  val PerLayer: Seq[(String, String)] =
    Seq("setup.session_s" -> "s", "setup.datagen_s" -> "s",
      "setup.models_s" -> "s", "setup.warmup_s" -> "s",
      "gen.late_ms_p99" -> "ms", "gen.offered_nps" -> "1/s",
      "sources.post_ms_p50" -> "ms", "sources.post_ms_p99" -> "ms",
      "sources.refused" -> "count", "sources.backlog_max" -> "count",
      "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count") ++
      StreamPhases.map(p => s"streaming.${p}_ms_p50" -> "ms") ++
      Seq("streaming.state_rows" -> "count", "streaming.state_mem_bytes" -> "bytes",
        "streaming.state_commit_ms" -> "ms",
        "sink.writeBatch_ms_p50" -> "ms", "sink.writeBatch_ms_total" -> "ms",
        "sink.posts" -> "count", "sink.lost" -> "count",
        "ngsi.parseEvents_s" -> "s", "ngsi.minTemperature_s" -> "s",
        "ngsi.avgTemperature_s" -> "s", "ngsi.minBusPrice_s" -> "s",
        "ngsi.parse_nps" -> "1/s", "ngsi.shuffle_write_bytes" -> "bytes") ++
      Modules.flatMap(m => Seq(s"operators.$m.s" -> "s", s"operators.$m.jobs" -> "count",
        s"operators.$m.stages" -> "count", s"operators.$m.tasks" -> "count",
        s"operators.$m.shuffle_write_bytes" -> "bytes",
        s"operators.$m.spill_bytes" -> "bytes", s"operators.$m.plan_ms" -> "ms")) ++
      Seq("memo.persistent_rdds_max" -> "count", "jvm.gc_ms" -> "ms",
        "models.trained" -> "count", "models.loaded" -> "count",
        "error_rate" -> "ratio", "trace.spans" -> "count") ++
      SpanLayers.map(l => s"self.${l}_ms" -> "ms") ++
      EndToEnd.filterNot(_._1 == "setup_s").map { case (n, u) => s"traced.$n" -> u }
}

/** Set-up shared by every workload: the session, the workload's inputs and
  * an emptied model store are set up `Reps` times (all but the last session
  * stopped again) and the median of each phase is reported; the warm-up
  * then runs once on the kept session. */
object Setup {
  val Reps = 3

  def apply(a: Args, r: Result)(datagen: () => Unit)(warmup: Session => Unit): Session = {
    var session: Session = null
    val reps = (1 to Reps).map { i =>
      val (s, tSession) = Trace.span("setup.session")(_ => Stats.timed(Session.start(a.cpus)))
      val (_, tData) = Trace.span("setup.datagen")(_ => Stats.timed(datagen()))
      val (_, tModels) = Trace.span("setup.models")(_ => Stats.timed(resetModelStore()))
      if (i < Reps) s.stop() else session = s
      (tSession, tData, tModels)
    }
    val (_, tWarm) = Trace.span("setup.warmup")(_ => Stats.timed(warmup(session)))
    val med = (f: ((Double, Double, Double)) => Double) => Stats.median(reps.map(f))
    r.layer("setup.session_s") = med(_._1)
    r.layer("setup.datagen_s") = med(_._2)
    r.layer("setup.models_s") = med(_._3)
    r.layer("setup.warmup_s") = tWarm
    r.e2e("setup_s") = Stats.median(reps.map(t => t._1 + t._2 + t._3)) + tWarm
    session
  }

  /** Empties the ModelStore root the run was given, so every trained
    * artifact is paid inside this run. */
  private def resetModelStore(): Unit = graft.ModelStore.root.foreach { d =>
    rmTree(Paths.get(d))
    Files.createDirectories(Paths.get(d))
    ()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.on = a.trace
    Files.createDirectories(a.runDir)
    val r = a.workload match {
      case "orion_roundtrip" => OrionRoundtrip.run(a)
      case "ngsi_backfill" => Backfill.run(a)
      case "catalog_heavy" => Catalog.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.e2e("peak_rss_mb") = Jvm.peakRssMb()
    r.layer("error_rate") = r.failed.toDouble / math.max(1L, r.attempted)
    if (a.trace) {
      val spans = Trace.all
      r.layer("trace.spans") = spans.size.toDouble
      val self = Trace.selfMs(spans)
      Metrics.SpanLayers.foreach(l => r.layer(s"self.${l}_ms") = self.getOrElse(l, 0.0))
      r.e2e.foreach { case (n, v) => if (n != "setup_s") r.layer(s"traced.$n") = v }
      Trace.write(a.runDir.resolve(s"trace-${a.workload}-s${a.seed}.json"))
    }
    r.notes.foreach { case (n, v, u) => println(f"# $n%-28s ${Json.num(v)} $u") }
    r.problems.foreach(p => println(s"# CHECK FAILED: $p"))
    val correct = r.problems.isEmpty && r.failed == 0
    val metrics = (if (a.trace) Metrics.PerLayer.map { case (n, u) => (n, r.layer.getOrElse(n, 0.0), u) }
                   else Metrics.EndToEnd.map { case (n, u) => (n, r.e2e(n), u) })
      .map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    // Spark and HTTP-server threads are not all daemons
    sys.exit(0)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toInt,
      trace = get("trace") == "1",
      runDir = Paths.get(get("run-dir")),
      dataDir = Paths.get(get("data-dir")),
      digests = Paths.get(get("digests")),
      cpus = Runtime.getRuntime.availableProcessors(),
      toy = m.get("toy").contains("1"),
      dropEvery = m.get("drop-every").map(_.toInt).getOrElse(0),
      corruptDigest = m.get("corrupt-digest").contains("1"))
  }
}
