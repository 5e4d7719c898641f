package graft

import org.apache.spark.sql.SparkSession

/** Single construction point for every graft driver/dev session.
  *
  * Centralized so the invariant [[Tables.normalizeTimestamps]] relies on —
  * `spark.sql.session.timeZone=UTC`, which makes the NTZ→TIMESTAMP cast
  * preserve naive wall-clock values as the same epoch instants DuckDB's
  * oracle computes — holds in EVERY main (Bench, Profile, Smoke, Verify),
  * not just the ones that remembered the config line. A session
  * built elsewhere with a different zone would silently time/verify a
  * different workload on a non-UTC host.
  */
object GraftSession {
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Data-proportional shuffle sizing: every shuffle STARTS at 8×
      // the core count and AQE coalesces down to its advisory target,
      // so partition count tracks data volume instead of being pinned
      // at the core count. Without this, a 10× corpus means 10× bytes
      // per partition (the sf1→sf10 decade measured q78's verify join
      // going 6.8× super-linear from exactly that per-partition sort
      // spill); with it, bigger corpora get more, same-sized partitions
      // — the "partition count grows, partition size doesn't" doctrine
      // applied to the engine's own shuffles, not just its tables.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Compress serialized RDD blocks (the pinSer memo tier): the graph
      // edge memos are billions of 2-long rows whose lz4 ratio is ~3-4×,
      // and at sf100 the UNcompressed block spill alone exceeded the
      // box's scratch volume. Costs decode CPU only where pinSer opted in.
      .config("spark.rdd.compress", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.ui.enabled", "false")
      .config(localFsConf)
      .getOrCreate()
    muteExpectedWarnings()
    s
  }

  /** Puts the session's `file:` filesystem on [[NioLocalFileSystem]] /
    * [[NioLocalFs]], which write the same files, checksums and modes as
    * Hadoop's stock classes without forking `chmod` and `readlink` for
    * each checkpoint file. `spark.hadoop.*` keys reach Hadoop only when
    * the builder creates the SparkContext: `getOrCreate` over a running
    * context keeps that context's filesystem. */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Named suppression of log lines this codebase EXPECTS by design —
    * thousands of identical benign lines buried the per-query timing JSON
    * at the tail of the round-9 bench artifact and would hide any
    * genuinely novel warning. Each logger is muted for a pinned reason;
    * everything else stays at the session default:
    *  - MapPartitionsRDD WARN "lineage has been truncated": emitted once
    *    per FrameBlocks.release, which unpersists checkpoint RDDs on
    *    purpose (FixpointSpec pins the discipline).
    *  - AccumulatorContext WARN + DAGScheduler ERROR "failed to update
    *    accumulator": late task-completion events updating SQL metrics of
    *    already-released query executions — the metrics are dead by
    *    design once the frame is released; the update failure cannot
    *    affect data. Genuine job failures still surface as thrown
    *    exceptions (and TaskSetManager logging, which stays on).
    *  - WindowExec WARN "No Partition Defined": the catalog allows
    *    exactly the post-aggregation bounded-frame global windows
    *    (CatalogPlanSpec enforces where), so the per-execution warning
    *    restates a structurally-audited fact. */
  def muteExpectedWarnings(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    Configurator.setLevel("org.apache.spark.util.AccumulatorContext", Level.ERROR)
    Configurator.setLevel("org.apache.spark.scheduler.DAGScheduler", Level.FATAL)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
  }
}
