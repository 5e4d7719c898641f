package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The multi-JVM execution axis: every other spec (and the driver's
  * gates) runs local[n] — one JVM, where "shuffles" are in-process array
  * handoffs and "broadcasts" never cross a process boundary. This suite
  * runs representative queries on `local-cluster[2,2,1536]` — a real
  * standalone master + 2 workers, each launching a SEPARATE executor
  * JVM — so task serialization, closure shipping, broadcast transport,
  * shuffle blocks over netty, and executor-side codegen of the custom
  * Catalyst expressions are all exercised across process boundaries,
  * then compares results bit-for-bit against the same queries on
  * local[4].
  *
  * The query picks cover one of each distribution-sensitive shape:
  * hash aggregation (map-side partials merged across executors), a
  * broadcast join (driver→executor transport), a shuffle join
  * (executor↔executor blocks), the md5-based MinHash custom-expression
  * pipeline (codegen + banding shuffle on executors), the iterative
  * star-CC (localCheckpoint blocks living in executor block managers
  * across rounds), the mergeable HLL sketch UDAF (partial sketch states
  * serialized executor→executor at the merge boundary), the
  * model-backed residual IVF-PQ query (ModelStore artifact loaded on
  * the driver, codebooks broadcast into separate executor JVMs — the
  * warm-serve path a production index runs), the HITS graph fixpoint
  * (per-sweep edge shuffles + broadcast rescale constants, round after
  * round), and the Poisson bootstrap (64-replica explode with map-side
  * combine). Results are integer/decimal-exact by design, so
  * cross-process equality is exact string equality, not tolerance.
  *
  * Suite discipline: forked-test suites run sequentially, and this one
  * owns the JVM's single SparkContext for its duration —
  * `SparkSpec.releaseContext()` stops the shared local[4] session first,
  * and the next `SparkSpec.session` call (here, for the expected-side
  * runs, and in whatever suite follows) transparently rebuilds it. */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val picks = Seq(
    "q02_agg_groupby",
    "q03_join_broadcast",
    "q04_join_shuffle",
    "q41_dedup_minhash",
    "q46_dedup_components",
    "q107_hll_distinct",
    "q137_ivfpq_residual",
    "q208_hits",
    "q223_bootstrap_ci")

  private def sfDir =
    s"${sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")}/sf0.01"

  // the forked executor JVMs need our compiled classes and the same
  // JDK17 add-opens the driver JVM gets from build.sbt
  private def classesDirOf(c: Class[_]): String =
    new File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
      .getAbsolutePath
  private val addOpens = TestJvm.addOpensString

  private def runAll(s: SparkSession): Map[String, Seq[String]] =
    picks.map { name =>
      val rows = graft.SparkEntry.queries(name)(s, sfDir)
        .collect().map(_.toString).sorted.toSeq
      name -> rows
    }.toMap

  test("local-cluster[2,2,1536] (multi-JVM executors) matches local[4] bit-for-bit") {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new File(sparkHome, "jars").isDirectory,
      s"no Spark distribution at $sparkHome — local-cluster needs one")
    assume(new File(sfDir).isDirectory, s"no testdata at $sfDir")

    SparkSpec.releaseContext()
    val cluster = SparkSession.builder()
      .master("local-cluster[2,2,1536]")
      .appName("graft-local-cluster")
      .config("spark.executor.memory", "1280m")
      .config("spark.executor.extraClassPath",
        classesDirOf(graft.Tables.getClass))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .getOrCreate()
    val clustered =
      try {
        cluster.sparkContext.setLogLevel("ERROR")
        graft.functions.GraftFunctions.register(cluster)
        // fail fast (and loudly) if executors never register, instead of
        // hanging the suite on an unschedulable first job
        cluster.sparkContext.requestTotalExecutors(2, 0, Map.empty)
        val probe = cluster.range(0, 1000, 1, 4)
          .selectExpr("sum(id)").collect()(0).getLong(0)
        assert(probe == 499500L)
        val batch = runAll(cluster)
        batch + ("streaming_retention" -> streamedRetention(cluster))
      } finally {
        cluster.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    // expected side: the rebuilt shared local[4] session
    val local = SparkSpec.session
    val expected = runAll(local) +
      ("streaming_retention" -> streamedRetention(local))
    (picks :+ "streaming_retention").foreach { name =>
      assert(clustered(name) == expected(name),
        s"$name diverged between local-cluster and local[4]")
      assert(clustered(name).nonEmpty, s"$name returned no rows")
    }
  }

  /** The fault-tolerance leg: `spark.graft.checkpoint=reliable` routes
    * every `pin` through a reliable `checkpoint()` (files under the
    * checkpoint dir) instead of `localCheckpoint` (executor-resident
    * blocks). This test proves the mode does what it claims on a REAL
    * process topology: one of the two executor JVMs is kill -9'd while
    * q46 (iterative CC over memoized, pinned signature frames) is
    * mid-flight, and the query must still complete with the exact
    * local[4] answer — lost tasks retry, lost shuffle output recomputes,
    * and pinned frames re-read from checkpoint FILES rather than dying
    * on vanished blocks. A second run after the kill then consumes the
    * session memo (frames partially written by the dead executor) and
    * must match too — the deterministic memo-consumer-after-loss case.
    * In default mode this exact sequence dies: localCheckpoint truncates
    * lineage, so a lost block is unrecoverable by construction. */
  test("reliable pin mode: executor kill mid-query still matches local[4] bit-for-bit") {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new File(sparkHome, "jars").isDirectory,
      s"no Spark distribution at $sparkHome — local-cluster needs one")
    assume(new File(sfDir).isDirectory, s"no testdata at $sfDir")
    val pick = "q46_dedup_components"

    SparkSpec.releaseContext()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-kill")
    val cluster = SparkSession.builder()
      .master("local-cluster[2,1,1536]")
      .appName("graft-kill-recovery")
      .config("spark.executor.memory", "1280m")
      .config("spark.executor.extraClassPath",
        classesDirOf(graft.Tables.getClass))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .config(Pinned.ModeConf, "reliable")
      .config(Pinned.DirConf, ckptDir.toString)
      .getOrCreate()
    val (killedMidQuery, res1, res2) =
      try {
        cluster.sparkContext.setLogLevel("ERROR")
        graft.functions.GraftFunctions.register(cluster)
        cluster.sparkContext.requestTotalExecutors(2, 0, Map.empty)
        val probe = cluster.range(0, 1000, 1, 4)
          .selectExpr("sum(id)").collect()(0).getLong(0)
        assert(probe == 499500L)
        val appId = cluster.sparkContext.applicationId
        // both executor JVMs must be up before we aim the kill
        val regDeadline = System.nanoTime() + 60L * 1000000000L
        while (executorPids(appId).size < 2 && System.nanoTime() < regDeadline)
          Thread.sleep(50)
        val pids = executorPids(appId)
        assert(pids.size >= 2, s"expected 2 executor JVMs, saw $pids")

        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        val fut = Future {
          graft.SparkEntry.queries(pick)(cluster, sfDir)
            .collect().map(_.toString).sorted.toSeq
        }
        // kill as soon as the first job of the query is live — the memo
        // materialization alone spans several jobs, so the rest of the
        // query genuinely runs with a freshly-killed executor
        val st = cluster.sparkContext.statusTracker
        val jobDeadline = System.nanoTime() + 120L * 1000000000L
        while (st.getActiveJobIds().isEmpty && !fut.isCompleted
               && System.nanoTime() < jobDeadline)
          Thread.sleep(2)
        val midQuery = !fut.isCompleted
        import scala.sys.process._
        Seq("kill", "-9", pids.head.toString).!
        val first = Await.result(fut, 10.minutes)
        // memo consumer after the loss: pinned frames were written (partly
        // by the now-dead executor) to checkpoint FILES — this read must
        // not depend on any executor-resident block
        val second = graft.SparkEntry.queries(pick)(cluster, sfDir)
          .collect().map(_.toString).sorted.toSeq
        (midQuery, first, second)
      } finally {
        cluster.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    val expected = graft.SparkEntry.queries(pick)(SparkSpec.session, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(killedMidQuery, "query finished before the kill landed — no recovery exercised")
    assert(res1.nonEmpty && res1 == expected,
      "mid-kill run diverged from local[4]")
    assert(res2 == expected, "post-kill memo read diverged from local[4]")
  }

  /** The STREAMING sibling of the kill-recovery test: batch q46's
    * recovery rides on reliable-checkpoint pins, but the streaming twins'
    * state (flatMapGroupsWithState) has its OWN recovery path — the state
    * store's delta/snapshot files plus the offset WAL under
    * `checkpointLocation`. Here one of two executor JVMs is kill -9'd
    * while a micro-batch of the retention stream is in flight; the
    * retried tasks must reload their state-store partitions from
    * checkpoint files (the dead executor's in-memory store maps are
    * gone), finish the batch, and keep accepting batches — and the full
    * append log must still match the same feed on local[4] bit for bit.
    * flatMapGroupsWithState emits each (user, cohort, offset) row AT MOST
    * ONCE per state transition, so a lost-then-replayed state update
    * would surface as a duplicated or missing row — exactly what the
    * equality below would catch. */
  test("streaming state store: executor kill mid-micro-batch still matches local[4]") {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new File(sparkHome, "jars").isDirectory,
      s"no Spark distribution at $sparkHome — local-cluster needs one")

    // deterministic three-chunk feed; chunk 2 is large enough that its
    // micro-batch is reliably in flight when the kill lands
    val chunks: Seq[Seq[graft.streaming.StatefulOps.RetEvent]] = Seq(
      (0 until 400).map(i => graft.streaming.StatefulOps.RetEvent(
        (i % 40).toLong, 19000L + (i * 7) % 21)),
      (0 until 60000).map(i => graft.streaming.StatefulOps.RetEvent(
        (i % 300).toLong, 19000L + (i * 11) % 70)),
      (0 until 400).map(i => graft.streaming.StatefulOps.RetEvent(
        (i % 40).toLong, 19035L + (i * 13) % 21)))

    def feed(s: SparkSession, sinkName: String,
             killBeforeChunk: Option[Int] = None): (Boolean, Seq[String]) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-stream-kill-$sinkName")
      val in = MemoryStream[graft.streaming.StatefulOps.RetEvent]
      val q = graft.streaming.StatefulOps.retentionStream(in.toDS())
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .start()
      // written on the killer thread, read on the test thread after
      // join: AtomicBoolean for visibility, and the join is asserted
      // (a timed-out join would leave the killer alive to kill an
      // executor AFTER the test moved on — racing the read is the
      // smaller of the two bugs)
      val killedMidBatch = new java.util.concurrent.atomic.AtomicBoolean(false)
      try {
        chunks.zipWithIndex.foreach { case (c, i) =>
          in.addData(c)
          if (killBeforeChunk.contains(i)) {
            val appId = s.sparkContext.applicationId
            val pids = executorPids(appId)
            assert(pids.size >= 2, s"expected 2 executor JVMs, saw $pids")
            // the kill aims at the chunk's first live job — state rows
            // for earlier chunks are already committed, so the retried
            // tasks genuinely RELOAD state rather than rebuild it
            val st = s.sparkContext.statusTracker
            val killer = new Thread(() => {
              val deadline = System.nanoTime() + 60L * 1000000000L
              while (st.getActiveJobIds().isEmpty
                     && System.nanoTime() < deadline)
                Thread.sleep(1)
              killedMidBatch.set(st.getActiveJobIds().nonEmpty)
              import scala.sys.process._
              Seq("kill", "-9", pids.head.toString).!
              ()
            })
            killer.start()
            q.processAllAvailable()
            killer.join(60000)
            assert(!killer.isAlive,
              "killer thread still running after join timeout — " +
                "it could kill an executor after the test moved on")
          } else q.processAllAvailable()
        }
        (killedMidBatch.get(),
          s.table(sinkName).collect().map(_.toString).sorted.toSeq)
      } finally q.stop()
    }

    SparkSpec.releaseContext()
    val cluster = SparkSession.builder()
      .master("local-cluster[2,1,1536]")
      .appName("graft-stream-kill-recovery")
      .config("spark.executor.memory", "1280m")
      .config("spark.executor.extraClassPath",
        classesDirOf(graft.Tables.getClass))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .getOrCreate()
    val (killedMidBatch, clustered) =
      try {
        cluster.sparkContext.setLogLevel("ERROR")
        cluster.sparkContext.requestTotalExecutors(2, 0, Map.empty)
        val probe = cluster.range(0, 1000, 1, 4)
          .selectExpr("sum(id)").collect()(0).getLong(0)
        assert(probe == 499500L)
        val regDeadline = System.nanoTime() + 60L * 1000000000L
        while (executorPids(cluster.sparkContext.applicationId).size < 2
               && System.nanoTime() < regDeadline)
          Thread.sleep(50)
        feed(cluster, "stream_kill_cluster", killBeforeChunk = Some(1))
      } finally {
        cluster.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    val (_, expected) = feed(SparkSpec.session, "stream_kill_local")
    assert(killedMidBatch,
      "micro-batch finished before the kill landed — no recovery exercised")
    assert(clustered.nonEmpty && clustered == expected,
      "post-recovery streaming emissions diverged from local[4]")
  }

  /** The near-dup lineage twin's OWN recovery path: unlike the
    * retention stream (state store deltas + offset WAL), the
    * [[graft.streaming.NearDupLineageStream]] accumulates its state as
    * eagerly-pinned index + label DataFrames inside foreachBatch. In
    * reliable pin mode those frames live as checkpoint FILES, so an
    * executor lost mid-fold must be recoverable: the retried fold tasks
    * re-read the prior batch's index/label partitions from storage
    * instead of dying on vanished localCheckpoint blocks. One of two
    * executor JVMs is kill -9'd while chunk 2's fold is in flight; the
    * stream must finish all chunks and the folded labels must equal
    * batch CC over the full corpus computed on local[4]. */
  test("near-dup lineage stream: executor kill mid-fold still equals batch CC") {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new File(sparkHome, "jars").isDirectory,
      s"no Spark distribution at $sparkHome — local-cluster needs one")
    assume(new File(sfDir).isDirectory, s"no testdata at $sfDir")

    import graft.operators.{Dedup => D}
    import org.apache.spark.sql.functions.col

    SparkSpec.releaseContext()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-lineage-kill")
    val cluster = SparkSession.builder()
      .master("local-cluster[2,1,1536]")
      .appName("graft-lineage-kill-recovery")
      .config("spark.executor.memory", "1280m")
      .config("spark.executor.extraClassPath",
        classesDirOf(graft.Tables.getClass))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .config(Pinned.ModeConf, "reliable")
      .config(Pinned.DirConf, ckptDir.toString)
      .getOrCreate()
    val (killedMidFold, folded) =
      try {
        cluster.sparkContext.setLogLevel("ERROR")
        graft.functions.GraftFunctions.register(cluster)
        cluster.sparkContext.requestTotalExecutors(2, 0, Map.empty)
        val probe = cluster.range(0, 1000, 1, 4)
          .selectExpr("sum(id)").collect()(0).getLong(0)
        assert(probe == 499500L)
        val regDeadline = System.nanoTime() + 60L * 1000000000L
        while (executorPids(cluster.sparkContext.applicationId).size < 2
               && System.nanoTime() < regDeadline)
          Thread.sleep(50)
        val pids = executorPids(cluster.sparkContext.applicationId)
        assert(pids.size >= 2, s"expected 2 executor JVMs, saw $pids")

        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = cluster.sqlContext
        import cluster.implicits._
        val docs = graft.Tables.load(cluster, sfDir, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        val chunks = docs.grouped((docs.length + 2) / 3).toSeq

        val mem = MemoryStream[(Long, String)]
        val lineage = new graft.streaming.NearDupLineageStream(cluster)
        val q = lineage.attach(mem.toDF().toDF("doc_id", "text"))
        val killedMidBatch =
          new java.util.concurrent.atomic.AtomicBoolean(false)
        try {
          chunks.zipWithIndex.foreach { case (c, i) =>
            mem.addData(c.toSeq)
            if (i == 1) {
              // aim the kill at chunk 2's first live fold job — chunk 1's
              // index/labels are already checkpointed, so the retried
              // tasks genuinely re-read prior state from files
              val st = cluster.sparkContext.statusTracker
              val killer = new Thread(() => {
                val deadline = System.nanoTime() + 60L * 1000000000L
                while (st.getActiveJobIds().isEmpty
                       && System.nanoTime() < deadline)
                  Thread.sleep(1)
                killedMidBatch.set(st.getActiveJobIds().nonEmpty)
                import scala.sys.process._
                Seq("kill", "-9", pids.head.toString).!
                ()
              })
              killer.start()
              q.processAllAvailable()
              killer.join(60000)
              assert(!killer.isAlive,
                "killer thread still running after join timeout")
            } else q.processAllAvailable()
          }
          (killedMidBatch.get(), lineage.labels.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet)
        } finally { q.stop(); lineage.close() }
      } finally {
        cluster.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    // expected: batch CC over the full corpus on the rebuilt local[4]
    val local = SparkSpec.session
    graft.functions.GraftFunctions.register(local)
    val all = graft.Tables.load(local, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val expected = D.connectedComponents(
        D.lshNearDupPairs(all, n = 3, numHashes = D.NumHashes,
          bandSize = D.BandSize, seedBase = 0,
          tNum = D.TrigramTNum, tDen = D.TrigramTDen)
          .select(col("i"), col("j")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(killedMidFold,
      "fold finished before the kill landed — no recovery exercised")
    assert(folded.nonEmpty && folded == expected,
      "post-kill folded labels diverged from batch CC on local[4]")
  }

  /** Executor JVM pids of the given standalone app (local-cluster
    * executors are real forked processes, visible to ps). */
  private def executorPids(appId: String): Seq[Long] = {
    import scala.sys.process._
    Seq("ps", "-eo", "pid,args").!!.linesIterator
      .filter(l => l.contains("CoarseGrainedExecutorBackend")
        && l.contains(appId))
      .map(_.trim.split("\\s+")(0).toLong).toSeq
  }

  /** The stateful-streaming leg of the axis: flatMapGroupsWithState's
    * state stores live in EXECUTOR JVMs on a real cluster (HDFS-backed
    * store per shuffle partition), so state rows here are created,
    * snapshotted and read back across process boundaries — then the
    * emitted append log must still match local[4] exactly. */
  private def streamedRetention(s: SparkSession): Seq[String] = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val events = (0 until 40).flatMap(u =>
      (0 until 6).map(k => graft.streaming.StatefulOps.RetEvent(
        u.toLong, 19000L + (u * 5 + k * 9) % 45)))
    val in = MemoryStream[graft.streaming.StatefulOps.RetEvent]
    // suffix must actually distinguish the legs: take(5).filter(_.isLetter)
    // yields "local" for BOTH local[4] and local-cluster[...]
    val sinkName = if (s.sparkContext.master.startsWith("local-cluster"))
      "lc_retention_cluster" else "lc_retention_local"
    val q = graft.streaming.StatefulOps.retentionStream(in.toDS())
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      events.grouped(80).foreach { c => in.addData(c); q.processAllAvailable() }
      s.table(sinkName).collect().map(_.toString).sorted.toSeq
    } finally q.stop()
  }
}
