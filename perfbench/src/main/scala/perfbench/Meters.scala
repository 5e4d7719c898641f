package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linearly interpolated percentile, p in [0, 100]; 0 with no samples
    * (a layer the workload bypasses reads 0). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its result with its duration in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

/** Job/stage/task counts, shuffle and spill bytes, accumulated from the
  * listener bus. Read a [[Shape]] before and after a piece of work, with the
  * bus drained, and subtract. Job spans go to `Trace` under `parent`. */
final class ShapeListener extends SparkListener {
  private val jobs, stages, tasks, shuffleWrite, spill = new AtomicLong
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var parent: Long = 0L

  def shape: Shape = Shape(jobs.get, stages.get, tasks.get, shuffleWrite.get, spill.get)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStartMs.put(j.jobId, j.time)
    ()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(j.jobId)).foreach { t0 =>
      if (parent != 0L)
        Trace.record(Trace.newId(), parent, "", "spark.job",
          Trace.epochNs + t0 * 1000000L, Trace.epochNs + j.time * 1000000L)
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks.toLong)
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }
}

final case class Shape(jobs: Long, stages: Long, tasks: Long,
                       shuffleWrite: Long, spill: Long) {
  def -(o: Shape): Shape = Shape(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWrite - o.shuffleWrite, spill - o.spill)
}

/** Analysis + optimization + planning time of every query execution, from
  * its `QueryPlanningTracker`; phases become `plans.*` spans under `parent`. */
final class PlanListener extends QueryExecutionListener {
  private val planMs = new AtomicLong
  @volatile var parent: Long = 0L

  def ms: Long = planMs.get

  private def add(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(p => phases.get(p).map(p -> _))
      .foreach { case (p, s) =>
        planMs.addAndGet(s.durationMs)
        if (parent != 0L)
          Trace.record(Trace.newId(), parent, "", s"plans.$p",
            Trace.epochNs + s.startTimeMs * 1000000L, Trace.epochNs + s.endTimeMs * 1000000L)
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** One Spark session with the benchmark's meters attached. */
final class Session(val spark: SparkSession) {
  val shapes = new ShapeListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(shapes)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(plans)

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Session {
  /** A session exactly as the program's mains build one. */
  def start(cpus: Int): Session = {
    val s = graft.GraftSession.local(cpus.toString)
    s.sparkContext.setLogLevel("WARN")
    graft.GraftSession.muteExpectedWarnings()
    new Session(s)
  }
}

object Jvm {
  /** Peak resident set (VmHWM) of this process, MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}
