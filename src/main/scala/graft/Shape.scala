package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The execution shape of a metered body: jobs started, stages completed,
  * their tasks, shuffle bytes read and written, shuffle records written
  * and input bytes. Plan changes (an exchange more or less, a reused
  * subtree, a smaller shuffle) show here bit-stably even where wall-clock
  * noise swamps the timing delta. Skipped stages complete no tasks and
  * are not counted. */
final case class Shape(jobs: Long, stages: Long, tasks: Long,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long,
                       shuffleRecordsWritten: Long, inputBytes: Long) {
  override def toString: String =
    s"jobs=$jobs stages=$stages tasks=$tasks shufR=$shuffleReadBytes " +
      s"shufW=$shuffleWriteBytes shufRecW=$shuffleRecordsWritten input=$inputBytes"
}

object Shape {

  /** `body`'s result and the shape of the work it ran on `spark`'s
    * context. The bus is drained before the listener attaches, so no
    * earlier event is counted, and again before the totals are read, so
    * every event of `body` is: no sleep, no polling. Work other threads
    * run on the same context meanwhile is counted too. */
  def of[A](spark: SparkSession)(body: => A): (A, Shape) = {
    val sc = spark.sparkContext
    val tally = new Tally
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(tally)
    try {
      val a = body
      Bridge.drainListenerBus(sc)
      (a, tally.shape)
    } finally sc.removeSparkListener(tally)
  }

  private final class Tally extends SparkListener {
    private val jobs, stages, tasks, shufR, shufW, shufRecW, input = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRecW.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
      ()
    }

    def shape: Shape = Shape(jobs.get, stages.get, tasks.get, shufR.get,
      shufW.get, shufRecW.get, input.get)
  }
}
