package graft

/** Dev utility: time a subset of SparkEntry.queries (same harness shape as
  * [[Bench]] — warm-up at sf0.001, then min-of-3 at the target SF) without
  * paying for the whole board. Usage:
  *   sbt "runMain graft.TimeQ q78_containment_dedup q70_curation_pipeline"
  *
  * Besides wall-clock (noisy on a shared host), each query's LAST timed run
  * reports deterministic execution-shape metrics via a SparkListener —
  * jobs, stages, tasks, shuffle bytes read/written, input bytes. Plan
  * optimizations (fewer exchanges, reused subtrees, smaller shuffles) show
  * up here bit-stably even when wall-clock noise swamps the timing delta. */
object TimeQ {

  private class ShapeListener extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = Seq(jobs, stages, tasks, shufR, shufW, input).foreach(_.set(0))
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val shape = new ShapeListener
    spark.sparkContext.addSparkListener(shape)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      if (new java.io.File(warmDir).isDirectory)
        try { SparkEntry.queries(n)(spark, warmDir).count(); () }
        catch { case _: Throwable => }
      val times = (1 to Bench.Runs).map { r =>
        if (r == Bench.Runs) { // meter only the last run: memo state settled
          Thread.sleep(300) // let queued listener events drain
          shape.reset()
        }
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(300) // drain listener events before reading the meters
      println(f"TIMEQ $n%-28s min=${times.min}%7.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      println(s"SHAPE $n jobs=${shape.jobs.get} stages=${shape.stages.get} " +
        s"tasks=${shape.tasks.get} shufR=${shape.shufR.get} " +
        s"shufW=${shape.shufW.get} input=${shape.input.get}")
    }
    spark.stop()
  }
}
