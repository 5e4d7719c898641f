package graft

/** `Shape.of` counts exactly the work of its body, read after a drained
  * listener bus: two identical bodies back to back meter equal, with no
  * sleep between them. */
class ShapeSpec extends SparkSpec {

  private def meter(): (Long, Shape) =
    Shape.of(spark)(spark.range(0, 1000, 1, 4).repartition(3).count())

  test("Shape.of gives exact jobs, stages, tasks and shuffle records") {
    val (n, s) = meter()
    assert(n == 1000L)
    info(s.toString)
    // AQE submits each shuffle stage as its own job, then the result job:
    // range (4 tasks) -> repartition(3) -> partial counts (3 tasks) ->
    // the single-partition final count (1 task)
    assert((s.jobs, s.stages, s.tasks) == ((3L, 3L, 8L)))
    // every row crosses the repartition once, then one partial count per
    // repartitioned partition crosses the final exchange
    assert(s.shuffleRecordsWritten == 1000L + 3L)
    // every shuffled byte is read once, and a range reads no input
    assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes == s.shuffleWriteBytes)
    assert(s.inputBytes == 0L)
  }

  test("two calls back to back meter equal totals") {
    val (_, a) = meter()
    val (_, b) = meter()
    assert(a == b)
  }

  test("totals include events a slow listener still holds on the bus") {
    // registered first on the shared queue, so every stage event reaches
    // Shape's listener only after this one returns: reading the totals
    // without draining the bus would see fewer stages
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    val (_, s) =
      try meter() finally spark.sparkContext.removeSparkListener(slow)
    assert((s.jobs, s.stages, s.tasks, s.shuffleRecordsWritten) == ((3L, 3L, 8L, 1003L)))
  }
}
