package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import StatefulOps._

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  test("firstSeen: duplicates dropped within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Keyed]
    val q = firstSeen(in.toDS(), idleTimeout = None).writeStream
      .format("memory").queryName("first_seen")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(Keyed("h1", "a"), Keyed("h1", "b"), Keyed("h2", "c"))
      q.processAllAvailable()
      in.addData(Keyed("h1", "d"), Keyed("h3", "e"))
      q.processAllAvailable()
      val out = spark.table("first_seen").as[Keyed].collect()
      assert(out.map(_.key).sorted.toSeq == Seq("h1", "h2", "h3"))
      // the FIRST payload won for h1, both in-batch and cross-batch
      assert(out.find(_.key == "h1").get.payload == "a")
    } finally q.stop()
  }

  test("firstSeenBySignature: signature-identical docs deduped across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = firstSeenBySignature(in.toDS(), idleTimeout = None).writeStream
      .format("memory").queryName("sig_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val text = "key agg row scan slow fast table value part hash merge batch"
      in.addData(Doc(1, text), Doc(2, "totally different words in this one here yes"))
      q.processAllAvailable()
      in.addData(Doc(3, text), Doc(4, "short")) // exact re-arrival + short doc
      q.processAllAvailable()
      in.addData(Doc(5, "short")) // short-doc exact dup
      q.processAllAvailable()
      val out = spark.table("sig_dedup").as[Doc].collect().map(_.doc_id).sorted.toSeq
      assert(out == Seq(1L, 2L, 4L), s"got $out")
    } finally q.stop()
  }

  test("runningMin: minimum tightens monotonically per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedValue]
    val q = runningMin(in.toDS(), idleTimeout = None).writeStream
      .format("memory").queryName("running_min")
      .outputMode(OutputMode.Update())
      .start()
    try {
      in.addData(KeyedValue("R1", 21.5f), KeyedValue("R1", 19.0f), KeyedValue("R2", 30.0f))
      q.processAllAvailable()
      in.addData(KeyedValue("R1", 20.0f), KeyedValue("R2", 25.5f))
      q.processAllAvailable()
      val rows = spark.table("running_min").as[RunningMin].collect()
      // batch 1: R1 -> 19.0, R2 -> 30.0 ; batch 2: R1 stays 19.0, R2 -> 25.5
      val byBatchR1 = rows.filter(_.key == "R1").map(_.min).toSeq
      assert(byBatchR1 == Seq(19.0f, 19.0f))
      val byBatchR2 = rows.filter(_.key == "R2").map(_.min).toSeq
      assert(byBatchR2 == Seq(30.0f, 25.5f))
    } finally q.stop()
  }

  /** Runs `op` with a 1 s idle timeout: feeds `first`, waits past the
    * timeout, then feeds `second`, whose batch retires the idle keys of
    * `first`. No-data batches are off so each add settles; the timeouts
    * ride on the next data batch. Returns the state rows removed. */
  private def retireIdleKeys[A: Encoder](op: Dataset[A] => Dataset[_],
      mode: OutputMode, first: Seq[A], second: Seq[A]): Long = {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val in = MemoryStream[A]
    val q = op(in.toDS()).writeStream.format("noop").outputMode(mode).start()
    try {
      in.addData(first)
      q.processAllAvailable()
      Thread.sleep(1500)
      in.addData(second)
      q.processAllAvailable()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    } finally {
      q.stop()
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("idle timeout retires a funnel key that never stored state") {
    // a view with no signup does not advance the funnel: the key holds an
    // armed timeout but no state
    val removed = retireIdleKeys[FunnelEvent](funnelStream(_, Some("1 second")),
      OutputMode.Update(),
      first = Seq(FunnelEvent(1L, "view", ts(10))),
      second = Seq(FunnelEvent(2L, "signup", ts(20))))
    assert(removed == 1)
  }

  test("idle timeout retires an asof key that saw only events") {
    val removed = retireIdleKeys[AsofRow](asofStream(_, Some("1 second")),
      OutputMode.Append(),
      first = Seq(AsofRow(1L, ts(10), 7L, tag = 1, value = 0.5)),
      second = Seq(AsofRow(2L, ts(20), 8L, tag = 0, value = 1.5)))
    assert(removed == 1)
  }
}
