package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pinned._
import graft.operators.{Dedup, Graph}

/** Pins the round discipline the iterative graph loops share: a bounded
  * window of pinned generations while the loop runs, nothing but the
  * result afterwards, a named failure at the cap, and degenerate inputs
  * that converge instead of spinning. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def registered: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case other => fail(s"not a checkpoint frame: ${other.getClass}")
    }

  private val Target = 5

  /** A toy loop: every value below `Target` moves up by one per round, so
    * the seed (values 0..2) converges after `Target` rounds. Returns the
    * result, the rounds, the most generations registered at once (sampled
    * inside the scalar) and the registrations left afterwards — all
    * relative to the registry before the seed was pinned. */
  private def toy(window: Int, maxIters: Int) = {
    val before = registered
    var peak = 0
    val first = spark.range(10).select((col("id") % 3).as("v")).pin(false)
    val (out, rounds) = Fixpoint.run("toy", maxIters, window, first, -1L)(
      step = g => g.df.select(least(col("v") + 1, lit(Target)).as("v")),
      measure = { next =>
        peak = math.max(peak, (registered -- before).size)
        next.filter(col("v") < Target).count()
      },
      converged = (_, next) => next.value == 0,
      result = w => w.last.df.agg(sum(col("v")).as("total")))
    (out, rounds, peak, registered -- before)
  }

  for (window <- Seq(1, 2))
    test(s"window $window: at most $window generations plus the one materializing; " +
        "afterwards only the result") {
      val (out, rounds, peak, left) = toy(window, maxIters = 10)
      assert(rounds == Target)
      assert(peak == window + 1, s"peak registrations $peak")
      assert(left == Set(rddId(out)))
      assert(out.head().getLong(0) == 10L * Target)
      FrameBlocks.release(out)
    }

  test("hitting maxIters throws a named IllegalStateException and releases every generation") {
    val before = registered
    val e = intercept[IllegalStateException](toy(window = 1, maxIters = 3))
    assert(e.getMessage.contains("toy") && e.getMessage.contains("3 rounds"), e.getMessage)
    assert((registered -- before).isEmpty)
  }

  test("degenerate inputs: empty pairs and an empty edge frame converge without spinning") {
    val pairs = Seq.empty[(Long, Long)].toDF("i", "j")
    val (lp, lpRounds) = Dedup.ccLabelProp(pairs, maxIters = 12)
    val (st, stRounds) = Dedup.ccAlternatingStars(pairs)
    assert(lpRounds == 1 && stRounds == 1)
    assert(lp.count() == 0 && st.count() == 0)
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.count() == 0)
    val hits = Graph.hitsOn(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(hits.count() == 0)
    Seq(lp, st, cc, hits).foreach(FrameBlocks.release)
  }

  test("hitsOn leaves no per-call node-sized checkpoints pinned") {
    // Before the round-release discipline each hitsOn call pinned
    // 2×HitsIters node-sized RDDs until session end. Now the only surviving
    // registration is the (≤ 2·topN row) result frame itself, which is
    // checkpoint-rooted so the caller can release it like any other. The CC
    // loops share that discipline: the default entry point when label-prop
    // converges and when it falls back to star, and the direct star call.
    val e = Seq((0L, 1L), (0L, 3L), (2L, 1L)).toDF("src", "dst")
      .localCheckpoint(true)
    def path(n: Int) = spark.range(n - 1)
      .select(col("id").as("i"), (col("id") + 1).as("j"))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "hitsOn" -> (() => Graph.hitsOn(e)),
      // diameter 3: label-prop converges well inside its maxIters/2 rounds
      "connectedComponents (label-prop)" ->
        (() => Dedup.connectedComponents(path(4))),
      // diameter 39 > 25/2: label-prop hits its cap, star finishes
      "connectedComponents (star fallback)" ->
        (() => Dedup.connectedComponents(path(40))),
      "ccAlternatingStars" -> (() => Dedup.ccAlternatingStars(path(40))._1))
    calls.foreach { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = call()
      assert(out.count() > 0, name)
      val outId = rddId(out)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before - outId
      assert(leaked.isEmpty, s"$name pinned extra checkpoint RDDs: $leaked")
      FrameBlocks.release(out)
      assert(!registered(outId), name)
    }
    FrameBlocks.release(e)
  }
}
