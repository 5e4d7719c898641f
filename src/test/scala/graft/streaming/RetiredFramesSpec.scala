package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pins the bounded-retirement contract the three cumulative streams rely
  * on — against the REAL release signal. `Dataset.unpersist` is a no-op
  * for localCheckpointed frames on this Spark (it only clears the
  * CacheManager entry; `sc.getPersistentRDDs` keeps the checkpoint RDD),
  * so the assertions watch each frame's OWN checkpoint-RDD id in the
  * persistence registry (membership is immune to the ContextCleaner
  * concurrently collecting unrelated suites' dereferenced RDDs): a
  * retired checkpoint stays registered and actionable for `keep`
  * subsequent retirements, aged-out generations actually leave the
  * registry (storage O(keep), not O(batches)), and closeAll drains the
  * rest. */
class RetiredFramesSpec extends SparkSpec {
  import spark.implicits._

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case other => fail(s"not a checkpoint frame: ${other.getClass}")
    }

  private def registered(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def ckpt(n: Int) =
    (1 to n).toDF("x").localCheckpoint(true)

  test("frames stay actionable for `keep` retirements; older RDDs really release") {
    val rf = new RetiredFrames(keep = 2)
    val g1 = ckpt(1); val g2 = ckpt(2); val g3 = ckpt(3); val g4 = ckpt(4)
    val ids = Seq(g1, g2, g3, g4).map(rddId)
    assert(ids.forall(registered))
    rf.retire(g1)
    rf.retire(g2)
    // both within the window: still registered and actionable
    assert(registered(ids(0)) && registered(ids(1)))
    assert(g1.count() == 1L && g2.count() == 2L)
    rf.retire(g3)
    // g1 aged out: its checkpoint RDD left the persistence registry
    // (Dataset.unpersist alone would have left it registered)
    assert(!registered(ids(0)))
    assert(registered(ids(1)) && registered(ids(2)))
    assert(g2.count() == 2L && g3.count() == 3L)
    rf.closeAll(g4)
    assert(ids.forall(id => !registered(id)))
    // released frames are genuinely invalid, not lazily recomputable
    intercept[Exception] { g4.count() }
  }

  test("updateLabels returns a checkpoint-rooted frame that release can free") {
    // the LineageStream retirement path: the label table IS the stream's
    // accumulating state, so connectedComponents (and updateLabels on top
    // of it) must hand back a frame whose root is its own LogicalRDD —
    // a Project-rooted return would pin the loop's checkpoint forever
    // because FrameBlocks.release is deliberately shallow.
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val pairs = Seq((2L, 3L), (10L, 11L)).toDF("i", "j")
    val updated = graft.operators.Dedup.updateLabels(labels, pairs)
    val id = rddId(updated) // fails loudly if the root is not a LogicalRDD
    assert(registered(id))
    // correctness first: the bridge 2–3 merges 3 into component 1
    val got = updated.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 1L && got(11L) == 10L)
    graft.FrameBlocks.release(updated)
    assert(!registered(id))
  }

  test("hitsOn leaves no per-call node-sized checkpoints pinned") {
    // GraphRankStream.hits runs hitsOn once per consumer pull; before the
    // round-release discipline each call pinned 2×HitsIters node-sized
    // RDDs until session end. Now the only surviving registration is the
    // (≤ 2·topN row) result frame itself, which is checkpoint-rooted so
    // the caller can retire it like any other. The CC loops share that
    // discipline (graft.Fixpoint): the default entry point when label-prop
    // converges and when it falls back to star, and the direct star call.
    val e = Seq((0L, 1L), (0L, 3L), (2L, 1L)).toDF("src", "dst")
      .localCheckpoint(true)
    def path(n: Int) = spark.range(n - 1)
      .select(col("id").as("i"), (col("id") + 1).as("j"))
    val D = graft.operators.Dedup
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "hitsOn" -> (() => graft.operators.Graph.hitsOn(e)),
      // diameter 3: label-prop converges well inside its maxIters/2 rounds
      "connectedComponents (label-prop)" -> (() => D.connectedComponents(path(4))),
      // diameter 39 > 25/2: label-prop hits its cap, star finishes
      "connectedComponents (star fallback)" -> (() => D.connectedComponents(path(40))),
      "ccAlternatingStars" -> (() => D.ccAlternatingStars(path(40))._1))
    calls.foreach { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = call()
      assert(out.count() > 0, name)
      val outId = rddId(out)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before - outId
      assert(leaked.isEmpty, s"$name pinned extra checkpoint RDDs: $leaked")
      graft.FrameBlocks.release(out)
      assert(!registered(outId), name)
    }
    graft.FrameBlocks.release(e)
  }
}
