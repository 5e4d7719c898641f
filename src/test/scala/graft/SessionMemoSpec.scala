package graft

import org.apache.spark.sql.functions._

class SessionMemoSpec extends SparkSpec {

  test("memoizes per (session, dir); evict drops the session's entries and recomputes") {
    import spark.implicits._
    var computes = 0
    val memo = SessionMemo.ofFrames()
    def frame() = memo.getOrCompute(spark, "dirA") {
      computes += 1
      Seq(1L, 2L, 3L).toDF("v").localCheckpoint(false)
    }
    val a = frame()
    val b = frame()
    assert(computes == 1 && (a eq b))
    var computesB = 0
    def frameB() = memo.getOrCompute(spark, "dirB") {
      computesB += 1
      Seq(9L).toDF("v").localCheckpoint(false)
    }
    frameB()
    assert(computes == 1 && computesB == 1, "one entry per dir")

    memo.evict(spark)
    frame()
    frameB()
    assert(computes == 2 && computesB == 2, "post-evict access must recompute every dir")
    // the recomputed frame still answers correctly
    assert(frame().agg(sum(col("v"))).head().getLong(0) == 6L)
  }

  test("multi-frame values unpersist through framesOf") {
    import spark.implicits._
    var released = Seq.empty[org.apache.spark.sql.DataFrame]
    val memo = new SessionMemo[Seq[org.apache.spark.sql.DataFrame]](v => { released = v; v })
    val v = memo.getOrCompute(spark, "x") {
      Seq(Seq(1L).toDF("v").localCheckpoint(false),
        Seq(2L).toDF("v").localCheckpoint(false))
    }
    assert(v.length == 2 && released.isEmpty)
    memo.evict(spark)
    assert(released.length == 2 && released.zip(v).forall { case (r, f) => r eq f },
      "evict must release every frame of the value")
  }
}
