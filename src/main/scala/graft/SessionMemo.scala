package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** (SparkSession, dir)-keyed memo of lazily-checkpointed frames — the
  * materialize-once discipline the Dedup/Similarity/TextAnalysis stage
  * caches share — with EVICTION: the first compute for a session hooks a
  * SparkListener, and when that session's application ends every entry it
  * owns is dropped and its frames unpersisted. Without this, the static
  * maps pinned localCheckpoint blocks and SparkSession references for the
  * JVM lifetime — harmless in one-shot mains, a real leak in any
  * long-lived multi-session process (notebook servers, large test suites).
  *
  * `framesOf` extracts the checkpointed frames inside a value so eviction
  * can unpersist them (a value may carry several, e.g. the BPE ladder's
  * per-round stages). [[evict]] is also callable directly for deterministic
  * mid-life cleanup. */
final class SessionMemo[V](framesOf: V => Seq[DataFrame]) {
  private val entries = new ConcurrentHashMap[(SparkSession, String), V]
  private val hooked = new ConcurrentHashMap[SparkSession, SparkListener]()

  def getOrCompute(s: SparkSession, d: String)(compute: => V): V = {
    // opportunistic sweep: sessions whose context already stopped can never
    // fire their listener again (and `newSession()` clones of a live
    // context never get an ApplicationEnd of their own) — drop any entry
    // whose owner is dead before adding new ones, so a long-lived
    // multi-session process can't accumulate dead sessions' frames.
    sweepStopped()
    val listener = new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        evict(s)
    }
    if (hooked.putIfAbsent(s, listener) == null)
      s.sparkContext.addSparkListener(listener)
    entries.computeIfAbsent((s, d), _ => compute)
  }

  private def sweepStopped(): Unit = {
    import scala.jdk.CollectionConverters._
    hooked.keySet.asScala.toSeq
      .filter(s => try s.sparkContext.isStopped catch { case _: Throwable => true })
      .foreach(evict)
  }

  /** Drops every entry owned by `s`, best-effort unpersisting its frames,
    * and detaches the eviction listener from the (possibly shared)
    * SparkContext so repeated session churn can't pile up listeners. */
  def evict(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSeq.filter(_._1 eq s).foreach { k =>
      Option(entries.remove(k)).foreach { v =>
        framesOf(v).foreach(FrameBlocks.release)
      }
    }
    Option(hooked.remove(s)).foreach { l =>
      try { s.sparkContext.removeSparkListener(l); () }
      catch { case _: Throwable => () }
    }
    ()
  }
}

object SessionMemo {
  /** The common single-frame case. */
  def ofFrames(): SessionMemo[DataFrame] = new SessionMemo[DataFrame](Seq(_))

  /** Driver-side values that hold no frames (trained model arrays). */
  def ofValues[V](): SessionMemo[V] = new SessionMemo[V](_ => Nil)
}
