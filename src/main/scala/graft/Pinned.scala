package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE switch between fast-but-fragile and fault-tolerant frame
  * pinning. Every memoized / iterative path in this codebase (signature
  * and CC memos in Dedup, the BPE ladder, the graph fixpoint rounds run by
  * [[Fixpoint]], q97's shared hourly counts) materializes intermediate
  * frames through [[PinOps.pin]] instead of calling `localCheckpoint`
  * directly:
  *
  *  - default (`spark.graft.checkpoint` unset or `local`):
  *    `localCheckpoint(eager)` — blocks live in executor block managers.
  *    Fastest, but NOT fault-tolerant: an executor loss drops its blocks
  *    and any query still reading the pinned frame dies.
  *  - `spark.graft.checkpoint=reliable`: `checkpoint(eager)` — the frame
  *    is written to the checkpoint directory (`spark.graft.checkpoint.dir`,
  *    or a fresh temp dir; a real cluster points this at HDFS/S3), and a
  *    lost executor's partitions are simply RE-READ from storage by the
  *    retried tasks. `LocalClusterSpec`'s kill-recovery test proves the
  *    mode: one executor JVM is kill -9'd between materialization and
  *    consumption and the result still matches local[4] bit-for-bit.
  *
  * Lazy vs eager carries over unchanged: `pin(false)` stays plan-only at
  * construction (no job until the first action — Profile's plan dump
  * relies on this), `pin(true)` materializes immediately.
  *
  * Cleanup: local mode frees blocks through [[FrameBlocks.release]] /
  * [[SessionMemo]] eviction as before (release's RDD unpersist is a
  * harmless no-op on a reliable-checkpoint RDD). Reliable mode leaves
  * files under the checkpoint dir for the session's lifetime — a
  * deployment that churns many reliable frames sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (GC-driven
  * file removal; `ReliableCheckpointGcSpec` proves released frames'
  * files are reclaimed while live frames keep theirs) or points the
  * dir at storage with a TTL policy.
  */
object Pinned {
  val ModeConf = "spark.graft.checkpoint"
  val DirConf = "spark.graft.checkpoint.dir"

  def reliable(s: SparkSession): Boolean =
    s.conf.getOption(ModeConf).exists(_.equalsIgnoreCase("reliable"))

  private def ensureCheckpointDir(s: SparkSession): Unit = {
    val sc = s.sparkContext
    sc.synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        val dir = s.conf.getOption(DirConf).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-ckpt-").toString)
        sc.setCheckpointDir(dir)
      }
    }
  }

  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    def pin(eager: Boolean): DataFrame = {
      val s = df.sparkSession
      if (reliable(s)) { ensureCheckpointDir(s); df.checkpoint(eager) }
      else df.localCheckpoint(eager)
    }

    /** [[pin]] with SERIALIZED, DISK-resident (and, with
      * `spark.rdd.compress=true`, lz4-compressed) block storage — for
      * CORPUS-sized memo frames (the graph edge tables) where the
      * default deserialized MEMORY_AND_DISK level stores 1B-row frames
      * as raw on-heap rows and uncompressed spill files: the sf100
      * decade measured the edge memo alone outgrowing the box's scratch
      * volume. DISK_ONLY rather than MEMORY_AND_DISK_SER on purpose: a
      * memory-eligible serialized level makes every read of a
      * disk-resident block try to re-inflate the WHOLE block into the
      * storage pool (`BlockManager.maybeCacheDiskBytesInMemory`
      * allocates block-sized ByteBuffers), and 32 concurrent tasks ×
      * corpus-sized blocks OOMed the sf100 rerun exactly there.
      * DISK_ONLY streams-and-decompresses per read — bounded heap at
      * any corpus size, OS page cache serving the small-SF case for
      * free. Reliable mode is unchanged — `checkpoint()` files are
      * already serialized, compressed, and disk-resident. */
    def pinSer(eager: Boolean): DataFrame = {
      val s = df.sparkSession
      if (reliable(s)) { ensureCheckpointDir(s); df.checkpoint(eager) }
      else df.localCheckpoint(eager,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

    /** [[pinSer]] that KEEPS the hash layout the frame's own
      * `repartition(n, keys…)` established, so key-aligned joins and
      * aggregations against the memo plan with NO exchange. Spark's
      * checkpoint path writes `UnknownPartitioning` into the pinned
      * LogicalRDD (measured on 4.1.2, `PinnedLayoutSpec`), which turns
      * every key-aligned consumer into a materialized-frame-sized
      * re-shuffle; the bridge walks the analyzed plan and re-attaches
      * the partitioning ONLY when the lineage proves it (keys pass
      * unchanged from the repartition through projections/filters/
      * key-superset aggregates). A frame that can't prove its layout
      * pins exactly like [[pinSer]] — never wrong, just unoptimized. */
    def pinSerKeyed(eager: Boolean, keys: String*): DataFrame = {
      val s = df.sparkSession
      if (reliable(s)) ensureCheckpointDir(s)
      org.apache.spark.sql.GraftPinBridge.pinKeepingLayout(
        df, keys, eager, reliable(s),
        if (reliable(s)) None
        else Some(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    }
  }
}
