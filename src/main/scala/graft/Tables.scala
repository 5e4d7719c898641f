package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md / FIXTURES.md §B). All queries take the scale-factor
  * directory as a parameter so the same code runs at any SF.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Physical-schema memo per (dir, table): schema inference on a bare
    * `spark.read.parquet(path)` re-reads parquet footers (and can launch a
    * footer-sampling job) on EVERY query construction — the catalog builds
    * 232 queries × 3 bench passes, each paying that planning tax for the
    * same immutable files. Recording the FIRST inference and replaying it
    * through `read.schema(...)` is exactly what a table catalog (HMS/Glue)
    * provides at scale: schema is metadata, resolved once per table, not
    * once per query. No data or results are cached — the scan itself is
    * unchanged, and the memoized schema is the one inference returned for
    * those files. Keyed globally (not per session): testdata files are
    * immutable for a process lifetime, and the bench's isolated floors
    * (fresh sessions) legitimately share table METADATA the way any two
    * sessions of one metastore do.
    *
    * Staleness guard (r17): the key carries the file set's (total length
    * of the files, max mtime over every entry) alongside the path, walked
    * recursively — a parquet rewritten at the same path within one JVM
    * (test fixtures, regenerated testdata), even one file deep inside a
    * partition directory, re-infers instead of serving a stale schema.
    * One stat per entry per load, orders of magnitude cheaper than the
    * footer read it replaces. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def memoKey(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
    val entries = walk(new java.io.File(path))
    val len = entries.filter(_.isFile).map(_.length()).sum
    val mtime = entries.map(_.lastModified()).foldLeft(0L)(math.max)
    s"$path|$len|$mtime"
  }

  private def readWithMemo(spark: SparkSession, path: String): DataFrame = {
    val key = memoKey(path)
    val cached = schemaMemo.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaMemo.putIfAbsent(key, df.schema)
      df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(
      if (name == "events") loadEvents(spark, dir) else
        readWithMemo(spark, s"$dir/$name.parquet"))

  /** Parquet `timestamp[us]` with isAdjustedToUTC=false reads as
    * TIMESTAMP_NTZ under Spark's NTZ inference; the catalog (and
    * `unix_micros`, windowing, etc.) is written against plain TimestampType.
    * All graft sessions run with spark.sql.session.timeZone=UTC (enforced
    * structurally: every main builds its session via [[GraftSession.local]],
    * and the test harness sets it in SparkSpec), so casting NTZ→TIMESTAMP
    * here preserves the naive wall-clock values bit-for-bit as epoch
    * instants — exactly the numbers DuckDB's oracle computes when it reads
    * the same naive parquet column. Normalizing at the single load point
    * keeps every query and spec agnostic to which physical timestamp flavor
    * a given testdata generation wrote.
    *
    * Scope: TOP-LEVEL fields only. An NTZ column nested inside a
    * struct/array/map would pass through unnormalized; no catalog table has
    * one (all timestamp columns are top-level), and a testdata generation
    * that introduced nested timestamps would surface immediately as a
    * schema mismatch in the oracle compare rather than silently shifting
    * values. */
  private def normalizeTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }

  /** The events table stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Read nanos as long (legacy conf) and convert
    * to a microsecond timestamp (`div 1000` = truncation, matching DuckDB's
    * ns→us narrowing), so downstream window code sees a plain TimestampType.
    *
    * Deliberate side effect: `nanosAsLong` is a SESSION conf (no per-read
    * option exists) and must stay set through lazy execution, so after the
    * first events load every TIMESTAMP(NANOS) parquet column in this session
    * reads as LongType. None of the catalog's other tables use nanos; a
    * session that reads foreign nanos-timestamp files should load them
    * before events or use a separate session.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readWithMemo(spark, s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Register every table as a temp view (for spark.sql surfaces). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
