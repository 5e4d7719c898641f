package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Proves the layout family (q125/q189/q195/q175) pays off ON DISK: a table
  * written clustered by a space-filling-curve code carries tight per-file
  * (xa, xb) zone maps, so a 2-D range predicate skips files the
  * lexicographic layout must read. Skipping is measured from the executed
  * scan node itself: with parquet filter pushdown, the scan's output-row
  * metric counts rows of row groups that SURVIVED min/max pruning — fewer
  * rows read ⇒ more of the table skipped. At 100 TB this is the difference
  * between touching ~6% of files and touching all of them. */
class ClusteredLayoutSpec extends SparkSpec {

  // 64 single-row-group files: each curve file covers a ~128×128 spatial
  // block, each lex file an xa stripe of width ~16 spanning ALL of xb —
  // granularity fine enough that a 64-wide xb slab hits ~25% of curve
  // blocks but 100% of lex stripes.
  private val Files = 64

  private def writeLayout(coded: DataFrame, order: Seq[String], dir: String): String = {
    coded.repartitionByRange(Files, order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Total scan-node output rows after executing `df` — the row-group
    * skipping signal (handles both adaptive and plain executed plans). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no parquet scan in executed plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("curve-clustered parquet skips files under 2-D range predicates; lex layout cannot") {
    val root = java.nio.file.Files.createTempDirectory("graft-clustered").toString
    try {
      val binned = Relational.hilbertCoded(spark, sfDir)
        .withColumnRenamed("code", "hcode")
        .join(Relational.zorderCoded(spark, sfDir)
            .groupBy("xa", "xb").agg(first("code").as("zcode")),
          Seq("xa", "xb"))
        .select("xa", "xb", "hcode", "zcode")
      binned.cache()
      val total = binned.count()

      val lex = writeLayout(binned, Seq("xa", "xb"), s"$root/lex")
      val zord = writeLayout(binned, Seq("zcode"), s"$root/zorder")
      val hilb = writeLayout(binned, Seq("hcode"), s"$root/hilbert")
      binned.unpersist()

      def readRange(dir: String, aLo: Long, aHi: Long, bLo: Long, bHi: Long): DataFrame =
        spark.read.parquet(dir)
          .filter(col("xa").between(aLo, aHi) && col("xb").between(bLo, bHi))
          .select("xa", "xb")

      // the predicate must actually reach the parquet reader
      val pushed = readRange(lex, 0, 63, 0, 63)
        .queryExecution.executedPlan.toString
      assert(pushed.contains("PushedFilters: [IsNotNull(xa)") &&
          pushed.contains("GreaterThanOrEqual(xa,0)"),
        pushed.take(900))

      // A slab tight in the SECOND lex dimension only: lex files each span
      // the full xb range (sorted by xa first), so zone maps prune nothing;
      // curve files cover spatial blocks, so most of their (xa, xb) boxes
      // miss the slab entirely.
      val slabLex = scanRows(readRange(lex, 0, 1023, 480, 543))
      val slabZ = scanRows(readRange(zord, 0, 1023, 480, 543))
      val slabH = scanRows(readRange(hilb, 0, 1023, 480, 543))
      assert(slabLex > (total * 9) / 10,
        s"lex should read ~everything on an xb slab, read $slabLex of $total")
      assert(slabZ * 2 < slabLex, s"z-order read $slabZ vs lex $slabLex")
      assert(slabH * 2 < slabLex, s"hilbert read $slabH vs lex $slabLex")

      // A small 2-D square: curves confine it to a handful of blocks.
      val sqZ = scanRows(readRange(zord, 256, 383, 256, 383))
      val sqH = scanRows(readRange(hilb, 256, 383, 256, 383))
      val sqLex = scanRows(readRange(lex, 256, 383, 256, 383))
      assert(sqZ * 2 < total && sqH * 2 < total,
        s"curves must skip most of the table on a square: z=$sqZ h=$sqH of $total")
      assert(sqZ <= sqLex && sqH <= sqLex,
        s"curves must not read more than lex on a square: z=$sqZ h=$sqH lex=$sqLex")

      // correctness: every layout returns identical matching rows
      def rows(dir: String) = readRange(dir, 256, 383, 256, 383)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows(lex) == rows(zord) && rows(lex) == rows(hilb))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      ()
    }
  }

  test("q175 read-back equals q189 computed directly (clustered write is row-preserving)") {
    val direct = Relational.queries("q189_hilbert_layout")(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val viaTable = Relational.queries("q175_hilbert_clustered")(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(direct.sameElements(viaTable))
  }
}
