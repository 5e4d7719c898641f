package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import TextFns._

/** Count–min sketch (CMS) heavy-hitter estimation — the mergeable
  * fixed-size frequency sketch (Cormode & Muthukrishnan 2005) that replaces
  * an unbounded exact (term, count) table when only heavy hitters matter.
  *
  * Layout: Depth hash rows × Width buckets. Each term maps to one bucket
  * per row (seeded md5, the engine-portable hash); a bucket holds the sum
  * of counts of every term landing in it; a term's estimate is the MIN over
  * its Depth buckets — an overestimate by construction, tight unless the
  * term collides in all rows.
  *
  * Scale shape: the exact per-term counts are a two-level hash agg; the
  * sketch itself is Depth×Width rows (fixed, tiny) built by one keyed agg
  * and BROADCAST back for estimation — nothing driver-side, nothing
  * proportional to vocabulary crosses the wire twice. At 100 TB the exact
  * count stage is the thing a production deployment would drop, feeding
  * raw (term, 1) increments straight into the bucket agg: the partial-agg
  * state per task is then Depth×Width cells, independent of vocabulary —
  * that variant is what `cmsTable` computes.
  *
  * Determinism-for-oracle: bucket index = first 4 hex chars of the seeded
  * md5 (via `conv`), exactly reproducible in DuckDB with strpos arithmetic;
  * all sums are int64.
  */
object Sketches {

  val Depth = 4
  val Width = 16

  /** Bucket index of a term column under hash row `r`: first 4 hex chars of
    * the seeded md5, mod Width. */
  def cmsBucket(term: Column, r: Column): Column =
    conv(substring(md5(concat(r.cast("string"), lit("|"), term)), 1, 4), 16, 10)
      .cast("long") % Width

  /** One (r, bucket) entry per hash row per input row. */
  private def entries(termCounts: DataFrame): DataFrame =
    termCounts
      .select(col("term"), col("n"),
        explode(array((0 until Depth).map(lit): _*)).as("r"))
      .withColumn("bucket", cmsBucket(col("term"), col("r")))

  /** The Depth×Width sketch table from a (term, n) count frame. */
  def cmsTable(termCounts: DataFrame): DataFrame =
    entries(termCounts)
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("n")).as("bsum"))

  /** Per-term CMS estimate joined against the exact count: the sketch is
    * broadcast (Depth×Width rows), the estimate is min over hash rows. */
  def cmsEstimates(termCounts: DataFrame): DataFrame =
    entries(termCounts)
      .join(broadcast(cmsTable(termCounts)), Seq("r", "bucket"))
      .groupBy(col("term"))
      .agg(min(col("bsum")).as("cms_est"))
      .join(termCounts, "term")
      .select(col("term"), col("n"), col("cms_est"),
        (col("cms_est") === col("n")).as("tight"))

  /** JVM twin of [[cmsBucket]] — identical hash, identical bucket. */
  def bucketOf(term: String, r: Int): Int =
    Integer.parseInt(md5hex(s"$r|$term").substring(0, 4), 16) % Width

  // ------------------------- Bloom filter --------------------------------

  /** Bloom-filter sizing: BloomBits bits (BloomWords int64 words), K seeded
    * hash positions per element. 4096 bits is the TEST size (small enough
    * that the sf0.01 benchmark set exercises real collisions); the 100 TB
    * deployment dials BloomBits to the target FP rate — the structure stays
    * a fixed-size array either way. */
  val BloomBits = 4096
  val BloomWords: Int = BloomBits / 64
  val BloomHashes = 4

  /** Bit position of an element under hash row `r`: first 4 hex chars of
    * the seeded md5 (16 bits, uniform over a power-of-two modulus), mod
    * BloomBits — same engine-portable construction as [[cmsBucket]]. */
  def bloomPos(x: Column, r: Column): Column =
    conv(substring(md5(concat(r.cast("string"), lit("|"), x)), 1, 4), 16, 10)
      .cast("long") % BloomBits

  /** JVM twin of [[bloomPos]] — identical hash, identical bit. */
  def bloomPosOf(x: String, r: Int): Int =
    Integer.parseInt(md5hex(s"$r|$x").substring(0, 4), 16) % BloomBits

  /** The Bloom filter as a MERGEABLE FIXED-SIZE accumulator: one flat
    * `Array[Long]` of BloomWords words; `reduce` sets K bits, `merge` is a
    * word-wise OR, so per-task state is BloomWords words regardless of
    * input size. No false
    * negatives by construction; false positives at the dialed rate are part
    * of the operator's semantics (and of its oracle — DuckDB rebuilds the
    * identical bit set, so both engines agree exactly, FPs included).
    * Composable wherever state composes: map-side partials, streaming
    * state, cross-shard unions. */
  object BloomAggregate extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](BloomWords)
    override def reduce(b: Array[Long], x: String): Array[Long] = {
      var r = 0
      while (r < BloomHashes) {
        val p = bloomPosOf(x, r)
        b(p / 64) = b(p / 64) | (1L << (p % 64))
        r += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) = a(i) | b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** JVM membership probe (for specs and driver-side checks). */
  def bloomContains(words: Array[Long], x: String): Boolean =
    (0 until BloomHashes).forall { r =>
      val p = bloomPosOf(x, r)
      (words(p / 64) >> (p % 64) & 1L) == 1L
    }

  // ---------------------- histogram quantile sketch ----------------------

  /** Equi-width histogram resolution for [[q74]]: 256 buckets. At 100 TB
    * the histogram is THE mergeable quantile structure: per-task state is a
    * fixed Array[Long](HistBuckets) regardless of row count, partials merge
    * by cell-wise add (map-side combine, streaming state, cross-shard
    * unions), and the quantile answer is read off the cumulative counts
    * with a guaranteed bucket-width error bound — unlike exact
    * percentile_disc, whose partial-agg state grows with distinct values. */
  val HistBuckets = 256

  /** Bucket of a double value within [lo, hi] — floor of the affine map,
    * clamped on BOTH ends: v = hi lands in the last bucket, and values
    * outside a dialed [lo, hi) (the streaming deployment profiles the
    * range up front; live data can exceed it) saturate into the edge
    * buckets instead of crashing the accumulator. The expression shape
    * (((v - lo) / (hi - lo)) * B) is pinned left-to-right so Spark and
    * DuckDB run the identical IEEE-754 op sequence. */
  def histBucket(v: Column, lo: Column, hi: Column): Column =
    greatest(least(floor((v - lo) / (hi - lo) * HistBuckets),
      lit(HistBuckets - 1L)), lit(0L)).cast("long")

  /** JVM twin of [[histBucket]] for the mergeable accumulator. */
  def histBucketOf(v: Double, lo: Double, hi: Double): Int =
    math.max(0,
      math.min(math.floor((v - lo) / (hi - lo) * HistBuckets),
        (HistBuckets - 1).toDouble).toInt)

  /** The histogram as a MERGEABLE FIXED-SIZE accumulator (same discipline
    * as [[BloomAggregate]]): HistBuckets int64 cells,
    * `reduce` increments one, `merge` is cell-wise add. The streaming-safe
    * quantile state: per-key state-store entries hold HistBuckets cells
    * forever, independent of stream length. Batch==stream is pinned by
    * `SketchesSpec`. Range [lo, hi) is fixed at construction — the
    * streaming deployment dials it from a prior profiling pass. */
  class HistogramAggregate(lo: Double, hi: Double)
      extends Aggregator[Double, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](HistBuckets)
    override def reduce(b: Array[Long], v: Double): Array[Long] = {
      b(histBucketOf(v, lo, hi)) += 1L; b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  // ------------------------- HyperLogLog ---------------------------------

  /** HLL sizing: 64 registers (p = 6 — small enough that the sf-scale test
    * vocabularies exercise real register collisions, the q65-width
    * discipline), rho capped by a 12-nibble (48-bit) hash tail. The 100 TB
    * deployment dials the register count for the target error
    * (1.04/sqrt(m)); the structure stays a fixed array either way. */
  val HllRegisters = 64
  val HllTailNibbles = 12
  val HllMaxRho: Int = 4 * HllTailNibbles + 1 // all-zero tail

  /** 2^(HllMaxRho) as an exact double/long scale: the register harmonic sum
    * runs as the INTEGER Σ 2^(maxRho - M_j) (≤ 64·2^49 < 2^55 — int64-exact
    * and order-independent, where a float Σ 2^-M_j could round), and the
    * estimate divides it back out by this exact power of two. */
  val HllPowScale = 562949953421312L // 1L << 49

  /** Standard HLL bias constant for m = 64 (Flajolet et al. 2007). */
  val HllAlpha64 = 0.709

  /** Register index of an element: first 2 md5 hex chars mod m — uniform
    * (256 is a multiple of 64) and reproducible digit-for-digit in DuckDB. */
  def hllIdxOf(x: String): Int =
    Integer.parseInt(md5hex(x).substring(0, 2), 16) % HllRegisters

  /** rho = position of the first 1-bit in the 48-bit hash tail (1-based),
    * HllMaxRho when the tail is all zeros. Computed by a HEX-STRING walk —
    * count leading '0' nibbles, then the zero bits inside the first nonzero
    * nibble — the same arithmetic both engines run (no float log2, whose
    * libm rounding is not contractually identical across engines). */
  def hllRhoOf(x: String): Int = {
    val tail = md5hex(x).substring(2, 2 + HllTailNibbles)
    var z = 0
    while (z < HllTailNibbles && tail.charAt(z) == '0') z += 1
    if (z == HllTailNibbles) HllMaxRho
    else {
      val d = Character.digit(tail.charAt(z), 16)
      val nibz = if (d == 1) 3 else if (d <= 3) 2 else if (d <= 7) 1 else 0
      4 * z + nibz + 1
    }
  }

  /** The HLL as a MERGEABLE FIXED-SIZE accumulator (the discipline of
    * [[BloomAggregate]]/[[HistogramAggregate]]): m int64
    * registers, `reduce` maxes one register, `merge` is element-wise max —
    * the union law that makes cross-shard / cross-day / streaming distinct
    * counting composable with bounded state. Registers (not a float
    * estimate) are the carried state AND the finish value: estimates are
    * read off with [[hllSumPow]]/[[hllEstimate]], and two sketches union
    * losslessly (max is idempotent, commutative, associative — the
    * merge-law spec pins it). */
  object HllAggregate extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](HllRegisters)
    override def reduce(b: Array[Long], x: String): Array[Long] = {
      val i = hllIdxOf(x)
      val r = hllRhoOf(x).toLong
      if (r > b(i)) b(i) = r
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** Integer harmonic numerator Σ 2^(maxRho − M_j) over all m registers —
    * exact, order-independent. */
  def hllSumPow(regs: Seq[Long]): Long =
    regs.map(m => 1L << (HllMaxRho - m.toInt)).sum

  /** Raw HLL estimate α·m²·2^maxRho / sumPow — one float multiply chain
    * with pinned order (the 2^49 factor is an exact power-of-two scale). */
  def hllEstimate(sumPow: Long): Double =
    HllAlpha64 * (HllRegisters.toDouble * HllRegisters) * HllPowScale / sumPow

  /** Estimate with the standard small-range (linear-counting) correction:
    * raw ≤ 2.5m with empty registers → m·ln(m/V). JVM-side READER, not a
    * gated column: ln is not contractually bit-identical across engines,
    * so the query emits raw_est + the regime inputs (v_zero, sum_pow) and
    * consumers apply the correction — the same split as q52 (train
    * spec-side, assign oracle-side). */
  def hllCorrected(sumPow: Long, vZero: Long): Double = {
    val raw = hllEstimate(sumPow)
    if (raw <= 2.5 * HllRegisters && vZero > 0)
      HllRegisters * math.log(HllRegisters.toDouble / vZero)
    else raw
  }

  /** Percentiles the q74 exhibit reads off the histogram. */
  val HistPercentiles: Seq[Int] = Seq(25, 50, 75, 90, 99)

  private def t(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** (keys..., idx, m) HLL register table over a `term` column — the
    * column-expression twin of [[HllAggregate]]'s reduce, shared by
    * q107/q109: md5 → first-2-hex register index, leading-zero nibble walk
    * → rho, max per (keys, idx). One hash agg with map-side partials. */
  private def hllRegs(tk: DataFrame, keyCols: Seq[String]): DataFrame =
    tk.withColumn("h", md5(col("term")))
      .withColumn("idx",
        conv(substring(col("h"), 1, 2), 16, 10).cast("long") % HllRegisters)
      .withColumn("tl", substring(col("h"), 3, HllTailNibbles))
      .withColumn("z4", length(regexp_extract(col("tl"), "^0*", 0)))
      .withColumn("d", expr("substring(tl, z4 + 1, 1)"))
      .withColumn("rho",
        when(col("z4") === HllTailNibbles, lit(HllMaxRho))
          .otherwise(col("z4") * 4 +
            when(col("d") === "1", 3)
              .when(col("d").isin("2", "3"), 2)
              .when(col("d").isin("4", "5", "6", "7"), 1)
              .otherwise(0) + 1))
      .groupBy((keyCols :+ "idx").map(col): _*)
      .agg(max(col("rho")).cast("long").as("m"))

  /** CMS self-join size estimation — the optimizer-adjacent use of the
    * sketch (AGMS lineage): |R ⋈_k R| = Σ_k n_k² is what prices a keyed
    * self-join (sessionization, pair generation) BEFORE running it, and
    * each CMS hash row estimates it as the row's bucket inner product
    * Σ_b bsum² — an overestimate by construction (collisions only add
    * cross terms), so min over rows is sound and tight-ish. The
    * two-relation variant is the same inner product between two sketches
    * built with the same seeds; nothing changes shape.
    *
    * Scale shape: per-key counts are a two-level hash agg (or feed raw
    * (key, 1) increments straight into the bucket agg and skip the exact
    * stage entirely — fixed state per task); after that everything is
    * Depth×Width cells.
    * Products are carried in DECIMAL(38,0) (≙ HUGEINT): bucket sums are
    * corpus-sized and square past int64 long before 100 TB.
    *
    * Output per hash row, with the min-estimate, the exact answer, and the
    * soundness bit the theory promises — all integer-exact. */
  def selfJoinEstimate(keyed: DataFrame): DataFrame = {
    val counts = keyed.groupBy(col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("key").as("term"), col("n"))
    val rows = cmsTable(counts)
      .select(col("r"),
        (col("bsum").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("bsum")).as("p"))
      .groupBy(col("r")).agg(sum(col("p")).as("pd"))
      .select(col("r").cast("long").as("r"), col("pd").cast("long").as("row_est"))
    val minEst = rows.agg(min(col("row_est")).as("min_est"))
    val exact = counts.agg(
      sum(col("n").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("n")).cast("long").as("exact"))
    rows.join(broadcast(minEst)).join(broadcast(exact))
      .select(col("r"), col("row_est"), col("min_est"), col("exact"),
        (col("min_est") >= col("exact")).as("sound"))
  }

  // ---------------------- Misra–Gries heavy hitters ------------------------

  /** Summary size of the Misra–Gries pass. The guarantee (Misra & Gries
    * 1982; mergeability per Agarwal et al. 2012): after any interleaving of
    * reduces and merges, every key with true count > total/(MgK+1) is
    * present in the summary — so the pass-1 candidate set is a SUPERSET of
    * the heavy hitters and the exact pass-2 filter makes the final answer
    * deterministic regardless of partitioning/merge order (which the
    * summary contents alone are not — that is why the summary itself never
    * reaches the query output). */
  val MgK = 127

  /** The Misra–Gries frequency summary as a MERGEABLE BOUNDED accumulator
    * (the deterministic-guarantee sibling of the count–min sketch): at most
    * [[MgK]] (key → weight) entries regardless of key cardinality.
    * `reduce` increments a tracked key, admits an untracked one while
    * capacity remains, and otherwise decrements every counter by 1 and
    * drops zeros (the classic step; cost O(k) amortized over at least k
    * admissions). `merge` sums the two summaries and, if over capacity,
    * subtracts the (k+1)-th largest weight from all and keeps positives —
    * the mergeable-summaries reduction. Per-task state is ≤ MgK entries;
    * at 100 TB the map-side partials are what keeps a hot-key census from
    * shuffling one row per distinct key. */
  object MgAggregate extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], x: String): Map[String, Long] =
      b.get(x) match {
        case Some(n) => b.updated(x, n + 1L)
        case None if b.size < MgK => b.updated(x, 1L)
        case None =>
          b.collect { case (k, n) if n > 1L => k -> (n - 1L) }
      }
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (k, n)) =>
        m.updated(k, m.getOrElse(k, 0L) + n)
      }
      if (sum.size <= MgK) sum
      else {
        val d = sum.valuesIterator.toArray.sortBy(-_).apply(MgK)
        sum.collect { case (k, n) if n > d => k -> (n - d) }
      }
    }
    override def finish(b: Map[String, Long]): Map[String, Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Exact heavy hitters — keys with count·(MgK+1) > total — via the
    * standard two-pass scheme: a Misra–Gries candidate pass with bounded
    * state, then exact counting restricted to the ≤ MgK candidates.
    *
    * Scale shape: pass 1 is one typed agg whose partial state is ≤ MgK
    * entries per task (key cardinality never materializes anywhere); the
    * candidate list is model-sized and BROADCAST, so pass 2's hash agg
    * only ever holds candidate keys — the exact census a naive
    * groupBy-all-keys would pay vocabulary-sized state and shuffle for.
    * The threshold comparison n·(MgK+1) > total is exact int64 on both
    * engines, which is what makes the output hash-stable even though the
    * pass-1 summary contents are partitioning-dependent. */
  def heavyHitters(keyed: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val cand = keyed.as[String]
      .select(MgAggregate.toColumn).toDF("summary")
      .select(explode(col("summary")))
      .select(col("key").as("k"))
    val total = keyed.agg(count(lit(1)).as("total"))
    keyed.join(broadcast(cand), keyed("k") === cand("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .join(broadcast(total))
      .filter(col("n") * (MgK + 1) > col("total"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- exact heavy hitters (Misra–Gries candidates + exact verify) -------
    "q121_heavy_hitters" -> ((s, d) =>
      heavyHitters(Tables.load(s, d, "events")
        .select(col("user_id").cast("string").as("k")))(s)),

    // --- CMS join-size estimation (the sessionization-cost estimator) ------
    "q119_join_estimate" -> ((s, d) =>
      selfJoinEstimate(Tables.load(s, d, "events")
        .select(col("user_id").cast("string").as("key")))),

    // --- histogram quantile sketch over the events value stream ------------
    // Two passes over events (exact min/max/percentile profile, then the
    // bucket agg — both two-level hash aggs with O(1)-ish state), after
    // which everything is HistBuckets rows. The cumulative counts are built
    // WITHOUT a global window (CatalogPlanSpec bans the single-task sort):
    // each bucket explodes its count onto every cumulative position >= its
    // index — HistBuckets²/2 tiny rows worst case, then one hash agg.
    // `bound_ok` pins the sketch's guarantee: the EXACT percentile_disc
    // value must land in the very bucket the sketch selected.
    "q74_quantile_hist" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val stats = ev.agg(
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("x25"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").as("x50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("x75"),
        expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY value)").as("x90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("x99"))
      val hist = ev.join(broadcast(stats))
        .select(histBucket(col("value"), col("lo"), col("hi")).as("idx"))
        .groupBy(col("idx")).agg(count(lit(1)).as("cnt"))
      val cum = hist
        .select(explode(sequence(col("idx"), lit(HistBuckets - 1L))).as("cidx"),
          col("cnt"))
        .groupBy(col("cidx")).agg(sum(col("cnt")).as("cum"))
      val ps = { import s.implicits._; HistPercentiles.toDF("p") }
      val qidx = cum.join(broadcast(ps))
        .join(broadcast(stats))
        .filter(col("cum") * 100 >= col("p") * col("n"))
        .groupBy(col("p")).agg(min(col("cidx")).as("qidx"))
      qidx.join(broadcast(stats))
        .withColumn("exact_q",
          when(col("p") === 25, col("x25")).when(col("p") === 50, col("x50"))
            .when(col("p") === 75, col("x75")).when(col("p") === 90, col("x90"))
            .otherwise(col("x99")))
        .select(
          col("p").cast("long").as("p"),
          col("qidx"),
          (col("lo") + col("qidx") * ((col("hi") - col("lo")) / HistBuckets))
            .as("est_lo"),
          (col("lo") + (col("qidx") + 1) * ((col("hi") - col("lo")) / HistBuckets))
            .as("est_hi"),
          col("exact_q"),
          (histBucket(col("exact_q"), col("lo"), col("hi")) === col("qidx"))
            .as("bound_ok"))
    }),
    // --- CMS heavy hitters over the token stream ---------------------------
    // Width is deliberately small (16) against the testdata vocabulary so
    // collisions actually occur and the min-over-rows bound does real work;
    // `tight` marks terms whose estimate equals the exact count.
    // --- per-group histogram quantiles (the sketch, composed per key) ------
    // q74 profiles ONE distribution; real profiling is per key (per
    // event type / per source / per feature). Same structure, one extra
    // grouping column everywhere: per-group exact profile agg, per-group
    // bucket agg (state per task = groups × 256 cells, the per-key
    // mergeable shape `HistogramAggregate` carries into streaming), and
    // the read-off stays ≤ groups × 256 rows. Per-group ranges keep each
    // histogram's resolution matched to its own spread. Degenerate groups
    // (all values equal → lo == hi) are excluded up front: the affine
    // bucket map is undefined there, and the exact profile already says
    // everything about a constant distribution.
    "q80_group_quantiles" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val stats = ev.groupBy(col("event_type")).agg(
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").as("x50"),
        expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY value)").as("x90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("x99"))
        .filter(col("lo") < col("hi"))
      val hist = ev.join(broadcast(stats), "event_type")
        .select(col("event_type"),
          histBucket(col("value"), col("lo"), col("hi")).as("idx"))
        .groupBy(col("event_type"), col("idx")).agg(count(lit(1)).as("cnt"))
      val cum = hist
        .select(col("event_type"),
          explode(sequence(col("idx"), lit(HistBuckets - 1L))).as("cidx"),
          col("cnt"))
        .groupBy(col("event_type"), col("cidx")).agg(sum(col("cnt")).as("cum"))
      val ps = { import s.implicits._; Seq(50, 90, 99).toDF("p") }
      val qidx = cum.join(broadcast(ps))
        .join(broadcast(stats.select(col("event_type"), col("n"))), "event_type")
        .filter(col("cum") * 100 >= col("p") * col("n"))
        .groupBy(col("event_type"), col("p")).agg(min(col("cidx")).as("qidx"))
      qidx.join(broadcast(stats), "event_type")
        .withColumn("exact_q",
          when(col("p") === 50, col("x50")).when(col("p") === 90, col("x90"))
            .otherwise(col("x99")))
        .select(
          col("event_type"),
          col("p").cast("long").as("p"),
          col("qidx"),
          (col("lo") + col("qidx") * ((col("hi") - col("lo")) / HistBuckets))
            .as("est_lo"),
          (col("lo") + (col("qidx") + 1) * ((col("hi") - col("lo")) / HistBuckets))
            .as("est_hi"),
          col("exact_q"),
          (histBucket(col("exact_q"), col("lo"), col("hi")) === col("qidx"))
            .as("bound_ok"))
    }),

    "q65_cms_heavy_hitters" -> ((s, d) => {
      val counts = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(explode(toks(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
      cmsEstimates(counts)
    }),

    // --- HLL distinct-count sketch per source ------------------------------
    // Cross-shard distinct counting with bounded state: per-source vocabulary
    // cardinality via 64 HLL registers. This is the COLUMN-EXPRESSION twin of
    // [[HllAggregate]] (SketchesSpec pins register-level agreement + the
    // merge law): register index/rho come from the engine-portable md5 hex
    // walk, the per-(source, register) max is one hash agg with map-side
    // partials, and everything downstream is sources×64 rows. The register
    // harmonic sum stays the exact int64 Σ 2^(49−M) — no float accumulation
    // anywhere, so the raw estimate is ONE pinned multiply chain and the
    // whole row (exact count, zero registers, sum, estimate, 3σ-ish bound
    // flag) hash-matches the oracle. At 100 TB: the exact n_exact column is
    // the audit the sketch replaces — a deployment drops it and keeps the
    // fixed-size registers (the q26/q71 pattern).
    "q107_hll_distinct" -> ((s, d) => {
      val tk = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .distinct()
      val reg = hllRegs(tk, Seq("source"))
      val sk = reg.groupBy(col("source"))
        .agg(count(lit(1)).as("n_regs"),
          sum(expr(s"shiftleft(cast(1 as bigint), cast($HllMaxRho - m as int))"))
            .as("pp"))
        .select(col("source"),
          (lit(HllRegisters.toLong) - col("n_regs")).as("v_zero"),
          (col("pp") + (lit(HllRegisters.toLong) - col("n_regs")) * HllPowScale)
            .as("sum_pow"))
      val exact = tk.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      sk.join(exact, "source")
        .withColumn("raw_est",
          lit(HllAlpha64) * lit(HllRegisters.toDouble * HllRegisters) *
            lit(HllPowScale.toDouble) / col("sum_pow"))
        .select(col("source"), col("n_exact"), col("v_zero"), col("sum_pow"),
          col("raw_est"),
          // raw HLL is known-biased below ~2.5m (that regime belongs to the
          // linear-counting correction, applied reader-side — hllCorrected);
          // the flag only judges the estimator inside its own regime
          (col("raw_est") <= lit(2.5 * HllRegisters) ||
            abs(col("raw_est") - col("n_exact").cast("double")) <=
              lit(0.4) * col("n_exact").cast("double")).as("est_ok"))
    }),

    // --- HLL rolling 7-day uniques: the sketch tier under q216 -------------
    // q216 computes rolling distinct users EXACTLY and pays one corpus-pair
    // shuffle for it; this is the 100 TB relaxation when even that is too
    // much: one 64-register HLL per DAY, and the trailing-window read is
    // pure register algebra — elementwise max over the last 7 days' sketches
    // (the union law q109 exploits), computed as a RANGE(-6, 0) window over
    // the (day × register) spine. Everything past the per-day register agg
    // is (span-days × 64) rows: a deployment keeps one sketch per
    // day/shard/source forever and answers ANY window (7-day, 30-day,
    // month-to-date) from sketch algebra without re-touching events. The
    // spine densifies calendar days so carry-over days (active only via the
    // trailing window) still report, matching q216's day set; q216's exact
    // answer rides along as the audit column the sketch replaces at scale.
    "q222_hll_rolling_uniques" -> ((s, d) => {
      val act = Tables.load(s, d, "events")
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          col("user_id").cast("string").as("term"))
        .distinct()
      val reg = hllRegs(act, Seq("day"))
      val spine = act.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .select(col("day"),
          explode(sequence(lit(0L), lit(HllRegisters - 1L))).as("idx"))
      val wRoll = Window.partitionBy(col("idx")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      val rolled = spine.join(reg, Seq("day", "idx"), "left")
        .select(col("day"), col("idx"), coalesce(col("m"), lit(0L)).as("m0"))
        .select(col("day"), max(col("m0")).over(wRoll).as("m"))
      val sk = rolled.groupBy(col("day"))
        .agg(sum(when(col("m") === 0, 1L).otherwise(0L)).as("v_zero"),
          sum(expr(s"shiftleft(cast(1 as bigint), cast($HllMaxRho - m as int))"))
            .as("sum_pow"))
        .withColumn("raw_est",
          lit(HllAlpha64) * lit(HllRegisters.toDouble * HllRegisters) *
            lit(HllPowScale.toDouble) / col("sum_pow"))
      val exact = Relational.queries("q216_rolling_uniques")(s, d)
        .select(col("day"), col("rolling_users").as("n_exact"))
      sk.join(exact, Seq("day"))
        .select(col("day"), col("n_exact"), col("v_zero"), col("sum_pow"),
          col("raw_est"),
          (col("raw_est") <= lit(2.5 * HllRegisters) ||
            abs(col("raw_est") - col("n_exact").cast("double")) <=
              lit(0.4) * col("n_exact").cast("double")).as("est_ok"))
    }),

    // --- HLL union: pairwise cross-source distinct-vocabulary estimation ---
    // The PAYOFF of the sketch's union law: |vocab(a) ∪ vocab(b)| for every
    // source pair, WITHOUT touching terms again — merged registers are just
    // elementwise max, so the pair matrix is computed entirely on
    // sources×64 register rows (KBs), the q88 shape. A 100 TB deployment
    // keeps one 64-cell sketch per shard/day/source and answers any union
    // cardinality (per-pair, per-cohort, global) from sketch algebra alone;
    // the exact n_exact_union column here is the audit the sketch replaces
    // (computed from a term-level pair join — the cost the union law
    // avoids). Registers densified to all 64 cells per source (m = 0 for
    // unseen) so the pair join needs no outer-join null handling.
    "q109_hll_union" -> ((s, d) => {
      val tk = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .distinct()
      val regs = hllRegs(tk, Seq("source"))
      val srcs = tk.select(col("source")).distinct()
      val dense = srcs
        .crossJoin(registerSpine(tk.sparkSession))
        .join(regs, Seq("source", "idx"), "left")
        .select(col("source"), col("idx"), coalesce(col("m"), lit(0L)).as("m"))
      val merged = dense.as("a").join(dense.as("b"),
          col("a.idx") === col("b.idx") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          greatest(col("a.m"), col("b.m")).as("mu"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(when(col("mu") === 0L, 1L).otherwise(0L)).as("v_zero"),
          sum(expr(s"shiftleft(cast(1 as bigint), cast($HllMaxRho - mu as int))"))
            .as("sum_pow"))
      // exact union audit: |A| + |B| − |A∩B| from one term-keyed pair join
      val n = tk.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = tk.as("x").join(tk.as("y"),
          col("x.term") === col("y.term") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("ni"))
      // every join input here is sources- or pairs-sized (≤ sources²
      // rows): broadcast explicitly — the post-aggregation stats are
      // opaque to the static planner, which otherwise falls back to a
      // sort-merge join for the pair-keyed audit join
      merged
        .join(broadcast(n.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
        .join(broadcast(n.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
        .join(broadcast(inter), Seq("src_a", "src_b"), "left")
        .withColumn("n_exact_union",
          col("na") + col("nb") - coalesce(col("ni"), lit(0L)))
        .withColumn("raw_est",
          lit(HllAlpha64) * lit(HllRegisters.toDouble * HllRegisters) *
            lit(HllPowScale.toDouble) / col("sum_pow"))
        .select(col("src_a"), col("src_b"), col("n_exact_union"),
          col("v_zero"), col("sum_pow"), col("raw_est"),
          (col("raw_est") <= lit(2.5 * HllRegisters) ||
            abs(col("raw_est") - col("n_exact_union").cast("double")) <=
              lit(0.4) * col("n_exact_union").cast("double")).as("est_ok"))
    })
  )

  /** 0..63 register-index frame (the densification spine for q109) — a
    * LITERAL local relation, not spark.range: the catalog plan audit
    * sanctions nested-loop builds only for provably-model-sized shapes
    * (scalar aggregates, LocalTableScan), and 64 compile-time longs is
    * exactly that. */
  private def registerSpine(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until HllRegisters.toLong).toDF("idx")
  }

  /** DuckDB twin of [[bloomPos]] (1-based substr positions; 16-bit hex
    * prefix mod BloomBits — exact in both engines). */
  def oBloomPos(x: String, r: String): String = {
    val hx = s"md5(CAST($r AS VARCHAR) || '|' || $x)"
    val digit = (i: Int) => s"(strpos('0123456789abcdef', substr($hx, $i, 1)) - 1)"
    s"((${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)}) % $BloomBits)"
  }

  /** DuckDB twin of [[cmsBucket]] (1-based substr positions). */
  private def oBucket(term: String, r: String): String = {
    val hx = s"md5(CAST($r AS VARCHAR) || '|' || $term)"
    val digit = (i: Int) => s"(strpos('0123456789abcdef', substr($hx, $i, 1)) - 1)"
    s"((${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)}) % $Width)"
  }

  val oracles: Map[String, String] = Map(

    // The Misra–Gries pass is a no-loss candidate generator, so the oracle
    // is simply the exact definition of the final answer.
    "q121_heavy_hitters" ->
      s"""WITH c AS (
            SELECT CAST(user_id AS VARCHAR) AS k, COUNT(1) AS n
            FROM events GROUP BY 1),
          tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
          SELECT k, n, total FROM c CROSS JOIN tot
          WHERE n * ${MgK + 1} > total""",

    "q119_join_estimate" ->
      s"""WITH counts AS (
            SELECT CAST(user_id AS VARCHAR) AS term, COUNT(1) AS n
            FROM events GROUP BY 1),
          entries AS (
            SELECT term, n, r, ${oBucket("term", "r")} AS bucket
            FROM counts CROSS JOIN (SELECT unnest(range(0, $Depth)) AS r)),
          cms AS (
            SELECT r, bucket, CAST(SUM(n) AS BIGINT) AS bsum
            FROM entries GROUP BY r, bucket),
          rows_ AS (
            SELECT r, CAST(SUM(CAST(bsum AS HUGEINT) * bsum) AS BIGINT) AS row_est
            FROM cms GROUP BY r),
          m AS (SELECT MIN(row_est) AS min_est FROM rows_),
          x AS (SELECT CAST(SUM(CAST(n AS HUGEINT) * n) AS BIGINT) AS exact
                FROM counts)
          SELECT rows_.r, rows_.row_est, m.min_est, x.exact,
            m.min_est >= x.exact AS sound
          FROM rows_ CROSS JOIN m CROSS JOIN x""",
    // DuckDB rebuilds the identical histogram; its cumulative step may use
    // a window (the Spark side avoids one only because of the single-task
    // plan audit). The affine bucket map is written with the same
    // parenthesization so both engines run the same IEEE-754 sequence.
    "q74_quantile_hist" -> {
      val b = HistBuckets
      val bucket = (v: String) =>
        s"CAST(GREATEST(LEAST(FLOOR((($v - s.lo) / (s.hi - s.lo)) * $b), ${b - 1}), 0) AS BIGINT)"
      s"""WITH s AS (
            SELECT MIN(value) AS lo, MAX(value) AS hi, COUNT(1) AS n,
              PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY value) AS x25,
              PERCENTILE_DISC(0.50) WITHIN GROUP (ORDER BY value) AS x50,
              PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY value) AS x75,
              PERCENTILE_DISC(0.90) WITHIN GROUP (ORDER BY value) AS x90,
              PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY value) AS x99
            FROM events),
          hist AS (
            SELECT ${bucket("e.value")} AS idx, COUNT(1) AS cnt
            FROM events e CROSS JOIN s GROUP BY 1),
          cum AS (
            SELECT idx, SUM(cnt) OVER (ORDER BY idx) AS cum FROM hist),
          ps AS (SELECT unnest(${HistPercentiles.mkString("[", ", ", "]")}) AS p),
          qi AS (
            SELECT ps.p, MIN(cum.idx) AS qidx
            FROM cum CROSS JOIN ps CROSS JOIN s
            WHERE cum.cum * 100 >= ps.p * s.n
            GROUP BY ps.p)
          SELECT CAST(qi.p AS BIGINT) AS p, qi.qidx,
            s.lo + qi.qidx * ((s.hi - s.lo) / $b) AS est_lo,
            s.lo + (qi.qidx + 1) * ((s.hi - s.lo) / $b) AS est_hi,
            CASE WHEN qi.p = 25 THEN s.x25 WHEN qi.p = 50 THEN s.x50
                 WHEN qi.p = 75 THEN s.x75 WHEN qi.p = 90 THEN s.x90
                 ELSE s.x99 END AS exact_q,
            ${bucket("""(CASE WHEN qi.p = 25 THEN s.x25 WHEN qi.p = 50 THEN s.x50
                 WHEN qi.p = 75 THEN s.x75 WHEN qi.p = 90 THEN s.x90
                 ELSE s.x99 END)""")} = qi.qidx AS bound_ok
          FROM qi CROSS JOIN s"""
    },

    "q80_group_quantiles" -> {
      val b = HistBuckets
      val bucket = (v: String) =>
        s"CAST(GREATEST(LEAST(FLOOR((($v - s.lo) / (s.hi - s.lo)) * $b), ${b - 1}), 0) AS BIGINT)"
      s"""WITH s AS (
            SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
              COUNT(1) AS n,
              PERCENTILE_DISC(0.50) WITHIN GROUP (ORDER BY value) AS x50,
              PERCENTILE_DISC(0.90) WITHIN GROUP (ORDER BY value) AS x90,
              PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY value) AS x99
            FROM events GROUP BY event_type
            HAVING MIN(value) < MAX(value)),
          hist AS (
            SELECT s.event_type, ${bucket("e.value")} AS idx, COUNT(1) AS cnt
            FROM events e JOIN s ON e.event_type = s.event_type
            GROUP BY 1, 2),
          cum AS (
            SELECT event_type, idx,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS cum
            FROM hist),
          ps AS (SELECT unnest([50, 90, 99]) AS p),
          qi AS (
            SELECT cum.event_type, ps.p, MIN(cum.idx) AS qidx
            FROM cum CROSS JOIN ps
            JOIN s ON cum.event_type = s.event_type
            WHERE cum.cum * 100 >= ps.p * s.n
            GROUP BY 1, 2)
          SELECT qi.event_type, CAST(qi.p AS BIGINT) AS p, qi.qidx,
            s.lo + qi.qidx * ((s.hi - s.lo) / $b) AS est_lo,
            s.lo + (qi.qidx + 1) * ((s.hi - s.lo) / $b) AS est_hi,
            CASE WHEN qi.p = 50 THEN s.x50 WHEN qi.p = 90 THEN s.x90
                 ELSE s.x99 END AS exact_q,
            ${bucket("""(CASE WHEN qi.p = 50 THEN s.x50 WHEN qi.p = 90 THEN s.x90
                 ELSE s.x99 END)""")} = qi.qidx AS bound_ok
          FROM qi JOIN s ON qi.event_type = s.event_type"""
    },

    "q107_hll_distinct" -> {
      val d1 = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1)"
      val d2 = "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
      s"""WITH tk AS (
            SELECT DISTINCT source, term FROM (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents)),
          hx AS (SELECT source, md5(term) AS h FROM tk),
          rr AS (
            SELECT source,
              CAST(($d1 * 16 + $d2) % $HllRegisters AS BIGINT) AS idx,
              length(regexp_extract(substr(h, 3, $HllTailNibbles), '^0*')) AS z4,
              substr(h, 3, $HllTailNibbles) AS tl
            FROM hx),
          rho AS (
            SELECT source, idx,
              CASE WHEN z4 = $HllTailNibbles THEN $HllMaxRho
                   ELSE 4 * z4 +
                     CASE WHEN substr(tl, z4 + 1, 1) = '1' THEN 3
                          WHEN substr(tl, z4 + 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(tl, z4 + 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END + 1
              END AS rho
            FROM rr),
          reg AS (
            SELECT source, idx, CAST(MAX(rho) AS BIGINT) AS m
            FROM rho GROUP BY source, idx),
          sk AS (
            SELECT source,
              CAST($HllRegisters - COUNT(1) AS BIGINT) AS v_zero,
              CAST(SUM(CAST(1 AS BIGINT) << ($HllMaxRho - m))
                   + ($HllRegisters - COUNT(1)) * $HllPowScale AS BIGINT)
                AS sum_pow
            FROM reg GROUP BY source),
          ex AS (SELECT source, COUNT(1) AS n_exact FROM tk GROUP BY source),
          est AS (
            SELECT sk.source, ex.n_exact, sk.v_zero, sk.sum_pow,
              (CAST($HllAlpha64 AS DOUBLE) * ${HllRegisters.toDouble * HllRegisters}
               * ${HllPowScale.toDouble}) / sk.sum_pow AS raw_est
            FROM sk JOIN ex ON sk.source = ex.source)
          SELECT source, n_exact, v_zero, sum_pow, raw_est,
            (raw_est <= ${2.5 * HllRegisters}
             OR abs(raw_est - CAST(n_exact AS DOUBLE))
                <= 0.4 * CAST(n_exact AS DOUBLE)) AS est_ok
          FROM est"""
    },

    // Rolling-HLL twin: q216's exact CTEs for the audit column + the q107
    // register walk keyed by day + the calendar × register spine and the
    // RANGE(-6,0) rolling register max.
    "q222_hll_rolling_uniques" -> {
      val d1 = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1)"
      val d2 = "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
      s"""WITH act AS (
            SELECT DISTINCT user_id,
              CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
            FROM events),
          mx AS (SELECT MIN(day) AS mind, MAX(day) AS maxd FROM act),
          iv AS (
            SELECT user_id, day,
              LEAST(COALESCE(LEAD(day) OVER (PARTITION BY user_id
                  ORDER BY day) - 1, 9223372036854775807),
                day + 6, maxd) AS e
            FROM act CROSS JOIN mx),
          cov AS (
            SELECT user_id, day + i AS day
            FROM iv, UNNEST(range(0, e - day + 1)) AS r(i)),
          ex AS (SELECT day, CAST(COUNT(1) AS BIGINT) AS n_exact
                 FROM cov GROUP BY day),
          hx AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM act),
          rr AS (
            SELECT day,
              CAST(($d1 * 16 + $d2) % $HllRegisters AS BIGINT) AS idx,
              length(regexp_extract(substr(h, 3, $HllTailNibbles), '^0*')) AS z4,
              substr(h, 3, $HllTailNibbles) AS tl
            FROM hx),
          rho AS (
            SELECT day, idx,
              CASE WHEN z4 = $HllTailNibbles THEN $HllMaxRho
                   ELSE 4 * z4 +
                     CASE WHEN substr(tl, z4 + 1, 1) = '1' THEN 3
                          WHEN substr(tl, z4 + 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(tl, z4 + 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END + 1
              END AS rho
            FROM rr),
          reg AS (
            SELECT day, idx, CAST(MAX(rho) AS BIGINT) AS m
            FROM rho GROUP BY day, idx),
          spine AS (
            SELECT dd.day, ii.idx
            FROM (SELECT mind + i AS day
                  FROM mx, UNNEST(range(0, maxd - mind + 1)) AS r(i)) dd,
                 (SELECT CAST(i AS BIGINT) AS idx
                  FROM UNNEST(range(0, $HllRegisters)) AS r(i)) ii),
          dense AS (
            SELECT s.day, s.idx, COALESCE(reg.m, 0) AS m0
            FROM spine s LEFT JOIN reg
              ON s.day = reg.day AND s.idx = reg.idx),
          rolled AS (
            SELECT day, MAX(m0) OVER (PARTITION BY idx ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m
            FROM dense),
          sk AS (
            SELECT day,
              CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
              CAST(SUM(CAST(1 AS BIGINT) << ($HllMaxRho - m)) AS BIGINT)
                AS sum_pow
            FROM rolled GROUP BY day),
          est AS (
            SELECT sk.day, ex.n_exact, sk.v_zero, sk.sum_pow,
              (CAST($HllAlpha64 AS DOUBLE) * ${HllRegisters.toDouble * HllRegisters}
               * ${HllPowScale.toDouble}) / sk.sum_pow AS raw_est
            FROM sk JOIN ex ON sk.day = ex.day)
          SELECT day, n_exact, v_zero, sum_pow, raw_est,
            (raw_est <= ${2.5 * HllRegisters}
             OR abs(raw_est - CAST(n_exact AS DOUBLE))
                <= 0.4 * CAST(n_exact AS DOUBLE)) AS est_ok
          FROM est"""
    },

    "q109_hll_union" -> {
      val d1 = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1)"
      val d2 = "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
      s"""WITH tk AS (
            SELECT DISTINCT source, term FROM (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents)),
          hx AS (SELECT source, md5(term) AS h FROM tk),
          rr AS (
            SELECT source,
              CAST(($d1 * 16 + $d2) % $HllRegisters AS BIGINT) AS idx,
              length(regexp_extract(substr(h, 3, $HllTailNibbles), '^0*')) AS z4,
              substr(h, 3, $HllTailNibbles) AS tl
            FROM hx),
          rho AS (
            SELECT source, idx,
              CASE WHEN z4 = $HllTailNibbles THEN $HllMaxRho
                   ELSE 4 * z4 +
                     CASE WHEN substr(tl, z4 + 1, 1) = '1' THEN 3
                          WHEN substr(tl, z4 + 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(tl, z4 + 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END + 1
              END AS rho
            FROM rr),
          reg AS (
            SELECT source, idx, CAST(MAX(rho) AS BIGINT) AS m
            FROM rho GROUP BY source, idx),
          dense AS (
            SELECT s.source, CAST(g.idx AS BIGINT) AS idx,
                   COALESCE(reg.m, 0) AS m
            FROM (SELECT DISTINCT source FROM tk) s
            CROSS JOIN (SELECT unnest(range(0, $HllRegisters)) AS idx) g
            LEFT JOIN reg ON reg.source = s.source AND reg.idx = g.idx),
          merged AS (
            SELECT a.source AS src_a, b.source AS src_b,
              CAST(SUM(CASE WHEN GREATEST(a.m, b.m) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS v_zero,
              CAST(SUM(CAST(1 AS BIGINT)
                       << ($HllMaxRho - GREATEST(a.m, b.m))) AS BIGINT)
                AS sum_pow
            FROM dense a JOIN dense b
              ON a.idx = b.idx AND a.source < b.source
            GROUP BY 1, 2),
          n AS (SELECT source, COUNT(1) AS n FROM tk GROUP BY source),
          inter AS (
            SELECT x.source AS src_a, y.source AS src_b, COUNT(1) AS ni
            FROM tk x JOIN tk y
              ON x.term = y.term AND x.source < y.source
            GROUP BY 1, 2),
          est AS (
            SELECT m.src_a, m.src_b,
              na.n + nb.n - COALESCE(i.ni, 0) AS n_exact_union,
              m.v_zero, m.sum_pow,
              (CAST($HllAlpha64 AS DOUBLE) * ${HllRegisters.toDouble * HllRegisters}
               * ${HllPowScale.toDouble}) / m.sum_pow AS raw_est
            FROM merged m
            JOIN n na ON na.source = m.src_a
            JOIN n nb ON nb.source = m.src_b
            LEFT JOIN inter i ON i.src_a = m.src_a AND i.src_b = m.src_b)
          SELECT src_a, src_b, n_exact_union, v_zero, sum_pow, raw_est,
            (raw_est <= ${2.5 * HllRegisters}
             OR abs(raw_est - CAST(n_exact_union AS DOUBLE))
                <= 0.4 * CAST(n_exact_union AS DOUBLE)) AS est_ok
          FROM est"""
    },

    "q65_cms_heavy_hitters" ->
      s"""WITH counts AS (
            SELECT term, COUNT(1) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
            GROUP BY term),
          entries AS (
            SELECT term, n, r, ${oBucket("term", "r")} AS bucket
            FROM counts CROSS JOIN (SELECT unnest(range(0, $Depth)) AS r)),
          cms AS (
            SELECT r, bucket, CAST(SUM(n) AS BIGINT) AS bsum
            FROM entries GROUP BY r, bucket),
          est AS (
            SELECT e.term, MIN(c.bsum) AS cms_est
            FROM entries e JOIN cms c ON e.r = c.r AND e.bucket = c.bucket
            GROUP BY e.term)
          SELECT counts.term, counts.n, est.cms_est,
            est.cms_est = counts.n AS tight
          FROM counts JOIN est ON counts.term = est.term"""
  )
}
