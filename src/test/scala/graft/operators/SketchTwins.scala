package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import Sketches._
import TextFns.md5hex

/** JVM reference implementations of the column sketches in [[Sketches]]:
  * the same md5 hex walks, run element by element. `SketchesSpec` checks
  * the queries' cells, registers and estimates against them, and
  * `SketchLawsSpec` checks their merge laws. */
object SketchTwins {

  /** JVM twin of [[Sketches.cmsBucket]] — identical hash, identical bucket. */
  def bucketOf(term: String, r: Int): Int =
    Integer.parseInt(md5hex(s"$r|$term").substring(0, 4), 16) % Width

  /** JVM membership probe of a [[Sketches.BloomAggregate]] bit set. */
  def bloomContains(words: Array[Long], x: String): Boolean =
    (0 until BloomHashes).forall { r =>
      val p = bloomPosOf(x, r)
      (words(p / 64) >> (p % 64) & 1L) == 1L
    }

  /** JVM twin of [[Sketches.histBucket]] for the mergeable accumulator. */
  def histBucketOf(v: Double, lo: Double, hi: Double): Int =
    math.max(0,
      math.min(math.floor((v - lo) / (hi - lo) * HistBuckets),
        (HistBuckets - 1).toDouble).toInt)

  /** The histogram as a MERGEABLE FIXED-SIZE accumulator (same discipline
    * as [[Sketches.BloomAggregate]]): HistBuckets int64 cells,
    * `reduce` increments one, `merge` is cell-wise add, so its state is
    * HistBuckets cells however many values it folds. Range [lo, hi) is
    * fixed at construction. */
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
    * [[Sketches.BloomAggregate]]/[[HistogramAggregate]]): m int64
    * registers, `reduce` maxes one register, `merge` is element-wise max —
    * the union law that makes cross-shard / cross-day distinct counting
    * composable with bounded state. Registers (not a float estimate) are
    * the carried state AND the finish value: estimates are read off with
    * [[hllSumPow]]/[[hllEstimate]], and two sketches union losslessly (max
    * is idempotent, commutative, associative — the merge-law spec pins
    * it). */
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
}
