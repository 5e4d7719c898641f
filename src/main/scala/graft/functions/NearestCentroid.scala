package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native nearest centroid: for a vector `v` and a foldable centroid table
  * `array<struct<cid: bigint, cv: array<double>>>`, the
  * `struct<cid: bigint, csim: double>` of the centroid with the highest
  * cosine, in one pass over the table — VALUE-identical to the relational
  * form it replaces,
  * `v × broadcast(cent)` → `struct(cosine(v, cv) AS csim, -cid AS ncid)`
  * → `max(...)` grouped by the vector's key.
  *
  * Why native: that form joins every vector with every centroid, carries
  * `v` through a `first(v)` and ranks with `max(struct)` — a sort-based
  * aggregate over the vectors × centroids product, since a hash aggregate
  * cannot hold a struct or an array. Assignment is a per-row map.
  *
  * Semantics kept from the relational form:
  *  - csim is `graft_dot(v, cv) / (graft_l2norm(v) * graft_l2norm(cv))`:
  *    the same left-to-right folds, so every bit matches. `norm(v)` is
  *    folded once per row and each centroid's norm once.
  *  - csim is null when `v` or `cv` is null or their lengths differ; a zero
  *    denominator is Spark's division by zero (DIVIDE_BY_ZERO under ANSI,
  *    null otherwise, captured at construction as `Divide` does).
  *  - ranking is Spark's struct ordering: NaN ranks highest, null lowest,
  *    and a tie goes to the smaller cid (a null cid loses every tie).
  *  - an empty table gives null — the inner join gave no row.
  * Any other input type, or a non-foldable table, fails analysis. */
case class NearestCentroid(v: Expression, centroids: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {

  override def left: Expression = v
  override def right: Expression = centroids

  private def centroidsValid: Boolean =
    centroids.foldable && NearestCentroid.isCentroids(centroids.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!v.dataType.isInstanceOf[ArrayType] ||
        v.dataType.asInstanceOf[ArrayType].elementType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an array<double> vector, got ${v.dataType.catalogString}")
    else if (!NearestCentroid.isCentroids(centroids.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs centroids of type " +
          s"${NearestCentroid.CentroidsType.catalogString}, got ${centroids.dataType.catalogString}")
    else if (!centroids.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a constant centroid table")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val table: CentroidTable =
    CentroidTable(centroids.eval().asInstanceOf[ArrayData])

  // The result is null only for an empty table and its cid only when the
  // table holds a null cid, so `isNotNull` on either (the caller's filter,
  // a join's inferred constraint) folds away instead of running the kernel
  // a second time.
  override lazy val dataType: DataType =
    if (!centroidsValid || table.cidNull.contains(true)) NearestCentroid.ResultType
    else NearestCentroid.ResultType.copy(fields = NearestCentroid.ResultType.fields
      .map(f => if (f.name == "cid") f.copy(nullable = false) else f))
  override def nullable: Boolean = !centroidsValid || table.isEmpty
  override def prettyName: String = "graft_nearest_centroid"
  override def toString: String =
    if (!centroidsValid) super.toString
    else s"$prettyName($v, ${table.cids.length} centroids)"

  override def eval(input: InternalRow): Any =
    NearestCentroid.compute(v.eval(input).asInstanceOf[ArrayData], table, failOnError)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = v.genCode(ctx)
    val t = ctx.addReferenceObj("centroids", table, classOf[CentroidTable].getName)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.functions.NearestCentroid.compute(
        ${c.isNull} ? null : ${c.value}, $t, $failOnError);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(v = newLeft, centroids = newRight)
}

/** The evaluated centroid table: ids, vectors and each vector's L2 norm,
  * folded once. A null `cv` has a null norm (`norms` NaN, never read). */
final class CentroidTable private (val cids: Array[Long],
    val cidNull: Array[Boolean], val vecs: Array[Array[Double]],
    val norms: Array[Double]) extends Serializable {
  def isEmpty: Boolean = cids.isEmpty
}

object CentroidTable {

  /** From the table literal; a null array is an empty table. */
  def apply(a: ArrayData): CentroidTable = {
    val k = if (a == null) 0 else a.numElements()
    val rows = (0 until k).map(j => if (a.isNullAt(j)) null else a.getStruct(j, 2))
    val vecs = rows.map(r =>
      if (r == null || r.isNullAt(1)) null else r.getArray(1).toDoubleArray()).toArray
    new CentroidTable(
      rows.map(r => if (r == null || r.isNullAt(0)) 0L else r.getLong(0)).toArray,
      rows.map(r => r == null || r.isNullAt(0)).toArray,
      vecs, vecs.map(cv => if (cv == null) Double.NaN else NearestCentroid.norm(cv)))
  }

  /** From driver-side (cid, centroid) pairs. */
  def apply(cs: Seq[(Long, Array[Double])]): CentroidTable =
    new CentroidTable(cs.map(_._1).toArray, Array.fill(cs.length)(false),
      cs.map(_._2).toArray, cs.map(c => NearestCentroid.norm(c._2)).toArray)
}

object NearestCentroid {

  val CentroidsType: ArrayType = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cv", ArrayType(DoubleType)))))

  val ResultType: StructType = StructType(Seq(
    StructField("cid", LongType), StructField("csim", DoubleType)))

  /** [[CentroidsType]] up to nullability. */
  def isCentroids(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField("cid", LongType, _, _),
        StructField("cv", ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }

  /** `graft_l2norm`'s fold. */
  private[functions] def norm(x: Array[Double]): Double = {
    var sum = 0.0
    var i = 0
    while (i < x.length) { sum += x(i) * x(i); i += 1 }
    math.sqrt(sum)
  }

  /** Called from both interpreted eval and generated code. */
  def compute(v: ArrayData, t: CentroidTable, failOnError: Boolean): InternalRow =
    compute(if (v == null) null else v.toDoubleArray(), t, failOnError)

  /** The winning (cid, csim), or null for an empty table. The driver-side
    * Lloyd's rounds call this too, so training and assignment share one
    * argmax rule. */
  def compute(v: Array[Double], t: CentroidTable, failOnError: Boolean): InternalRow = {
    val k = t.cids.length
    if (k == 0) return null
    val nv = if (v == null) 0.0 else norm(v)
    var best = -1
    var bestSim = 0.0
    var bestNull = true
    var j = 0
    while (j < k) {
      val cv = t.vecs(j)
      var simNull = true
      var sim = 0.0
      if (v != null && cv != null && v.length == cv.length) {
        // graft_dot's fold, then Divide's zero-divisor rule
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * cv(i); i += 1 }
        val den = nv * t.norms(j)
        if (den != 0) { sim = dot / den; simNull = false }
        else if (failOnError) throw Bridge.divideByZero()
      }
      // struct ordering on (csim, -cid): csim first (null lowest, NaN
      // highest), then the smaller cid (a null cid is the lowest -cid)
      val cmp =
        if (best < 0) 1
        else if (simNull) { if (bestNull) 0 else -1 }
        else if (bestNull) 1
        else SQLOrderingUtil.compareDoubles(sim, bestSim)
      if (cmp > 0 || (cmp == 0 && !t.cidNull(j) &&
          (t.cidNull(best) || t.cids(j) < t.cids(best)))) {
        best = j; bestSim = sim; bestNull = simNull
      }
      j += 1
    }
    InternalRow(if (t.cidNull(best)) null else t.cids(best),
      if (bestNull) null else bestSim)
  }
}
