package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native top count: the highest number of times any non-null element
  * occurs in a string array, in one hash pass — VALUE-identical to the
  * Column formulation
  * `array_max(transform(array_distinct(a), x -> size(filter(a, y -> y = x))))`.
  *
  * Why native: that formulation is O(distinct · n) comparisons, and the
  * interpreted lambdas evaluate the outer `a` again per call — with `a` a
  * `split` or a shingle array, the document was re-tokenized per element.
  *
  * Semantics kept from the Column form: a null or empty array yields null
  * (`array_max` of nothing), and an array of only nulls yields 0 (a null
  * `x` matches no `y`, so its count is 0). Only `array<string>` is
  * accepted; any other input fails analysis.
  */
case class TopCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<string> input, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_count"

  override def nullSafeEval(a: Any): Any = {
    val c = TopCount.compute(a.asInstanceOf[ArrayData])
    if (c < 0) null else c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} =
        ${c.isNull} ? -1 : graft.functions.TopCount.compute(${c.value});
      boolean ${ev.isNull} = ${ev.value} < 0;""")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCount =
    copy(child = newChild)
}

object TopCount {

  /** The top count, or -1 for an empty array (the caller's null). Called
    * from both interpreted eval and generated code. */
  def compute(a: ArrayData): Int = {
    val len = a.numElements()
    if (len == 0) return -1
    val counts = new java.util.HashMap[UTF8String, Array[Int]](len * 2)
    var top = 0
    var k = 0
    while (k < len) {
      if (!a.isNullAt(k)) {
        val w = a.getUTF8String(k)
        var c = counts.get(w)
        if (c == null) { c = new Array[Int](1); counts.put(w, c) }
        c(0) += 1
        if (c(0) > top) top = c(0)
      }
      k += 1
    }
    top
  }
}
