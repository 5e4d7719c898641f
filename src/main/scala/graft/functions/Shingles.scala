package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native n-token shingles: ["a","b","c","d"], n=3 -> ["a b c", "b c d"],
  * built in one pass over the token array — VALUE-identical to the Column
  * formulation
  * `when(size(tk) >= n, transform(sequence(1, size(tk) - n + 1),
  *   i -> concat_ws(' ', slice(tk, i, n)))).otherwise(array())`.
  *
  * Why native: in that formulation `tk` is usually `split(text, ' ')`, and
  * the interpreted lambda evaluates its outer reference again per call, so
  * every shingle re-split the whole document — O(n²) string work per row.
  * Here the tokens are read once and each shingle is one `concatWs` —
  * the very call `concat_ws` makes, so the join and its null skipping are
  * the same code.
  *
  * Semantics kept from the Column form: a null or shorter-than-n token
  * array yields an EMPTY array (never null), and null tokens are skipped
  * inside a shingle the way `concat_ws` skips them (an all-null window is
  * the empty string).
  */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<string> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any =
    Shingles.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} =
        graft.functions.Shingles.compute(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  private val empty = new GenericArrayData(Array.empty[Any])
  private val space = UTF8String.fromString(" ")

  /** Called from both interpreted eval and generated code. */
  def compute(tk: ArrayData, n: Int): ArrayData = {
    if (tk == null || tk.numElements() < n) return empty
    val len = tk.numElements()
    val toks = new Array[UTF8String](len)
    var k = 0
    while (k < len) {
      if (!tk.isNullAt(k)) toks(k) = tk.getUTF8String(k)
      k += 1
    }
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.concatWs(space, java.util.Arrays.copyOfRange(toks, i, i + n): _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
