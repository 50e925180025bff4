package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for the polynomial rolling-hash document
 * fingerprint: fold `acc = (acc * 31 + codepoint) mod 1e9+7` left-to-right
 * over the string's code points.
 *
 * Exists for scale: the composable-functions formulation
 * (`sequence` + `transform(substr(i,1))` + `aggregate`) materializes an
 * n-element array per row and re-slices the string per element — O(n²)
 * per document and a large allocation, ~10 s for 5k docs at sf0.1. This
 * expression is one O(n) pass, participates in whole-stage codegen
 * (`doGenCode` emits a plain loop), and allocates nothing. Semantics are
 * unchanged — the DuckDB oracle (`list_reduce` over `ascii(substr(...))`,
 * graft.queries.LlmQueries l11) still matches bit-for-bit.
 */
case class RollingHashExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {

  final val Mod = 1000000007L

  /** One pass over code points (matches DuckDB `ascii(substr(text,i,1))`,
    * which yields the code point of the i-th character). */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * 31L + cp) % Mod
    }
    acc
  }

  /** Column wrapper. */
  def apply(text: Column): Column =
    ColumnBridge.column(RollingHashExpr(ColumnBridge.expression(text)))
}
