package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression producing the DISTINCT word n-gram shingles
 * of a whitespace-tokenized string (space-joined), equivalent to
 * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
 * element_at(split(text,' '), i), ...)))` but in ONE pass.
 *
 * Exists for scale: in the composable form the lambda re-evaluates
 * `split(text)` for every `element_at` reference — higher-order functions
 * are CodegenFallback, so nothing is CSE'd and the work is
 * O(tokens × shingles) per document. This expression tokenizes once,
 * builds each shingle by index, and participates in whole-stage codegen
 * via a static helper. Semantics match the HOF form exactly: empty array
 * when the document has fewer than n tokens; `split(" ")` keeps empty
 * tokens; first-seen order (order is irrelevant downstream — the
 * consumers are min-aggregates and set intersections).
 */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  // n < 1 has no shingles; a large negative n would loop ~|n| times per row
  require(n >= 1, s"word_shingles(text, n) needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShinglesExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShinglesExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {

  def compute(text: UTF8String, n: Int): ArrayData = {
    // split(" ", -1): literal single-space separator, trailing empties kept
    // — identical to Spark/DuckDB string_split semantics.
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Column wrapper. */
  def apply(text: Column, n: Int): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(text), n))
}
