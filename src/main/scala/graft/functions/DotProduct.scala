package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/**
 * Native Catalyst expression for the dot product of two `array<double>`
 * columns — the hot kernel of every cosine-similarity path (ANN search,
 * embedding near-dup).
 *
 * Exists for scale: the composable form
 * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is a higher-order function
 * — CodegenFallback, interpreted per element, and it allocates the zipped
 * array per row-pair. This expression is one codegen'd loop over the two
 * ArrayDatas with zero allocation.
 *
 * Semantics are IDENTICAL to the HOF form, including float determinism:
 * products accumulate left-to-right (same fold order ≡ DuckDB oracle's
 * `list_reduce`), a null element or length mismatch yields null (what
 * `zip_with`'s null-padding followed by `acc + null` produced).
 */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def prettyName: String = "dot_product"

  /** Can be null on length mismatch even for non-null inputs — without
    * this, codegen folds isNull into a literal and the generated
    * assignment would not compile. */
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // boxed Double result: null encodes length-mismatch / null element
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxedDot")
      s"""
         |java.lang.Double $boxed = graft.functions.DotProductExpr.compute($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {

  /** Returns null (boxed) on length mismatch or null element — matching
    * the zip_with+aggregate formulation exactly. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
