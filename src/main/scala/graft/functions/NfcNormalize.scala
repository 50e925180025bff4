package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for Unicode NFC normalization
 * (java.text.Normalizer, canonical composition). Crawled text mixes
 * composed (U+00E9 "é") and decomposed ("e" + U+0301) forms of the
 * same characters — byte-different, render-identical — so WITHOUT
 * this pass exact dedup misses such duplicates and every md5-keyed
 * operator (dedup keys, URL hosts, split hashing) treats them as
 * distinct. Run it FIRST in a normalization chain, before
 * [[TextFunctions.normalizeText]]'s ASCII-level canonicalization.
 *
 * Codegen'd (`doGenCode` emits a static call — stays inside
 * whole-stage codegen like [[RollingHashExpr]]); the already-NFC fast
 * path (`Normalizer.isNormalized`, a scan with no allocation) returns
 * the input `UTF8String` untouched, so the ASCII majority of a real
 * corpus pays one quick-check pass and zero allocations. Matches
 * DuckDB `nfc_normalize` code-point-for-code-point — certified by the
 * l82 oracle over constructed composed/decomposed/mixed fixtures.
 */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalizeExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalizeExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

object NfcNormalizeExpr {

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Column wrapper. */
  def apply(text: Column): Column =
    ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(text)))
}
