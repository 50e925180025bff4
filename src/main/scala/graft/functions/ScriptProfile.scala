package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression profiling the Unicode SCRIPT MIX of a
 * string in ONE code-point pass — the standard crawl pre-filter ahead
 * of language ID (a page that is 40% CJK + 40% Cyrillic is mixed or
 * mis-encoded long before a language model needs to run, and script is
 * a harder signal than any n-gram statistic). North-star extension:
 * the reference has no text surface (/root/reference/src/lib.rs:1-957).
 *
 * Output is a fixed 12-slot LONG array (counts, code points):
 * 0 latin, 1 cyrillic, 2 greek, 3 arabic, 4 hebrew, 5 devanagari,
 * 6 cjk, 7 kana, 8 hangul, 9 digit, 10 whitespace, 11 other.
 * The class definitions are EXPLICIT code-point ranges (below), not
 * `Character.UnicodeScript`, precisely so a DuckDB oracle can restate
 * them as regex character classes byte-for-byte — the l82 discipline
 * of certifying a native expression against an independent engine.
 *
 * The per-row alternative is 12 `regexp_replace` passes (12 regex
 * scans + 12 string allocations per row); this is one branchy loop
 * with zero allocations beyond the 12-word result, codegen'd into the
 * enclosing stage like [[NfcNormalizeExpr]].
 */
case class ScriptProfileExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "script_profile"

  override protected def nullSafeEval(input: Any): Any =
    ScriptProfileExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScriptProfileExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ScriptProfileExpr =
    copy(child = newChild)
}

object ScriptProfileExpr {

  /** Class index order — slot i of the output array. */
  val ClassNames: Seq[String] = Seq("latin", "cyrillic", "greek", "arabic",
    "hebrew", "devanagari", "cjk", "kana", "hangul", "digit", "space", "other")

  /** Classify one code point. Ranges (all BMP; mirrored verbatim in the
    * l92 oracle regexes — keep the two in lockstep):
    * latin      A-Z a-z U+00C0-U+00D6 U+00D8-U+00F6 U+00F8-U+024F
    * cyrillic   U+0400-U+04FF        greek      U+0370-U+03FF
    * arabic     U+0600-U+06FF        hebrew     U+0590-U+05FF
    * devanagari U+0900-U+097F        cjk        U+4E00-U+9FFF
    * kana       U+3040-U+30FF        hangul     U+AC00-U+D7A3
    * digit      0-9                  space      SP TAB LF CR */
  private def classOf(cp: Int): Int = cp match {
    case c if (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= 0xC0 && c <= 0xD6) || (c >= 0xD8 && c <= 0xF6) ||
      (c >= 0xF8 && c <= 0x24F) => 0
    case c if c >= 0x400 && c <= 0x4FF => 1
    case c if c >= 0x370 && c <= 0x3FF => 2
    case c if c >= 0x600 && c <= 0x6FF => 3
    case c if c >= 0x590 && c <= 0x5FF => 4
    case c if c >= 0x900 && c <= 0x97F => 5
    case c if c >= 0x4E00 && c <= 0x9FFF => 6
    case c if c >= 0x3040 && c <= 0x30FF => 7
    case c if c >= 0xAC00 && c <= 0xD7A3 => 8
    case c if c >= '0' && c <= '9' => 9
    case 0x20 | 0x9 | 0xA | 0xD => 10
    case _ => 11
  }

  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](12)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts(classOf(cp)) += 1L
      i += Character.charCount(cp)
    }
    new GenericArrayData(counts)
  }

  /** Column wrapper. */
  def apply(text: Column): Column =
    ColumnBridge.column(ScriptProfileExpr(ColumnBridge.expression(text)))

  /** Dominant WRITING-SYSTEM class (slots 0-8; digits/space/other are
    * not scripts) — name of the max count, FIRST slot on ties
    * (`array_position` returns the first index of the max), "none" when
    * no script char occurs. Pure relational decode of the counts array. */
  def dominantScript(counts: Column): Column = {
    val scripts = slice(counts, 1, 9)
    val names = array(ClassNames.take(9).map(lit): _*)
    when(array_max(scripts) > 0L,
      element_at(names, array_position(scripts, array_max(scripts)).cast("int")))
      .otherwise(lit("none"))
  }
}
