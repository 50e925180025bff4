package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import graft.functions.{NfcNormalizeExpr, RollingHashExpr, ScriptProfileExpr, TextFunctions, VectorFunctions}

/**
 * Session extension registering graft's custom Catalyst expressions as
 * SQL functions, so the pure-SQL surface reaches them too:
 *
 * {{{
 * SparkSession.builder().withExtensions(new GraftExtensions)...
 * // or spark.sql.extensions=graft.GraftExtensions
 * spark.sql("SELECT doc_id, rolling_hash(text) FROM docs")
 * spark.sql("SELECT word_shingles(text, 3) FROM docs")
 * }}}
 *
 * For sessions built elsewhere, [[GraftFunctions.register]] installs the
 * same functions on a live session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

/** graft's SQL functions. Each one calls the Column function the
  * DataFrame queries use on its bridged arguments, so a SQL function and
  * its DataFrame twin are one definition: a new SQL function is a Column
  * function first, then one row of [[table]]. */
object GraftFunctions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** SQL name, arity, and the Column function it calls. */
  private val table: Seq[(String, Int, Seq[Column] => Column)] = Seq(
    ("rolling_hash", 1, a => RollingHashExpr(a(0))),
    ("word_shingles", 2, a => TextFunctions.wordShingles(a(0), literalInt(a(1)))),
    ("dot_product", 2, a => VectorFunctions.dot(a(0), a(1))),
    ("cosine_sim", 2, a => VectorFunctions.cosineSim(a(0), a(1))),
    ("l2_norm", 1, a => VectorFunctions.l2Norm(a(0))),
    ("ws_token_count", 1, a => TextFunctions.wsTokenCount(a(0))),
    ("bpeish_token_count", 1, a => TextFunctions.bpeishTokenCount(a(0))),
    ("normalize_text", 1, a => TextFunctions.normalizeText(a(0))),
    ("url_host", 1, a => TextFunctions.urlHost(a(0))),
    ("registrable_domain", 1, a => TextFunctions.registrableDomain(a(0))),
    ("normalize_url", 1, a => TextFunctions.normalizeUrl(a(0))),
    ("html_to_text", 1, a => TextFunctions.htmlToText(a(0))),
    ("nfc_normalize", 1, a => NfcNormalizeExpr(a(0))),
    ("fix_mojibake", 1, a => TextFunctions.fixMojibake(a(0))),
    ("script_profile", 1, a => ScriptProfileExpr(a(0))))

  /** `word_shingles`' n sizes the expression itself, so it must be known
    * when the function is built. */
  private def literalInt(n: Column): Int = ColumnBridge.expression(n) match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      "word_shingles(text, n) requires a literal integer n")
  }

  /** The registry entry of one row: the builder runs during analysis,
    * so it converts the Column it gets back eagerly. */
  private def describe(name: String, arity: Int, f: Seq[Column] => Column): FunctionDescription = (
    FunctionIdentifier(name),
    new ExpressionInfo(GraftFunctions.getClass.getName, name),
    (args: Seq[Expression]) => {
      require(args.size == arity, s"$name takes exactly $arity argument(s), got ${args.size}")
      ColumnBridge.resolve(f(args.map(ColumnBridge.column)))
    })

  val all: Seq[FunctionDescription] = table.map((describe _).tupled)

  /** Register on an already-built session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
