package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Cast, Concat, Contains, EqualTo, Expression, ExpressionInfo, Length, Literal, Lower, Multiply, Or, RegExpCount, RegExpExtract, RegExpReplace, RLike, Sqrt, StartsWith, StringReplace, StringTrim, Subtract, TryDivide}
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.functions.{DotProductExpr, NfcNormalizeExpr, RollingHashExpr, ScriptProfileExpr, ShinglesExpr, TextFunctions}

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

object GraftFunctions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val rollingHash: FunctionDescription = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHashExpr].getName, "rolling_hash"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "rolling_hash(text) takes exactly one argument")
      RollingHashExpr(args.head)
    })

  val nfcNormalize: FunctionDescription = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "nfc_normalize(text) takes exactly one argument")
      NfcNormalizeExpr(args.head)
    })

  val wordShingles: FunctionDescription = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[ShinglesExpr].getName, "word_shingles"),
    (args: Seq[Expression]) => args match {
      case Seq(text, Literal(n: Int, IntegerType)) => ShinglesExpr(text, n)
      case _ => throw new IllegalArgumentException(
        "word_shingles(text, n) requires a literal integer n")
    })

  val dotProduct: FunctionDescription = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
    (args: Seq[Expression]) => {
      require(args.size == 2, "dot_product(a, b) takes exactly two array arguments")
      DotProductExpr(args.head, args(1))
    })

  // The compositions below mirror graft.functions.{VectorFunctions,
  // TextFunctions} as raw Catalyst trees (a function builder must return
  // plain expressions — Column-bridged trees keep their UnresolvedFunction
  // wrappers and never resolve on this path).

  val cosineSim: FunctionDescription = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "cosine_sim"),
    (args: Seq[Expression]) => {
      require(args.size == 2, "cosine_sim(a, b) takes exactly two array arguments")
      val (a, b) = (args.head, args(1))
      new TryDivide(DotProductExpr(a, b),
        new Multiply(Sqrt(DotProductExpr(a, a)), Sqrt(DotProductExpr(b, b))))
    })

  val l2Norm: FunctionDescription = (
    FunctionIdentifier("l2_norm"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "l2_norm"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "l2_norm(a) takes exactly one array argument")
      Sqrt(DotProductExpr(args.head, args.head))
    })

  val wsTokenCount: FunctionDescription = (
    FunctionIdentifier("ws_token_count"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "ws_token_count"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "ws_token_count(text) takes exactly one argument")
      val t = args.head
      Cast(Add(Subtract(Length(t),
        Length(StringReplace(t, Literal(" "), Literal("")))), Literal(1)), LongType)
    })

  val bpeishTokenCount: FunctionDescription = (
    FunctionIdentifier("bpeish_token_count"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "bpeish_token_count"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "bpeish_token_count(text) takes exactly one argument")
      Cast(RegExpCount(Lower(args.head), Literal(TextFunctions.BpePattern)), LongType)
    })

  val normalizeText: FunctionDescription = (
    FunctionIdentifier("normalize_text"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "normalize_text"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "normalize_text(text) takes exactly one argument")
      StringTrim(RegExpReplace(
        RegExpReplace(Lower(args.head), Literal("[^a-z0-9 ]"), Literal("")),
        Literal("  +"), Literal(" ")))
    })

  // URL canonicalization (mirrors TextFunctions.urlHost/
  // registrableDomain/normalizeUrl — same dialect-neutral patterns the
  // l64 oracle certifies cross-engine)

  private def authorityExpr(url: Expression): Expression =
    RegExpExtract(url, Literal("^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"), Literal(1))

  private def urlHostExpr(url: Expression): Expression = {
    val a = authorityExpr(url)
    // IP-literal aware (mirrors TextFunctions.urlHost): bracketed IPv6
    // keeps [...], bare multi-colon IPv6 has no port to strip
    Lower(CaseWhen(Seq(
      (StartsWith(a, Literal("[")),
        RegExpExtract(a, Literal("^\\[[^\\]]*\\]"), Literal(0))),
      (RLike(a, Literal(":.*:")), a)),
      RegExpReplace(a, Literal(":[0-9]+$"), Literal(""))))
  }

  val urlHost: FunctionDescription = (
    FunctionIdentifier("url_host"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "url_host"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "url_host(url) takes exactly one argument")
      urlHostExpr(args.head)
    })

  val registrableDomain: FunctionDescription = (
    FunctionIdentifier("registrable_domain"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "registrable_domain"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "registrable_domain(url) takes exactly one argument")
      val h = urlHostExpr(args.head)
      // IP-literal hosts have no registrable domain: the host itself
      // is the capping key (mirrors TextFunctions.registrableDomain)
      CaseWhen(Seq(
        (Or(Or(RLike(h, Literal("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")),
          StartsWith(h, Literal("["))), Contains(h, Literal(":"))), h)),
        RegExpExtract(h, Literal("([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$"), Literal(1)))
    })

  val normalizeUrl: FunctionDescription = (
    FunctionIdentifier("normalize_url"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "normalize_url"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "normalize_url(url) takes exactly one argument")
      val url = args.head
      val scheme = Lower(RegExpExtract(url,
        Literal("^([A-Za-z][A-Za-z0-9+.-]*)://"), Literal(1)))
      val a = Lower(authorityExpr(url))
      val bracketPort = RegExpExtract(a, Literal("\\]:([0-9]+)$"), Literal(1))
      val host = CaseWhen(Seq(
        (StartsWith(a, Literal("[")),
          Concat(Seq(RegExpExtract(a, Literal("^\\[[^\\]]*\\]"), Literal(0)),
            CaseWhen(Seq(
              (Or(Or(EqualTo(bracketPort, Literal("")),
                EqualTo(bracketPort, Literal("80"))),
                EqualTo(bracketPort, Literal("443"))), Literal(""))),
              Concat(Seq(Literal(":"), bracketPort)))))),
        (RLike(a, Literal(":.*:")), a)),
        RegExpReplace(
          RegExpReplace(a, Literal(":(80|443)$"), Literal("")),
          Literal("^www\\."), Literal("")))
      val rest = RegExpExtract(url,
        Literal("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)"), Literal(1))
      // Delimiter-anchored utm strip + run collapse (literal
      // replacements only — backref syntax differs across engines);
      // mirrors TextFunctions.normalizeUrl exactly.
      val noUtm = RegExpReplace(
        RegExpReplace(rest, Literal("\\?utm_[a-z]*=[^&#]*"), Literal("?")),
        Literal("&utm_[a-z]*=[^&#]*"), Literal("&"))
      val collapsed = RegExpReplace(
        RegExpReplace(noUtm, Literal("\\?[?&]+"), Literal("?")),
        Literal("&[?&]+"), Literal("&"))
      // chain gated on the cheap substring test, as in TextFunctions
      val cleaned = CaseWhen(Seq((Contains(rest, Literal("utm_")), collapsed)), rest)
      Concat(Seq(scheme, Literal("://"), host,
        RegExpReplace(cleaned, Literal("[?&]+$"), Literal(""))))
    })

  val htmlToText: FunctionDescription = (
    FunctionIdentifier("html_to_text"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "html_to_text"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "html_to_text(html) takes exactly one argument")
      val noBlocks = RegExpReplace(RegExpReplace(RegExpReplace(args.head,
        Literal("(?s)<script[^>]*>.*?</script>"), Literal(" ")),
        Literal("(?s)<style[^>]*>.*?</style>"), Literal(" ")),
        Literal("(?s)<!--.*?-->"), Literal(" "))
      val noTags = RegExpReplace(noBlocks, Literal("<[^>]*>"), Literal(" "))
      val decoded = StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(noTags,
          Literal("&lt;"), Literal("<")), Literal("&gt;"), Literal(">")),
        Literal("&quot;"), Literal("\"")), Literal("&#39;"), Literal("'")),
        Literal("&amp;"), Literal("&"))
      StringTrim(RegExpReplace(decoded, Literal("  +"), Literal(" ")))
    })

  val fixMojibake: FunctionDescription = (
    FunctionIdentifier("fix_mojibake"),
    new ExpressionInfo(GraftFunctions.getClass.getName, "fix_mojibake"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "fix_mojibake(text) takes exactly one argument")
      // pure catalyst mirror of TextFunctions.fixMojibake (2 passes) —
      // a Column-built tree would leave unresolved column nodes in the
      // registry output; the literals are shared so the twins can't
      // drift on the character tables or guard patterns
      import org.apache.spark.sql.catalyst.expressions.{And, Encode, IsValidUTF8, StringDecode, StringTranslate}
      def once(text: Expression): Expression = {
        val t = StringTranslate(text,
          Literal(TextFunctions.Cp1252Specials), Literal(TextFunctions.Cp1252Controls))
        // 2-arg constructors read the session's legacyJavaCharsets /
        // legacyCodingErrorAction confs at build time — the same path
        // the Column twin's functions.encode/decode resolves through,
        // so the two forms share error-action semantics under any conf
        val bytes = new Encode(t, Literal("ISO-8859-1"))
        val cond = And(And(
          RLike(t, Literal(TextFunctions.MojibakeSignature)),
          RLike(t, Literal(TextFunctions.Cp1252Mappable))),
          IsValidUTF8(bytes))
        CaseWhen(Seq((cond, new StringDecode(bytes, Literal("UTF-8")))),
          Some(text))
      }
      once(once(args.head))
    })

  val scriptProfile: FunctionDescription = (
    FunctionIdentifier("script_profile"),
    new ExpressionInfo(classOf[ScriptProfileExpr].getName, "script_profile"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "script_profile(text) takes exactly one argument")
      ScriptProfileExpr(args.head)
    })

  val all: Seq[FunctionDescription] =
    Seq(rollingHash, wordShingles, dotProduct,
      cosineSim, l2Norm, wsTokenCount, bpeishTokenCount, normalizeText,
      urlHost, registrableDomain, normalizeUrl, htmlToText, nfcNormalize,
      fixMojibake, scriptProfile)

  /** Register on an already-built session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
