package graft

import org.scalatest.funsuite.AnyFunSuite

/** The custom expressions must be reachable from pure SQL once registered
  * (GraftExtensions / GraftFunctions.register). */
class SqlFunctionSpec extends AnyFunSuite {

  private lazy val spark = { GraftFunctions.register(TestSpark.spark); TestSpark.spark }

  test("dot_product is callable from SQL and exact") {
    import spark.implicits._
    val got = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .as[Double].head()
    assert(got == 32.0)
  }

  test("cosine_sim / l2_norm are callable from SQL and exact") {
    import spark.implicits._
    val (sim, n) = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS s, " +
        "l2_norm(array(3.0D, 4.0D)) AS n")
      .as[(Double, Double)].head()
    assert(math.abs(sim - 1.0) < 1e-12)
    assert(n == 5.0)
    // a zero vector has no cosine (null, not an ANSI divide-by-zero)
    assert(spark.sql("SELECT cosine_sim(array(0.0D, 0.0D), array(1.0D, 0.0D))").head().isNullAt(0))
  }

  test("token counters are callable from SQL") {
    import spark.implicits._
    val (ws, bpe) = spark.sql(
      "SELECT ws_token_count('a b c d') AS w, bpeish_token_count('ab, 12 cd!') AS b")
      .as[(Long, Long)].head()
    assert(ws == 4L)
    assert(bpe == 5L) // "ab", ",", "12", "cd", "!"
  }

  test("normalize_text is callable from SQL and matches the Column form") {
    import spark.implicits._
    val got = spark.sql(
      "SELECT normalize_text('  Hello,   WORLD!! 42 ') AS n").as[String].head()
    assert(got == "hello world 42")
    val viaColumn = Seq("  Hello,   WORLD!! 42 ").toDF("t")
      .select(graft.functions.TextFunctions.normalizeText(org.apache.spark.sql.functions.col("t")))
      .as[String].head()
    assert(got == viaColumn)
  }

  test("url functions are callable from SQL and match the Column forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val url = "https://WWW.Sub0.Site3.com:443/p/1?utm_source=a&id=2#frag"
    val got = spark.sql(
      s"SELECT url_host('$url') AS h, registrable_domain('$url') AS d, " +
        s"normalize_url('$url') AS n").as[(String, String, String)].head()
    assert(got == ("www.sub0.site3.com", "site3.com", "https://sub0.site3.com/p/1?id=2"))
    val viaColumn = Seq(url).toDF("u").select(
        graft.functions.TextFunctions.urlHost(col("u")),
        graft.functions.TextFunctions.registrableDomain(col("u")),
        graft.functions.TextFunctions.normalizeUrl(col("u")))
      .as[(String, String, String)].head()
    assert(got == viaColumn)
  }

  test("withUrlParts staged form matches the single-Column forms URL-for-URL") {
    // the staged (attribute-input) twins use cheaper branchy bodies —
    // string ops and a translate colon count instead of regexes — so
    // pin them against the expression-input forms over the adversarial
    // shapes: brackets, bare IPv6, IPv4, default/odd ports, www, utm
    // (first/middle/consecutive/name-contains-utm), fragments, empty
    // query, trailing junk, and an unparseable non-URL
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      "https://WWW.Sub0.Site3.com:443/p/1?utm_source=a&id=2#frag",
      "http://example.org:80/",
      "http://example.org:8080/a?b=1",
      "https://www.example.co.uk/x?utm_a=1&utm_b=2&c=3",
      "https://site.com/?utm_only=x",
      "https://site.com/p?my_utm_x=1&utm_term=t&q=2",
      "http://1.2.3.4:80/path",
      "http://[2001:db8::1]:443/p?utm_z=9",
      "http://[2001:db8::1]:8080/p",
      "http://2001:db8::7/p#f",
      "https://www.x.com/p?",
      "https://x.com/p?a=1&",
      "ftp://Files.Example.NET:21/dir",
      "not a url at all",
      "")
    val df = urls.toDF("u")
    val staged = graft.functions.TextFunctions.withUrlParts(df, "u")
      .select("u", "host", "domain", "norm_url")
      .as[(String, String, String, String)].collect()
      .map { case (u, h, d, n) => u -> ((h, d, n)) }.toMap
    val single = df.select(col("u"),
        graft.functions.TextFunctions.urlHost(col("u")).as("h"),
        graft.functions.TextFunctions.registrableDomain(col("u")).as("d"),
        graft.functions.TextFunctions.normalizeUrl(col("u")).as("n"))
      .as[(String, String, String, String)].collect()
      .map { case (u, h, d, n) => u -> ((h, d, n)) }.toMap
    urls.foreach { u =>
      assert(staged(u) == single(u), s"URL $u: staged ${staged(u)} vs single ${single(u)}")
    }
  }

  test("html_to_text is callable from SQL and matches the Column form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val html = "<p>a &amp; b</p><script>x<y;</script><i>c</i>"
    val got = spark.sql(
      s"SELECT html_to_text('$html') AS t").as[String].head()
    assert(got == "a & b c")
    val viaColumn = Seq(html).toDF("h")
      .select(graft.functions.TextFunctions.htmlToText(col("h")))
      .as[String].head()
    assert(got == viaColumn)
  }

  test("nfc_normalize composes decomposed forms, fast-paths NFC input, callable from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val decomposed = "cafe\u0301 man\u0303ana A\u030A"
    val composed = "caf\u00E9 ma\u00F1ana \u00C5"
    val viaColumn = Seq(decomposed).toDF("t")
      .select(graft.functions.NfcNormalizeExpr(col("t"))).as[String].head()
    assert(viaColumn == composed)
    val viaSql = spark.sql(s"SELECT nfc_normalize('$decomposed') AS n").as[String].head()
    assert(viaSql == composed)
    // already-NFC (incl. plain ASCII) passes through unchanged
    assert(Seq(composed, "plain ascii", "").toDF("t")
      .select(graft.functions.NfcNormalizeExpr(col("t"))).as[String].collect().toSeq ==
      Seq(composed, "plain ascii", ""))
  }

  test("rolling_hash is callable from SQL and matches the fold") {
    import spark.implicits._
    val got = spark.sql("SELECT rolling_hash('a b c d') AS fp").as[Long].head()
    val expected = "a b c d".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(got == expected)
  }

  test("word_shingles is callable from SQL") {
    import spark.implicits._
    val got = spark.sql("SELECT word_shingles('a b c d', 3) AS sh").as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
    assert(spark.sql("SELECT word_shingles('a b', 3) AS sh").as[Seq[String]].head().isEmpty)
  }

  test("word_shingles rejects a non-literal n") {
    val e = intercept[Exception](spark.sql("SELECT word_shingles('a b c', length('xx'))").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("redactPii scrubs emails and phone runs, counts them, leaves clean text") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    import spark.implicits._
    val rows = Seq(
      "contact me at jane.doe+spam@example.co.uk or on +1 (555) 123-4567 thanks",
      "call 08001234567 now",
      "no pii here just words 42 and x@y (not an email)")
      .toDF("text")
      .select(TextFunctions.redactPii(col("text")).as("red"),
        TextFunctions.piiCount(col("text")).as("n"))
      .as[(String, Long)].collect()
    assert(rows(0) == ("contact me at <EMAIL> or on <PHONE> thanks", 2L))
    assert(rows(1) == ("call <PHONE> now", 1L))
    assert(rows(2) == ("no pii here just words 42 and x@y (not an email)", 0L))
  }

  test("fix_mojibake is callable from SQL and matches the Column form") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def corrupt(t: String) = new String(t.getBytes("UTF-8"), cp1252)
    Seq(corrupt("café résumé"), "plain text", "São NÃO").toDF("t")
      .createOrReplaceTempView("moji_v")
    val viaSql = spark.sql(
      "SELECT t, fix_mojibake(t) AS f FROM moji_v").as[(String, String)].collect()
    val viaCol = spark.table("moji_v")
      .select(col("t"), graft.functions.TextFunctions.fixMojibake(col("t")).as("f"))
      .as[(String, String)].collect()
    assert(viaSql.toSet == viaCol.toSet)
    assert(viaSql.toMap.apply(corrupt("café résumé")) == "café résumé")
  }

  test("fixMojibake repairs constructed double encodings and never touches clean text (fuzz)") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def corrupt(t: String) = new String(t.getBytes("UTF-8"), cp1252)
    val rnd = new scala.util.Random(67)
    // clean corpus: ASCII + latin accents + specials + CJK + emoji —
    // 400 random mixes, none may be altered
    val pieces = Array("plain words", "café", "NÃO", "São", "résumé",
      "€9 – now", "“curly”", "naïve", "日本語", "emoji 😀", "Ω≠π", "l'élève")
    val clean = (1 to 400).map(_ =>
      (1 to 1 + rnd.nextInt(6)).map(_ => pieces(rnd.nextInt(pieces.length)))
        .mkString(" "))
    val untouched = clean.toDF("t")
      .select(col("t"), TextFunctions.fixMojibake(col("t")).as("f"))
      .as[(String, String)].collect()
    untouched.foreach { case (t, f) => assert(f == t, s"clean text altered: $t -> $f") }
    // corrupted corpus: the same mixes double-encoded, EXCLUDING pieces
    // whose UTF-8 bytes hit cp1252's undefined slots (the JVM decodes
    // those to U+FFFD — the corruption itself is lossy) and the legit-
    // high-latin pieces whose corruption survives a re-encode; one hop
    // must restore the original exactly
    def lossless(t: String) =
      !corrupt(t).contains('�')
    val repairable = clean.filter(lossless).filter(t => t.exists(_ > 'ÿ') || "éïàãç".exists(t.contains(_)))
    assert(repairable.size > 100, s"fuzz corpus too small: ${repairable.size}")
    val repaired = repairable.map(t => (t, corrupt(t))).toDF("orig", "bad")
      .select(col("orig"), TextFunctions.fixMojibake(col("bad")).as("f"))
      .as[(String, String)].collect()
    repaired.foreach { case (orig, f) => assert(f == orig, s"not repaired to original") }
    // twice-corrupted text needs (and gets) exactly two passes — where
    // the SECOND hop is itself lossless (hop-1 output can contain chars
    // like Ï whose UTF-8 bytes land on cp1252's undefined slots)
    val twice = repairable.filter(t => lossless(corrupt(t))).take(50)
      .map(t => (t, corrupt(corrupt(t)))).toDF("orig", "bad")
      .select(col("orig"), TextFunctions.fixMojibake(col("bad"), passes = 2).as("f"))
      .as[(String, String)].collect()
    twice.foreach { case (orig, f) => assert(f == orig) }
  }

  test("script_profile counts code points per script class, callable from SQL") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // "ab Ж 日本 7 😀" — 2 latin, 1 cyrillic, 2 cjk, 1 digit, 4 spaces,
    // 1 other (the emoji is ONE code point: the loop must step by
    // Character.charCount, not by UTF-16 units)
    val got = spark.sql("SELECT script_profile('ab Ж 日本 7 😀') AS p")
      .select(col("p")).as[Seq[Long]].head()
    assert(got == Seq(2L, 1L, 0L, 0L, 0L, 0L, 2L, 0L, 0L, 1L, 4L, 1L))
    // SQL and Column forms agree
    val viaCol = Seq(Tuple1("ab Ж 日本 7 😀")).toDF("t")
      .select(graft.functions.ScriptProfileExpr(col("t")).as("p"))
      .as[Seq[Long]].head()
    assert(viaCol == got)
  }

  test("dominantScript picks the max writing-system slot, first on ties, none when absent") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ScriptProfileExpr
    import spark.implicits._
    val rows = Seq(
      (1L, "hello мир"),        // 5 latin vs 3 cyrillic → latin
      (2L, "привет hi"),        // 6 cyrillic vs 2 latin → cyrillic
      (3L, "αβ 日本語"),         // 2 greek vs 3 cjk → cjk
      (4L, "ab жи"),            // 2 vs 2 tie → first slot (latin)
      (5L, "123 !!! ,,,"),      // no script chars at all
      (6L, "한국어 테스트"))      // hangul
    val out = rows.toDF("id", "t")
      .select(col("id"),
        ScriptProfileExpr.dominantScript(ScriptProfileExpr(col("t"))).as("d"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "latin" && out(2L) == "cyrillic" && out(3L) == "cjk")
    assert(out(4L) == "latin")
    assert(out(5L) == "none")
    assert(out(6L) == "hangul")
  }

  test("every SQL function equals its Column function row for row, over a column") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.functions.{NfcNormalizeExpr, RollingHashExpr, ScriptProfileExpr, TextFunctions, VectorFunctions}
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def corrupt(t: String) = new String(t.getBytes("UTF-8"), cp1252)
    val vec = ArrayType(DoubleType)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("text", StringType),
      StructField("url", StringType), StructField("html", StringType),
      StructField("a", vec), StructField("b", vec)))
    val rows = Seq(
      Row(0, null, null, null, null, null),
      Row(1, "", "", "", Seq.empty[Double], Seq.empty[Double]),
      Row(2, "a b c d a b", "http://[2001:db8::1]:8080/p?utm_a=1&x=2",
        "<p>a &amp; b &lt;c&gt; &quot;q&quot; &#39;s&#39;</p><script>x<y;</script>",
        Seq(0.0, 0.0), Seq(1.0, 2.0)),
      Row(3, corrupt("café résumé"), "http://2001:db8::7/p#f",
        "<style>p{}</style><!-- c --><b>bold</b>   text", Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      Row(4, corrupt(corrupt("naïve São")), "https://WWW.Sub0.Site3.com:443/p/1?utm_source=a&id=2#frag",
        "plain", Seq(1.0, 2.0), Seq(2.0, 4.0)),
      Row(5, "café  Hello,   WORLD!! 42", "http://[2001:db8::1]/", "<i>x</i>&amp;amp;",
        Seq(1.0, 2.0), Seq(1.0)),
      Row(6, "ab Ж 日本 7 😀 NÃO", "http://1.2.3.4:80/path?x=1&", "&lt;script&gt;",
        Seq(3.0, 4.0), null))
    // an RDD-backed view: the projections run in whole-stage codegen on
    // the executors instead of being constant-folded or run as a local relation
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .createOrReplaceTempView("sql_parity_v")
    val (text, url, html, a, b) = (col("text"), col("url"), col("html"), col("a"), col("b"))
    val cases: Seq[(String, String, Column)] = Seq(
      ("rolling_hash", "rolling_hash(text)", RollingHashExpr(text)),
      ("word_shingles", "word_shingles(text, 2)", TextFunctions.wordShingles(text, 2)),
      ("dot_product", "dot_product(a, b)", VectorFunctions.dot(a, b)),
      ("cosine_sim", "cosine_sim(a, b)", VectorFunctions.cosineSim(a, b)),
      ("l2_norm", "l2_norm(a)", VectorFunctions.l2Norm(a)),
      ("ws_token_count", "ws_token_count(text)", TextFunctions.wsTokenCount(text)),
      ("bpeish_token_count", "bpeish_token_count(text)", TextFunctions.bpeishTokenCount(text)),
      ("normalize_text", "normalize_text(text)", TextFunctions.normalizeText(text)),
      ("url_host", "url_host(url)", TextFunctions.urlHost(url)),
      ("registrable_domain", "registrable_domain(url)", TextFunctions.registrableDomain(url)),
      ("normalize_url", "normalize_url(url)", TextFunctions.normalizeUrl(url)),
      ("html_to_text", "html_to_text(html)", TextFunctions.htmlToText(html)),
      ("nfc_normalize", "nfc_normalize(text)", NfcNormalizeExpr(text)),
      ("fix_mojibake", "fix_mojibake(text)", TextFunctions.fixMojibake(text)),
      ("script_profile", "script_profile(text)", ScriptProfileExpr(text)))
    assert(cases.map(_._1).toSet == GraftFunctions.all.map(_._1.funcName).toSet)
    val view = spark.table("sql_parity_v")
    cases.foreach { case (name, call, column) =>
      val viaSql = spark.sql(s"SELECT id, $call AS r FROM sql_parity_v")
      assert(viaSql.queryExecution.executedPlan
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]), name)
      val viaCol = view.select(col("id"), column.as("r"))
      val (got, want) = (viaSql.collect().toSeq.sortBy(_.getInt(0)), viaCol.collect().toSeq.sortBy(_.getInt(0)))
      assert(got.size == rows.size, name)
      assert(got == want, s"$name: SQL $got vs Column $want")
      assert(viaSql.schema == viaCol.schema, name)
    }
    // the cases exercise the guarded paths, not only nulls
    val fixed = spark.sql("SELECT fix_mojibake(text) FROM sql_parity_v WHERE id IN (3, 4) ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(fixed == Seq("café résumé", "naïve São"))
    assert(spark.sql("SELECT cosine_sim(a, b) FROM sql_parity_v WHERE id = 2").head().isNullAt(0))
  }

  test("the native expressions cast what they can and reject what they cannot") {
    import spark.implicits._
    // decimal and integer arrays are cast to array<double>
    assert(spark.sql("SELECT dot_product(array(1.0, 2.0), array(3.0, 4.0))").as[Double].head() == 11.0)
    assert(spark.sql("SELECT dot_product(array(1, 2), array(3, 4))").as[Double].head() == 11.0)
    assert(spark.sql("SELECT l2_norm(array(3, 4))").as[Double].head() == 5.0)
    assert(math.abs(spark.sql("SELECT cosine_sim(array(1, 2), array(2, 4))").as[Double].head() - 1.0) < 1e-12)
    // an integer is cast to its string
    val fp = "42".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(spark.sql("SELECT rolling_hash(42)").as[Long].head() == fp)
    assert(spark.sql("SELECT nfc_normalize(42)").as[String].head() == "42")
    assert(spark.sql("SELECT word_shingles(42, 1)").as[Seq[String]].head() == Seq("42"))
    assert(spark.sql("SELECT script_profile(42)").as[Seq[Long]].head()(9) == 2L)
    // nothing casts a map to a string or a struct to an array
    Seq("rolling_hash(map(1, 2))", "nfc_normalize(map(1, 2))", "word_shingles(map(1, 2), 2)",
      "script_profile(map(1, 2))", "dot_product(named_struct('x', 1.0D), array(1.0D))",
      "cosine_sim(array(1.0D), map(1, 2.0D))").foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
    }
  }

  test("word_shingles rejects n < 1 at once, from SQL and from a Column") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq("a b c").toDF("t")
    Seq(0, -3, -200000000).foreach { n =>
      val t0 = System.nanoTime()
      val viaSql = intercept[Exception](spark.sql(s"SELECT word_shingles('a b c', $n)").collect())
      assert(Iterator.iterate[Throwable](viaSql)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("n >= 1")), s"n = $n: $viaSql")
      val viaCol = intercept[IllegalArgumentException](
        df.select(graft.functions.TextFunctions.wordShingles(col("t"), n)).collect())
      assert(viaCol.getMessage.contains("n >= 1"))
      assert((System.nanoTime() - t0) / 1e9 < 1.0, s"n = $n took ${(System.nanoTime() - t0) / 1e9} s")
    }
  }
}
