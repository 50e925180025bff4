package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for the LLM-data-pipeline surface
 * (north-star extension per SURVEY.md §2.2 — absent from the reference,
 * which has no scalar function library at all,
 * /root/reference/src/lib.rs grep: no string ops).
 *
 * Everything is built from codegen'd built-ins so a 100 TB `documents`
 * scan stays in WholeStageCodegen: no UDFs, no driver round-trips.
 * Each helper has a line-for-line DuckDB-SQL equivalent used by the
 * correctness oracle (see graft.queries.LlmQueries).
 */
object TextFunctions {

  /** Whitespace tokens. Matches DuckDB `string_split(text, ' ')` on the
    * single-spaced synthetic corpus. */
  def wsTokens(text: Column): Column = split(text, " ")

  /** Whitespace token count via length arithmetic — engine-portable.
    * Literal `replace`, not regexp: no regex-engine cost on a hot scan. */
  def wsTokenCount(text: Column): Column =
    (length(text) - length(replace(text, lit(" "), lit(""))) + lit(1L)).cast("long")

  /** Word n-gram shingles (distinct), space-joined; empty array when the
    * document has fewer than n tokens. Backed by the codegen'd
    * [[ShinglesExpr]] — the HOF formulation re-evaluated `split` per
    * element reference (interpreted, O(tokens × shingles) per doc). */
  def wordShingles(text: Column, n: Int): Column = ShinglesExpr(text, n)

  /** Count of occurrences of a literal marker substring. Literal
    * `replace` (no regex engine, no quoting) — same arithmetic as the
    * DuckDB oracle's `replace`. */
  def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit("")))) /
      lit(marker.length)).cast("long")

  /** Fraction of word n-grams that are repeats (1 − distinct/total) — a
    * Gopher-style repetition signal. Pure per-row arithmetic over the
    * codegen'd shingle expression: zero shuffles at any scale. Null for
    * documents with fewer than n tokens (total = 0). */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val total = wsTokenCount(text) - (n - 1)
    (total - size(wordShingles(text, n)).cast("long")).cast("double") / total
  }

  /** Polynomial rolling-hash document fingerprint:
    * fold((acc * 31 + codepoint(ch)) mod 1e9+7) over the characters,
    * left-to-right — same fold as DuckDB `list_reduce`. Backed by the
    * codegen'd [[RollingHashExpr]] (one O(n) pass; the HOF formulation
    * was O(n²) per row). */
  def fingerprint(text: Column): Column = RollingHashExpr(text)

  /** Email-address pattern, dialect-neutral (identical semantics in Java
    * regex and RE2 — no \w, no backrefs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"

  /** Phone-like digit runs: 7+ digits allowing separators, with an
    * optional leading +. */
  val PhonePattern = "\\+?[0-9]([0-9()\\- ]{5,}[0-9]|[0-9]{5,})"

  /** SSN-style national-ID pattern (3-2-4 dashed digit groups). Runs
    * BEFORE the phone pass, which would otherwise eat the digits. */
  val IdPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** IPv4 literal (conservative: any dotted digit quad — a scrubber
    * over-redacts rather than leaks). */
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Credit-card CANDIDATE shapes: 4-4-4-4 with space/dash separators,
    * or a plain 13-19 digit run. A candidate is only redacted as a
    * card when it passes the Luhn checksum ([[luhnValid]]) — a random
    * 16-digit id is not a card. */
  val CcPattern =
    "\\b(?:[0-9]{4}[ -]){3}[0-9]{4}\\b|\\b[0-9]{13,19}\\b"

  /** Luhn checksum over a candidate span (separators stripped in
    * here): doubling every second digit from the right, folding >9
    * back by −9, total ≡ 0 (mod 10), length 13–19. Pure in-row integer
    * arithmetic over `sequence` — the identical fold is restatable in
    * DuckDB as list_sum ∘ list_transform ∘ generate_series. */
  def luhnValid(cand: Column): Column = {
    val ds = regexp_replace(cand, "[ -]", "")
    val n = length(ds)
    val total = aggregate(
      sequence(lit(1), n), lit(0),
      (acc, i) => {
        val d = ds.substr(i, lit(1)).cast("int")
        val dd = when((n - i) % 2 === 1, d * 2).otherwise(d)
        acc + when(dd > 9, dd - 9).otherwise(dd)
      })
    n >= 13 && n <= 19 && total % 10 === 0
  }

  /** The Luhn-valid card spans [[redactPii]] will redact. */
  def ccSpans(text: Column): Column =
    filter(regexp_extract_all(text, lit(CcPattern), lit(0)), luhnValid _)

  // one definition PER STAGE, composed by the scalar chain
  // ([[piiStages]]) and the staged projection ([[withPiiColumns]])
  // alike — the two surfaces cannot drift on a pattern or a fold
  private def emailStage(c: Column): Column =
    regexp_replace(c, EmailPattern, "<EMAIL>")
  private def idStage(c: Column): Column =
    regexp_replace(c, IdPattern, "<ID>")
  // fold the (rare, per-doc-bounded) validated card spans through a
  // \b-anchored replace of the quoted span — regex can't carry the
  // checksum, and a bare literal replace would clobber occurrences
  // of the same digits INSIDE a longer (non-candidate) run. The
  // span's alphabet is [0-9 -], so wrapping in \b needs no quoting.
  private def cardFold(cards: Column, c: Column): Column =
    aggregate(cards, c, (acc, x) =>
      regexp_replace(acc, concat(lit("\\b"), x, lit("\\b")), lit("<CC>")))
  private def ipStage(c: Column): Column =
    regexp_replace(c, Ipv4Pattern, "<IP>")
  private def phoneStage(c: Column): Column =
    regexp_replace(c, PhonePattern, "<PHONE>")
  private def piiTotal(text: Column, e1: Column, cards: Column,
                       e3: Column, e4: Column): Column =
    (regexp_count(text, lit(EmailPattern)) +
      regexp_count(e1, lit(IdPattern)) +
      size(cards) +
      regexp_count(e3, lit(Ipv4Pattern)) +
      regexp_count(e4, lit(PhonePattern)))
      .cast("long")

  /** The shared class-by-class staging both [[redactPii]] and
    * [[piiCount]] walk — ONE definition so the audit metric can never
    * drift from what was actually redacted. Returns
    * (e1, e2, cards, e3, e4): text after emails, after ids, the
    * validated card spans, after cards, after IPs. */
  private def piiStages(text: Column): (Column, Column, Column, Column, Column) = {
    val e1 = emailStage(text)
    val e2 = idStage(e1)
    val cc = ccSpans(e2)
    val e3 = cardFold(cc, e2)
    val e4 = ipStage(e3)
    (e1, e2, cc, e3, e4)
  }

  /** PII scrubbing for training corpora: replace emails, national-ID
    * patterns, Luhn-valid card numbers, IPv4 literals, and phone-like
    * digit runs with typed placeholder tags. Order matters — each
    * narrower class runs before the broad phone pass so a phone match
    * can't eat its digits; a Luhn-FAILING card-shaped run is not a
    * card (stays for the phone pass like any other digit run). A pure
    * per-row projection (regexp passes + one card-count-bounded fold),
    * zero shuffles at any scale. */
  def redactPii(text: Column): Column = {
    val (_, _, _, _, e4) = piiStages(text)
    phoneStage(e4)
  }

  /** How many PII spans [[redactPii]] would redact (audit metric),
    * staged class-by-class on the same redaction order — the SAME
    * [[piiStages]] chain, so the two cannot disagree. */
  def piiCount(text: Column): Column = {
    val (e1, _, cc, e3, e4) = piiStages(text)
    piiTotal(text, e1, cc, e3, e4)
  }

  /** Adds `n_pii`/`n_emails`/`n_cards`/`redactedCol` in STAGED
    * projections so each redaction stage evaluates ONCE per row and
    * every count reads a variable — the [[withUrlParts]] discipline
    * applied to the PII chain: selecting [[redactPii]], [[piiCount]],
    * and [[ccSpans]] as sibling columns re-runs the e1→e4 regex chain
    * per output (Catalyst subexpression elimination does not span
    * select-list items through HOF lambdas). Same outputs as the
    * scalar forms by construction (one [[piiStages]] definition),
    * spec-pinned equal. */
  def withPiiColumns(df: org.apache.spark.sql.DataFrame, textCol: String,
                     redactedCol: String = "pii_redacted"): org.apache.spark.sql.DataFrame = {
    // the staged projection appends fixed intermediate and output
    // names; a frame already carrying one would yield duplicate /
    // ambiguous columns downstream — fail loud at the boundary instead
    val reserved = Seq("__p1", "__p2", "__pcc", "__p3", "__p4",
      "n_pii", "n_emails", "n_cards", redactedCol)
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"withPiiColumns reserves columns ${reserved.mkString(", ")}; " +
        s"input already has: ${clash.mkString(", ")}")
    val keep = df.columns.map(col).toSeq
    df.select(keep :+ emailStage(col(textCol)).as("__p1"): _*)
      .select((keep :+ col("__p1")) :+ idStage(col("__p1")).as("__p2"): _*)
      .select((keep :+ col("__p1") :+ col("__p2")) :+
        ccSpans(col("__p2")).as("__pcc"): _*)
      .select((keep :+ col("__p1") :+ col("__p2") :+ col("__pcc")) :+
        cardFold(col("__pcc"), col("__p2")).as("__p3"): _*)
      .select((keep :+ col("__p1") :+ col("__p2") :+ col("__pcc") :+ col("__p3")) :+
        ipStage(col("__p3")).as("__p4"): _*)
      .select(keep ++ Seq(
        piiTotal(col(textCol), col("__p1"), col("__pcc"),
          col("__p3"), col("__p4")).as("n_pii"),
        regexp_count(col(textCol), lit(EmailPattern)).cast("long").as("n_emails"),
        size(col("__pcc")).cast("long").as("n_cards"),
        phoneStage(col("__p4")).as(redactedCol)): _*)
  }

  /** BPE-ish token count: runs of lowercase letters, runs of digits, or a
    * single non-alphanumeric non-space byte, over the lowercased text.
    * The pattern is deliberately dialect-neutral (no \s, no classes that
    * differ between Java regex and RE2). */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern)).cast("long")

  /** Canonical text form for dedup keys (the C4/RefinedWeb
    * normalize-before-exact-dedup step): lowercase, strip everything
    * outside [a-z0-9 ], collapse whitespace runs, trim. Two documents
    * differing only in case/punctuation/spacing — trivial crawl mutations
    * exact dedup misses — normalize to the same key. Dialect-neutral
    * character classes (no \s, no \w), so Java regex and RE2 agree; a
    * pure per-row projection, zero shuffles at any scale. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), "  +", " "))

  // --------------------------------------------------- mojibake repair

  /** The 27 printable code points windows-1252 places in 0x80–0x9F
    * (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ), paired
    * with those byte values as chars — `translate` between the two
    * turns a windows-1252 mis-decode into an ISO-8859-1 mis-decode,
    * which [[fixMojibake]] can reverse with the engine's ISO-8859-1
    * encoder. */
  private val Cp1252Specials =
    "\u20AC\u201A\u0192\u201E\u2026\u2020\u2021\u02C6\u2030" +
      "\u0160\u2039\u0152\u017D\u2018\u2019\u201C\u201D\u2022" +
      "\u2013\u2014\u02DC\u2122\u0161\u203A\u0153\u017E\u0178"
  private val Cp1252Controls =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089" +
      "\u008A\u008B\u008C\u008E\u0091\u0092\u0093\u0094\u0095" +
      "\u0096\u0097\u0098\u0099\u009A\u009B\u009C\u009E\u009F"

  /** One UTF-8 lead char followed by the right number of
    * continuation-range chars — the double-encoding signature ("Ã©"
    * for "é"): present in corrupted text, vanishingly rare in clean
    * prose (legit "NÃO" has Ã followed by ASCII, which does not
    * match). Evaluated AFTER the cp1252-specials translate, so € ' –
    * etc. sit at their byte values. */
  private val MojibakeSignature =
    "[\\u00C2-\\u00DF][\\u0080-\\u00BF]|[\\u00E0-\\u00EF][\\u0080-\\u00BF]{2}|" +
      "[\\u00F0-\\u00F4][\\u0080-\\u00BF]{3}"

  /** Every char maps to a single windows-1252 byte (after the specials
    * translate). */
  private val Cp1252Mappable = "^[\\u0000-\\u00FF]*$"

  /** Repair windows-1252-of-UTF-8 double encoding — the single most
    * common crawl corruption ("Ã©" where the page meant "é"): UTF-8
    * bytes were decoded as windows-1252 somewhere upstream and
    * re-encoded, which passes every UTF-8 validity check
    * ([[graft.sources.Warc.sniffCharset]] cannot catch it) and then
    * flows through every downstream text operator uncorrected. One
    * pass maps each char back to its windows-1252 byte (the specials
    * via `translate`, the rest via the ISO-8859-1 encoder — identical
    * on every other mappable char) and re-decodes the bytes as UTF-8.
    *
    * GUARDED: the pass applies only when (a) the double-encoding
    * signature is present, (b) every char is cp1252-mappable (after
    * the specials translate, all ≤ U+00FF), and (c) the re-decode
    * produces no U+FFFD replacement char — otherwise the input passes
    * through untouched, so clean text (including legit "São", "NÃO",
    * "price € 5") is never altered, and text MIXING mojibake with
    * unmappable chars is conservatively left alone rather than half
    * repaired. `passes` bounds repeated application (text re-corrupted
    * at each hop needs one pass per hop; the guard makes extra passes
    * no-ops). Pure per-row projection, zero shuffles at any scale —
    * sits between [[graft.sources.Warc.decodeBody]] and
    * [[htmlToText]]. */
  def fixMojibake(text: Column, passes: Int = 2): Column =
    (1 to passes).foldLeft(text)((t, _) => fixMojibakeOnce(t))

  private def fixMojibakeOnce(text: Column): Column = {
    val t = translate(text, Cp1252Specials, Cp1252Controls)
    val bytes = encode(t, "ISO-8859-1")
    // guard order matters: `encode` raises on unmappable chars under
    // Spark's strict coding-error action, so the mappability test
    // short-circuits before `bytes` is ever evaluated, and the strict
    // UTF-8 validity test runs before `decode` can see malformed bytes
    when(t.rlike(MojibakeSignature) && t.rlike(Cp1252Mappable) &&
      is_valid_utf8(bytes), decode(bytes, "UTF-8")).otherwise(text)
  }
  /** HTML-to-text extraction — the CommonCrawl step between WARC bodies
    * and every text operator in this library: drop script/style blocks
    * and comments wholesale (their content is code, not text), strip
    * the remaining tags to spaces, decode the five standard entities,
    * collapse whitespace. Dialect-neutral regexes: `(?s)` + non-greedy
    * spans instead of lookaround (RE2 has none), no \w/\s classes —
    * certified span-for-span cross-engine by l66's constructed-HTML
    * fixtures, same as the l51/l64 pattern. Entity decode LAST (a
    * `&lt;script&gt;` literal in text must not become a strippable
    * tag). Pure per-row projection, zero shuffles at any scale. A
    * production boilerplate pass (trafilatura-class DOM heuristics)
    * layers ON TOP of this; the regex chain is the scale-shaped
    * extraction core. */
  def htmlToText(html: Column): Column = stripAndDecode(removeHiddenBlocks(html))

  /** Drop script/style blocks and comments wholesale (their content is
    * code, not text). */
  private def removeHiddenBlocks(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** Strip remaining tags to spaces, decode the five standard entities
    * (last — a `&lt;script&gt;` literal must not become a strippable
    * tag), collapse whitespace, trim. */
  private def stripAndDecode(x: Column): Column = {
    val noTags = regexp_replace(x, "<[^>]*>", " ")
    val decoded = replace(replace(replace(replace(replace(noTags,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "  +", " "))
  }

  /** Block-level HTML tags — the boundaries [[mainContentBlocks]] cuts
    * at. Name anchored by `([ /][^>]*)?>` so `<pre>` never matches `p`.
    * Dialect-neutral (no lookaround — RE2 has none). */
  val BlockTagPattern: String =
    "(?i)</?(div|p|h[1-6]|li|ul|ol|table|tr|td|th|nav|header|footer|aside|" +
      "section|article|main|br|blockquote|body|html|head|title|form)([ /][^>]*)?>"

  /**
   * Block-level boilerplate classification — the jusText/trafilatura
   * heuristic family, pure per-row: cut the document into blocks at
   * block-level tag boundaries, extract each block's text, and score it
   * by LENGTH (`minChars`), LINK DENSITY (chars that came from inside
   * `<a>` spans; nav bars and menus are link-dense), and STOPWORD
   * density (real prose in the target language carries function words
   * at a steady rate — ≥ 1 marker per `tokensPerStop` tokens;
   * boilerplate like "Copyright 2024" does not). `stopMarkers` is the
   * per-language function-word list, space-delimited matching over the
   * padded lowercased text (the l9/l10 occurrence machinery).
   *
   * Returns `array<struct<t: string, n: int, lk: int, keep: boolean>>`
   * — per block: extracted text, its length, how many of its chars
   * came from anchor spans, and the keep verdict
   * `n ≥ minChars AND lk·100 ≤ n·maxLinkPct AND stops·tokensPerStop ≥ tokens`
   * (integer cross-multiplication — no float thresholds to disagree
   * across engines). [[mainContent]] joins the kept blocks.
   *
   * Scale shape: a pure per-row projection — the HOF lambdas run
   * interpreted (outside codegen) but touch only this row's blocks, so
   * the pass stays shuffle-free at any corpus size; the expensive
   * extraction chain runs ONCE per block (structs materialize `t`
   * before lengths/densities read it — the l64 staged-projection
   * lesson applied inside the row).
   */
  def mainContentBlocks(html: Column,
                        stopMarkers: Seq[String] = Seq("the", "a", "of", "and"),
                        minChars: Int = 40, maxLinkPct: Int = 34,
                        tokensPerStop: Int = 25): Column = {
    val blocks = split(regexp_replace(removeHiddenBlocks(html),
      BlockTagPattern, "\u0001"), "\u0001")
    // stage 1: per block, extract text once (and once with anchors cut)
    val extracted = transform(blocks, b => struct(
      stripAndDecode(b).as("t"),
      stripAndDecode(regexp_replace(b, "(?is)<a[^>]*>.*?</a>", " ")).as("ta")))
    // stage 2: lengths + densities read the materialized struct fields
    transform(extracted, s => {
      val t = s("t")
      val n = length(t)
      val lk = n - length(s("ta"))
      val padded = concat(lit(" "), lower(t), lit(" "))
      val stops = stopMarkers.map { m =>
        val mk = s" $m "
        (length(padded) - length(replace(padded, lit(mk), lit("")))) / lit(mk.length)
      }.reduce(_ + _)
      val toks = n - length(replace(t, lit(" "), lit(""))) + lit(1)
      struct(t.as("t"), n.as("n"), lk.as("lk"),
        (n >= minChars && lk * 100 <= n * maxLinkPct &&
          stops * tokensPerStop >= toks).as("keep"))
    })
  }

  /** Main-content text: [[mainContentBlocks]]' kept blocks joined with
    * a single space ("" when nothing survives). The drop-in upgrade
    * between [[htmlToText]] and the quality filters for crawl
    * pipelines that must shed nav/menu/footer boilerplate. */
  def mainContent(html: Column,
                  stopMarkers: Seq[String] = Seq("the", "a", "of", "and"),
                  minChars: Int = 40, maxLinkPct: Int = 34,
                  tokensPerStop: Int = 25): Column =
    array_join(
      transform(
        filter(mainContentBlocks(html, stopMarkers, minChars, maxLinkPct,
          tokensPerStop), s => s("keep")),
        s => s("t")),
      " ")

  /** C4-style LINE-quality filtering (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", JMLR 2020, §2.2 — the rule set every crawl pipeline
    * runs between boilerplate removal and the document-level gates):
    * a line survives iff it has at least `minWords` whitespace words,
    * ends in terminal punctuation (`. ! ? " '`), and does not mention
    * "javascript" (the enable-JS interstitial marker). Whitespace-only
    * lines are paragraph structure and always survive (the
    * [[graft.operators.Dedup.lineDedup]] convention — l84's sibling:
    * that op cuts REPEATED lines, this one cuts LOW-QUALITY lines;
    * the cascade wants both).
    *
    * Scale shape: a pure per-row projection (split → HOF filter →
    * rejoin), zero shuffles at any corpus size. */
  def lineQualityFilter(text: Column, minWords: Int = 5): Column =
    array_join(
      filter(split(text, "\n"), l =>
        trim(l) === "" || (
          size(filter(split(l, " "), w => w =!= "")) >= minWords &&
            rtrim(l).rlike("[.!?\"']$") &&
            !lower(l).contains("javascript"))),
      "\n")

  // ------------------------------------------------------------ URLs

  /** The authority segment of a URL (host[:port]), raw case. */
  private def urlAuthority(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** Lowercased hostname with any port stripped — the per-host group
    * key for crawl-frequency stats. IP-literal aware (crawl frontiers
    * contain them): a bracketed IPv6 authority keeps its `[...]` form
    * (the WHATWG host serialization) with the port outside the bracket
    * stripped; an unbracketed multi-colon authority is a bare IPv6
    * address — it CANNOT carry a port (URLs require brackets for
    * that), so the trailing `:digits` is address tail, not port, and
    * passes through whole. Pure per-row projection. */
  def urlHost(url: Column): Column = {
    // expression-input form: MINIMIZE references to `a` — Catalyst's
    // subexpression elimination skips `when` branches, so every
    // reference re-runs the authority regexp_extract. (The
    // attribute-input twin [[hostFromAuthority]] is free to branch
    // more; [[withUrlParts]] feeds it a materialized column.)
    val a = urlAuthority(url)
    lower(
      when(a.startsWith("["), regexp_extract(a, "^\\[[^\\]]*\\]", 0))
        .when(a.rlike(":.*:"), a)
        .otherwise(regexp_replace(a, ":[0-9]+$", "")))
  }

  /** [[urlHost]]'s branch logic over an ALREADY-EXTRACTED lowercase
    * authority. The split matters for performance: Catalyst's
    * subexpression elimination skips conditionally-evaluated branches,
    * so a single-expression form re-runs the authority `regexp_extract`
    * once per branch reference (measured 2× on the whole l64 chain
    * when the string-op variant pushed references to ~10). Feeding a
    * plain column (via [[withUrlParts]]'s staged projection) makes
    * every reference a variable read. The bare-IPv6 test is a
    * `translate` character count, not `rlike(":.*:")` — one pass, no
    * regex engine. */
  private[graft] def hostFromAuthority(a: Column): Column =
    when(a.startsWith("["), regexp_extract(a, "^\\[[^\\]]*\\]", 0))
      .when(multiColon(a), a)
      // port strip gated on the cheap contains test: most real
      // authorities carry no port, and the regex then never runs
      .when(a.contains(":"), regexp_replace(a, ":[0-9]+$", ""))
      .otherwise(a)

  /** ≥ 2 colons — the bare-IPv6 test, as one `translate` pass. */
  private def multiColon(a: Column): Column =
    length(a) - length(translate(a, ":", "")) >= 2

  /** Registrable-ish domain: the last two dot-labels of the host (the
    * public-suffix-list-free approximation every crawl pipeline starts
    * with — exact PSL handling is [[graft.operators.Domains
    * .registrableDomainPsl]], a broadcast join against a caller-supplied
    * suffix table). IP-literal hosts (bare IPv4, bracketed or bare
    * IPv6) have no registrable domain — the host ITSELF is the
    * politeness/capping key, so it is returned whole rather than a
    * last-two-octet fragment. */
  def registrableDomain(url: Column): Column = {
    // expression-input form — minimal references to the urlHost tree
    // (each would re-evaluate it; see [[urlHost]]'s note)
    val h = urlHost(url)
    when(h.rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$") ||
        h.startsWith("[") || h.contains(":"), h)
      .otherwise(regexp_extract(h, "([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$", 1))
  }

  /** [[registrableDomain]]'s branch logic over an already-computed
    * host column (see [[hostFromAuthority]] for why the split). The
    * IPv4 regex only runs for hosts that START with a digit (no
    * registered TLD does) — `when`/`&&` short-circuit per row, so the
    * common named-host path pays one substring test, not a regex. */
  private[graft] def domainFromHost(h: Column): Column =
    when(h.startsWith("[") || h.contains(":") ||
        (substring(h, 1, 1).between("0", "9") &&
          h.rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")), h)
      .otherwise(regexp_extract(h, "([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$", 1))

  /** Canonical URL for exact URL-level dedup (the crawl-frontier /
    * revisit-collapse normal form): lowercase scheme and host, strip a
    * leading `www.`, drop default ports (:80, :443), drop the fragment,
    * and remove `utm_*` tracking parameters (tidying any dangling
    * `?`/`&` they leave). Non-default ports, paths, and real query
    * parameters are preserved. All patterns are dialect-neutral (no \w,
    * no backrefs, no lookarounds) so Java regex and DuckDB's RE2 agree
    * span-for-span — certified by the l64 oracle, where both engines
    * normalize the same deterministically-constructed URLs. Pure
    * per-row projection, zero shuffles at any scale.
    *
    * The utm strip anchors on the preceding `?`/`&` delimiter so a
    * parameter whose NAME merely contains `utm_` (`?my_utm_x=1`) is
    * never touched; the delimiter is kept (literal replacement — no
    * capture groups, whose backreference syntax differs between Java
    * `$1` and RE2 `\1`) and the resulting `?&`/`&&` runs collapse in a
    * follow-up pass, so consecutive utm params still strip cleanly in
    * one non-overlapping scan. */
  def normalizeUrl(url: Column): Column = {
    // expression-input form — minimal references per subexpression
    // (see [[urlHost]]'s note); [[normalizeFromParts]] is the
    // attribute-input twin with the cheaper-per-op branchy body
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val a = lower(urlAuthority(url))
    val bracketPort = regexp_extract(a, "\\]:([0-9]+)$", 1)
    val host = when(a.startsWith("["),
        concat(regexp_extract(a, "^\\[[^\\]]*\\]", 0),
          when(bracketPort === "" || bracketPort === "80" || bracketPort === "443",
            lit("")).otherwise(concat(lit(":"), bracketPort))))
      .when(a.rlike(":.*:"), a)
      .otherwise(regexp_replace(
        regexp_replace(a, ":(80|443)$", ""), "^www\\.", ""))
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    val noUtm = regexp_replace(
      regexp_replace(rest, "\\?utm_[a-z]*=[^&#]*", "?"),
      "&utm_[a-z]*=[^&#]*", "&")
    val collapsed = regexp_replace(
      regexp_replace(noUtm, "\\?[?&]+", "?"), "&[?&]+", "&")
    val cleaned = when(rest.contains("utm_"), collapsed).otherwise(rest)
    concat(scheme, lit("://"), host, regexp_replace(cleaned, "[?&]+$", ""))
  }

  /** [[normalizeUrl]]'s logic over pre-extracted (scheme, lowercase
    * authority, path?query) parts — see [[hostFromAuthority]] for why
    * the split. Named hosts take pure string ops (endsWith / substr /
    * startsWith): the previous `:(80|443)$` + `^www\.` regex pair ran
    * on every row. */
  private[graft] def normalizeFromParts(scheme: Column, a: Column,
                                        rest: Column): Column = {
    // IP-literal-aware authority normalization: bracketed IPv6 keeps
    // its brackets and drops only a default port OUTSIDE the bracket;
    // a bare multi-colon IPv6 authority has no port to strip (and a
    // `:(80|443)$` strip would eat its address tail); names drop
    // default ports and a leading www. as before.
    val bracketPort = regexp_extract(a, "\\]:([0-9]+)$", 1)
    val noPort = when(a.endsWith(":80"), a.substr(lit(1), length(a) - 3))
      .when(a.endsWith(":443"), a.substr(lit(1), length(a) - 4))
      .otherwise(a)
    val named = when(noPort.startsWith("www."),
      noPort.substr(lit(5), length(noPort) - 4)).otherwise(noPort)
    val host = when(a.startsWith("["),
        concat(regexp_extract(a, "^\\[[^\\]]*\\]", 0),
          when(bracketPort === "" || bracketPort === "80" || bracketPort === "443",
            lit("")).otherwise(concat(lit(":"), bracketPort))))
      .when(multiColon(a), a)
      .otherwise(named)
    // the strip + run-collapse chain (4 regex scans) runs only when the
    // cheap substring test fires — most real URLs carry no utm params,
    // and the collapse exists solely to tidy what the strip leaves
    val noUtm = regexp_replace(
      regexp_replace(rest, "\\?utm_[a-z]*=[^&#]*", "?"),
      "&utm_[a-z]*=[^&#]*", "&")
    val collapsed = regexp_replace(
      regexp_replace(noUtm, "\\?[?&]+", "?"), "&[?&]+", "&")
    val cleaned = when(rest.contains("utm_"), collapsed).otherwise(rest)
    // trailing-junk trim gated the same way: only a stripped-or-odd URL
    // ends in ? or &
    val trimmed = when(cleaned.endsWith("?") || cleaned.endsWith("&"),
      regexp_replace(cleaned, "[?&]+$", "")).otherwise(cleaned)
    concat(scheme, lit("://"), host, trimmed)
  }

  /** Adds `host`/`domain`/`norm_url` columns in STAGED projections so
    * the three authority/scheme/rest extractions evaluate ONCE per row
    * and every downstream branch reference reads a variable. This is
    * the scale form for URL-heavy pipelines (l64/l68): the
    * single-Column functions above re-extract the authority at each
    * conditional reference because Catalyst's subexpression elimination
    * skips `when` branches — measured 2× on l64's chain. The alias
    * boundary survives optimization: CollapseProject never inlines a
    * non-cheap alias that is referenced more than once. */
  def withUrlParts(df: org.apache.spark.sql.DataFrame, urlCol: String,
                   hostCol: String = "host", domainCol: String = "domain",
                   normCol: String = "norm_url"): org.apache.spark.sql.DataFrame = {
    val url = col(urlCol)
    val keep = df.columns.map(col).toSeq
    df.select(keep ++ Seq(
        lower(urlAuthority(url)).as("__ua"),
        regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1).as("__ur"),
        lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)).as("__us")): _*)
      .withColumn("__uh", hostFromAuthority(col("__ua")))
      // coalesce(·, '') makes each output provably NON-NULLABLE (a null
      // or unparseable URL yields ''): when a downstream join/window
      // keys on one of these, InferFiltersFromConstraints' IsNotNull
      // folds to `true` instead of pushing a filter that re-inlines the
      // whole extraction chain below the projection — measured as the
      // largest single cost in l64's plan before this
      .select(keep ++ Seq(
        coalesce(col("__uh"), lit("")).as(hostCol),
        coalesce(domainFromHost(col("__uh")), lit("")).as(domainCol),
        coalesce(normalizeFromParts(col("__us"), col("__ua"), col("__ur")),
          lit("")).as(normCol)): _*)
  }
}
