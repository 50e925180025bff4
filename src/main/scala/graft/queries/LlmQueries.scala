package graft.queries

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.sources.{SevenZ, Tables, Tar, Warc, WarcFile, Zip}
import graft.functions.TextFunctions._
import graft.operators.{Cfb, Dedup, Multimodal, OfficeFixtures, OfficeZip, PdfText, Rtf,
  Similarity, VideoFixtures}
import graft.operators.Multimodal.MediaFile

/**
 * L-series declared queries: the LLM-training-data-pipeline surface
 * (north-star extension; entirely absent from the reference — SURVEY.md
 * §2.2). Deduplication, similarity search, text analysis, multimodal
 * plumbing, each with a DuckDB oracle.
 *
 * Float determinism: every dot product is a left-to-right fold
 * (Spark `aggregate` ≡ DuckDB `list_reduce`), every corpus-wide sum is
 * exact (integer / decimal), so results are bit-stable across engines.
 */
object LlmQueries {

  /** Percentile aggregate with a FLAGGED approximate twin: the exact
    * `percentile` (linear interpolation, oracle-portable) by default;
    * `spark.graft.percentile.approx=true` swaps in `approx_percentile`
    * (GK sketch, mergeable partial state, accuracy knob
    * `spark.graft.percentile.accuracy`, default 10000) — the 100 TB path
    * SCALE.md promises for l24/l39, where the exact form's per-group
    * sort outgrows memory. Not oracle-able across engines (different
    * algorithms), so its guarantee is the SketchAndSampleSpec error
    * bound vs the exact form; the declared queries run with the flag
    * OFF. */
  private def pctExpr(s: org.apache.spark.sql.SparkSession, valueCol: String,
                      p: Double, digits: Int): org.apache.spark.sql.Column =
    if (s.conf.get("spark.graft.percentile.approx", "false").toBoolean) {
      val acc = s.conf.get("spark.graft.percentile.accuracy", "10000").toLong
      round(expr(s"approx_percentile($valueCol, $p, $acc)").cast("double"), digits)
    } else round(expr(s"percentile($valueCol, $p)"), digits)

  // ---- codec legs: corpus rows → one constructed container each → decoder ----

  /** The oracle of every verbatim round trip: the corpus text, unchanged. */
  private val VerbatimSql = "SELECT doc_id, text FROM documents ORDER BY doc_id"

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"))

  /** Fan a codec leg's input out over every core: one round-robin
    * repartition to `defaultParallelism`, the policy of every single-leg
    * decoder query (and l87's block parse, l148's archive mix).
    *
    * Why: the corpus scan at these scale factors is one compact parquet
    * split, and a codec leg (construct a container per row, decode it) is
    * CPU-bound, so without the fan-out the whole corpus runs on ONE core
    * (profiled on l128: 4 tasks, task time ≈ wall; on l87: 11 stages × ~1
    * task, 2.4 s of single-thread CPU). The round-robin always shuffles
    * its input; it pays because the scan is one split. l136, whose R6 KDF
    * is a deliberately slow password hash (~ms/doc), measured 19.4 s
    * without it and 2.4 s with it at sf0.1.
    *
    * Where not: legs that are UNION branches of one job (l130's eleven
    * containers) already run their single-split tasks concurrently across
    * families, so the job costs max(leg), not sum(leg). Fanning out
    * l130's mix measured 10.3 s (15.3 s with a localCheckpoint on top)
    * against 4.5 s without (sf0.1 warm). At real scale the scan provides
    * per-leg partitions anyway. */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** One container per `(id, text)` row (exactly those two columns, in
    * that order), built inside one `mapPartitions`: the codec boundary,
    * binary never touches the driver. */
  private def containers[C <: Product : TypeTag](rows: DataFrame)(
      make: (Long, String) => C): Dataset[C] =
    rows.as(Encoders.product[(Long, String)])
      .mapPartitions(_.map { case (id, t) => make(id, t) })(Encoders.product[C])

  /** A verbatim round trip: every document's text → `make` → `extract`,
    * fanned out, against [[VerbatimSql]]. `latin1` re-reads the extracted
    * Latin-1 units as UTF-8 (the PDF families that carry UTF-8 bytes
    * through the byte-preserving Latin-1 wrap). */
  private def roundTrip(make: (Long, String) => MediaFile,
                        extract: Dataset[MediaFile] => Dataset[_],
                        latin1: Boolean = false): QueryDef =
    QueryDef((s, d) => {
      val text =
        if (latin1) decode(encode(col("text"), "ISO-8859-1"), "UTF-8").as("text")
        else col("text")
      extract(containers(fanOut(corpus(s, d)))(make)).toDF()
        .select(col("doc_id"), text)
        .orderBy("doc_id")
    }, Some(VerbatimSql))

  // ---- DuckDB SQL fragments mirroring the Scala operators ----

  /** Left-to-right fold sum over a DOUBLE[] expression (≡ Spark aggregate). */
  private def foldSum(products: String): String =
    s"list_reduce(list_prepend(0.0, $products), (x, y) -> x + y)"

  private def dotSql(a: String, b: String): String =
    foldSum(s"list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])")

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** doc_id → distinct word-n-gram shingles (≡ TextFunctions.wordShingles),
    * over an arbitrary source relation. */
  private def shinglesCteN(n: Int, src: String = "documents") = {
    val gram = (0 until n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src), " +
      s"sh AS (SELECT doc_id, UNNEST(list_distinct(CASE WHEN len(t) >= $n " +
      s"THEN list_transform(generate_series(1, len(t) - ${n - 1}), " +
      s"i -> $gram) " +
      "ELSE CAST([] AS VARCHAR[]) END)) AS s FROM toks)"
  }

  private def shinglesCte(src: String = "documents") = shinglesCteN(3, src)

  /** 32-bit SimHash signatures per doc (≡ Dedup.simhash and l6's
    * oracle): md5 token hashes vote per hex digit's high bit; produces
    * CTE `sg(doc_id, sig)`. */
  private def simhashSqlCte(src: String = "documents") = {
    val votes = (0 until 32).map(b =>
      s"SUM(CASE WHEN instr('89abcdef', substr(h, ${b + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val bits = (0 until 32).map(b =>
      s"CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM $src), " +
      "hs AS (SELECT doc_id, md5(t) AS h FROM tok), " +
      s"v AS (SELECT doc_id, $votes FROM hs GROUP BY doc_id), " +
      s"sg AS (SELECT doc_id, $bits AS sig FROM v)"
  }

  /** MinHash signatures (k=8) + 4 LSH bands
    * (≡ Dedup.minhashSignatures + lshBands defaults); CTEs `sig`, `bands`. */
  private def minhashBandsCte(src: String = "documents") = {
    val sigs = (0 until 8).map(j => s"min(md5('$j|' || s)) AS sig$j").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(sig${2 * b} || sig${2 * b + 1}) AS band_hash FROM sig")
      .mkString(" UNION ALL ")
    shinglesCte(src) +
      s", sig AS (SELECT doc_id, $sigs FROM sh GROUP BY doc_id)" +
      s", bands AS ($bandRows)"
  }

  /** [[minhashBandsCte]] + candidate pairs
    * (≡ Dedup.minhashCandidatePairs defaults). */
  private def minhashPairsCte(src: String = "documents") =
    minhashBandsCte(src) +
      ", pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
      "JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash " +
      "AND a.doc_id < b.doc_id)"

  /** Exact shingle Jaccard over the candidate pairs (≡ Dedup.ngramJaccard). */
  private val jaccardCte =
    "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter FROM pairs p " +
      "JOIN sh sa ON sa.doc_id = p.a_id JOIN sh sb ON sb.doc_id = p.b_id AND sb.s = sa.s " +
      "GROUP BY p.a_id, p.b_id), " +
      "jac AS (SELECT i.a_id, i.b_id, CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard " +
      "FROM inter i JOIN sizes na ON na.doc_id = i.a_id JOIN sizes nb ON nb.doc_id = i.b_id)"

  private val embCte =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** l126's TRAINED byte-BPE merge table, learned LOCALLY (plain JVM, no
    * SparkSession — the catalog is built before one exists) on the same
    * 8-sentence fixture corpus as l73/l111/l114, via the published
    * pre-tokenizer and the SAME `Bpe.trainMergesLocal` endgame the
    * distributed trainer collects into (ByteBpeSpec pins local ==
    * distributed; l114 golden-pins the algorithm against the
    * independent `scripts/ref_bytebpe.py`).
    *
    * The guards below are the PRECONDITIONS of l126's replace-unroll
    * oracle (see the query comment): with (1) all merge result strings
    * distinct and (2) every multi-char constituent equal to the result
    * of an EARLIER merge, applying merges one rank at a time to
    * exhaustion is EXACTLY the lowest-rank-first encode loop — a merge
    * at rank q can only create pairs involving its (unique) new symbol,
    * and every table pair involving that symbol was learned later than
    * q, so no pair of rank <= q ever re-forms once rank q is done. A
    * future corpus change that breaks either property fails loudly here
    * instead of silently diverging from the oracle. */
  /** l139's corpus-trained merge table, recorded by the query run for
    * the dump-time oracle builder (Verify writes oracle_sql.json after
    * all queries execute, so the thunk observes what training learned
    * on exactly the sfDir under test). */
  private[graft] val l139TrainedMerges =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, String)]](null)

  private[graft] lazy val byteBpeTrainCorpus: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog by the river",
    "pack my box with five dozen liquor jugs for the long trip",
    "a stitch in time saves nine when the cloth begins to fray",
    "all that glitters is not gold said the old miner at dawn",
    "every good boy deserves fruit after the long practice session",
    "the rain in spain falls mainly on the wide open plain",
    "still waters run deep where the old stone bridge crosses over",
    "many hands make light work when the harvest moon rises early")

  private[graft] lazy val l126Merges: Seq[(String, String)] = {
    val p = java.util.regex.Pattern.compile(graft.operators.ByteBpe.PreTokenPattern)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    byteBpeTrainCorpus.foreach { t =>
      val m = p.matcher(t)
      while (m.find()) counts.update(m.group, counts.getOrElse(m.group, 0L) + 1L)
    }
    val vocab = counts.toSeq.map { case (t, c) =>
      (graft.operators.ByteBpe.toByteUnits(t).map(_.toString).toArray, c) }
    val ms = graft.operators.Bpe.trainMergesLocal(vocab, 40).map(m => (m._1, m._2))
    assertByteBpePreconditions(ms, "l126")
    ms
  }

  /** The replace-unroll preconditions (see [[byteBpeTrainCorpus]]'s
    * doc for the proof they make the unroll exact), asserted on EVERY
    * merge table an unroll oracle prices with — l126's fixture-trained
    * table and l139's corpus-trained one. A corpus whose training run
    * breaks either property fails LOUDLY instead of silently diverging
    * from the oracle. */
  private[graft] def assertByteBpePreconditions(ms: Seq[(String, String)],
                                                tag: String): Unit = {
    val results = ms.map { case (a, b) => a + b }
    require(results.distinct.size == results.size,
      s"$tag oracle precondition broken: duplicate merge result strings")
    val created = scala.collection.mutable.Set.empty[String]
    ms.foreach { case (a, b) =>
      Seq(a, b).foreach(s => require(s.length == 1 || created.contains(s),
        s"$tag oracle precondition broken: constituent '$s' not created earlier"))
      created += (a + b)
    }
  }

  /** The replace-unroll oracle: each pre-token renders as a symbol
    * string with every symbol wrapped in a chr(1) pair (both
    * boundaries asserted — see [[byteBpeUnrollSql]]'s doc for the
    * prefix hazard the one-sided scheme had), the merge list unrolls
    * as one global left-to-right `replace` per rank — exact under the
    * [[l126Merges]] preconditions — and the symbol count is half the
    * separator count. Pre-tokens are derived relationally: the
    * normalized text is single-space-joined [A-Za-z0-9]+ words, on
    * which the published pattern provably reduces to "letter runs /
    * digit runs, first run of every non-initial word absorbing the one
    * leading space" (no contractions, no punctuation, no multi-space
    * runs survive normalization — so the lookahead branch RE2 lacks can
    * never fire). Space maps to 'Ġ' (all other bytes are printable
    * ASCII = identity under the GPT-2 byte table). */
  private def l126OracleSql: String = byteBpeUnrollSql(l126Merges)

  /** The replace-unroll pricing oracle over an arbitrary merge table
    * satisfying [[assertByteBpePreconditions]] — shared by l126
    * (fixture-trained) and l139 (corpus-trained, built at dump time
    * from what the run learned).
    *
    * Symbol encoding: every symbol is wrapped in its OWN separator
    * pair (`\x01 sym \x01`, two separators between adjacent symbols),
    * so a pair's replace pattern asserts BOTH symbol boundaries. The
    * original separator-BEFORE-only scheme asserted just the left
    * boundary, and a corpus-trained table exposed the hazard l126's
    * fixture table never hit: with merges (l,u) at rank 7 and (a,l)
    * at rank 38, the rank-38 pattern `\x01a\x01l` matched the PREFIX
    * of the already-merged symbol "lu" in "value" → the unroll
    * fabricated "alu" where the real encoder holds (a, lu). With the
    * pair-wrap, consecutive same-pair matches still chain (each match
    * consumes only its own symbols' delimiters) and the symbol count
    * is separators ÷ 2. */
  private def byteBpeUnrollSql(merges: Seq[(String, String)]): String = {
    def w(sym: String): String = "chr(1) || '" + sym.replace("'", "''") + "' || chr(1)"
    val chain = merges.foldLeft(
      "array_to_string(list_transform(regexp_extract_all(tok, '.'), " +
        "c -> chr(1) || c || chr(1)), '')") {
      case (acc, (a, b)) =>
        s"replace($acc, ${w(a)} || ${w(b)}, ${w(a + b)})"
    }
    "WITH ws AS (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS w FROM documents), " +
      "wordt AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w)+1)) AS ord FROM ws), " +
      "runs AS (SELECT doc_id, ord, regexp_extract_all(word, '[A-Za-z]+|[0-9]+') AS rs FROM wordt), " +
      "toks AS (SELECT doc_id, ord, unnest(rs) AS run, unnest(range(1, len(rs)+1)) AS rord FROM runs), " +
      "pt AS (SELECT doc_id, CASE WHEN ord > 1 AND rord = 1 THEN 'Ġ' || run ELSE run END AS tok FROM toks), " +
      s"enc AS (SELECT doc_id, $chain AS s FROM pt), " +
      "cnt AS (SELECT doc_id, SUM((length(s) - length(replace(s, chr(1), ''))) / 2) AS n FROM enc GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_tokens " +
      "FROM documents d LEFT JOIN cnt USING (doc_id) ORDER BY doc_id"
  }

  /** DuckDB mirror of TextFunctions.htmlToText over SQL expression `e`
    * (shared by l66 and the l68 cascade). */
  private def htmlToTextSql(e: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(" +
      "regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(" + e + ", " +
      "'(?s)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?s)<style[^>]*>.*?</style>', ' ', 'g'), " +
      "'(?s)<!--.*?-->', ' ', 'g'), " +
      "'<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&amp;', '&'), " +
      "'  +', ' ', 'g'))"

  /** DuckDB mirror of TextFunctions' private stripAndDecode (the
    * htmlToText tail: strip tags → decode entities → collapse), used by
    * the l76 per-block chain. */
  private def stripDecodeSql(e: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(" +
      s"regexp_replace($e, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&amp;', '&'), " +
      "'  +', ' ', 'g'))"

  /** DuckDB mirror of TextFunctions.mainContentBlocks/mainContent over
    * relation `src`(doc_id, html) at default thresholds: emits CTEs
    * `mcx`…`mck` (per-block text + keep verdicts) and `mc`(doc_id,
    * main) — the kept blocks joined in document order. Shared by l76
    * and the l68 cascade. */
  private def mainContentCtes(src: String): String = {
    val stops = Seq(" the ", " a ", " of ", " and ").map(mk =>
      s"(length(p) - length(replace(p, '$mk', ''))) / ${mk.length}").mkString(" + ")
    "mcx AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html, " +
      "'(?s)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?s)<style[^>]*>.*?</style>', ' ', 'g'), " +
      s"'(?s)<!--.*?-->', ' ', 'g') AS x FROM $src), " +
      "mcb AS (SELECT doc_id, string_split(regexp_replace(x, " +
      s"'${graft.functions.TextFunctions.BlockTagPattern}', chr(1), 'g'), chr(1)) AS bs FROM mcx), " +
      "mcu AS (SELECT doc_id, UNNEST(bs) AS blk, " +
      "UNNEST(generate_series(1, len(bs))) AS ord FROM mcb), " +
      "mcm AS (SELECT doc_id, ord, " + stripDecodeSql("blk") + " AS t, " +
      stripDecodeSql("regexp_replace(blk, '(?is)<a[^>]*>.*?</a>', ' ', 'g')") +
      " AS ta FROM mcu), " +
      "mcc AS (SELECT doc_id, ord, t, ' ' || lower(t) || ' ' AS p, length(t) AS n, " +
      "length(t) - length(ta) AS lk, " +
      "length(t) - length(replace(t, ' ', '')) + 1 AS toks FROM mcm), " +
      s"mck AS (SELECT doc_id, ord, t, (n >= 40 AND lk * 100 <= n * 34 AND ($stops) * 25 >= toks) AS keep FROM mcc), " +
      "mc AS (SELECT doc_id, COALESCE(string_agg(t, ' ' ORDER BY ord) " +
      "FILTER (WHERE keep), '') AS main FROM mck GROUP BY doc_id)"
  }

  /** l130's HTML chrome around each document's text — every removal
    * class htmlToText must strip (style, comment, script, tags), NO
    * kept-text chrome (no <title>), and no single quotes, so the SAME
    * literal embeds in the DuckDB oracle. Shared verbatim by the Spark
    * construction and the oracle SQL. */
  private val MixedChromePre =
    "<html><head><style>body{margin:0}</style></head>" +
      "<body><!-- nav chrome --><p>"
  private val MixedChromePost = "</p><script>track();</script></body></html>"

  /** DuckDB mirror of TextFunctions.normalizeText over SQL expr `e`. */
  private def normalizeTextSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))"

  // Language-ID marker stopwords (scored over ' '||lower(text)||' ').
  private val langMarkers = Seq("en" -> " the ", "de" -> " der ", "fr" -> " le ", "es" -> " el ")

  /** l88 fixture rows (doc_id, input, expected): inputs built by
    * MECHANICALLY corrupting clean strings (UTF-8 bytes decoded as
    * windows-1252 — the JVM charset machinery, ground truth independent
    * of the operator under test); expected = the clean original for
    * repair cases, the input itself where the guard must hold fire. */
  private lazy val mojibakeCases: Seq[(Long, String, String)] = {
    def corrupt(t: String) = new String(t.getBytes("UTF-8"),
      java.nio.charset.Charset.forName("windows-1252"))
    val latin = "café résumé naïve – obviously"
    val curly = "curly ‘quotes’ cost €9 — so…"
    // NB: bytes must avoid cp1252's UNDEFINED slots (0x81 0x8D 0x8F
    // 0x90 0x9D — e.g. の is E3 81 AE): the JVM decodes those to
    // U+FFFD, i.e. the corruption itself is lossy and unrepairable
    // (the guard then correctly holds fire — see the spec)
    val cjk = "日本語テスト"
    val plain = "plain ascii stays exactly"
    val legit = "São Paulo é ótimo, NÃO?"
    val euro = "price € 5 – now"
    val mixed = corrupt("café au lait") + " → unmappable arrow"
    Seq(
      (1L, corrupt(latin), latin),           // one hop -> restored
      (2L, corrupt(curly), curly),           // cp1252 specials path
      (3L, corrupt(corrupt(cjk)), cjk),      // two hops -> two passes
      (4L, plain, plain),                    // ASCII untouched
      (5L, legit, legit),                    // legit accents untouched
      (6L, euro, euro),                      // legit € / – untouched
      (7L, mixed, mixed))                    // mixed: guard holds fire
  }

  val defs: Map[String, QueryDef] = Map(

    // L1 — exact dedup profile: content-hash group with multiplicity +
    // kept (min) id. One hash-partitioned agg with map-side combine.
    "l1_exact_dedup" -> QueryDef(
      (s, d) => Dedup.exactProfile(Tables.documents(s, d), "text", "doc_id")
        .orderBy("h"),
      Some("SELECT md5(text) AS h, COUNT(*) AS c, MIN(doc_id) AS keep " +
        "FROM documents GROUP BY md5(text) ORDER BY h")),

    // L2 — whitespace token counting (text analysis).
    "l2_token_stats" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("n"),
          wsTokenCount(col("text")).as("n_tokens_ws"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(length(text) AS BIGINT) AS n, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_ws " +
        "FROM documents ORDER BY doc_id")),

    // L3 — brute-force cosine top-10 vs. vector 0 (exact ANN baseline;
    // broadcast query, no corpus shuffle).
    "l3_cosine_topk" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
            "embedding", "vec_id", 10)
          .select(col("neighbor_id").as("vec_id"), round(col("sim"), 6).as("sim"),
            col("rank").as("rnk"))
          .orderBy("rnk")
      },
      Some(s"WITH $embCte, q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
        s"s AS (SELECT e.vec_id, ${cosSql("qv", "v")} AS sim FROM e, q WHERE e.vec_id <> 0), " +
        "r AS (SELECT vec_id, sim, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk FROM s) " +
        "SELECT vec_id, ROUND(sim, 6) AS sim, rnk FROM r WHERE rnk <= 10 ORDER BY rnk")),

    // L4 — MinHash + LSH candidate pairs (k=8 signatures, 4 bands of 2).
    "l4_minhash_lsh" -> QueryDef(
      (s, d) => Dedup.minhashCandidatePairs(Tables.documents(s, d), "text", "doc_id")
        .orderBy("a_id", "b_id"),
      Some(s"WITH ${minhashPairsCte()} SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id")),

    // L5 — exact n-gram Jaccard verify over the LSH candidates (≥ 0.5).
    "l5_ngram_jaccard" -> QueryDef(
      (s, d) => Dedup.ngramJaccard(Tables.documents(s, d), "text", "doc_id")
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a_id", "b_id"),
      Some(s"WITH ${minhashPairsCte()}, " +
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter FROM pairs p " +
        "JOIN sh sa ON sa.doc_id = p.a_id JOIN sh sb ON sb.doc_id = p.b_id AND sb.s = sa.s " +
        "GROUP BY p.a_id, p.b_id) " +
        "SELECT i.a_id, i.b_id, ROUND(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard " +
        "FROM inter i JOIN sizes na ON na.doc_id = i.a_id JOIN sizes nb ON nb.doc_id = i.b_id " +
        "WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5 " +
        "ORDER BY a_id, b_id")),

    // L6 — 32-bit SimHash signature per document.
    "l6_simhash" -> QueryDef(
      (s, d) => Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some {
        val votes = (0 until 32).map(b =>
          s"SUM(CASE WHEN instr('89abcdef', substr(h, ${b + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS v$b")
          .mkString(", ")
        val bits = (0 until 32).map(b =>
          s"CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
          .mkString(" + ")
        "WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
          "hs AS (SELECT doc_id, md5(t) AS h FROM tok), " +
          s"v AS (SELECT doc_id, $votes FROM hs GROUP BY doc_id) " +
          s"SELECT doc_id, $bits AS simhash FROM v ORDER BY doc_id"
      }),

    // L7 — embedding near-dup pairs (label-blocked, cosine > 0.4; the
    // synthetic corpus plants no >0.9 vector dups, so the threshold sits
    // where the pipeline produces verifiable output).
    "l7_embed_neardup" -> QueryDef(
      (s, d) => Dedup.embeddingNearDups(Tables.embeddings(s, d),
          "embedding", "vec_id", "label", 0.4)
        .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
        .orderBy("a_id", "b_id"),
      Some(s"WITH $embCte, " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.v AS va, b.v AS vb " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id), " +
        s"s AS (SELECT a_id, b_id, ${cosSql("va", "vb")} AS sim FROM p) " +
        "SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM s WHERE sim > 0.4 " +
        "ORDER BY a_id, b_id")),

    // L18 — embedding near-dup pairs, random-hyperplane LSH-blocked (the
    // 100 TB form of L7: the block key comes from the vectors themselves,
    // not a data column). 8 planes × 4 tables keeps the candidate set at
    // ~2% of all pairs on this corpus; threshold 0.35 sits where the
    // synthetic vectors (max cos ≈ 0.47) yield verifiable output.
    "l18_embed_neardup_lsh" -> QueryDef(
      (s, d) => Dedup.embeddingNearDupsRhp(Tables.embeddings(s, d),
          "embedding", "vec_id", 64, 0.35)
        .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
        .orderBy("a_id", "b_id"),
      Some {
        def bktSql(t: Int): String = (0 until 8).map { j =>
          val arr = Dedup.rhpSigns(t, j, 64)
            .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"(CASE WHEN ${dotSql("v", s"CAST($arr AS DOUBLE[])")} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        val bkts = (0 until 4).map(t =>
          s"SELECT vec_id, ${bktSql(t)} AS bkt, $t AS tbl FROM e").mkString(" UNION ALL ")
        s"WITH $embCte, bk AS ($bkts), " +
          "p AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id FROM bk a " +
          "JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id), " +
          "pv AS (SELECT a_id, b_id, ea.v AS va, eb.v AS vb FROM p " +
          "JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id), " +
          s"s AS (SELECT a_id, b_id, ${cosSql("va", "vb")} AS sim FROM pv) " +
          "SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM s WHERE sim > 0.35 " +
          "ORDER BY a_id, b_id"
      }),

    // L35 — approximate kNN graph: every vector's top-3 cosine
    // neighbors among its random-hyperplane LSH candidates — the
    // all-pairs precursor to SemDedup-style semantic dedup and graph
    // clustering. Candidates symmetrize so each edge ranks from both
    // endpoints; the rank window runs per node over its (bucket-bounded)
    // candidates only. 4 planes × 16 tables, NOT l18's 8×4: a kNN graph
    // needs moderately-similar neighbors, not just near-duplicates, and
    // this corpus is isotropic (max cos ≈ 0.47) — sign-LSH's worst case.
    // Measured on it: 8×4 = 0.07 recall @ 1.8% of pairs; 4×16 = 0.91
    // recall @ 1/16-ish of pairs (OperatorSpec pins the floor). Clustered
    // real-world embeddings sit far above this floor at the same cost.
    "l35_knn_graph" -> QueryDef(
      (s, d) => Similarity.knnGraphRhp(Tables.embeddings(s, d),
          "embedding", "vec_id", 64, 3, nPlanes = 4, nTables = 16)
        .select(col("src"), col("nbr"), round(col("sim"), 6).as("sim"), col("rnk"))
        .orderBy("src", "rnk"),
      Some {
        def bktSql(t: Int): String = (0 until 4).map { j =>
          val arr = Dedup.rhpSigns(t, j, 64)
            .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"(CASE WHEN ${dotSql("v", s"CAST($arr AS DOUBLE[])")} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        val bkts = (0 until 16).map(t =>
          s"SELECT vec_id, ${bktSql(t)} AS bkt, $t AS tbl FROM e").mkString(" UNION ALL ")
        s"WITH $embCte, bk AS ($bkts), " +
          "p AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id FROM bk a " +
          "JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id), " +
          "sym AS (SELECT a_id AS src, b_id AS nbr FROM p " +
          "UNION ALL SELECT b_id, a_id FROM p), " +
          "pv AS (SELECT src, nbr, ea.v AS va, eb.v AS vb FROM sym " +
          "JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = nbr), " +
          s"sc AS (SELECT src, nbr, ${cosSql("va", "vb")} AS sim FROM pv), " +
          "r AS (SELECT src, nbr, sim, CAST(ROW_NUMBER() OVER " +
          "(PARTITION BY src ORDER BY sim DESC, nbr) AS BIGINT) AS rnk FROM sc) " +
          "SELECT src, nbr, ROUND(sim, 6) AS sim, rnk FROM r WHERE rnk <= 3 " +
          "ORDER BY src, rnk"
      }),

    // L36 — SemDedup (Abbas et al. 2023): semantic near-dup removal —
    // kNN-graph edges above cosine 0.35 (l35's blocking), connected
    // components (l23's machinery), keep the min-id representative per
    // component. The oracle reuses l35's CTE chain and l23's recursive
    // transitive closure.
    "l36_semantic_dedup" -> QueryDef(
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d),
          "embedding", "vec_id", 64, 0.35)
        .orderBy("vec_id"),
      Some {
        def bktSql(t: Int): String = (0 until 4).map { j =>
          val arr = Dedup.rhpSigns(t, j, 64)
            .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"(CASE WHEN ${dotSql("v", s"CAST($arr AS DOUBLE[])")} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        val bkts = (0 until 16).map(t =>
          s"SELECT vec_id, ${bktSql(t)} AS bkt, $t AS tbl FROM e").mkString(" UNION ALL ")
        s"WITH RECURSIVE $embCte, bk AS ($bkts), " +
          "p AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id FROM bk a " +
          "JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id), " +
          "sym AS (SELECT a_id AS src, b_id AS nbr FROM p " +
          "UNION ALL SELECT b_id, a_id FROM p), " +
          "pv AS (SELECT src, nbr, ea.v AS va, eb.v AS vb FROM sym " +
          "JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = nbr), " +
          s"sc AS (SELECT src, nbr, ${cosSql("va", "vb")} AS sim FROM pv), " +
          "r AS (SELECT src, nbr, sim, ROW_NUMBER() OVER " +
          "(PARTITION BY src ORDER BY sim DESC, nbr) AS rnk FROM sc), " +
          "ed AS (SELECT DISTINCT LEAST(src, nbr) AS ea2, GREATEST(src, nbr) AS eb2 " +
          "FROM r WHERE rnk <= 3 AND sim > 0.35), " +
          "edges AS (SELECT ea2 AS src, eb2 AS dst FROM ed UNION ALL SELECT eb2, ea2 FROM ed), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, lab) AS (SELECT id, id FROM nodes " +
          "UNION SELECT g.dst, rc.lab FROM reach rc JOIN edges g ON g.src = rc.id), " +
          "cl AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id) " +
          "SELECT v.vec_id, COALESCE(cl.cluster, v.vec_id) AS cluster, " +
          "(v.vec_id = COALESCE(cl.cluster, v.vec_id)) AS kept " +
          "FROM e v LEFT JOIN cl ON cl.id = v.vec_id ORDER BY v.vec_id"
      }),

    // L8 — IVF ANN: centroids = vectors 0..7, queries = vectors 0..4,
    // search restricted to the query's cell (the 1/nCells scale path).
    "l8_ann_ivf" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
            e.filter(col("vec_id") < 8), "embedding", "vec_id", "vec_id", 5)
          .select(col("query_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"),
            col("rank").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(s"WITH $embCte, " +
        "cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8), " +
        s"sims AS (SELECT e.vec_id, cell, ${cosSql("v", "cv")} AS csim FROM e, cents), " +
        "assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM sims) WHERE rn = 1), " +
        "qa AS (SELECT a.vec_id AS query_id, a.cell, e.v AS qv FROM assign a " +
        "JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id < 5), " +
        "ca AS (SELECT a.vec_id AS neighbor_id, a.cell, e.v AS cv FROM assign a " +
        "JOIN e ON e.vec_id = a.vec_id), " +
        s"s AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS sim " +
        "FROM qa JOIN ca USING (cell) WHERE query_id <> neighbor_id) " +
        "SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rnk FROM " +
        "(SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s) " +
        "WHERE rnk <= 5 ORDER BY query_id, rnk")),

    // L9 — language ID: marker-stopword scoring with a fixed tie-break
    // preference (en > de > fr > es). The cheap first-pass heuristic;
    // the production-grade model is l75 (hashedMulticlassScore).
    "l9_lang_id" -> QueryDef(
      (s, d) => {
        val p = concat(lit(" "), lower(col("text")), lit(" "))
        def score(m: String) =
          (length(p) - length(replace(p, lit(m), lit("")))) / lit(m.length)
        val Seq(en, de, fr, es) = langMarkers.map { case (_, m) => score(m) }
        val pred = when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr")
          .otherwise("es")
        Tables.documents(s, d)
          .select(col("doc_id"), pred.as("pred_lang"))
          .orderBy("doc_id")
      },
      Some {
        def score(m: String) =
          s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
        val Seq(en, de, fr, es) = langMarkers.map { case (_, m) => score(m) }
        "WITH pad AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents) " +
          s"SELECT doc_id, CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en' " +
          s"WHEN $de >= $fr AND $de >= $es THEN 'de' " +
          s"WHEN $fr >= $es THEN 'fr' ELSE 'es' END AS pred_lang " +
          "FROM pad ORDER BY doc_id"
      }),

    // L10 — quality scoring: length / whitespace / punctuation /
    // stopword-density heuristics.
    "l10_quality" -> QueryDef(
      (s, d) => {
        val t = col("text")
        val n = length(t)
        val spaces = n - length(replace(t, lit(" "), lit("")))
        val wsRatio = spaces / n
        val punct = (n - length(regexp_replace(t, "[.,!?;:]", ""))).cast("long")
        val p = concat(lit(" "), lower(t), lit(" "))
        def occ(m: String) =
          (length(p) - length(replace(p, lit(m), lit("")))) / lit(m.length)
        val stops = occ(" the ") + occ(" a ") + occ(" of ") + occ(" and ")
        val nTok = spaces + lit(1)
        val quality = when(n.between(100, 1000) && wsRatio > 0.05, "ok").otherwise("low")
        Tables.documents(s, d)
          .select(col("doc_id"), n.cast("long").as("n_chars_c"),
            round(wsRatio, 6).as("ws_ratio"), punct.as("punct_cnt"),
            round(stops / nTok, 6).as("stop_ratio"), quality.as("quality"))
          .orderBy("doc_id")
      },
      Some {
        def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
        val stops = Seq(" the ", " a ", " of ", " and ").map(occ).mkString(" + ")
        "WITH base AS (SELECT doc_id, text, length(text) AS n, " +
          "length(text) - length(replace(text, ' ', '')) AS spaces, " +
          "' ' || lower(text) || ' ' AS p FROM documents) " +
          "SELECT doc_id, CAST(n AS BIGINT) AS n_chars_c, " +
          "ROUND(spaces / n, 6) AS ws_ratio, " +
          "CAST(n - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_cnt, " +
          s"ROUND(($stops) / (spaces + 1), 6) AS stop_ratio, " +
          "CASE WHEN n BETWEEN 100 AND 1000 AND spaces / n > 0.05 THEN 'ok' ELSE 'low' END AS quality " +
          "FROM base ORDER BY doc_id"
      }),

    // L11 — rolling-hash document fingerprint (order-stable fold).
    "l11_fingerprint" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(1, length(text)), " +
        "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS fp " +
        "FROM documents ORDER BY doc_id")),

    // L12 — BPE-ish regex token count.
    "l12_bpeish_tokens" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(regexp_extract_all(lower(text), " +
        s"'$BpePattern')) AS BIGINT) AS n_bpeish FROM documents ORDER BY doc_id")),

    // L13 — multimodal metadata extraction (typed binary pipeline with
    // the stub decoder; see graft.operators.Multimodal).
    "l13_multimodal_meta" -> QueryDef(
      (s, d) => Multimodal.extractMeta(
          Multimodal.filesFromDocuments(s, Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, " +
        "CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width, " +
        "CAST(64 + (octet_length(encode(text)) * 31) % 512 AS BIGINT) AS height, " +
        "CAST(octet_length(encode(text)) // 100 + 1 AS BIGINT) AS n_frames, " +
        "CAST((octet_length(encode(text)) // 100 + 1 + 9) // 10 AS BIGINT) AS n_sampled " +
        "FROM documents ORDER BY doc_id")),

    // L14 — multimodal frame sampling: every 2nd frame per media item,
    // 1→N via explode(sequence(...)) — declarative frame selection.
    "l14_frame_sample" -> QueryDef(
      (s, d) => Multimodal.sampleFrames(
          Multimodal.extractMeta(
            Multimodal.filesFromDocuments(s, Tables.documents(s, d))), 2)
        .toDF().orderBy("doc_id", "frame_idx"),
      Some("SELECT doc_id, UNNEST(range(0, CAST(octet_length(encode(text)) // 100 + 1 AS BIGINT), 2)) AS frame_idx " +
        "FROM documents ORDER BY doc_id, frame_idx")),

    // L15 — the full dedup cascade as one query: exact dedup (min id per
    // content hash) → MinHash-LSH candidates → exact Jaccard ≥ 0.8 →
    // drop the larger id of each surviving pair.
    "l15_dedup_corpus" -> QueryDef(
      (s, d) => Dedup.dedupCorpus(Tables.documents(s, d), "text", "doc_id", 0.8)
        .select("doc_id").orderBy("doc_id"),
      Some("WITH kept AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) " +
        "WHERE rn = 1), " +
        minhashPairsCte("kept") + ", " + jaccardCte + " " +
        "SELECT doc_id FROM kept WHERE doc_id NOT IN " +
        "(SELECT b_id FROM jac WHERE jaccard >= 0.8) ORDER BY doc_id")),

    // L16 — deterministic stratified sample: 3 docs per language in
    // md5(doc_id) order (reproducible curation-time subsampling).
    "l16_doc_sample" -> QueryDef(
      (s, d) => graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, d), "lang", "doc_id", 3)
        .select("lang", "doc_id").orderBy("lang", "doc_id"),
      Some("SELECT lang, doc_id FROM (SELECT lang, doc_id, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3 ORDER BY lang, doc_id")),

    // L19 — benchmark contamination: documents sharing word-3-gram
    // shingles with a benchmark set (stand-in: doc_id % 97 == 0) — the
    // train/test leakage scan. Benchmark shingles broadcast; the corpus
    // never shuffles for the probe.
    "l19_contamination" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.benchmarkContamination(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), "text", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"WITH ${shinglesCte()}, " +
        "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0) " +
        "SELECT doc_id, COUNT(*) AS n_shared FROM sh JOIN bench USING (s) " +
        "WHERE doc_id % 97 <> 0 GROUP BY doc_id ORDER BY doc_id")),

    // L37 — bloom-filter contamination: same leakage scan when the
    // benchmark shingle set outgrows a broadcast hash table — Catalyst's
    // own BloomFilterAggregate/BloomFilterMightContain pair prefilters
    // the corpus map-side, a shuffle-hash semi-join removes the false
    // positives, so the result (and the oracle) is EXACTLY the exact
    // operator's. Different split (mod 89) and width (4-grams) than l19
    // so the two queries don't alias.
    "l37_bloom_contamination" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.bloomContamination(
            docs.filter(col("doc_id") % 89 =!= 0),
            docs.filter(col("doc_id") % 89 === 0), "text", "doc_id", shingleN = 4)
          .orderBy("doc_id")
      },
      Some(s"WITH ${shinglesCteN(4)}, " +
        "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 89 = 0) " +
        "SELECT doc_id, COUNT(*) AS n_shared FROM sh JOIN bench USING (s) " +
        "WHERE doc_id % 89 <> 0 GROUP BY doc_id ORDER BY doc_id")),

    // L38 — passage-level exact dedup (Dolma/RefinedWeb paragraph
    // dedup, adapted): 20-word passages, each kept only in its
    // min-doc_id first occurrence, documents reassembled from surviving
    // passages. Exact-dup docs collapse to the first copy; planted
    // near-dups keep only their novel passages. Two shuffles total
    // (passage window + per-doc reassembly), nothing broadcast.
    "l38_passage_dedup" -> QueryDef(
      (s, d) => Dedup.passageDedup(Tables.documents(s, d), "text", "doc_id", 20)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 1, 20)) AS start, toks FROM t), " +
        "p AS (SELECT doc_id, CAST(start / 20 AS BIGINT) AS idx, " +
        "array_to_string(toks[start + 1 : start + 20], ' ') AS passage FROM c), " +
        "f AS (SELECT doc_id, idx, passage, MIN(doc_id) OVER (PARTITION BY passage) AS fd FROM p) " +
        "SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS text_clean, " +
        "COUNT(*) AS n_kept FROM f WHERE doc_id = fd GROUP BY doc_id ORDER BY doc_id")),

    // L43 — arbitrary-length exact-substring dedup (Lee et al. 2022,
    // full form): excise every ≥ 20-token run already seen in an earlier
    // document, WHEREVER it starts — the straddling spans l38's fixed
    // 20-word cuts miss. Positional 20-gram shingles → per-shingle
    // min(doc_id) → trailing-window coverage flag per token →
    // reassembly. Three token-level shuffles, nothing quadratic
    // (Dedup.substringDedup).
    "l43_substring_dedup" -> QueryDef(
      (s, d) => Dedup.substringDedup(Tables.documents(s, d), "text", "doc_id", 20)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "p AS (SELECT doc_id, tk, UNNEST(generate_series(0, len(tk) - 1)) AS pos FROM t), " +
        "r AS (SELECT doc_id, pos, tk[pos + 1] AS tok, " +
        "CASE WHEN pos <= len(tk) - 20 THEN md5(array_to_string(tk[pos + 1 : pos + 20], ' ')) END AS h FROM p), " +
        "f AS (SELECT h, MIN(doc_id) AS fd FROM r WHERE h IS NOT NULL GROUP BY h), " +
        "d AS (SELECT r.doc_id, r.pos, r.tok, " +
        "CASE WHEN f.fd < r.doc_id THEN 1 ELSE 0 END AS dup FROM r LEFT JOIN f ON r.h = f.h), " +
        "c AS (SELECT doc_id, pos, tok, MAX(dup) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cov FROM d) " +
        "SELECT doc_id, " +
        "COALESCE(array_to_string(list(tok ORDER BY pos) FILTER (WHERE cov = 0), ' '), '') AS text_clean, " +
        "CAST(COUNT(*) FILTER (WHERE cov = 0) AS BIGINT) AS n_kept " +
        "FROM c GROUP BY doc_id ORDER BY doc_id")),

    // L46 — batch band-claim dedup (Dedup.bandClaimKept): the
    // oracle-certified relational core of the round-9 STREAMING dedup
    // stages. Exact dedup on the concatenated-band full signature (min
    // doc_id wins; unshingleable docs fall back to a raw content hash),
    // then the minimum-id doc claims each LSH band and a doc survives
    // iff it claims ALL its bands — pure-LSH transitive first-wins, no
    // Jaccard verify, exactly the streaming claim/resolve semantics.
    "l46_band_claim" -> QueryDef(
      (s, d) => Dedup.bandClaimKept(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some(s"WITH ${minhashBandsCte()}, " +
        "sigcat AS (SELECT doc_id, md5(sig0 || sig1) || md5(sig2 || sig3) || " +
        "md5(sig4 || sig5) || md5(sig6 || sig7) AS bsig FROM sig), " +
        "sigf AS (SELECT d.doc_id, d.lang, COALESCE(s.bsig, 'raw:' || md5(COALESCE(d.text, ''))) " +
        "AS sigfull FROM documents d LEFT JOIN sigcat s USING (doc_id)), " +
        "ded AS (SELECT doc_id, lang, sigfull FROM (SELECT doc_id, lang, sigfull, " +
        "ROW_NUMBER() OVER (PARTITION BY sigfull ORDER BY doc_id) AS rn FROM sigf) WHERE rn = 1), " +
        "brow AS (SELECT de.doc_id, de.sigfull, " +
        "CAST(b.band_idx AS VARCHAR) || '|' || b.band_hash AS bkey " +
        "FROM ded de JOIN bands b USING (doc_id) " +
        "UNION ALL SELECT doc_id, sigfull, 'raw|' || sigfull FROM ded WHERE sigfull LIKE 'raw:%'), " +
        "own AS (SELECT bkey, MIN(doc_id) AS oid FROM brow GROUP BY bkey), " +
        "osig AS (SELECT o.bkey, w.sigfull AS owner_sig FROM own o " +
        "JOIN brow w ON w.bkey = o.bkey AND w.doc_id = o.oid), " +
        "losers AS (SELECT DISTINCT r.sigfull FROM brow r JOIN osig o USING (bkey) " +
        "WHERE o.owner_sig <> r.sigfull) " +
        "SELECT doc_id, lang FROM ded WHERE sigfull NOT IN (SELECT sigfull FROM losers) " +
        "ORDER BY doc_id")),

    // L44 — the pure-SQL surface: one spark.sql() query exercising five
    // GraftFunctions-registered custom functions (rolling_hash,
    // word_shingles, ws_token_count, bpeish_token_count, cosine_sim) —
    // the same Catalyst expressions the DataFrame queries use, reached
    // through the SQL function registry instead. The oracle mirrors each
    // function with the same DuckDB fragments l11/l12/l3 use.
    "l44_sql_functions" -> QueryDef(
      (s, d) => {
        graft.GraftFunctions.register(s)
        Tables.documents(s, d).createOrReplaceTempView("graft_sqlq_docs")
        Tables.embeddings(s, d).createOrReplaceTempView("graft_sqlq_embs")
        s.sql("""
          SELECT d.doc_id,
                 rolling_hash(d.text) AS fp,
                 CAST(size(word_shingles(d.text, 3)) AS BIGINT) AS n_shingles,
                 ws_token_count(d.text) AS n_tokens,
                 bpeish_token_count(d.text) AS n_bpeish,
                 ROUND(cosine_sim(e.embedding, q.embedding), 6) AS sim_q0
          FROM graft_sqlq_docs d
          JOIN graft_sqlq_embs e ON e.vec_id = d.doc_id
          CROSS JOIN (SELECT embedding FROM graft_sqlq_embs WHERE vec_id = 0) q
          ORDER BY d.doc_id""")
      },
      Some("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents), " +
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0) " +
        "SELECT t.doc_id, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(1, length(text)), " +
        "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS fp, " +
        "CAST(CASE WHEN len(tk) >= 3 THEN len(list_distinct(list_transform(" +
        "generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) " +
        "ELSE 0 END AS BIGINT) AS n_shingles, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens, " +
        s"CAST(len(regexp_extract_all(lower(text), '$BpePattern')) AS BIGINT) AS n_bpeish, " +
        s"ROUND(${cosSql("v", "qv")}, 6) AS sim_q0 " +
        "FROM t JOIN e ON e.vec_id = t.doc_id CROSS JOIN q ORDER BY t.doc_id")),

    // L39 — CCNet-style perplexity bucketing (Wenzek et al.): l33's
    // unigram score, then per-lang head/middle/tail tertiles. The
    // cutoffs come from an exact per-lang percentile AGGREGATE (broadcast
    // back, per-row CASE) — not an NTILE over a per-lang global sort,
    // which is the shape that dies at 100 TB; swap `percentile` for
    // `approx_percentile` there and nothing else changes. Cutoffs are
    // rounded to 9dp on both engines so interpolation ulps can't flip a
    // boundary document's bucket.
    "l39_ppl_buckets" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(wsTokens(col("text"))).as("t"))
        val tf = tok.groupBy("t").agg(count(lit(1)).as("__n"))
        val tot = tf.agg(sum(col("__n")).as("__total"))
        val sc = tok.join(tf.hint("shuffle_hash"), Seq("t"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("lang"),
            round(-log(col("__n").cast("double") / col("__total")), 9)
              .cast("decimal(20,9)").as("__lp"))
          .groupBy("doc_id", "lang")
          .agg(round(sum(col("__lp")).cast("double") / count(lit(1)), 6).as("avg_neg_logprob"))
          // one row per doc — cache it so the cutoff aggregate and the
          // bucket join don't each recompute the token-join subtree.
          // LAZY persist (not localCheckpoint): constructing the query —
          // or EXPLAINing it — no longer executes anything; the broadcast
          // (cuts) side materializes the cache and the probe side reads
          // it within the one action. DISK_ONLY so the per-doc rows can
          // never evict executor memory at scale; blocks are freed by
          // clearCache()/ContextCleaner after the action.
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val cuts = sc.groupBy("lang").agg(
          pctExpr(s, "avg_neg_logprob", 0.3333333333333333, 9).as("__q1"),
          pctExpr(s, "avg_neg_logprob", 0.6666666666666666, 9).as("__q2"))
        sc.join(broadcast(cuts), Seq("lang"))
          .withColumn("bucket",
            when(col("avg_neg_logprob") <= col("__q1"), lit("head"))
              .when(col("avg_neg_logprob") <= col("__q2"), lit("middle"))
              .otherwise(lit("tail")))
          .select("doc_id", "lang", "avg_neg_logprob", "bucket")
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tf AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t), " +
        "tot AS (SELECT SUM(n) AS total FROM tf), " +
        "scr AS (SELECT doc_id, lang, CAST(ROUND(-LN(CAST(n AS DOUBLE) / total), 9) AS DECIMAL(20,9)) AS lp " +
        "FROM tok JOIN tf USING (t), tot), " +
        "sc AS (SELECT doc_id, lang, ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob " +
        "FROM scr GROUP BY doc_id, lang), " +
        "cut AS (SELECT lang, ROUND(quantile_cont(avg_neg_logprob, 0.3333333333333333), 9) AS q1, " +
        "ROUND(quantile_cont(avg_neg_logprob, 0.6666666666666666), 9) AS q2 FROM sc GROUP BY lang) " +
        "SELECT doc_id, lang, avg_neg_logprob, " +
        "CASE WHEN avg_neg_logprob <= q1 THEN 'head' WHEN avg_neg_logprob <= q2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket FROM sc JOIN cut USING (lang) ORDER BY doc_id")),

    // L42 — trained-centroid IVF, end-to-end: quantize embeddings to
    // exact integers (floor(x·10⁶ + 0.5), the int8TopK pattern — per-cell
    // component SUMS are then exact in a double regardless of shuffle
    // order, so k-means means are bit-identical across engines), train 4
    // centroids for 2 rounds from the deterministic lowest-id seeds
    // (Similarity.trainCentroids), then IVF top-5 for queries 0-4
    // (nprobe=1). This certifies the REAL index-build path — l8 probes
    // fixed vectors 0..7 as centroids and never runs training. The
    // oracle unrolls both training rounds as CTEs; every dot product is
    // the same left-to-right fold on both engines.
    "l42_ivf_trained" -> QueryDef(
      (s, d) => {
        val qe = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x * lit(1000000.0) + lit(0.5)).cast("double")).as("embedding"))
        val cents = Similarity.trainCentroids(qe, "embedding", "vec_id", 4, 2)
        Similarity.ivfTopK(qe.filter(col("vec_id") < 5), qe, cents,
            "embedding", "vec_id", "cell", 5)
          .select(col("query_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"),
            col("rank").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some {
        // one assign+mean round: cents `cIn`(cell, cv) → `cOut`
        def kmeansRound(i: Int, cIn: String, cOut: String): String =
          s"s$i AS (SELECT e0.vec_id, cell, ${cosSql("qv", "cv")} AS csim FROM e0, $cIn), " +
          s"a$i AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
          s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM s$i) WHERE rn = 1), " +
          s"x$i AS (SELECT cell, qv, UNNEST(generate_series(1, len(qv))) AS pos " +
          s"FROM a$i JOIN e0 USING (vec_id)), " +
          s"m$i AS (SELECT cell, pos, SUM(qv[pos]) / COUNT(*) AS m FROM x$i GROUP BY cell, pos), " +
          s"$cOut AS (SELECT cell, list(m ORDER BY pos) AS cv FROM m$i GROUP BY cell)"
        s"WITH $embCte, " +
          "e0 AS (SELECT vec_id, list_transform(v, x -> floor(x * 1000000.0 + 0.5)) AS qv FROM e), " +
          "c0 AS (SELECT vec_id AS cell, qv AS cv FROM e0 WHERE vec_id < 4), " +
          kmeansRound(1, "c0", "c1") + ", " + kmeansRound(2, "c1", "c2") + ", " +
          s"s3 AS (SELECT e0.vec_id, cell, ${cosSql("qv", "cv")} AS csim FROM e0, c2), " +
          "a3 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM s3) WHERE rn = 1), " +
          "qa AS (SELECT a3.vec_id AS query_id, a3.cell, e0.qv AS qv2 FROM a3 " +
          "JOIN e0 USING (vec_id) WHERE a3.vec_id < 5), " +
          "ca AS (SELECT a3.vec_id AS neighbor_id, a3.cell, e0.qv AS cv2 FROM a3 JOIN e0 USING (vec_id)), " +
          s"sf AS (SELECT query_id, neighbor_id, ${cosSql("qv2", "cv2")} AS sim " +
          "FROM qa JOIN ca USING (cell) WHERE query_id <> neighbor_id) " +
          "SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rnk FROM " +
          "(SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM sf) " +
          "WHERE rnk <= 5 ORDER BY query_id, rnk"
      }),

    // L40 — SimHash near-dup pairs: Hamming ≤ 3 over l6's 32-bit
    // signatures, byte-banded (pigeonhole-complete for ≤ 3), xor
    // bit-count verify only on bucket collisions.
    "l40_simhash_neardup" -> QueryDef(
      (s, d) => Dedup.simhashNearDups(Tables.documents(s, d), "text", "doc_id", 3)
        .orderBy("a_id", "b_id"),
      Some {
        s"WITH ${simhashSqlCte()}, " +
          "bd AS (SELECT doc_id, sig, bi, (sig >> (8 * bi)) & 255 AS bv " +
          "FROM sg CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS bi) bands), " +
          "pr AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS sa, b.sig AS sb " +
          "FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id) " +
          "SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming " +
          "FROM pr WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a_id, b_id"
      }),

    // L41 — training-mix materialization: per-source EPOCH upsampling
    // (high-value sources repeat 3×/2×, the Dolma/Pile recipe) plus a
    // deterministic pseudo-shuffle: each (epoch, doc) gets an md5 order
    // key, a shard from the key's first hex digit, and a POSITION WITHIN
    // ITS SHARD. The position is a rank in (__key, doc_id, epoch) order;
    // a plain per-shard row_number window caps parallelism at the 16
    // shards (~6 TB/task at 100 TB), so it runs as the t18 two-pass
    // form: sub-bucket on the key's NEXT two hex digits (a prefix of the
    // ordering key → monotone within the shard), count per sub-bucket,
    // broadcast prefix offsets, rank within (shard, sub-bucket) — 16×256
    // tasks, bit-identical positions.
    "l41_mix_epochs" -> QueryDef(
      (s, d) => {
        val e = Tables.documents(s, d)
          .select(col("doc_id"),
            greatest(lit(1),
              lit(3) - floor(substring(col("source"), 4, 10).cast("int") / lit(5)).cast("int"))
              .as("__ep"))
          .select(col("doc_id"), explode(sequence(lit(1), col("__ep"))).as("__e"))
          .select(col("doc_id"), col("__e").cast("long").as("epoch"))
          .withColumn("__key", md5(concat_ws(":", col("epoch"), col("doc_id"))))
          .withColumn("shard",
            (expr("instr('0123456789abcdef', substring(__key, 1, 1))") - 1).cast("long"))
        graft.operators.Windows.runningSumScalable(
            e, Seq("shard"), substring(col("__key"), 2, 2),
            Seq(col("__key"), col("doc_id"), col("epoch")), lit(1L), "pos")
          .select("doc_id", "epoch", "shard", "pos")
          .orderBy("shard", "pos")
      },
      Some("WITH e AS (SELECT doc_id, GREATEST(1, 3 - CAST(FLOOR(CAST(substr(source, 4) AS INT) / 5) AS INT)) AS ep " +
        "FROM documents), " +
        "x AS (SELECT doc_id, UNNEST(generate_series(1, ep)) AS e FROM e), " +
        "k AS (SELECT doc_id, CAST(e AS BIGINT) AS epoch, " +
        "md5(CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS key FROM x), " +
        "sh2 AS (SELECT doc_id, epoch, CAST(instr('0123456789abcdef', substr(key, 1, 1)) - 1 AS BIGINT) AS shard, key FROM k) " +
        "SELECT doc_id, epoch, shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id, epoch) AS BIGINT) AS pos " +
        "FROM sh2 ORDER BY shard, pos")),

    // L20 — domain mixing / reweighting: deterministic per-stratum
    // Bernoulli rates (downsample the dominant 'en', quarter 'zh', keep
    // the rest) — a pure per-row hash filter, zero shuffles.
    "l20_domain_mix" -> QueryDef(
      (s, d) => graft.operators.Sampling.rateStratifiedSample(
          Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 0.25))
        .select("lang", "doc_id").orderBy("lang", "doc_id"),
      Some("SELECT lang, doc_id FROM documents WHERE CASE lang " +
        "WHEN 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000' " +
        "WHEN 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000' " +
        "ELSE TRUE END ORDER BY lang, doc_id")),

    // L47 — temperature-based source rebalancing (α = 0.5): sampling
    // rate ∝ n^(α−1) per source, scaled to keep 3/10 of the corpus —
    // the standard multilingual/multi-source mixing stage, with rates
    // DERIVED FROM THE DATA (unlike l20's fixed map). Thresholds are
    // exact integer arithmetic on round(sqrt(n)·1000) weights (sqrt is
    // IEEE-correctly-rounded → identical integers in both engines),
    // carried in DECIMAL(38,0) on the Spark side and HUGEINT here —
    // both 128-bit-class exact integers, so the floor divisions agree
    // bit-for-bit and the hash filter is bit-portable at any corpus
    // size a BIGINT count can represent.
    "l47_temperature_mix" -> QueryDef(
      (s, d) => graft.operators.Sampling.temperatureMix(
          Tables.documents(s, d), "lang", "doc_id")
        .select("lang", "doc_id").orderBy("lang", "doc_id"),
      Some("WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang), " +
        "w AS (SELECT lang, n, CAST(round(sqrt(n) * 1000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(n) AS BIGINT) AS nn FROM w), " +
        "r AS (SELECT lang, CAST(LEAST(CAST(65536 AS HUGEINT), " +
        "(CAST(65536 AS HUGEINT) * 3 * nn * w) // (CAST(10 AS HUGEINT) * n * sw)) AS BIGINT) AS thr FROM w, t) " +
        "SELECT d.lang, d.doc_id FROM documents d JOIN r USING (lang) " +
        "WHERE thr >= 65536 OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr) " +
        "ORDER BY lang, doc_id")),

    // L48 — REAL video-container metadata, oracle-certified: the
    // MP4/AVI/MKV header walks (plus both stub-fallback paths) over
    // deterministic fixture payloads built byte-exactly from known
    // construction parameters (graft.operators.VideoFixtures — the
    // testdata parquet has no container bytes to use instead). The
    // DuckDB oracle is a VALUES relation of the SAME construction
    // parameters, so a match proves the parsers read back exactly what
    // the construction wrote — l13/l14 continue to certify the stub
    // decode plumbing over the documents table.
    "l48_video_meta" -> QueryDef(
      (s, _) => Multimodal.extractMetaVideo(VideoFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(VideoFixtures.oracleSql)),

    // L49 — model-based quality filtering, inference side: a fastText-
    // style linear classifier over HASHED token features (no vocabulary,
    // no join — the hashing trick makes inference a pure map + one
    // per-doc partial agg; see graft.operators.Scoring). The declared
    // weight vector is the deterministic (b−128)/256 stand-in so the
    // oracle can reproduce the arithmetic exactly; the output emits the
    // EXACT sufficient statistic w_sum·256 (an integer — the per-doc sum
    // of (bucket−128)) rather than a rounded ratio, so no cross-engine
    // rounding boundary exists at all.
    "l49_classifier_score" -> QueryDef(
      (s, d) => graft.operators.Scoring.hashedLinearScore(
          Tables.documents(s, d), "text", "doc_id",
          graft.operators.Scoring.oracleWeights)
        .select(col("doc_id"), col("n_tokens"),
          (col("w_sum") * 256).cast("long").as("w_sum_x256"), col("keep"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "h AS (SELECT doc_id, (strpos('0123456789abcdef', substr(md5(t),1,1))-1)*4096 + " +
        "(strpos('0123456789abcdef', substr(md5(t),2,1))-1)*256 + " +
        "(strpos('0123456789abcdef', substr(md5(t),3,1))-1)*16 + " +
        "(strpos('0123456789abcdef', substr(md5(t),4,1))-1) AS v FROM tok), " +
        "s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM((v % 256) - 128) AS BIGINT) AS w_sum_x256 FROM h GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, w_sum_x256, w_sum_x256 > 0 AS keep FROM s ORDER BY doc_id")),

    // L50 — WARC ingestion (ISO 28500, the Common Crawl container):
    // `Warc.records` walks deterministic fixture files covering the
    // three ingest paths — plain WARC, gzip multi-member (.warc.gz),
    // and a truncated file exercising prefix semantics. Following the
    // l48 pattern, the DuckDB oracle is a VALUES relation of the
    // construction parameters (graft.sources.WarcFixtures), so a match
    // proves the streaming record walk reads back exactly what the
    // construction wrote. The operator itself is one narrow flatMap —
    // no shuffle; the orderBy here exists only for oracle determinism.
    "l50_warc_records" -> QueryDef(
      (s, _) => graft.sources.Warc.records(graft.sources.WarcFixtures.dataset(s))
        .toDF().orderBy("file_id", "rec_idx"),
      Some(graft.sources.WarcFixtures.oracleSql)),

    // L51 — PII scrubbing (TextFunctions.redactPii / piiCount), oracle-
    // certified across FIVE classes: emails, SSN-style ids, Luhn-valid
    // credit cards, IPv4 literals, phone-like digit runs. The synthetic
    // corpus carries no PII (no digits at all), so — following the
    // l48/l50 fixture pattern — deterministic spans derived from doc_id
    // are appended IN THE QUERY, identically on both engine sides; the
    // oracle then proves the regex dialects (Java in Spark codegen, RE2
    // in DuckDB) agree span-for-span AND certifies the Luhn gate by
    // ground truth: the appended VALID card (a known-checksum literal
    // chosen by doc_id) is replaced by construction, while the appended
    // Luhn-FAILING 16-digit string is NOT card-redacted on either side
    // (it falls through to the phone pass like any digit run).
    // Counts/length/md5 of the full redacted text all match. Pure
    // per-row projection — zero shuffles at any scale.
    "l51_pii_redact" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        val aug = concat(col("text"),
          when(id % 3 === 0, concat(lit(" mail user"), id.cast("string"),
            lit("@ex"), (id % 10).cast("string"), lit(".org")))
            .otherwise(lit("")),
          when(id % 4 === 0, concat(lit(" call +1"),
            lpad(((id * 7919) % 10000000).cast("string"), 7, "0")))
            .otherwise(lit("")),
          when(id % 9 === 0, concat(lit(" ssn 123-45-"),
            lpad(((id * 13) % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(id % 5 === 0, concat(lit(" ip 10."), (id % 256).cast("string"),
            lit("."), ((id * 7) % 256).cast("string"),
            lit("."), (id % 100).cast("string")))
            .otherwise(lit("")),
          when(id % 6 === 0,
            when(id % 12 === 0, lit(" card 4111 1111 1111 1111"))
              .otherwise(lit(" card 5555555555554444")))
            .otherwise(lit("")),
          when(id % 7 === 0, lit(" ref 4111 1111 1111 1112"))
            .otherwise(lit("")),
          // an 18-digit Luhn-FAILING run CONTAINING the valid card's
          // digits: proves the card replace is \b-anchored (a literal
          // replace would mangle this run into '8<CC>9')
          when(id % 21 === 0, lit(" raw 855555555555544449"))
            .otherwise(lit("")))
        graft.functions.TextFunctions.withPiiColumns(
            Tables.documents(s, d).select(id, aug.as("__t")), "__t")
          .select(col("doc_id"), col("n_pii"), col("n_emails"), col("n_cards"),
            length(col("pii_redacted")).cast("long").as("red_len"),
            md5(col("pii_redacted")).as("red_md5"))
          .orderBy("doc_id")
      },
      Some("WITH aug AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' mail user' || doc_id || '@ex' || (doc_id % 10) || '.org' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' call +1' || lpad(CAST((doc_id * 7919) % 10000000 AS VARCHAR), 7, '0') ELSE '' END || " +
        "CASE WHEN doc_id % 9 = 0 THEN ' ssn 123-45-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || (doc_id % 100) ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 0 THEN (CASE WHEN doc_id % 12 = 0 " +
        "THEN ' card 4111 1111 1111 1111' ELSE ' card 5555555555554444' END) ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' ref 4111 1111 1111 1112' ELSE '' END || " +
        "CASE WHEN doc_id % 21 = 0 THEN ' raw 855555555555544449' ELSE '' END AS t " +
        "FROM documents), " +
        // the Luhn stage is certified by GROUND TRUTH: the valid card
        // literal (known by construction) is replaced \b-anchored (so
        // the 18-digit raw run CONTAINING those digits is untouched);
        // the invalid and raw runs are left for the phone pass — if
        // the Spark-side checksum or anchoring mis-judged any of them,
        // the md5s diverge
        s"red AS (SELECT doc_id, t, " +
        s"regexp_replace(regexp_replace(t, '$EmailPattern', '<EMAIL>', 'g'), '$IdPattern', '<ID>', 'g') AS e2 FROM aug), " +
        "cc AS (SELECT doc_id, t, CASE WHEN doc_id % 6 = 0 THEN regexp_replace(e2, " +
        "'\\b' || (CASE WHEN doc_id % 12 = 0 THEN '4111 1111 1111 1111' ELSE '5555555555554444' END) || '\\b', '<CC>', 'g') " +
        "ELSE e2 END AS e3 FROM red), " +
        s"fin AS (SELECT doc_id, t, e3, regexp_replace(e3, '$Ipv4Pattern', '<IP>', 'g') AS e4 FROM cc), " +
        s"cnt AS (SELECT doc_id, t, e3, e4, " +
        s"regexp_replace(e4, '$PhonePattern', '<PHONE>', 'g') AS r, " +
        s"len(regexp_extract_all(t, '$EmailPattern')) AS ne, " +
        s"len(regexp_extract_all(regexp_replace(t, '$EmailPattern', '<EMAIL>', 'g'), '$IdPattern')) AS ni, " +
        "CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS nc, " +
        s"len(regexp_extract_all(e3, '$Ipv4Pattern')) AS nip, " +
        s"len(regexp_extract_all(e4, '$PhonePattern')) AS np FROM fin) " +
        "SELECT doc_id, CAST(ne + ni + nc + nip + np AS BIGINT) AS n_pii, " +
        "CAST(ne AS BIGINT) AS n_emails, CAST(nc AS BIGINT) AS n_cards, " +
        "CAST(length(r) AS BIGINT) AS red_len, md5(r) AS red_md5 FROM cnt ORDER BY doc_id")),

    // L52 — corpus-diversity growth curve (CorpusStats.ngramNovelty):
    // distinct 3-grams first contributed per document plus the running
    // corpus total, in doc_id (= ingestion) order — the saturation
    // signal behind "when does this source stop adding content?".
    // Integer output only; the cumulative sum is the bucketed two-pass
    // prefix sum (Windows.runningSumScalable), not a single-partition
    // window.
    "l52_ngram_novelty" -> QueryDef(
      (s, d) => graft.operators.CorpusStats.ngramNovelty(
          Tables.documents(s, d), "text", "doc_id", 3)
        .orderBy("doc_id"),
      Some("WITH " + shinglesCte() + ", " +
        "fst AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s), " +
        "novel AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM fst GROUP BY fd) " +
        "SELECT d.doc_id, COALESCE(n_novel, 0) AS n_novel, " +
        "CAST(SUM(COALESCE(n_novel, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_novel " +
        "FROM documents d LEFT JOIN novel USING (doc_id) ORDER BY d.doc_id")),

    // L53 — pairwise source-vocabulary overlap (CorpusStats.
    // sourceOverlap): shared and union distinct-3-gram counts per
    // source pair — the corpus-composition matrix (exact-text overlap
    // across these sources is empty; n-gram overlap is the honest
    // signal). Integer output only; Jaccard is n_shared/n_union for the
    // caller.
    "l53_source_overlap" -> QueryDef(
      (s, d) => graft.operators.CorpusStats.sourceOverlap(
          Tables.documents(s, d), "text", "source", 3)
        .orderBy("src_a", "src_b"),
      Some("WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT DISTINCT source AS src, UNNEST(CASE WHEN len(t) >= 3 " +
        "THEN list_transform(generate_series(1, len(t) - 2), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS g FROM toks), " +
        "tot AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY src) " +
        "SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared, " +
        "ta.n + tb.n - CAST(COUNT(*) AS BIGINT) AS n_union " +
        "FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src " +
        "JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src " +
        "GROUP BY a.src, b.src, ta.n, tb.n ORDER BY src_a, src_b")),

    // L54 — per-source distribution drift: KL(P_source ‖ P_corpus) over
    // unigram distributions (CorpusStats.sourceDivergence) — which
    // source is least like the rest. l33's determinism discipline: the
    // ln argument casts every operand to DOUBLE first (no integer
    // overflow at any size, identical IEEE trees), ln rounded to 9dp →
    // DECIMAL(20,9), exact-decimal per-source sums, one final
    // divide-and-round.
    "l54_source_divergence" -> QueryDef(
      (s, d) => graft.operators.CorpusStats.sourceDivergence(
          Tables.documents(s, d), "text", "source")
        .orderBy("src"),
      Some("WITH tok AS (SELECT source AS src, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "st AS (SELECT src, t, COUNT(*) AS nst FROM tok GROUP BY src, t), " +
        "ct AS (SELECT t, CAST(SUM(nst) AS BIGINT) AS nt FROM st GROUP BY t), " +
        "nsrc AS (SELECT src, CAST(SUM(nst) AS BIGINT) AS nsv FROM st GROUP BY src), " +
        "tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS n FROM ct), " +
        "sc AS (SELECT src, nst, nsv, " +
        "CAST(ROUND(LN((CAST(nst AS DOUBLE) * CAST(n AS DOUBLE)) / " +
        "(CAST(nsv AS DOUBLE) * CAST(nt AS DOUBLE))), 9) AS DECIMAL(20,9)) AS r " +
        "FROM st JOIN ct USING (t) JOIN nsrc USING (src), tot) " +
        "SELECT src, CAST(MAX(nsv) AS BIGINT) AS n_tokens, " +
        "ROUND(CAST(SUM(nst * r) AS DOUBLE) / MAX(nsv), 6) AS kl_vs_corpus " +
        "FROM sc GROUP BY src ORDER BY src")),

    // L55 — quality-priority dedup (Dedup.keepBestPerCluster): keep the
    // LONGEST member of every duplicate cluster (n_chars DESC, doc_id
    // tiebreak) instead of l23/l15's first-id-wins — the curation
    // pipelines' usual representative choice. Oracle = l23's recursive
    // transitive closure + a per-cluster argmax window; non-clustered
    // documents pass through.
    "l55_keep_best_dup" -> QueryDef(
      (s, d) => Dedup.keepBestPerCluster(
          Tables.documents(s, d), "text", "doc_id", col("n_chars"))
        .select("doc_id", "n_chars").orderBy("doc_id"),
      Some(s"WITH RECURSIVE ${minhashPairsCte()}, " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
        "UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
        "reach(id, lab) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id), " +
        "cl AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id), " +
        "j AS (SELECT d.doc_id, d.n_chars, cl.cluster FROM documents d LEFT JOIN cl USING (doc_id)), " +
        "best AS (SELECT doc_id FROM (SELECT doc_id, ROW_NUMBER() OVER " +
        "(PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM j WHERE cluster IS NOT NULL) WHERE rn = 1) " +
        "SELECT doc_id, n_chars FROM j WHERE cluster IS NULL " +
        "OR doc_id IN (SELECT doc_id FROM best) ORDER BY doc_id")),

    // L56 — edit-distance verify over the l4 LSH candidates
    // (Dedup.editDistancePairs): character-level Levenshtein, the
    // in-place-edit complement to l5's n-gram Jaccard (a one-character
    // substitution shifts every covering n-gram but costs edit distance
    // 1). Candidate-bounded — never all-pairs; Spark and DuckDB
    // levenshtein share the classic unit-cost definition, so the
    // distances compare exactly. The operator's threshold variant
    // (banded O(len·k) DP) is the long-document form at scale.
    "l56_edit_distance" -> QueryDef(
      (s, d) => Dedup.editDistancePairs(Tables.documents(s, d), "text", "doc_id")
        .orderBy("a_id", "b_id"),
      Some(s"WITH ${minhashPairsCte()} " +
        "SELECT a_id, b_id, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist " +
        "FROM pairs JOIN documents da ON da.doc_id = a_id " +
        "JOIN documents db ON db.doc_id = b_id ORDER BY a_id, b_id")),

    // L21 — heavy hitters: top-10 tokens per language by frequency
    // (vocabulary analysis). Two-level aggregation: the (lang, token)
    // counts partial-aggregate map-side; the ranking window runs on the
    // tiny aggregated side only.
    "l21_top_tokens" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(col("lang"), explode(wsTokens(col("text"))).as("t"))
          .groupBy("lang", "t").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("n").desc, col("t"))
        counts.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .orderBy("lang", "rnk")
      },
      Some("WITH tok AS (SELECT lang, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "c AS (SELECT lang, t, COUNT(*) AS n FROM tok GROUP BY lang, t) " +
        "SELECT lang, t, n, rnk FROM (SELECT lang, t, n, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, t) AS BIGINT) AS rnk FROM c) " +
        "WHERE rnk <= 10 ORDER BY lang, rnk")),

    // L22 — repetition filters (Gopher/MassiveText-style quality
    // signals): the fraction of the document taken by its most frequent
    // token (two-level partial-agg: (doc, token) counts, then per-doc
    // max/sum), and the duplicate word-2-gram fraction (pure per-row
    // arithmetic — total 2-grams vs distinct 2-grams — zero shuffles).
    "l22_repetition" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val freq = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        val top = freq.groupBy("doc_id")
          .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_token_frac"))
        docs.select(col("doc_id"),
            round(dupNgramFraction(col("text"), 2), 6).as("dup_2gram_frac"))
          .join(top, Seq("doc_id"))
          .select("doc_id", "top_token_frac", "dup_2gram_frac")
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "freq AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t), " +
        "top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac " +
        "FROM freq GROUP BY doc_id), " +
        "g AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "d2 AS (SELECT doc_id, len(t) - 1 AS n2, len(list_distinct(" +
        "list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS dist2 FROM g) " +
        "SELECT doc_id, top_token_frac, ROUND(CAST(n2 - dist2 AS DOUBLE) / n2, 6) AS dup_2gram_frac " +
        "FROM top JOIN d2 USING (doc_id) ORDER BY doc_id")),

    // L23 — duplicate clusters: LSH candidate pairs closed under
    // transitivity (a~b~c is ONE cluster even when the (a,c) pair never
    // collides). Iterative min-label propagation on Spark (O(diameter)
    // joins); the oracle is DuckDB's recursive transitive closure.
    "l23_dup_clusters" -> QueryDef(
      (s, d) => Dedup.duplicateClusters(Tables.documents(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(s"WITH RECURSIVE ${minhashPairsCte()}, " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
        "UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
        "reach(id, lab) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id) " +
        "SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id " +
        "ORDER BY doc_id")),

    // L81 — leakage-safe train/holdout split
    // (Sampling.leakageSafeSplit over l23's near-dup clusters): every
    // document maps to a representative (its cluster label, itself when
    // unclustered) and the split assigns by md5(rep) — so near-dup
    // clusters NEVER straddle the split (the evaluation leak a per-row
    // random split commits by construction). Both engines recompute
    // the clusters (the l23 recursive oracle), the representative
    // coalesce, and the identical 16-bit md5 bucket arithmetic.
    "l81_leakage_split" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clusters = Dedup.duplicateClusters(docs, "text", "doc_id")
          .select(col("id").as("doc_id"), col("cluster"))
        graft.operators.Sampling.leakageSafeSplit(
            docs.select(col("doc_id")).join(clusters.hint("shuffle_hash"), Seq("doc_id"), "left")
              .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("rep")),
            "rep")
          .orderBy("doc_id")
      },
      Some(s"WITH RECURSIVE ${minhashPairsCte()}, " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
        "UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
        "reach(id, lab) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id), " +
        "clu AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id), " +
        "rp AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep " +
        "FROM documents d LEFT JOIN clu c USING (doc_id)) " +
        "SELECT doc_id, rep, CASE WHEN (" +
        "(strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)),1,1))-1)*4096 + " +
        "(strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)),2,1))-1)*256 + " +
        "(strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)),3,1))-1)*16 + " +
        "(strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)),4,1))-1)) % 10 < 9 " +
        "THEN 'train' ELSE 'holdout' END AS split FROM rp ORDER BY doc_id")),

    // L82 — Unicode NFC normalization (NfcNormalizeExpr, native
    // codegen expression): composed (U+00E9) and decomposed
    // (e + U+0301) forms of the same text are byte-different and
    // render-identical, so without this pass exact dedup misses such
    // duplicates and every md5-keyed operator treats them as distinct.
    // Both engines build the same code-point sequences from doc_id
    // (composed / fully decomposed / mixed combining marks), normalize
    // with their OWN NFC implementation (java.text.Normalizer vs
    // DuckDB nfc_normalize — independent code paths), and must agree
    // on length and md5 of the result; the already-NFC branch pins the
    // allocation-free fast path. Pure per-row projection.
    "l82_nfc_normalize" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        val raw = concat(
          when(id % 3 === 0, lit("caf\u00E9 r\u00E9sum\u00E9"))
            .when(id % 3 === 1, lit("cafe\u0301 re\u0301sume\u0301"))
            .otherwise(lit("man\u0303ana A\u030A o\u0308")),
          lit(" "), (id % 7).cast("string"))
        Tables.documents(s, d).select(id, raw.as("__raw"))
          .select(id, length(col("__raw")).cast("long").as("raw_len"),
            graft.functions.NfcNormalizeExpr(col("__raw")).as("__n"))
          .select(id, col("raw_len"),
            length(col("__n")).cast("long").as("nfc_len"),
            md5(col("__n")).as("nfc_md5"),
            (col("raw_len") =!= length(col("__n"))).as("changed"))
          .orderBy("doc_id")
      },
      Some("WITH r AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 3 = 0 THEN 'caf' || chr(233) || ' r' || chr(233) || 'sum' || chr(233) " +
        "WHEN doc_id % 3 = 1 THEN 'cafe' || chr(769) || ' re' || chr(769) || 'sume' || chr(769) " +
        "ELSE 'man' || chr(771) || 'ana A' || chr(778) || ' o' || chr(776) END " +
        "|| ' ' || CAST(doc_id % 7 AS VARCHAR) AS raw FROM documents), " +
        "n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nn FROM r) " +
        "SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len, " +
        "CAST(length(nn) AS BIGINT) AS nfc_len, md5(nn) AS nfc_md5, " +
        "length(raw) <> length(nn) AS changed FROM n ORDER BY doc_id")),

    // L83 — audio perceptual hashing for near-dup detection
    // (Multimodal.audioAHash64, l78's audio twin): the 64-bit
    // amplitude-envelope difference hash over 16-bit WAV PCM —
    // channel-0 absolute amplitudes area-averaged onto 65
    // floor-partitioned windows, bit w set when window w+1 is strictly
    // louder. Integer arithmetic throughout, so the constructed
    // fixtures' expected hashes are HAND-DERIVED
    // (AudioHashFixtures' scaladoc: ramps → all-ones/zero, constant,
    // 2-frames-per-window area-average twin, a silenced-window
    // Hamming-1 neighbor, a stereo channel-0 pin, non-PCM rejects).
    // Pair generation reuses Dedup.hammingPairs64; OperatorSpec pins
    // banded ≡ brute force for the audio path too.
    "l83_audio_ahash" -> QueryDef(
      (s, _) => graft.operators.Multimodal.audioDHash(
          graft.operators.AudioHashFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.AudioHashFixtures.oracleSql)),

    // L84 — WITHIN-document repeated-line removal (Dedup.lineDedup):
    // the RefinedWeb/Dolma in-page repetition step between the
    // boilerplate block filter (l76) and the quality gates — nav
    // crumbs, cookie banners and repeated list items recur INSIDE one
    // page, which the cross-document passes (l1/l38/l43) never touch.
    // Fixture = the l76 pattern: pages CONSTRUCTED from doc_id with a
    // duplicated nav line, a duplicated cookie banner, and two blank
    // lines (blanks are paragraph structure — kept, never deduped), so
    // the expected cuts and keeps are derivable by hand; the oracle
    // recomputes first-occurrence-wins span-for-span via a positional
    // window. Pure per-row projection — zero shuffles at any scale.
    "l84_line_dedup" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val nl = lit("\n")
        val page = concat(
          lit("Home | Cat "), str(id % 5), lit(" | Contact"), nl,
          lit("the story of "), col("text"), nl,
          lit("We use cookies "), str(id % 3), nl,
          lit("Home | Cat "), str(id % 5), lit(" | Contact"), nl,
          nl,
          lit("tail words "), str(id % 7), nl,
          nl,
          lit("We use cookies "), str(id % 3))
        val pages = Tables.documents(s, d).select(id, page.as("page"))
        Dedup.lineDedup(pages, "page", "clean")
          .select(id,
            size(split(col("page"), "\n")).cast("long").as("n_lines_in"),
            size(split(col("clean"), "\n")).cast("long").as("n_lines_out"),
            md5(col("clean")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("WITH pg AS (SELECT doc_id, " +
        "'Home | Cat ' || CAST(doc_id % 5 AS VARCHAR) || ' | Contact' || chr(10) || " +
        "'the story of ' || text || chr(10) || " +
        "'We use cookies ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || " +
        "'Home | Cat ' || CAST(doc_id % 5 AS VARCHAR) || ' | Contact' || chr(10) || " +
        "chr(10) || " +
        "'tail words ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || " +
        "chr(10) || " +
        "'We use cookies ' || CAST(doc_id % 3 AS VARCHAR) AS page FROM documents), " +
        "lsp AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pg), " +
        "u AS (SELECT doc_id, ls, UNNEST(generate_series(1, len(ls))) AS pos FROM lsp), " +
        "v AS (SELECT doc_id, pos, ls[pos] AS line, len(ls) AS n_in FROM u), " +
        "r AS (SELECT doc_id, pos, line, n_in, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn FROM v), " +
        "k AS (SELECT doc_id, pos, line, n_in FROM r WHERE trim(line) = '' OR rn = 1) " +
        "SELECT doc_id, CAST(MAX(n_in) AS BIGINT) AS n_lines_in, " +
        "CAST(COUNT(*) AS BIGINT) AS n_lines_out, " +
        "md5(COALESCE(string_agg(line, chr(10) ORDER BY pos), '')) AS clean_md5 " +
        "FROM k GROUP BY doc_id ORDER BY doc_id")),

    // L24 — corpus length profile: exact per-language quartiles of
    // document length. Spark `percentile` and DuckDB `quantile_cont`
    // share the same linear-interpolation definition; the per-group sort
    // behind the exact percentile is bounded by group size (see
    // SketchAndSampleSpec for the approx_percentile sketch that replaces
    // it when groups outgrow memory).
    "l24_length_quantiles" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          pctExpr(s, "n_chars", 0.25, 6).as("p25"),
          pctExpr(s, "n_chars", 0.5, 6).as("p50"),
          pctExpr(s, "n_chars", 0.75, 6).as("p75"))
        .orderBy("lang"),
      Some("SELECT lang, COUNT(*) AS n_docs, " +
        "ROUND(quantile_cont(n_chars, 0.25), 6) AS p25, " +
        "ROUND(quantile_cont(n_chars, 0.5), 6) AS p50, " +
        "ROUND(quantile_cont(n_chars, 0.75), 6) AS p75 " +
        "FROM documents GROUP BY lang ORDER BY lang")),

    // L25 — tf-idf keywords: top-3 tokens per document by
    // tf × ln(N/df). Two partial-aggregating counts (doc-term, then
    // term→df) + one broadcast scalar (N); the ranking window runs per
    // doc over ≤ vocabulary rows. Ties (equal tf and df — exactly equal
    // scores in both engines) break on the token.
    "l25_tfidf" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("t").agg(count(lit(1)).as("__df"))
        val n = docs.agg(count(lit(1)).as("__n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("__score").desc, col("t"))
        tf.join(df, Seq("t")).crossJoin(broadcast(n))
          .withColumn("__score",
            col("tf") * log(col("__n").cast("double") / col("__df")))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("t"), round(col("__score"), 6).as("tfidf"), col("rnk"))
          .orderBy("doc_id", "rnk")
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t), " +
        "df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t), " +
        "n AS (SELECT COUNT(*) AS n FROM documents), " +
        "s AS (SELECT doc_id, t, tf * ln(CAST(n AS DOUBLE) / df) AS score " +
        "FROM tf JOIN df USING (t), n), " +
        "r AS (SELECT doc_id, t, score, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, t) AS BIGINT) AS rnk FROM s) " +
        "SELECT doc_id, t, ROUND(score, 6) AS tfidf, rnk FROM r WHERE rnk <= 3 " +
        "ORDER BY doc_id, rnk")),

    // L17 — exact distinct-user count per event type (the exact
    // counterpart of the HLL sketch path; see SketchSpec for the
    // approximate variants, which are not oracle-able across engines).
    "l17_count_distinct" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"),
      Some("SELECT event_type, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // L26 — int8 scalar-quantized ANN with exact re-rank: the
    // compressed-scan pattern (quantized integer dot → top-30 candidates
    // → exact cosine top-10). The approx pass is integer-exact in both
    // engines, so the candidate set — and therefore the final ranking —
    // is deterministic across Spark and DuckDB.
    "l26_ann_int8" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.int8TopK(e.filter(col("vec_id") === 0), e,
            "embedding", "vec_id", 10, 30)
          .select(col("neighbor_id").as("vec_id"), col("approx").as("qdot"),
            round(col("sim"), 6).as("sim"), col("rank").as("rnk"))
          .orderBy("rnk")
      },
      Some(s"WITH $embCte, " +
        "mx AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS m FROM e), " +
        "qz AS (SELECT vec_id, v, list_transform(v, x -> floor(x * 127.0 / m + 0.5)) AS qv FROM e, mx), " +
        "qq AS (SELECT v AS q_v, qv AS q_qv FROM qz WHERE vec_id = 0), " +
        s"ap AS (SELECT z.vec_id, CAST(${dotSql("q_qv", "z.qv")} AS BIGINT) AS qdot, " +
        s"${cosSql("q_v", "z.v")} AS sim FROM qz z, qq WHERE z.vec_id <> 0), " +
        "r AS (SELECT vec_id, qdot, sim, ROW_NUMBER() OVER (ORDER BY qdot DESC, vec_id) AS ar FROM ap), " +
        "c AS (SELECT vec_id, qdot, sim FROM r WHERE ar <= 30), " +
        "f AS (SELECT vec_id, qdot, sim, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk FROM c) " +
        "SELECT vec_id, qdot, ROUND(sim, 6) AS sim, rnk FROM f WHERE rnk <= 10 ORDER BY rnk")),

    // L27 — cross-document repeated 5-grams (exact-substring dedup
    // signal, Lee et al. 2022): boilerplate/template spans shared by ≥ 2
    // documents. One explode + one aggregation — no join.
    "l27_repeated_ngrams" -> QueryDef(
      (s, d) => Dedup.repeatedShingles(Tables.documents(s, d), "text", "doc_id", 5, 2)
        .orderBy("s"),
      Some(s"WITH ${shinglesCteN(5)} " +
        "SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s " +
        "HAVING COUNT(*) >= 2 ORDER BY s")),

    // L29 — global top-50 repeated 5-grams: the bounded-output twin of
    // l27 for the 100 TB regime, where the full ≥ minDocs relation is
    // itself huge. TakeOrderedAndProject keeps a local top-50 per
    // partition and merges on the driver — no global sort, k rows out.
    "l29_top_ngrams" -> QueryDef(
      (s, d) => Dedup.topRepeatedShingles(Tables.documents(s, d), "text", "doc_id", 5, 50),
      Some(s"WITH ${shinglesCteN(5)} " +
        "SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s " +
        "ORDER BY n_docs DESC, s LIMIT 50")),

    // L30 — training-shard packing: assign documents to contiguous
    // ~2000-token shards per source, the deterministic distributed form
    // of greedy sequence packing (documents never split; shard index =
    // the budget bucket the document's cumulative token offset falls
    // in). The running sum is the t18 two-pass prefix-offset form
    // (ShardWriter.assignShards → Windows.runningSumScalable): doc_id
    // range buckets + broadcast per-bucket offsets, so parallelism is
    // #sources × #buckets — a per-source window would cap it at the
    // source count (~5 TB/task at 100 TB). The 64-id test width keeps
    // multiple buckets live at sf0.01; at corpus scale the width is a
    // recipe parameter (default 2^20).
    "l30_pack_shards" -> QueryDef(
      (s, d) => graft.sources.ShardWriter.assignShards(
          Tables.documents(s, d).select("doc_id", "source", "text"),
          "text", "doc_id", "source", 2000L, idBucketWidth = 64L)
        .withColumn("n_tokens", wsTokenCount(col("text")))
        .select("doc_id", "source", "n_tokens", "shard")
        .orderBy("source", "doc_id"),
      Some("WITH t AS (SELECT doc_id, source, " +
        "length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens FROM documents) " +
        "SELECT doc_id, source, n_tokens, " +
        "CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens) " +
        "/ 2000.0) AS BIGINT) AS shard " +
        "FROM t ORDER BY source, doc_id")),

    // L31 — token-window chunking (the inverse of l30's packing):
    // overlapping 40-token windows at stride 30 per document — the
    // standard pretraining/RAG preprocessing step. Pure per-row explode
    // over arithmetic chunk starts (no shuffle at all until the ORDER
    // BY); tokens split once per document, chunks sliced from the array.
    "l31_chunk_docs" -> QueryDef(
      (s, d) => {
        val win = 40; val stride = 30
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("__t"))
          .select(col("doc_id"), col("__t"),
            explode(sequence(lit(0), size(col("__t")) - 1, lit(stride))).as("__start"))
          .select(col("doc_id"),
            (col("__start") / stride).cast("long").as("chunk_idx"),
            concat_ws(" ", slice(col("__t"), col("__start") + 1, lit(win))).as("chunk_text"),
            least(lit(win), size(col("__t")) - col("__start")).cast("long").as("n_tokens"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, " +
        "unnest(generate_series(0, len(toks) - 1, 30)) AS start FROM t) " +
        "SELECT doc_id, CAST(start / 30 AS BIGINT) AS chunk_idx, " +
        "array_to_string(toks[start + 1 : start + 40], ' ') AS chunk_text, " +
        "CAST(LEAST(40, len(toks) - start) AS BIGINT) AS n_tokens " +
        "FROM c ORDER BY doc_id, chunk_idx")),

    // L32 — winnowing fingerprints (Schleimer et al., SIGMOD'03 — the
    // MOSS local fingerprinting scheme): hash every POSITIONAL word
    // 4-gram, slide a window of 5 consecutive hashes, keep each window's
    // minimum; the per-doc distinct-min set is the fingerprint (value
    // set; winnowing guarantees any shared run ≥ w+n-1 tokens shares a
    // fingerprint). Plan shape: narrow explode → per-doc window (one
    // shuffle on doc_id) → two-level distinct count — scalable at any
    // corpus size; positional n-grams here, unlike the DISTINCT shingles
    // the MinHash path uses.
    "l32_winnow_fp" -> QueryDef(
      (s, d) => {
        val n = 4; val w = 5
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(-(w - 1), org.apache.spark.sql.expressions.Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("__t"))
          .filter(size(col("__t")) >= n)
          .select(col("doc_id"), col("__t"),
            explode(sequence(lit(0), size(col("__t")) - n)).as("pos"))
          .select(col("doc_id"), col("pos"),
            md5(concat_ws(" ", slice(col("__t"), col("pos") + 1, lit(n)))).as("h"))
          .withColumn("m", min(col("h")).over(win))
          .filter(col("pos") >= w - 1)
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("m")).as("n_fp"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 4), " +
        "g AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 4, 1)) AS pos FROM t), " +
        "h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos + 1 : pos + 4], ' ')) AS h FROM g), " +
        "m AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m FROM h) " +
        "SELECT doc_id, CAST(COUNT(DISTINCT m) AS BIGINT) AS n_fp " +
        "FROM m WHERE pos >= 4 GROUP BY doc_id ORDER BY doc_id")),

    // L33 — unigram language-model scoring (the order-0 analog of
    // CCNet's KenLM perplexity filter, Wenzek et al. LREC'20): corpus
    // token frequencies give p(t) = n_t / N; each document scores the
    // mean of −ln p(t) over its tokens — low = boilerplate/common text,
    // high = rare/surprising. Plan shape: one vocabulary aggregation
    // (map-side partial), a shuffle-hash token→count join (hinted — at
    // corpus scale the vocabulary is too big to broadcast, and a sort
    // would be wasted on a hash-joinable key), one per-doc aggregation.
    // Per-token scores round to 9 decimals and sum as DECIMAL, so the
    // cross-partition sum is exact and shuffle-order-independent.
    "l33_unigram_logprob" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("t"))
        val tf = tok.groupBy("t").agg(count(lit(1)).as("__n"))
        val tot = tf.agg(sum(col("__n")).as("__total"))
        tok.join(tf.hint("shuffle_hash"), Seq("t"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            round(-log(col("__n").cast("double") / col("__total")), 9)
              .cast("decimal(20,9)").as("__lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("__lp")).cast("double") / count(lit(1)), 6).as("avg_neg_logprob"))
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tf AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t), " +
        "tot AS (SELECT SUM(n) AS total FROM tf), " +
        "sc AS (SELECT doc_id, CAST(ROUND(-LN(CAST(n AS DOUBLE) / total), 9) AS DECIMAL(20,9)) AS lp " +
        "FROM tok JOIN tf USING (t), tot) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")),

    // L45 — bigram LM scoring, the order-1 extension of l33: mean
    // −ln p(w_i | w_{i−1}) per document under an add-one-smoothed bigram
    // model of the corpus, p(b|a) = (C(a,b)+1)/(C(a·)+V). Catches
    // word-salad documents whose unigrams look fine. Plan shape: bigrams
    // are per-row array arithmetic (no positional shuffle); C(a,b)
    // aggregates once, the context counts C(a·) derive from the (much
    // smaller) bigram-count table, V is one broadcast scalar; both count
    // joins are shuffle-hash (vocab² is far too big to broadcast at
    // scale). DECIMAL(20,9) partial sums keep the per-doc mean
    // shuffle-order-exact, as in l33/l39.
    "l45_bigram_logprob" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val big = docs
          .select(col("doc_id"), split(col("text"), " ").as("__t"))
          .filter(size(col("__t")) >= 2)
          .select(col("doc_id"), col("__t"),
            explode(sequence(lit(0), size(col("__t")) - 2)).as("__i"))
          .select(col("doc_id"),
            col("__t")(col("__i")).as("a"), col("__t")(col("__i") + 1).as("b"))
        val bc = big.groupBy("a", "b").agg(count(lit(1)).as("__nab"))
        val cx = bc.groupBy("a").agg(sum(col("__nab")).as("__na"))
        val v = docs.select(explode(wsTokens(col("text"))).as("t"))
          .agg(countDistinct(col("t")).as("__vsz"))
        big.join(bc.hint("shuffle_hash"), Seq("a", "b"))
          .join(cx.hint("shuffle_hash"), Seq("a"))
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            round(-log((col("__nab") + lit(1.0)) / (col("__na") + col("__vsz"))), 9)
              .cast("decimal(20,9)").as("__lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("__lp")).cast("double") / count(lit(1)), 6).as("avg_neg_logprob"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "bg AS (SELECT doc_id, tk[i + 1] AS a, tk[i + 2] AS b FROM " +
        "(SELECT doc_id, tk, UNNEST(generate_series(0, len(tk) - 2)) AS i FROM t WHERE len(tk) >= 2)), " +
        "bc AS (SELECT a, b, COUNT(*) AS nab FROM bg GROUP BY a, b), " +
        "cx AS (SELECT a, SUM(nab) AS na FROM bc GROUP BY a), " +
        "v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM " +
        "(SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)), " +
        "sc AS (SELECT doc_id, CAST(ROUND(-LN((nab + 1.0) / (na + vsz)), 9) AS DECIMAL(20,9)) AS lp " +
        "FROM bg JOIN bc USING (a, b) JOIN cx USING (a), v) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")),

    // L65 — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    // the smoothing family KenLM ships and CCNet actually filters
    // with — l45's add-one is the pedagogical baseline, this is the
    // production one): mean −ln P_KN(b|a) per document with absolute
    // discount d = 0.75 and the continuation-probability backoff
    //   P_KN(b|a) = (max(C(a,b)−d, 0) + d·N1+(a·)·P_cont(b)) / C(a·),
    //   P_cont(b) = N1+(·b) / |distinct bigrams|.
    // Every statistic derives from the ONE bigram-count table (context
    // totals, distinct-continuation and distinct-predecessor counts are
    // three cheap aggs of it); self-scoring the corpus means no unseen
    // events, so the formula needs no unseen-context branch. Same plan
    // + determinism discipline as l45: shuffle-hash count joins (vocab²
    // never broadcasts), one broadcast scalar, all-DOUBLE expression
    // tree identical in both engines (the oracle CASTs every operand —
    // DuckDB decimal literals would otherwise pull the arithmetic into
    // DECIMAL), 9-dp DECIMAL(20,9) terms, exact partial sums.
    "l65_kneser_ney" -> QueryDef(
      (s, d) => graft.operators.Scoring.kneserNeyBigram(
          Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "bg AS (SELECT doc_id, tk[i + 1] AS a, tk[i + 2] AS b FROM " +
        "(SELECT doc_id, tk, UNNEST(generate_series(0, len(tk) - 2)) AS i FROM t WHERE len(tk) >= 2)), " +
        "bc AS (SELECT a, b, COUNT(*) AS nab FROM bg GROUP BY a, b), " +
        "cx AS (SELECT a, SUM(nab) AS na, COUNT(*) AS n1v FROM bc GROUP BY a), " +
        "cw AS (SELECT b, COUNT(*) AS ncw FROM bc GROUP BY b), " +
        "nbt AS (SELECT COUNT(*) AS nb FROM bc), " +
        "sc AS (SELECT doc_id, CAST(ROUND(-LN(" +
        "(GREATEST(CAST(nab AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE)) + " +
        "CAST(0.75 AS DOUBLE) * n1v * (CAST(ncw AS DOUBLE) / nb)) / na" +
        "), 9) AS DECIMAL(20,9)) AS lp " +
        "FROM bg JOIN bc USING (a, b) JOIN cx USING (a) JOIN cw USING (b), nbt) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")),

    // L66 — HTML-to-text extraction (the CommonCrawl step between WARC
    // bodies and every text operator here): per the l51/l64 fixture
    // pattern, deterministic HTML is constructed around each document's
    // text on BOTH engine sides (title, style block, comment, script
    // block, entity-bearing tail — every removal class), then each
    // engine independently runs the same strip-blocks → strip-tags →
    // decode-entities → collapse chain. A hash match over the full
    // extracted strings certifies the (?s)/non-greedy regex chain and
    // entity ordering span-for-span across Java regex and RE2. Pure
    // per-row projection; zero shuffles.
    "l66_html_extract" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val html = concat(
          lit("<html><head><title>T"), str(id),
          lit("</title><style>p{color:red}</style></head><body><!-- c"), str(id),
          lit(" --><p>"), col("text"),
          lit("</p><script>var x="), str(id),
          lit(";</script><div>tail &amp; &lt;b&gt; "), str(id % 7),
          lit("</div></body></html>"))
        Tables.documents(s, d)
          .select(id, htmlToText(html).as("ext"))
          .select(id, col("ext"), md5(col("ext")).as("ext_md5"))
          .orderBy("doc_id")
      },
      Some("WITH h AS (SELECT doc_id, '<html><head><title>T' || CAST(doc_id AS VARCHAR) || " +
        "'</title><style>p{color:red}</style></head><body><!-- c' || CAST(doc_id AS VARCHAR) || " +
        "' --><p>' || text || '</p><script>var x=' || CAST(doc_id AS VARCHAR) || " +
        "';</script><div>tail &amp; &lt;b&gt; ' || CAST(doc_id % 7 AS VARCHAR) || " +
        "'</div></body></html>' AS html FROM documents), " +
        "e AS (SELECT doc_id, " + htmlToTextSql("html") + " AS ext FROM h) " +
        "SELECT doc_id, ext, md5(ext) AS ext_md5 FROM e ORDER BY doc_id")),

    // L67 — lexical diversity: per document, total tokens, distinct
    // tokens (type-token ratio's numerator), and hapax legomena (tokens
    // occurring exactly once in the doc) — the classic lexical-richness
    // signals that separate natural prose from keyword stuffing and
    // template spam. Integer sufficient statistics ONLY (the ratio is a
    // downstream division): no rounding boundary can exist. One explode
    // + a (doc, token) agg + a per-doc agg, both map-side combined.
    "l67_lexical_diversity" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(wsTokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("__c"))
        .groupBy("doc_id")
        .agg(sum(col("__c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(*) AS BIGINT) AS n_distinct, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax " +
        "FROM tc GROUP BY doc_id ORDER BY doc_id")),

    // L68 — the end-to-end crawl cascade, COMPOSED: WARC bytes →
    // record walk → HTTP-200 filter → boilerplate blocks → line dedup
    // → C4 line quality → normalize → exact dedup → banded-MinHash
    // near dedup → kept set. l50, l66, l60, l84, l91 and l28 certify
    // each stage alone; this is the first pipeline
    // a new user actually builds, certified as one dataflow. Fixture =
    // graft.sources.CascadeFixtures (36 HTTP-200 docs over 3 WARC
    // files incl. a gzip multi-member one; warcinfo/404/request/
    // truncated distractors the cascade must filter, not trip over;
    // 12 text families × 3 markup variants arranged so exact dedup
    // fires only because extraction+normalization converge and the
    // near-dup families sit at 3-gram Jaccard ≥ 0.8). The oracle runs
    // the same cascade in DuckDB from the construction-side (doc_id,
    // html) VALUES — the l50+l66 oracles composed — so a match proves
    // the stages compose identically from bytes to kept set. Scale
    // shape: narrow flatMap ingest, per-row projections, then
    // dedupCorpus's banded join — nothing quadratic.
    "l68_crawl_cascade" -> QueryDef(
      (s, _) => {
        val recs = graft.sources.Warc.records(
          graft.sources.CascadeFixtures.dataset(s), headBytes = 1024).toDF()
        // mainContent blocks joined with NEWLINES (not spaces): the
        // in-page line-dedup stage (l84) between the boilerplate pass
        // and the dedup gates operates per line == per kept block.
        // Each markup variant carries DIFFERENT link-dense chrome, and
        // variant 1 repeats its prose block, so the exact-dedup stage
        // converges only because the boilerplate pass drops the chrome
        // AND lineDedup collapses the in-page repeat.
        val pages = recs
          .filter(col("warc_type") === "response" && col("http_status") === 200)
          .select((col("file_id") * 100 + col("rec_idx")).as("doc_id"),
            array_join(transform(filter(mainContentBlocks(col("body_head")),
              b => b("keep")), b => b("t")), "\n").as("__main"))
        // C4 line-quality gate (l91) between line dedup and the dedup
        // stages: variant 2 carries an enable-javascript interstitial
        // the boilerplate verdicts keep — only this stage removes it,
        // so exact dedup converges only when it runs (load-bearing,
        // like lineDedup for variant 1's repeated block)
        val docs = Dedup.lineDedup(pages, "__main", "__lined")
          .select(col("doc_id"),
            normalizeText(replace(
              lineQualityFilter(col("__lined")), lit("\n"), lit(" "))).as("text"))
        Dedup.dedupCorpus(docs, "text", "doc_id", 0.8)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("WITH " + graft.sources.CascadeFixtures.valuesSql + ", " +
        mainContentCtes("raw") + ", " +
        // in-page line dedup at block granularity: first occurrence
        // (by document order) of each kept block's text wins
        "lined AS (SELECT doc_id, ord, t, keep, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id, t, keep ORDER BY ord) AS rn FROM mck), " +
        // the C4 line-quality predicate (l91's rules) applied per kept
        // first-occurrence block line
        "docs AS (SELECT doc_id, " +
        normalizeTextSql("COALESCE(string_agg(t, ' ' ORDER BY ord) " +
          "FILTER (WHERE keep AND rn = 1 " +
          "AND len(list_filter(string_split(t, ' '), x -> x <> '')) >= 5 " +
          "AND regexp_matches(rtrim(t), '[.!?\"'']$') " +
          "AND NOT contains(lower(t), 'javascript')), '')") +
        " AS text FROM lined GROUP BY doc_id), " +
        "kept AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM docs) " +
        "WHERE rn = 1), " +
        minhashPairsCte("kept") + ", " + jaccardCte + ", " +
        "fin AS (SELECT doc_id, text FROM kept WHERE doc_id NOT IN " +
        "(SELECT b_id FROM jac WHERE jaccard >= 0.8)) " +
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "md5(text) AS text_md5 FROM fin ORDER BY doc_id")),

    // L69 — compression-ratio regression pin (Scoring.compressionRatio).
    // The oracle engine ships no deflate, so a semantic oracle is
    // impossible; instead — the l48 fixture philosophy inverted — the
    // query runs the operator over six CONSTRUCTED payloads spanning
    // the signal's range (extreme repetition, templated prose, hex
    // noise, empty, single char, loop spam) and the oracle is a VALUES
    // relation of golden rows. The deflate_len constants were pinned
    // from the operator AND cross-checked byte-identical against an
    // independent zlib implementation (python zlib.compress level 6) at
    // pin time, so they are properties of the zlib format settings, not
    // echoes of this code; any drift in deflater configuration (level,
    // strategy, wrapper) breaks the pin.
    "l69_compression_pin" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val bases = Seq(
          "the quick brown fox jumps over the lazy dog by the river",
          "pack my box with five dozen liquor jugs for the long trip",
          "a stitch in time saves nine when the cloth begins to fray",
          "all that glitters is not gold said the old miner at dawn")
        val payloads = Seq(
          (1L, "ab" * 500),
          (2L, bases.mkString(" ") * 4),
          (3L, (0 until 32).map(i => java.security.MessageDigest.getInstance("MD5")
            .digest(i.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString).mkString),
          (4L, ""),
          (5L, "x"),
          (6L, "the quick brown fox " * 64))
        graft.operators.Scoring.compressionRatio(
            payloads.toDF("doc_id", "text"), "text", "doc_id")
          .orderBy("doc_id")
      },
      Some("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), CAST(1000 AS BIGINT), CAST(18 AS BIGINT), CAST(18000 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), CAST(916 AS BIGINT), CAST(163 AS BIGINT), CAST(177947 AS BIGINT)), " +
        "(CAST(3 AS BIGINT), CAST(1024 AS BIGINT), CAST(573 AS BIGINT), CAST(559570 AS BIGINT)), " +
        "(CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT)), " +
        "(CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(9000000 AS BIGINT)), " +
        "(CAST(6 AS BIGINT), CAST(1280 AS BIGINT), CAST(39 AS BIGINT), CAST(30468 AS BIGINT))" +
        ") AS t(doc_id, raw_len, deflate_len, ratio_ppm) ORDER BY doc_id")),

    // L77 — charset detection for WARC bodies (Warc.sniffCharset /
    // decodeBody): Common Crawl is full of legacy encodings, and a
    // wrong decode silently corrupts every downstream text operator.
    // Sniff priority is WHATWG's — BOM > HTTP Content-Type label >
    // meta-charset label > UTF-8 structural validity > windows-1252
    // fallback — and every branch has a fixture (CharsetFixtures):
    // bodies are BUILT by encoding known strings under known charsets,
    // and the oracle is a VALUES relation of the ORIGINAL strings, so
    // a hash match proves the sniff picked the right encoding and the
    // decode recovered the intended text. Runs inside the same
    // zero-shuffle record walk as l50.
    "l77_warc_charset" -> QueryDef(
      (s, _) => graft.sources.Warc.records(
          graft.sources.CharsetFixtures.dataset(s), headBytes = 256)
        .toDF()
        .select(col("file_id"), col("rec_idx"), col("http_status"),
          col("body_len"), col("body_head"), col("charset"))
        .orderBy("rec_idx"),
      Some(graft.sources.CharsetFixtures.oracleSql)),

    // L78 — perceptual image hashing for near-dup detection
    // (Multimodal.dHash64 at the ImageIO decode boundary): the 9×8
    // difference hash with a DOCUMENTED deterministic reduction
    // (integer luma, floor-partitioned area averages — no
    // implementation-dependent AWT scaling), so constructed BMPs have
    // HAND-DERIVED expected hashes (ImageFixtures' scaladoc carries the
    // derivations: ramps → all-ones/zero, the area-average twin, a
    // one-dark-cell Hamming-1 neighbor, an undecodable payload). The
    // oracle is a VALUES relation of those literals — l48's golden
    // pattern. Pair generation reuses l40's banded-Hamming machinery
    // (Dedup.hammingPairs64, certified vs brute force in OperatorSpec);
    // this query certifies the signature itself.
    "l78_image_dhash" -> QueryDef(
      (s, _) => graft.operators.Multimodal.imageDHash(
          graft.operators.ImageFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.ImageFixtures.oracleSql)),

    // L79 — product-quantization ANN (Jégou et al. 2011), the
    // memory-bounded scale path past l26's int8 scan: encode each
    // vector as m=8 one-byte codes (nearest subspace centroid, squared
    // L2, ties to the lowest code), score by asymmetric distance —
    // per-query m×ksub lookup tables, the scan side does table sums,
    // no vector arithmetic — and re-rank survivors with the exact
    // cosine. The declared query drives the REAL operator path
    // (Similarity.pqEncode/pqTopK) with FORMULA codebooks and
    // 10⁶-quantized integer-valued doubles, so every distance and ADC
    // sum is exactly representable and the oracle (same formula
    // codebook, relational argmin/lookup) is rounding-free except the
    // final cosine's documented ROUND(…, 6); TRAINED codebooks
    // (trainPqCodebooks) are certified by recall + determinism specs
    // in OperatorSpec, the l42 split.
    "l79_ann_pq" -> QueryDef(
      (s, d) => {
        val m = 8; val dim = 64; val ksub = 16; val dsub = dim / m
        val books = s.range(m.toLong * ksub).toDF("__i")
          .select((col("__i") / ksub).cast("int").as("s"),
            (col("__i") % ksub).cast("int").as("j"))
          .withColumn("sv", expr(s"transform(sequence(0, ${dsub - 1}), " +
            "t -> CAST(((j * 17 + t * 5 + s * 3) % 41 - 20) * 25000 AS DOUBLE))"))
        val quant = Tables.embeddings(s, d).select(col("vec_id"), expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
            "x -> CAST(floor(x * 1000000) AS DOUBLE))").as("__v"))
        graft.operators.Similarity.pqTopK(
            quant.filter(col("vec_id") < 5), quant, books,
            "__v", "vec_id", m, dim, k = 5, rerank = 20)
          .select(col("query_id"), col("neighbor_id"),
            col("adist").cast("long").as("adist_l"),
            round(col("sim"), 6).as("sim"), col("rank").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some("WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CAST(FLOOR(x * 1000000) AS DOUBLE)) AS v FROM embeddings), " +
        "cb AS (SELECT s, j, t, CAST(((j * 17 + t * 5 + s * 3) % 41 - 20) * 25000 AS DOUBLE) AS c " +
        "FROM (SELECT UNNEST(range(8)) AS s), (SELECT UNNEST(range(16)) AS j), " +
        "(SELECT UNNEST(range(8)) AS t)), " +
        "sub AS (SELECT vec_id, s, t, v[s * 8 + t + 1] AS x FROM e, " +
        "(SELECT UNNEST(range(8)) AS s), (SELECT UNNEST(range(8)) AS t)), " +
        "d AS (SELECT vec_id, s, j, SUM((x - c) * (x - c)) AS dist FROM sub " +
        "JOIN cb USING (s, t) GROUP BY 1, 2, 3), " +
        "codes AS (SELECT vec_id, s, j FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d) WHERE rn = 1), " +
        "dt AS (SELECT vec_id AS query_id, s, j, dist FROM d WHERE vec_id < 5), " +
        "ad AS (SELECT dt.query_id, c2.vec_id AS neighbor_id, SUM(dt.dist) AS adist " +
        "FROM codes c2 JOIN dt ON dt.s = c2.s AND dt.j = c2.j AND dt.query_id <> c2.vec_id " +
        "GROUP BY 1, 2), " +
        "cand AS (SELECT query_id, neighbor_id, adist FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS ar FROM ad) " +
        "WHERE ar <= 20), " +
        "sims AS (SELECT query_id, neighbor_id, adist, " +
        cosSql("qa.v", "cb2.v") + " AS sim FROM cand " +
        "JOIN e qa ON qa.vec_id = query_id JOIN e cb2 ON cb2.vec_id = neighbor_id) " +
        "SELECT query_id, neighbor_id, CAST(adist AS BIGINT) AS adist_l, " +
        "ROUND(sim, 6) AS sim, rnk FROM (SELECT *, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM sims) " +
        "WHERE rnk <= 5 ORDER BY query_id, rnk")),

    // L85 — IVFADC (Jégou et al. 2011 §IV, the FAISS layout): the
    // composition l79 lacks — l79's ADC pass scans the WHOLE encoded
    // corpus per query batch; here the coarse IVF quantizer (l8/l42's
    // cell machinery) routes each query to nprobe=2 of 4 cells, PQ
    // codes are trained/looked-up on RESIDUALS (vector − cell
    // centroid), and the ADC scan touches only the probed cells' codes
    // (the cell semi-join; partition-by-cell at rest makes it a storage
    // prune). Drives the REAL operator path (Similarity.ivfadcTopK)
    // with FORMULA coarse centroids + FORMULA residual codebooks over
    // 10⁶-quantized integer-valued doubles — every dot, residual,
    // squared distance and ADC sum is an exact integer (< 2⁵³, so
    // engine fold order is irrelevant), the oracle recomputes the same
    // assignment/encode/probe/lookup relationally, and the only
    // rounding anywhere is the final cosine's documented ROUND(…, 6).
    // TRAINED residual codebooks are certified by the recall spec in
    // OperatorSpec (the l42 split).
    "l85_ann_ivfadc" -> QueryDef(
      (s, d) => {
        val m = 8; val dim = 64; val ksub = 16; val dsub = dim / m
        val cents = s.range(4L).toDF("cell")
          .withColumn("__v", expr("transform(sequence(0, 63), " +
            "t -> CAST(((cell * 13 + t * 7) % 23 - 11) * 50000 AS DOUBLE))"))
        val books = s.range(m.toLong * ksub).toDF("__i")
          .select((col("__i") / ksub).cast("int").as("s"),
            (col("__i") % ksub).cast("int").as("j"))
          .withColumn("sv", expr(s"transform(sequence(0, ${dsub - 1}), " +
            "t -> CAST(((j * 17 + t * 5 + s * 3) % 41 - 20) * 25000 AS DOUBLE))"))
        val quant = Tables.embeddings(s, d).select(col("vec_id"), expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
            "x -> CAST(floor(x * 1000000) AS DOUBLE))").as("__v"))
        graft.operators.Similarity.ivfadcTopK(
            quant.filter(col("vec_id") < 5), quant, cents, books,
            "__v", "vec_id", "cell", m, dim, k = 5, nprobe = 2, rerank = 20)
          .select(col("query_id"), col("neighbor_id"),
            col("adist").cast("long").as("adist_l"),
            round(col("sim"), 6).as("sim"), col("rank").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some("WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CAST(FLOOR(x * 1000000) AS DOUBLE)) AS v FROM embeddings), " +
        "cc AS (SELECT cell, t, CAST(((cell * 13 + t * 7) % 23 - 11) * 50000 AS DOUBLE) AS c " +
        "FROM (SELECT UNNEST(range(4)) AS cell), (SELECT UNNEST(range(64)) AS t)), " +
        // cosine vec→cell over exact-integer dots (order-free sums)
        "vc AS (SELECT e.vec_id, cc.cell, SUM(e.v[cc.t + 1] * cc.c) AS dp, " +
        "SUM(e.v[cc.t + 1] * e.v[cc.t + 1]) AS vn2, SUM(cc.c * cc.c) AS cn2 " +
        "FROM e, cc GROUP BY 1, 2), " +
        "cs AS (SELECT vec_id, cell, dp / (sqrt(vn2) * sqrt(cn2)) AS csim FROM vc), " +
        "asn AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM cs) WHERE rn = 1), " +
        "res AS (SELECT a.vec_id, a.cell, cc.t, e.v[cc.t + 1] - cc.c AS x " +
        "FROM asn a JOIN e ON e.vec_id = a.vec_id JOIN cc ON cc.cell = a.cell), " +
        "cb AS (SELECT s, j, t, CAST(((j * 17 + t * 5 + s * 3) % 41 - 20) * 25000 AS DOUBLE) AS c " +
        "FROM (SELECT UNNEST(range(8)) AS s), (SELECT UNNEST(range(16)) AS j), " +
        "(SELECT UNNEST(range(8)) AS t)), " +
        "rsub AS (SELECT vec_id, cell, t // 8 AS s, t % 8 AS st, x FROM res), " +
        "d AS (SELECT vec_id, cell, rsub.s, j, SUM((x - c) * (x - c)) AS dist " +
        "FROM rsub JOIN cb ON cb.s = rsub.s AND cb.t = rsub.st GROUP BY 1, 2, 3, 4), " +
        "codes AS (SELECT vec_id, cell, s, j FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d) WHERE rn = 1), " +
        // query side: nprobe=2 cells each, residual PER probed cell
        "qp AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn " +
        "FROM cs WHERE vec_id < 5) WHERE rn <= 2), " +
        "qres AS (SELECT q.query_id, q.cell, cc.t, e.v[cc.t + 1] - cc.c AS x " +
        "FROM qp q JOIN e ON e.vec_id = q.query_id JOIN cc ON cc.cell = q.cell), " +
        "qsub AS (SELECT query_id, cell, t // 8 AS s, t % 8 AS st, x FROM qres), " +
        "dtq AS (SELECT query_id, cell, qsub.s, j, SUM((x - c) * (x - c)) AS dist " +
        "FROM qsub JOIN cb ON cb.s = qsub.s AND cb.t = qsub.st GROUP BY 1, 2, 3, 4), " +
        "ad AS (SELECT dtq.query_id, codes.vec_id AS neighbor_id, SUM(dtq.dist) AS adist " +
        "FROM codes JOIN dtq ON dtq.cell = codes.cell AND dtq.s = codes.s " +
        "AND dtq.j = codes.j AND dtq.query_id <> codes.vec_id GROUP BY 1, 2), " +
        "cand AS (SELECT query_id, neighbor_id, adist FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY adist, neighbor_id) AS ar FROM ad) WHERE ar <= 20), " +
        "sims AS (SELECT query_id, neighbor_id, adist, " +
        cosSql("qa.v", "cb2.v") + " AS sim FROM cand " +
        "JOIN e qa ON qa.vec_id = query_id JOIN e cb2 ON cb2.vec_id = neighbor_id) " +
        "SELECT query_id, neighbor_id, CAST(adist AS BIGINT) AS adist_l, " +
        "ROUND(sim, 6) AS sim, rnk FROM (SELECT *, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM sims) " +
        "WHERE rnk <= 5 ORDER BY query_id, rnk")),

    // L88 — mojibake repair (TextFunctions.fixMojibake): windows-1252-
    // of-UTF-8 double encoding ("Ã©" for "é") passes every UTF-8
    // validity check — l77's sniff CANNOT catch it — and flows through
    // every downstream text operator uncorrected; this is the single
    // most common crawl corruption. The fixture is the l77 philosophy
    // inverted to the char domain: inputs are BUILT by mechanically
    // corrupting known strings with the JVM's charset machinery
    // (UTF-8 bytes decoded as windows-1252 — ground truth independent
    // of the operator), the oracle is a VALUES relation of the
    // ORIGINAL clean strings (or the input itself where the guard
    // must hold fire), so a hash match proves the round trip restores
    // exactly the intended text AND that clean text — legit "NÃO",
    // "São", a real € price, mixed mojibake+unmappable — is never
    // altered. Two passes handle twice-corrupted text. Pure per-row
    // projection, zero shuffles at any scale.
    "l88_mojibake_repair" -> QueryDef(
      (s, _) => {
        import s.implicits._
        mojibakeCases.map { case (id, input, _) => (id, input) }
          .toDF("doc_id", "raw")
          .select(col("doc_id"), fixMojibake(col("raw")).as("fixed"))
          .withColumn("fixed_md5", md5(col("fixed")))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, fixed, md5(fixed) AS fixed_md5 FROM (VALUES " +
        mojibakeCases.map { case (id, _, expected) =>
          s"(CAST($id AS BIGINT), '${expected.replace("'", "''")}')"
        }.mkString(", ") +
        ") AS t(doc_id, fixed) ORDER BY doc_id")),

    // L80 — GPT-style training-sequence packing (Packing.sequencePack):
    // the corpus's tokens concatenated in doc_id order and cut into
    // fixed-128-token training sequences, documents split at the
    // boundaries they straddle. The only global computation is the
    // exclusive prefix sum of token counts, which runs through
    // runningSumChunked (per-chunk sums + chunk-level offsets window —
    // no partition-less window sees row-scale data); the rest is
    // per-row arithmetic and a token-linear explode. The oracle
    // recomputes the same layout with a plain window prefix sum —
    // integer arithmetic end to end, no rounding anywhere.
    "l80_seq_pack" -> QueryDef(
      (s, d) => graft.operators.Packing.sequencePack(
          Tables.documents(s, d), "text", "doc_id", seqLen = 128L)
        .orderBy("seq_id", "doc_id"),
      Some("WITH n AS (SELECT doc_id, length(text) - length(replace(text, ' ', '')) + 1 AS n_tok " +
        "FROM documents), " +
        "p AS (SELECT doc_id, n_tok, " +
        "CAST(SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS st FROM n), " +
        "x AS (SELECT doc_id, n_tok, st, " +
        "UNNEST(generate_series(st // 128, CAST((st + n_tok - 1) // 128 AS BIGINT))) AS seq_id " +
        "FROM p WHERE n_tok > 0) " +
        "SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, " +
        "CAST(GREATEST(0, seq_id * 128 - st) AS BIGINT) AS tok_from, " +
        "CAST(LEAST(n_tok, (seq_id + 1) * 128 - st) AS BIGINT) AS tok_to " +
        "FROM x ORDER BY seq_id, doc_id")),

    // L86 — split-AVERSE whole-document packing (Packing.packWholeDocs):
    // the Llama-class layout l80 is not — l80 concatenates and cuts at
    // sequence boundaries (documents straddle them), this places every
    // doc ≤ 128 tokens WHOLE into one 128-token bin (attention never
    // crosses documents) and truncates longer docs to a bin of their
    // own. Sequential best-fit-decreasing does not distribute, so the
    // operator is the deterministic distributed greedy: length-class
    // shelf packing (class c = 128 div n_tok holds c docs per bin, >
    // 50% fill in every full bin), classes laid out by the l30
    // prefix-offset pattern. Integer arithmetic end to end; the oracle
    // recomputes the identical greedy with plain windows.
    "l86_pack_whole" -> QueryDef(
      (s, d) => graft.operators.Packing.packWholeDocs(
          Tables.documents(s, d), "text", "doc_id", seqLen = 128L)
        .orderBy("bin_id", "doc_id"),
      Some("WITH n AS (SELECT doc_id, length(text) - length(replace(text, ' ', '')) + 1 AS n_tok " +
        "FROM documents), " +
        "t AS (SELECT doc_id, n_tok, LEAST(n_tok, 128) AS nt FROM n), " +
        "c AS (SELECT doc_id, n_tok, nt, 128 // nt AS cl FROM t), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cl ORDER BY doc_id) - 1 AS rk FROM c), " +
        "o AS (SELECT cl, COALESCE(SUM((cnt + cl - 1) // cl) OVER " +
        "(ORDER BY cl ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off " +
        "FROM (SELECT cl, COUNT(*) AS cnt FROM c GROUP BY cl)) " +
        "SELECT CAST(o.off + r.rk // r.cl AS BIGINT) AS bin_id, r.doc_id, " +
        "CAST(n_tok AS BIGINT) AS n_tok, CAST(nt AS BIGINT) AS tok_kept, " +
        "n_tok > 128 AS truncated " +
        "FROM r JOIN o USING (cl) ORDER BY bin_id, doc_id")),

    // L89 — BPE-token-budgeted packing (Packing.sequencePackBpe): the
    // l80 layout with the sequence budget counted in REAL tokenizer
    // tokens (Bpe.encodeWordsFast over the distinct vocabulary joined
    // back to per-doc word multiplicities) instead of whitespace
    // words. The declared run uses the EMPTY merge table, under which
    // a word encodes to its code points and the budget degenerates to
    // the non-space character count — relationally expressible, so the
    // oracle certifies the whole live path (vocab encode, multiplicity
    // join, count agg, chunked prefix sum, explode) with zero
    // BPE-specific arithmetic left unchecked; TRAINED tables are
    // golden-pinned in OperatorSpec (full-merge identity with l80 +
    // hand-computed partial-merge counts, the l73 pattern).
    "l89_pack_bpe" -> QueryDef(
      (s, d) => graft.operators.Packing.sequencePackBpe(
          Tables.documents(s, d), "text", "doc_id", Seq.empty, seqLen = 512L)
        .orderBy("seq_id", "doc_id"),
      // n_tok = NON-WHITESPACE character count (whitespace-run split ×
      // empty merges ⇒ sum of word code-point lengths), mirroring the
      // l63 split fix
      Some("WITH n AS (SELECT doc_id, " +
        "length(regexp_replace(text, '[ \\n\\t\\r]', '', 'g')) AS n_tok " +
        "FROM documents), " +
        "p AS (SELECT doc_id, n_tok, " +
        "CAST(SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS st FROM n), " +
        "x AS (SELECT doc_id, n_tok, st, " +
        "UNNEST(generate_series(st // 512, CAST((st + n_tok - 1) // 512 AS BIGINT))) AS seq_id " +
        "FROM p WHERE n_tok > 0) " +
        "SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, " +
        "CAST(GREATEST(0, seq_id * 512 - st) AS BIGINT) AS tok_from, " +
        "CAST(LEAST(n_tok, (seq_id + 1) * 512 - st) AS BIGINT) AS tok_to " +
        "FROM x ORDER BY seq_id, doc_id")),

    // L123 — BYTE-level-BPE-budgeted packing
    // (Packing.sequencePackByteBpe): l89's layout with the sequence
    // budget in the GPT lineage's own tokens (ByteBpe.tokenCounts —
    // whitespace is data, unlike the word-level l89). Declared with
    // the EMPTY merge table: the pre-tokenizer provably tiles text
    // (ByteBpeSpec), so each document prices at octet_length(text) and
    // the oracle certifies the whole live path — pre-token explode,
    // distinct-token encode join-back, chunked prefix sum, explode —
    // with zero BPE arithmetic left unchecked (trained tables
    // golden-pinned by l114).
    "l123_pack_bytebpe" -> QueryDef(
      (s, d) => graft.operators.Packing.sequencePackByteBpe(
          Tables.documents(s, d), "text", "doc_id", Seq.empty, seqLen = 512L)
        .orderBy("seq_id", "doc_id"),
      Some("WITH n AS (SELECT doc_id, octet_length(encode(text)) AS n_tok " +
        "FROM documents), " +
        "p AS (SELECT doc_id, n_tok, " +
        "CAST(SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS st FROM n), " +
        "x AS (SELECT doc_id, n_tok, st, " +
        "UNNEST(generate_series(st // 512, CAST((st + n_tok - 1) // 512 AS BIGINT))) AS seq_id " +
        "FROM p WHERE n_tok > 0) " +
        "SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, " +
        "CAST(GREATEST(0, seq_id * 512 - st) AS BIGINT) AS tok_from, " +
        "CAST(LEAST(n_tok, (seq_id + 1) * 512 - st) AS BIGINT) AS tok_to " +
        "FROM x ORDER BY seq_id, doc_id")),

    // L124 — corpus-scale EPUB text ROUND TRIP (OfficeZip.syntheticEpub
    // ∘ extractText, completing the l121/l122 container triptych):
    // every document's text wraps into a one-chapter EPUB
    // (entity-escaped <p> body, Deflate on even ids) and extracts back
    // through container.xml → OPF manifest → spine → stripXhtml.
    // Unlike the byte-exact PDF/DOCX trips, the prose strip COLLAPSES
    // whitespace runs and trims, so the certified invariant is
    // trim(collapse-ws(text)) — the oracle restates the identical
    // dialect-neutral collapse.
    "l124_epub_roundtrip" -> QueryDef(
      (s, d) => OfficeZip.extractText(containers(fanOut(corpus(s, d)))(OfficeZip.syntheticEpub))
        .toDF().select(col("doc_id"), col("text")).orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "trim(regexp_replace(text, '[ \\n\\t\\r]+', ' ', 'g')) AS text " +
        "FROM documents ORDER BY doc_id")),

    // L90 — token-budget mixture sampling (Sampling.tokenBudgetMix):
    // the dataloader-facing mixing knob — a training recipe says "B
    // tokens at mixture w" and each language should contribute
    // ≈ w_d·B tokens; keep rate min(1, w_d·B/T_d) over the stratum's
    // token mass, thresholds exact DECIMAL(38,0) integers (the l47
    // discipline), rows kept by the md5-hash draw so the sample is
    // bit-reproducible cross-engine. Strata absent from the weight map
    // (es here) weigh 0 and drop; under-massed strata cap at
    // keep-everything and under-fill honestly. The oracle recomputes
    // thresholds in HUGEINT and replays the identical hash rule.
    "l90_token_budget_mix" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("__tok", wsTokenCount(col("text")))
        graft.operators.Sampling.tokenBudgetMix(docs, "lang", "doc_id", "__tok",
            Map("en" -> 500000L, "de" -> 300000L, "fr" -> 200000L),
            budgetTokens = 20000L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("kept_tokens"))
          .orderBy("lang")
      },
      Some("WITH n AS (SELECT doc_id, lang, " +
        "length(text) - length(replace(text, ' ', '')) + 1 AS tok FROM documents), " +
        "t AS (SELECT lang, SUM(tok) AS tt FROM n GROUP BY lang), " +
        "w AS (SELECT lang, tt, CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 300000 " +
        "WHEN 'fr' THEN 200000 ELSE 0 END AS wppm FROM t), " +
        "th AS (SELECT lang, CAST(LEAST(65536, (CAST(65536 AS HUGEINT) * wppm * 20000) // " +
        "(CAST(1000000 AS HUGEINT) * tt)) AS BIGINT) AS thr FROM w), " +
        "k AS (SELECT n.lang, n.doc_id, n.tok FROM n JOIN th USING (lang) " +
        "WHERE thr >= 65536 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS kept_tokens " +
        "FROM k GROUP BY lang ORDER BY lang")),

    // L91 — C4-style line-quality filtering
    // (TextFunctions.lineQualityFilter): the Raffel et al. §2.2 rule
    // set — keep a line iff ≥5 words AND terminal punctuation AND no
    // "javascript" — l84's sibling (that one cuts REPEATED lines, this
    // one cuts LOW-QUALITY lines). Pages constructed from doc_id mix
    // keep/drop lines of every rule class, including the blank
    // structure lines both engines must preserve; the oracle replays
    // the predicate per line and reassembles.
    "l91_line_quality" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val nl = lit("\n")
        val page = concat(
          lit("She said the story of "), col("text"), lit(" ends well."), nl,
          lit("Click here"), nl,
          lit("Please enable javascript to view page "), str(id % 5), lit("."), nl,
          nl,
          lit("Menu Home About Contact Privacy Terms"), nl,
          lit("It was told again by narrator "), str(id % 7), lit("."), nl,
          lit("Short tail."))
        Tables.documents(s, d).select(id, page.as("page"))
          // stage the cleaned text once: both readers below reference
          // it, and CollapseProject won't re-inline a non-cheap alias
          .select(id, col("page"), lineQualityFilter(col("page")).as("__clean"))
          .select(id,
            size(split(col("page"), "\n")).cast("long").as("n_lines_in"),
            size(split(col("__clean"), "\n")).cast("long").as("n_lines_out"),
            md5(col("__clean")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("WITH pg AS (SELECT doc_id, " +
        "'She said the story of ' || text || ' ends well.' || chr(10) || " +
        "'Click here' || chr(10) || " +
        "'Please enable javascript to view page ' || CAST(doc_id % 5 AS VARCHAR) || '.' || chr(10) || " +
        "chr(10) || " +
        "'Menu Home About Contact Privacy Terms' || chr(10) || " +
        "'It was told again by narrator ' || CAST(doc_id % 7 AS VARCHAR) || '.' || chr(10) || " +
        "'Short tail.' AS page FROM documents), " +
        "lsp AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pg), " +
        "u AS (SELECT doc_id, ls, UNNEST(generate_series(1, len(ls))) AS pos FROM lsp), " +
        "v AS (SELECT doc_id, pos, ls[pos] AS line, len(ls) AS n_in FROM u), " +
        "k AS (SELECT doc_id, pos, line, n_in FROM v WHERE trim(line) = '' OR " +
        "(len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5 " +
        "AND regexp_matches(rtrim(line), '[.!?\"'']$') " +
        "AND NOT contains(lower(line), 'javascript'))) " +
        "SELECT doc_id, CAST(MAX(n_in) AS BIGINT) AS n_lines_in, " +
        "CAST(COUNT(*) AS BIGINT) AS n_lines_out, " +
        "md5(COALESCE(string_agg(line, chr(10) ORDER BY pos), '')) AS clean_md5 " +
        "FROM k GROUP BY doc_id ORDER BY doc_id")),

    // L92 — Unicode script profiling (ScriptProfileExpr): one native
    // code-point pass per row → counts per writing system + dominant
    // script — the crawl pre-filter that flags mixed-script /
    // mis-encoded pages before any language model runs. The class
    // definitions are explicit code-point ranges precisely so the
    // oracle can restate them as independent regex character classes
    // (the l82 cross-engine certification discipline). Fixtures mix
    // Latin, Cyrillic, Greek and CJK in doc_id-driven proportions.
    "l92_script_profile" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val page = concat(
          lit("Data pipeline number "), str(id % 9), lit(" "),
          repeat(lit("привет мир "), (id % 4).cast("int")),
          repeat(lit("数据管道"), (id % 3).cast("int")),
          when(id % 2 === 0, lit("αβγδ")).otherwise(lit("")))
        val prof = graft.functions.ScriptProfileExpr(col("page"))
        Tables.documents(s, d).select(id, page.as("page"))
          .select(id, prof.as("__p"))
          .select(id,
            element_at(col("__p"), 1).as("n_latin"),
            element_at(col("__p"), 2).as("n_cyrillic"),
            element_at(col("__p"), 3).as("n_greek"),
            element_at(col("__p"), 7).as("n_cjk"),
            element_at(col("__p"), 10).as("n_digit"),
            element_at(col("__p"), 11).as("n_space"),
            graft.functions.ScriptProfileExpr.dominantScript(col("__p")).as("dominant"))
          .orderBy("doc_id")
      },
      Some("WITH pg AS (SELECT doc_id, " +
        "'Data pipeline number ' || CAST(doc_id % 9 AS VARCHAR) || ' ' || " +
        "repeat('привет мир ', CAST(doc_id % 4 AS INTEGER)) || " +
        "repeat('数据管道', CAST(doc_id % 3 AS INTEGER)) || " +
        "CASE WHEN doc_id % 2 = 0 THEN 'αβγδ' ELSE '' END AS page FROM documents), " +
        "c AS (SELECT doc_id, " +
        "CAST(length(page) - length(regexp_replace(page, " +
        "'[A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{024F}]', '', 'g')) AS BIGINT) AS n_latin, " +
        "CAST(length(page) - length(regexp_replace(page, '[\\x{0400}-\\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic, " +
        "CAST(length(page) - length(regexp_replace(page, '[\\x{0370}-\\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek, " +
        "CAST(length(page) - length(regexp_replace(page, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk, " +
        "CAST(length(page) - length(regexp_replace(page, '[0-9]', '', 'g')) AS BIGINT) AS n_digit, " +
        "CAST(length(page) - length(regexp_replace(page, '[ \\t\\n\\r]', '', 'g')) AS BIGINT) AS n_space " +
        "FROM pg) " +
        "SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_digit, n_space, " +
        "CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_cjk) = 0 THEN 'none' " +
        "WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_cjk) THEN 'latin' " +
        "WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, n_cjk) THEN 'cyrillic' " +
        "WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek, n_cjk) THEN 'greek' " +
        "ELSE 'cjk' END AS dominant " +
        "FROM c ORDER BY doc_id")),

    // L93 — URL blocklist filtering (Domains.blocklistFilter): the
    // FineWeb/UT1 curation gate — exact-host block, registrable-domain
    // block (kills every subdomain), path-prefix block, in that
    // priority. Rule tables join broadcast; the URL side parses once
    // (withUrlParts staged projection) and never shuffles. The oracle
    // restates host/domain extraction with the l64/l71 SQL fragments
    // and replays the same IN/LIKE priority.
    "l93_url_blocklist" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://"),
          when(id % 5 === 0, lit("ads.example.com"))
            .when(id % 5 === 1, concat(lit("shop"), str(id % 3), lit(".badsite.org")))
            .when(id % 5 === 2, lit("www.goodsite.com"))
            .when(id % 5 === 3, concat(lit("sub"), str(id % 4), lit(".goodsite.com")))
            .otherwise(lit("GOODsite.com")),
          when(id % 5 === 2, concat(lit("/ads/banner/"), str(id)))
            .otherwise(concat(lit("/p/"), str(id))))
        val hosts = Seq("ads.example.com", "tracker.net").toDF("host")
        val doms = Seq("badsite.org", "spam.example").toDF("domain")
        graft.operators.Domains.blocklistFilter(
            Tables.documents(s, d).select(id, url.as("url")), "url",
            hosts, doms, pathPrefixes = Seq("/ads/"))
          .select(id, col("url"),
            coalesce(col("block_reason"), lit("clean")).as("verdict"))
          .orderBy("doc_id")
      },
      Some("WITH u AS (SELECT doc_id, 'https://' || " +
        "CASE WHEN doc_id % 5 = 0 THEN 'ads.example.com' " +
        "WHEN doc_id % 5 = 1 THEN 'shop' || CAST(doc_id % 3 AS VARCHAR) || '.badsite.org' " +
        "WHEN doc_id % 5 = 2 THEN 'www.goodsite.com' " +
        "WHEN doc_id % 5 = 3 THEN 'sub' || CAST(doc_id % 4 AS VARCHAR) || '.goodsite.com' " +
        "ELSE 'GOODsite.com' END || " +
        "CASE WHEN doc_id % 5 = 2 THEN '/ads/banner/' || CAST(doc_id AS VARCHAR) " +
        "ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS url FROM documents), " +
        "p AS (SELECT doc_id, url, " +
        "lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host, " +
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1) AS path " +
        "FROM u), " +
        "q AS (SELECT doc_id, url, host, path, " +
        "regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) AS dom FROM p) " +
        "SELECT doc_id, url, " +
        "CASE WHEN host IN ('ads.example.com', 'tracker.net') THEN 'host' " +
        "WHEN dom IN ('badsite.org', 'spam.example') THEN 'domain' " +
        "WHEN path LIKE '/ads/%' THEN 'path' ELSE 'clean' END AS verdict " +
        "FROM q ORDER BY doc_id")),

    // L94 — tokenizer fertility by language: chars per 1k tokens and
    // tokens per 100 words under the BPE-ish regex tokenizer — the
    // observability readout that tells a tokenizer team which
    // languages are over-paying tokens (fertility guides vocab
    // allocation). Integer sufficient statistics end-to-end; both
    // engines run the identical regex.
    "l94_token_fertility" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(wsTokenCount(col("text"))).as("n_words"),
          sum(bpeishTokenCount(col("text"))).as("n_bpeish"))
        .withColumn("chars_per_1k_tok",
          expr("(1000 * n_chars) DIV n_bpeish"))
        .withColumn("tok_per_100_words",
          expr("(100 * n_bpeish) DIV n_words"))
        .orderBy("lang"),
      Some("WITH t AS (SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(length(text)) AS BIGINT) AS n_chars, " +
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_words, " +
        s"CAST(SUM(len(regexp_extract_all(lower(text), '$BpePattern'))) AS BIGINT) AS n_bpeish " +
        "FROM documents GROUP BY lang) " +
        "SELECT lang, n_docs, n_chars, n_words, n_bpeish, " +
        "CAST((1000 * n_chars) // n_bpeish AS BIGINT) AS chars_per_1k_tok, " +
        "CAST((100 * n_bpeish) // n_words AS BIGINT) AS tok_per_100_words " +
        "FROM t ORDER BY lang")),

    // L95 — unigram-LM tokenizer golden pin (Unigram.trainUnigram +
    // viterbiEncode): the SentencePiece algorithm trained by
    // distributed EM with EXACT integer sufficient statistics (×2^20
    // fixed-point expected counts summed in DECIMAL — bit-identical at
    // any cpu count, spec-pinned to the driver-side reference loop),
    // then Viterbi-decoded. Same fixture-corpus discipline as the l73
    // BPE pin: the oracle is the hand-captured segmentation table —
    // any drift in seeding, EM rounding, pruning order, or decode
    // tie-breaks shows up as a differing row.
    "l95_unigram_pin" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val bases = Seq(
          "the quick brown fox jumps over the lazy dog by the river",
          "pack my box with five dozen liquor jugs for the long trip",
          "a stitch in time saves nine when the cloth begins to fray",
          "all that glitters is not gold said the old miner at dawn",
          "every good boy deserves fruit after the long practice session",
          "the rain in spain falls mainly on the wide open plain",
          "still waters run deep where the old stone bridge crosses over",
          "many hands make light work when the harvest moon rises early")
        val docs = bases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val vocab = graft.operators.Unigram.trainUnigram(docs, "text",
          vocabSize = 40, seedSize = 80, maxPieceLen = 4, emRounds = 2)
        graft.operators.Unigram.viterbiEncode(docs, "text", vocab, maxPieceLen = 4)
          .select(col("w"), array_join(col("pieces"), "|").as("pieces"),
            size(col("pieces")).cast("long").as("n_pieces"))
          .orderBy("w")
      },
      Some("SELECT * FROM (VALUES " +
        "('a', 'a', CAST(1 AS BIGINT)), ('after', 'a|f|t|e|r', CAST(5 AS BIGINT)), " +
        "('all', 'a|l|l', CAST(3 AS BIGINT)), ('at', 'a|t', CAST(2 AS BIGINT)), " +
        "('begins', 'b|e|g|in|s', CAST(5 AS BIGINT)), ('box', 'b|o|x', CAST(3 AS BIGINT)), " +
        "('boy', 'b|o|y', CAST(3 AS BIGINT)), ('bridge', 'b|r|id|g|e', CAST(5 AS BIGINT)), " +
        "('brown', 'b|r|o|w|n', CAST(5 AS BIGINT)), ('by', 'b|y', CAST(2 AS BIGINT)), " +
        "('cloth', 'c|l|o|th', CAST(4 AS BIGINT)), ('crosses', 'c|r|o|s|ses', CAST(5 AS BIGINT)), " +
        "('dawn', 'd|a|w|n', CAST(4 AS BIGINT)), ('deep', 'd|e|e|p', CAST(4 AS BIGINT)), " +
        "('deserves', 'd|e|s|e|r|v|e|s', CAST(8 AS BIGINT)), ('dog', 'd|o|g', CAST(3 AS BIGINT)), " +
        "('dozen', 'd|o|z|e|n', CAST(5 AS BIGINT)), ('early', 'e|a|r|l|y', CAST(5 AS BIGINT)), " +
        "('every', 'e|ver|y', CAST(3 AS BIGINT)), ('falls', 'f|a|l|l|s', CAST(5 AS BIGINT)), " +
        "('five', 'f|i|v|e', CAST(4 AS BIGINT)), ('for', 'f|or', CAST(2 AS BIGINT)), " +
        "('fox', 'f|o|x', CAST(3 AS BIGINT)), ('fray', 'f|r|a|y', CAST(4 AS BIGINT)), " +
        "('fruit', 'f|r|u|i|t', CAST(5 AS BIGINT)), ('glitters', 'g|li|t|t|e|r|s', CAST(7 AS BIGINT)), " +
        "('gold', 'g|old', CAST(2 AS BIGINT)), ('good', 'g|o|o|d', CAST(4 AS BIGINT)), " +
        "('hands', 'ha|n|d|s', CAST(4 AS BIGINT)), ('harvest', 'ha|r|v|e|s|t', CAST(6 AS BIGINT)), " +
        "('in', 'in', CAST(1 AS BIGINT)), ('is', 'i|s', CAST(2 AS BIGINT)), " +
        "('jugs', 'j|u|g|s', CAST(4 AS BIGINT)), ('jumps', 'j|u|m|p|s', CAST(5 AS BIGINT)), " +
        "('lazy', 'l|a|z|y', CAST(4 AS BIGINT)), ('light', 'li|g|h|t', CAST(4 AS BIGINT)), " +
        "('liquor', 'li|q|u|or', CAST(4 AS BIGINT)), ('long', 'l|on|g', CAST(3 AS BIGINT)), " +
        "('mainly', 'm|ain|l|y', CAST(4 AS BIGINT)), ('make', 'ma|k|e', CAST(3 AS BIGINT)), " +
        "('many', 'ma|n|y', CAST(3 AS BIGINT)), ('miner', 'm|in|e|r', CAST(4 AS BIGINT)), " +
        "('moon', 'm|o|on', CAST(3 AS BIGINT)), ('my', 'm|y', CAST(2 AS BIGINT)), " +
        "('nine', 'n|in|e', CAST(3 AS BIGINT)), ('not', 'n|o|t', CAST(3 AS BIGINT)), " +
        "('old', 'old', CAST(1 AS BIGINT)), ('on', 'on', CAST(1 AS BIGINT)), " +
        "('open', 'o|p|e|n', CAST(4 AS BIGINT)), ('over', 'o|ver', CAST(2 AS BIGINT)), " +
        "('pack', 'p|a|c|k', CAST(4 AS BIGINT)), ('plain', 'p|l|ain', CAST(3 AS BIGINT)), " +
        "('practice', 'p|r|a|c|t|i|c|e', CAST(8 AS BIGINT)), ('quick', 'q|u|i|c|k', CAST(5 AS BIGINT)), " +
        "('rain', 'r|ain', CAST(2 AS BIGINT)), ('rises', 'ri|ses', CAST(2 AS BIGINT)), " +
        "('river', 'ri|ver', CAST(2 AS BIGINT)), ('run', 'r|u|n', CAST(3 AS BIGINT)), " +
        "('said', 's|a|id', CAST(3 AS BIGINT)), ('saves', 's|a|v|e|s', CAST(5 AS BIGINT)), " +
        "('session', 'ses|s|i|on', CAST(4 AS BIGINT)), ('spain', 's|p|ain', CAST(3 AS BIGINT)), " +
        "('still', 's|t|i|l|l', CAST(5 AS BIGINT)), ('stitch', 's|t|i|t|c|h', CAST(6 AS BIGINT)), " +
        "('stone', 's|t|on|e', CAST(4 AS BIGINT)), ('that', 't|ha|t', CAST(3 AS BIGINT)), " +
        "('the', 'the', CAST(1 AS BIGINT)), ('time', 't|i|m|e', CAST(4 AS BIGINT)), " +
        "('to', 't|o', CAST(2 AS BIGINT)), ('trip', 't|ri|p', CAST(3 AS BIGINT)), " +
        "('waters', 'w|a|t|e|r|s', CAST(6 AS BIGINT)), ('when', 'w|h|e|n', CAST(4 AS BIGINT)), " +
        "('where', 'w|h|e|r|e', CAST(5 AS BIGINT)), ('wide', 'w|id|e', CAST(3 AS BIGINT)), " +
        "('with', 'w|i|th', CAST(3 AS BIGINT)), ('work', 'w|or|k', CAST(3 AS BIGINT))" +
        ") AS t(w, pieces, n_pieces) ORDER BY w")),

    // L96 — Gopher repetition signals (Scoring.repetitionSignals):
    // the three highest-cut MassiveText gates beyond l22's pair —
    // duplicate-line fraction, duplicate-line CHARACTER fraction, and
    // top-2-gram character coverage — exact integer ppm, pure per-row.
    // Pages constructed from doc_id repeat a nav line 2-3×, carry one
    // spammy repeated-gram line and two unique prose lines, so all
    // three signals take non-trivial doc-dependent values; the oracle
    // recomputes via (doc, line)/(doc, gram) count relations.
    "l96_repetition_gopher" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val page = concat(
          lit("Home | Products | About"), lit("\n"),
          lit("The study of item "), str(id % 7),
          lit(" continues with new results today."), lit("\n"),
          lit("Home | Products | About"), lit("\n"),
          when(id % 3 === 0, lit("Home | Products | About\n")).otherwise(lit("")),
          lit("Buy now buy now buy now buy now."), lit("\n"),
          lit("A unique closing remark numbered "), str(id % 11), lit("."))
        graft.operators.Scoring.repetitionSignals(
            Tables.documents(s, d).select(id, page.as("page")), "page", n = 2)
          .select(id, col("dup_line_frac_ppm"), col("dup_line_char_frac_ppm"),
            col("top_ngram_char_frac_ppm"))
          .orderBy("doc_id")
      },
      Some("WITH pg AS (SELECT doc_id, " +
        "'Home | Products | About' || chr(10) || " +
        "'The study of item ' || CAST(doc_id % 7 AS VARCHAR) || " +
        "' continues with new results today.' || chr(10) || " +
        "'Home | Products | About' || chr(10) || " +
        "CASE WHEN doc_id % 3 = 0 THEN 'Home | Products | About' || chr(10) ELSE '' END || " +
        "'Buy now buy now buy now buy now.' || chr(10) || " +
        "'A unique closing remark numbered ' || CAST(doc_id % 11 AS VARCHAR) || '.' AS page " +
        "FROM documents), " +
        "raw AS (SELECT doc_id, UNNEST(string_split(page, chr(10))) AS l FROM pg), " +
        "lc AS (SELECT doc_id, trim(l) AS line, COUNT(*) AS c, length(trim(l)) AS len " +
        "FROM raw WHERE trim(l) <> '' GROUP BY doc_id, trim(l)), " +
        "la AS (SELECT doc_id, SUM(c) AS n_l, COUNT(*) AS n_d, SUM(c * len) AS ch, " +
        "SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dch FROM lc GROUP BY doc_id), " +
        "tk AS (SELECT doc_id, list_filter(string_split_regex(page, '[ \\t\\n\\r]+'), x -> x <> '') AS t FROM pg), " +
        "gr AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM " +
        "(SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i FROM tk WHERE len(t) >= 2)), " +
        "gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY doc_id, g), " +
        "tp AS (SELECT doc_id, c * length(g) AS topn FROM " +
        "(SELECT doc_id, g, c, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM gc) WHERE rn = 1), " +
        "base AS (SELECT doc_id, length(page) AS plen FROM pg) " +
        "SELECT b.doc_id, " +
        "CAST(CASE WHEN COALESCE(n_l, 0) > 0 THEN ((n_l - n_d) * 1000000) // n_l ELSE 0 END AS BIGINT) AS dup_line_frac_ppm, " +
        "CAST(CASE WHEN COALESCE(ch, 0) > 0 THEN (dch * 1000000) // ch ELSE 0 END AS BIGINT) AS dup_line_char_frac_ppm, " +
        "CAST(CASE WHEN COALESCE(topn, 0) > 0 AND plen > 0 THEN (topn * 1000000) // plen ELSE 0 END AS BIGINT) AS top_ngram_char_frac_ppm " +
        "FROM base b LEFT JOIN la USING (doc_id) LEFT JOIN tp USING (doc_id) " +
        "ORDER BY doc_id")),

    // L97 — benchmark decontamination (Decontaminate.flagContaminated):
    // the GPT-3 appendix-C scrub — a training doc sharing any
    // normalized word 8-gram with the eval benchmark is contaminated.
    // The benchmark here is the doc_id % 37 slice of the corpus itself
    // (so hits are guaranteed and any cross-doc template repetition in
    // the synthetic corpus is exercised too); grams broadcast, the
    // corpus explodes once and never shuffles for the match.
    "l97_decontamination" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val bench = docs.filter(col("doc_id") % 37 === 0)
        val grams = graft.operators.Decontaminate.benchGrams(bench, "text", n = 8)
        graft.operators.Decontaminate.flagContaminated(docs, "text", "doc_id", grams, n = 8)
          .select(col("doc_id"), col("n_hit_grams"), col("contaminated"))
          .orderBy("doc_id")
      },
      Some("WITH nb AS (SELECT doc_id, " + normalizeTextSql("text") + " AS text FROM documents), " +
        shinglesCteN(8, "nb") + ", " +
        "bg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0), " +
        "hits AS (SELECT sh.doc_id, COUNT(*) AS n FROM sh JOIN bg USING (s) GROUP BY sh.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_grams, " +
        "COALESCE(h.n, 0) > 0 AS contaminated " +
        "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id ORDER BY d.doc_id")),

    // L98 — sentence-boundary token-budget chunking with overlap
    // (Chunking.sentenceChunks): the RAG/embedding front-end — chunks
    // of ≤32 ws-tokens cut only at sentence boundaries, tail sentences
    // within 8 tokens of a boundary repeated at the next chunk's head.
    // The assignment rule (home = running-sum div budget; overlap
    // re-emit when end > boundary − overlap and the next chunk exists)
    // is replayed verbatim by the oracle: window cumsum → // bucket →
    // UNION ALL of the overlap rows → per-chunk agg with ordered
    // string_agg.
    "l98_sentence_chunks" -> QueryDef(
      (s, d) => graft.operators.Chunking.sentenceChunks(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", maxTokens = 32, overlapTokens = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_sentences"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
      Some("WITH sp AS (SELECT doc_id, string_split(" +
        "regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1)) AS ss FROM documents), " +
        "se AS (SELECT doc_id, UNNEST(ss) AS sent, " +
        "UNNEST(generate_series(0, len(ss) - 1)) AS pos FROM sp), " +
        "tt AS (SELECT doc_id, pos, sent, " +
        "CAST(length(sent) - length(replace(sent, ' ', '')) + 1 AS BIGINT) AS nt FROM se), " +
        "st AS (SELECT doc_id, pos, sent, nt, COALESCE(SUM(nt) OVER " +
        "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt FROM tt), " +
        "ck AS (SELECT *, strt // 32 AS home FROM st), " +
        "hm AS (SELECT DISTINCT doc_id, home FROM ck), " +
        "em AS (SELECT doc_id, pos, sent, nt, home AS chunk_id FROM ck " +
        "UNION ALL SELECT c.doc_id, pos, sent, nt, c.home + 1 FROM ck c " +
        "JOIN hm h ON h.doc_id = c.doc_id AND h.home = c.home + 1 " +
        "WHERE strt + nt > (c.home + 1) * 32 - 8) " +
        "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
        "CAST(COUNT(*) AS BIGINT) AS n_sentences, CAST(SUM(nt) AS BIGINT) AS n_tokens, " +
        "md5(string_agg(sent, ' ' ORDER BY pos)) AS chunk_md5 " +
        "FROM em GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id")),

    // L99 — measured domain-level quality gating
    // (Domains.domainQualityGate ∘ Scoring.repetitionSignals): the
    // FineWeb content-farm kill a static blocklist (l93) cannot do —
    // per-page duplicate-line-char ppm (l96's signal) aggregated by
    // registrable domain; domains with ≥20 pages averaging ≥400000 ppm
    // are condemned, subdomains pooling into the apex. Spam-farm pages
    // (doc_id%5 ∈ {0,1}, spread over 3 subdomains) repeat their lines;
    // clean domains carry unique prose. The oracle re-derives the
    // per-page signal from (doc, line) counts, the domain from the l64
    // host/domain fragments, and the same floor-div average + CASE.
    "l99_domain_gate" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://"),
          when(id % 5 <= 1, concat(lit("shard"), str(id % 3), lit(".spamfarm.biz")))
            .when(id % 5 === 2, lit("www.goodsite.com"))
            .when(id % 5 === 3, concat(lit("sub"), str(id % 4), lit(".goodsite.com")))
            .otherwise(lit("cleanblog.org")),
          lit("/p/"), str(id))
        val page = when(id % 5 <= 1, concat(
            lit("Buy cheap pills now\nBuy cheap pills now\nBuy cheap pills now\n"),
            lit("Unique filler line number "), str(id)))
          .otherwise(concat(
            lit("Article "), str(id), lit(" opens with a thought.\n"),
            lit("A different idea follows in the second line.\n"),
            lit("Closing remark numbered "), str(id % 7), lit(".")))
        val sig = graft.operators.Scoring.repetitionSignals(
            Tables.documents(s, d).select(id, url.as("url"), page.as("page")),
            "page", n = 2)
          .select(id, col("url"), col("dup_line_char_frac_ppm").as("sig"))
        graft.operators.Domains.domainQualityGate(sig, "url", "sig",
            minDocs = 20, maxAvgPpm = 400000L)
          .select(id, col("domain"), col("domain_docs"), col("domain_avg_ppm"),
            coalesce(col("domain_verdict"), lit("clean")).as("verdict"))
          .orderBy("doc_id")
      },
      Some("WITH pg AS (SELECT doc_id, 'https://' || " +
        "CASE WHEN doc_id % 5 <= 1 THEN 'shard' || CAST(doc_id % 3 AS VARCHAR) || '.spamfarm.biz' " +
        "WHEN doc_id % 5 = 2 THEN 'www.goodsite.com' " +
        "WHEN doc_id % 5 = 3 THEN 'sub' || CAST(doc_id % 4 AS VARCHAR) || '.goodsite.com' " +
        "ELSE 'cleanblog.org' END || '/p/' || CAST(doc_id AS VARCHAR) AS url, " +
        "CASE WHEN doc_id % 5 <= 1 THEN " +
        "'Buy cheap pills now' || chr(10) || 'Buy cheap pills now' || chr(10) || " +
        "'Buy cheap pills now' || chr(10) || 'Unique filler line number ' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'Article ' || CAST(doc_id AS VARCHAR) || ' opens with a thought.' || chr(10) || " +
        "'A different idea follows in the second line.' || chr(10) || " +
        "'Closing remark numbered ' || CAST(doc_id % 7 AS VARCHAR) || '.' END AS page " +
        "FROM documents), " +
        "raw AS (SELECT doc_id, UNNEST(string_split(page, chr(10))) AS l FROM pg), " +
        "lc AS (SELECT doc_id, trim(l) AS line, COUNT(*) AS c, length(trim(l)) AS len " +
        "FROM raw WHERE trim(l) <> '' GROUP BY doc_id, trim(l)), " +
        "sg AS (SELECT doc_id, CASE WHEN SUM(c * len) > 0 THEN " +
        "(SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END) * 1000000) // SUM(c * len) " +
        "ELSE 0 END AS sig FROM lc GROUP BY doc_id), " +
        "dm AS (SELECT p.doc_id, p.url, COALESCE(s.sig, 0) AS sig, " +
        "regexp_extract(lower(regexp_extract(p.url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), " +
        "'([a-z0-9-]+\\.[a-z0-9-]+)$', 1) AS domain FROM pg p LEFT JOIN sg s ON s.doc_id = p.doc_id), " +
        "st AS (SELECT domain, COUNT(*) AS n, SUM(sig) AS ssum FROM dm GROUP BY domain) " +
        "SELECT dm.doc_id, dm.domain, CAST(st.n AS BIGINT) AS domain_docs, " +
        "CAST(ssum // n AS BIGINT) AS domain_avg_ppm, " +
        "CASE WHEN st.n >= 20 AND ssum // n >= 400000 THEN 'spam_domain' ELSE 'clean' END AS verdict " +
        "FROM dm JOIN st USING (domain) ORDER BY dm.doc_id")),

    // L100 — exact per-stratum percentile gating
    // (Sampling.percentileGate): the CCNet/FineWeb-Edu keep-the-best
    // step — within each language, drop the lowest quarter by
    // type-token-ratio ppm (l67's integer statistics). The rank is
    // EXACT (no quantile sketch: a sketch's cutoff depends on merge
    // order and can't be oracle-certified) yet never windows a whole
    // stratum in one task — runningSumChunked over (score, id-chunk)
    // buckets, stratum counts broadcast. The oracle is the plain
    // ROW_NUMBER restatement of the same (score, id) order and the
    // same floor-threshold arithmetic.
    "l100_percentile_gate" -> QueryDef(
      (s, d) => {
        val ttr = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(wsTokens(col("text"))).as("t"))
          .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("__tc"))
          .groupBy("doc_id", "lang")
          .agg(sum(col("__tc")).as("__nt"), count(lit(1)).as("__nd"))
          .withColumn("ttr_ppm", expr("(__nd * 1000000L) div __nt"))
          .select(col("doc_id"), col("lang"), col("ttr_ppm"))
        graft.operators.Sampling.percentileGate(ttr, "lang", "ttr_ppm",
            "doc_id", dropBelowPpm = 250000L)
          .select(col("doc_id"), col("lang"), col("ttr_ppm"),
            col("score_rank"), col("kept"))
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tc AS (SELECT doc_id, lang, t, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3), " +
        "ttr AS (SELECT doc_id, lang, (COUNT(*) * 1000000) // SUM(c) AS ttr_ppm " +
        "FROM tc GROUP BY doc_id, lang), " +
        "rk AS (SELECT doc_id, lang, ttr_ppm, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ttr_ppm, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY lang) AS n FROM ttr) " +
        "SELECT doc_id, lang, CAST(ttr_ppm AS BIGINT) AS ttr_ppm, " +
        "CAST(rn AS BIGINT) AS score_rank, " +
        "rn > (n * 250000) // 1000000 AS kept FROM rk ORDER BY doc_id")),

    // L101 — unigram-distribution drift (Scoring.unigramJsd): the
    // snapshot-over-snapshot observability readout — Jensen–Shannon
    // divergence (nats) between the token distributions of two corpus
    // slices (here doc_id parity) per language. Per-token double
    // contributions from exact integer counts, rounded to 9 decimals
    // and summed as DECIMAL(20,9) (the l33/l65 discipline: the
    // cross-partition sum is order-independent), totals broadcast.
    "l101_unigram_drift" -> QueryDef(
      (s, d) => graft.operators.Scoring.unigramJsd(
          Tables.documents(s, d)
            .withColumn("in_a", col("doc_id") % 2 === 0),
          "text", "lang", "in_a")
        .orderBy("lang"),
      Some("WITH tok AS (SELECT lang, doc_id % 2 = 0 AS ina, " +
        "UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "tc AS (SELECT lang, t, SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS ca, " +
        "SUM(CASE WHEN ina THEN 0 ELSE 1 END) AS cb FROM tok GROUP BY lang, t), " +
        "tot AS (SELECT lang, SUM(ca) AS na, SUM(cb) AS nb FROM tc GROUP BY lang), " +
        "c AS (SELECT lang, na, nb, CAST(ROUND(" +
        "CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na) * " +
        "LN((CAST(ca AS DOUBLE) / na) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / CAST(2.0 AS DOUBLE))) * CAST(0.5 AS DOUBLE) " +
        "ELSE CAST(0.0 AS DOUBLE) END + " +
        "CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb) * " +
        "LN((CAST(cb AS DOUBLE) / nb) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / CAST(2.0 AS DOUBLE))) * CAST(0.5 AS DOUBLE) " +
        "ELSE CAST(0.0 AS DOUBLE) END, 9) AS DECIMAL(20,9)) AS jc " +
        "FROM tc JOIN tot USING (lang)) " +
        "SELECT lang, CAST(MAX(na) AS BIGINT) AS n_tokens_a, " +
        "CAST(MAX(nb) AS BIGINT) AS n_tokens_b, " +
        "ROUND(CAST(SUM(jc) AS DOUBLE), 6) AS jsd " +
        "FROM c GROUP BY lang ORDER BY lang")),

    // L102 — host link-graph extraction (Domains.hostLinkEdges): hrefs
    // pulled from page HTML in one regex pass, absolute http(s)
    // cross-host targets only, distinct edges, then per-host in/out
    // degree — the raw material of link-based quality signals. Pages
    // constructed from doc_id: 20 hosts in a ring (K → K+1), a
    // tripling chord (K → 3K mod 20), a relative link and a self link
    // both engines must DROP, and an occasional hub link so one host
    // concentrates in-degree. The oracle re-extracts with its own
    // regex engine and replays the filters.
    "l102_link_graph" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://site"), str(id % 20),
          lit(".example/p/"), str(id))
        val html = concat(
          lit("<html><body><a href=\"https://site"), str((id % 20 + 1) % 20),
          lit(".example/p/1\">next</a> <a href=/about>rel</a> "),
          lit("<a href=\"https://site"), str((id * 3) % 20),
          lit(".example/x\">chord</a> "),
          lit("<a href=\"https://site"), str(id % 20),
          lit(".example/self\">me</a>"),
          when(expr("(doc_id div 20) % 3 = 0"),
            lit(" <a href=\"https://hub.example/h\">hub</a>")).otherwise(lit("")),
          lit("</body></html>"))
        val edges = graft.operators.Domains.hostLinkEdges(
          Tables.documents(s, d).select(id, url.as("url"), html.as("html")),
          "url", "html")
        val ind = edges.groupBy(col("dst_host").as("host"))
          .agg(count(lit(1)).as("in_hosts"))
        val outd = edges.groupBy(col("src_host").as("host"))
          .agg(count(lit(1)).as("out_hosts"))
        ind.join(outd.hint("shuffle_hash"), Seq("host"), "full_outer")
          .select(col("host"),
            coalesce(col("in_hosts"), lit(0L)).as("in_hosts"),
            coalesce(col("out_hosts"), lit(0L)).as("out_hosts"))
          .orderBy("host")
      },
      Some("WITH pg AS (SELECT doc_id, " +
        "'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR) AS url, " +
        "'<html><body><a href=\"https://site' || CAST((doc_id % 20 + 1) % 20 AS VARCHAR) || " +
        "'.example/p/1\">next</a> <a href=/about>rel</a> ' || " +
        "'<a href=\"https://site' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example/x\">chord</a> ' || " +
        "'<a href=\"https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example/self\">me</a>' || " +
        "CASE WHEN (doc_id // 20) % 3 = 0 THEN ' <a href=\"https://hub.example/h\">hub</a>' ELSE '' END || " +
        "'</body></html>' AS html FROM documents), " +
        "lk AS (SELECT lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host, " +
        "UNNEST(regexp_extract_all(html, '(?i)href=[\"'']?([^\"'' >]+)', 1)) AS href FROM pg), " +
        "ed AS (SELECT DISTINCT src_host, " +
        "lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host " +
        "FROM lk WHERE regexp_matches(href, '(?i)^https?://')), " +
        "e2 AS (SELECT * FROM ed WHERE dst_host <> src_host AND dst_host <> ''), " +
        "ind AS (SELECT dst_host AS host, COUNT(*) AS n_in FROM e2 GROUP BY 1), " +
        "outd AS (SELECT src_host AS host, COUNT(*) AS n_out FROM e2 GROUP BY 1) " +
        "SELECT COALESCE(i.host, o.host) AS host, " +
        "CAST(COALESCE(n_in, 0) AS BIGINT) AS in_hosts, " +
        "CAST(COALESCE(n_out, 0) AS BIGINT) AS out_hosts " +
        "FROM ind i FULL JOIN outd o ON i.host = o.host ORDER BY host")),

    // L103 — spam-neighborhood propagation (hostLinkEdges ∘
    // Graph.reachMinHops): hosts within 2 link-hops of condemned seed
    // hosts — the guilt-by-association pass run after a domain gate
    // (l99) condemns the seeds; link proximity to spam is itself a
    // quality signal (spam farms interlink). Same constructed graph as
    // l102; the oracle is DuckDB's native recursive CTE with
    // MIN(dist), the r26 cross-strategy pattern.
    "l103_spam_neighborhood" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://site"), str(id % 20),
          lit(".example/p/"), str(id))
        val html = concat(
          lit("<html><body><a href=\"https://site"), str((id % 20 + 1) % 20),
          lit(".example/p/1\">next</a> "),
          lit("<a href=\"https://site"), str((id * 3) % 20),
          lit(".example/x\">chord</a></body></html>"))
        val edges = graft.operators.Domains.hostLinkEdges(
          Tables.documents(s, d).select(id, url.as("url"), html.as("html")),
          "url", "html")
        val seeds = Seq("site0.example", "site5.example").toDF("host")
        graft.operators.Graph.reachMinHops(
            edges, seeds, "src_host", "dst_host", "host", 2)
          .orderBy("host")
      },
      Some("WITH RECURSIVE pg AS (SELECT doc_id, " +
        "'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR) AS url, " +
        "'<html><body><a href=\"https://site' || CAST((doc_id % 20 + 1) % 20 AS VARCHAR) || " +
        "'.example/p/1\">next</a> ' || " +
        "'<a href=\"https://site' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example/x\">chord</a></body></html>' AS html " +
        "FROM documents), " +
        "lk AS (SELECT lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host, " +
        "UNNEST(regexp_extract_all(html, '(?i)href=[\"'']?([^\"'' >]+)', 1)) AS href FROM pg), " +
        "ed AS (SELECT DISTINCT src_host, " +
        "lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host " +
        "FROM lk WHERE regexp_matches(href, '(?i)^https?://')), " +
        "e2 AS (SELECT * FROM ed WHERE dst_host <> src_host AND dst_host <> ''), " +
        "reach(host, dist) AS (" +
        "SELECT * FROM (VALUES ('site0.example', 0), ('site5.example', 0)) AS s(host, dist) " +
        "UNION SELECT e.dst_host, r.dist + 1 FROM reach r " +
        "JOIN e2 e ON e.src_host = r.host WHERE r.dist < 2) " +
        "SELECT host, CAST(MIN(dist) AS BIGINT) AS dist FROM reach " +
        "GROUP BY host ORDER BY host")),

    // L104 — robots.txt compliance filtering (Robots.disallowRules +
    // disallowedUrls): the retroactive-consent pass (C4 re-filtered
    // CommonCrawl this way) — parse each host's robots.txt into
    // per-agent Allow/Disallow groups, flag URLs the agent may not
    // fetch by RFC 9309 longest-match (an Allow carve-out wins inside
    // a Disallow: / full block; a still-longer wildcard Disallow wins
    // inside the carve-out). Fixture: hosts k=id%6 cycle 3 shapes —
    // k%3==2 the carve-out (Disallow: / + Allow: /public/ + the §2.2.3
    // wildcard Disallow: /public/*.exe$); else even k a star group
    // (/private/, /tmp/) + an evilbot group; else odd k a (graftbot, *)
    // group (/ads/) + an inapplicable 'other' group. URLs cycle
    // /private/, /ads/, BARE HOST (path reads as '/'), /public/ — the
    // /public/ path gaining a '.exe' suffix every 8th doc. The oracle
    // is the l48 ground-truth pattern: the verdict derived from the
    // CONSTRUCTION parameters (carve-out host → blocked unless a
    // non-exe /public/ path; even host → blocked iff /private/; odd
    // host → blocked iff /ads/), so a match proves the whole parse →
    // group → agent-match → wildcard-compile → longest-match-argmax
    // chain read back exactly what the construction wrote.
    "l104_robots_compliance" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val docs = Tables.documents(s, d).select(id,
          concat(lit("https://site"), str(id % 6), lit(".example"),
            when(id % 4 === 0, concat(lit("/private/p"), str(id)))
              .when(id % 4 === 1, concat(lit("/ads/b"), str(id)))
              .when(id % 4 === 2, lit(""))
              .otherwise(concat(lit("/public/a"), str(id),
                when(id % 8 === 3, lit(".exe")).otherwise(lit(""))))).as("url"))
        val hosts = Tables.documents(s, d).select((id % 6).as("k")).distinct()
          .select(
            concat(lit("site"), col("k").cast("string"), lit(".example")).as("host"),
            when(col("k") % 3 === 2,
              lit("User-agent: *\nDisallow: /\nAllow: /public/\n" +
                "Disallow: /public/*.exe$"))
              .when(col("k") % 2 === 0,
                lit("User-agent: *\nDisallow: /private/\nDisallow: /tmp/\n\n" +
                  "User-agent: evilbot\nDisallow: /"))
              .otherwise(
                lit("User-agent: graftbot\nUser-agent: *\nDisallow: /ads/\n\n" +
                  "User-agent: other\nDisallow: /everything/")).as("body"))
        val rules = graft.operators.Robots.disallowRules(
          hosts, "host", "body", agent = "graftbot")
        graft.operators.Robots.disallowedUrls(docs, "url", rules, "host")
          .select(id, col("url"), col("robots_disallowed"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, 'https://site' || CAST(doc_id % 6 AS VARCHAR) || '.example' || " +
        "CASE WHEN doc_id % 4 = 0 THEN '/private/p' || CAST(doc_id AS VARCHAR) " +
        "WHEN doc_id % 4 = 1 THEN '/ads/b' || CAST(doc_id AS VARCHAR) " +
        "WHEN doc_id % 4 = 2 THEN '' " +
        "ELSE '/public/a' || CAST(doc_id AS VARCHAR) || " +
        "CASE WHEN doc_id % 8 = 3 THEN '.exe' ELSE '' END END AS url, " +
        "CASE WHEN (doc_id % 6) % 3 = 2 THEN (doc_id % 4 <> 3 OR doc_id % 8 = 3) " +
        "WHEN (doc_id % 6) % 2 = 0 THEN doc_id % 4 = 0 " +
        "ELSE doc_id % 4 = 1 END AS robots_disallowed " +
        "FROM documents ORDER BY doc_id")),

    // L105 — SFT conversation rendering (Sft.renderConversations): the
    // instruction-tuning prep step — long-format (conv, turn, role,
    // content) rows validated for strict user-first alternation and
    // flattened into the chat-template training string, with per-role
    // token budgets. Conversations constructed from doc_id (6 turns
    // each, roles by parity, every 17th doc's role flipped so some
    // conversations fail validation); the oracle re-renders with an
    // ordered string_agg and re-checks parity per position.
    "l105_sft_render" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val turns = Tables.documents(s, d).select(
          expr("doc_id div 6").as("conv_id"),
          (id % 6).as("turn_idx"),
          when(id % 17 === 0,
            when(id % 2 === 0, lit("assistant")).otherwise(lit("user")))
            .otherwise(
              when(id % 2 === 0, lit("user")).otherwise(lit("assistant"))).as("role"),
          concat(lit("turn "), str(id), lit(": "),
            substring(col("text"), 1, 40)).as("content"))
        graft.operators.Sft.renderConversations(
            turns, "conv_id", "turn_idx", "role", "content")
          .select(col("conv_id"), col("n_turns"), col("valid_alternation"),
            col("user_tokens"), col("assistant_tokens"),
            md5(col("rendered")).as("rendered_md5"))
          .orderBy("conv_id")
      },
      Some("WITH t AS (SELECT doc_id // 6 AS conv_id, doc_id % 6 AS pos, " +
        "CASE WHEN doc_id % 17 = 0 THEN " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'assistant' ELSE 'user' END) " +
        "ELSE (CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END) END AS role, " +
        "'turn ' || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40) AS content " +
        "FROM documents) " +
        "SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns, " +
        "BOOL_AND(role = CASE WHEN pos % 2 = 0 THEN 'user' ELSE 'assistant' END) AS valid_alternation, " +
        "CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN " +
        "length(content) - length(replace(content, ' ', '')) + 1 END), 0) AS BIGINT) AS user_tokens, " +
        "CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN " +
        "length(content) - length(replace(content, ' ', '')) + 1 END), 0) AS BIGINT) AS assistant_tokens, " +
        "md5(string_agg(CASE WHEN role = 'user' THEN '<|user|>' ELSE '<|assistant|>' END || " +
        "chr(10) || content || chr(10) || '<|end|>' || chr(10), '' ORDER BY pos)) AS rendered_md5 " +
        "FROM t GROUP BY conv_id ORDER BY conv_id")),

    // L108 — SFT loss-mask spans (Sft.renderConversations
    // `assistant_spans`): the input every SFT trainer needs next to
    // l105's rendered string — per-assistant-turn [start, end)
    // character offsets into `rendered`, so loss is masked to exactly
    // the assistant slices without re-parsing the template. Spark
    // computes the spans with an in-row fold and EXTRACTS each slice
    // from `rendered` via substring(start+1, end−start); the oracle
    // recomputes the offsets independently from cumulative
    // tag/content/newline lengths (user tag 8, assistant tag 13, end
    // tag 7, three newlines per turn) and md5s the turn's CONTENT —
    // a hash match proves the spans slice the rendered string back to
    // the verbatim content. Same single conversation-bounded agg as
    // l105; the explode is turn-linear.
    "l108_sft_spans" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val turns = Tables.documents(s, d).select(
          expr("doc_id div 6").as("conv_id"),
          (id % 6).as("turn_idx"),
          when(id % 17 === 0,
            when(id % 2 === 0, lit("assistant")).otherwise(lit("user")))
            .otherwise(
              when(id % 2 === 0, lit("user")).otherwise(lit("assistant"))).as("role"),
          concat(lit("turn "), str(id), lit(": "),
            substring(col("text"), 1, 40)).as("content"))
        graft.operators.Sft.renderConversations(
            turns, "conv_id", "turn_idx", "role", "content")
          .select(col("conv_id"), col("rendered"),
            posexplode(col("assistant_spans")).as(Seq("span_idx", "__sp")))
          .select(col("conv_id"), col("span_idx").cast("long").as("span_idx"),
            col("__sp.s").as("span_start"), col("__sp.e").as("span_end"),
            md5(col("rendered").substr((col("__sp.s") + 1).cast("int"),
              (col("__sp.e") - col("__sp.s")).cast("int"))).as("slice_md5"))
          .orderBy("conv_id", "span_idx")
      },
      Some("WITH t AS (SELECT doc_id // 6 AS conv_id, doc_id % 6 AS pos, " +
        "CASE WHEN doc_id % 17 = 0 THEN " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'assistant' ELSE 'user' END) " +
        "ELSE (CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END) END AS role, " +
        "'turn ' || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40) AS content " +
        "FROM documents), " +
        "sg AS (SELECT conv_id, pos, role, content, " +
        "CASE WHEN role = 'user' THEN 8 ELSE 13 END AS tl, " +
        "CASE WHEN role = 'user' THEN 8 ELSE 13 END + 1 + length(content) + 1 + 7 + 1 AS seg " +
        "FROM t), " +
        "o AS (SELECT conv_id, pos, role, content, " +
        "COALESCE(SUM(seg) OVER (PARTITION BY conv_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + tl + 1 AS st FROM sg) " +
        "SELECT conv_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY pos) - 1 AS BIGINT) AS span_idx, " +
        "CAST(st AS BIGINT) AS span_start, " +
        "CAST(st + length(content) AS BIGINT) AS span_end, " +
        "md5(content) AS slice_md5 " +
        "FROM o WHERE role = 'assistant' ORDER BY conv_id, span_idx")),

    // L117 — conversation-level SFT dedup (Sft.renderConversations ∘
    // Dedup.dedupCorpus): post-training corpora dedup at CONVERSATION
    // granularity — l108's rendered chat-template string becomes the
    // dedup text, keyed by conv_id, through the full l15 cascade
    // (exact md5 → MinHash-LSH bands → exact shingle Jaccard ≥ 0.8 →
    // larger id drops). Planted construction classes: conv_id % 11 == 0
    // conversations render IDENTICALLY (canned scripts — the exact
    // stage collapses them to the min id); % 11 == 1 conversations are
    // canned except ONE trailing variant word in the last turn, in 3
    // variants (exact stage keeps one per variant, the LSH + Jaccard
    // stage then drops the two larger near-dup survivors); everything
    // else is unique and survives. The oracle replays the same render
    // (l105's template CTE) and the same cascade CTEs as l15 —
    // certifying the SFT-prep and dedup subsystems COMPOSE.
    "l117_conversation_dedup" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val convId = expr("doc_id div 6")
        val turnIdx = id % 6
        val canned = concat(lit("turn "), str(turnIdx),
          lit(": the canned support script reply for this step"))
        val turns = Tables.documents(s, d).select(
          convId.as("conv_id"),
          turnIdx.as("turn_idx"),
          when(turnIdx % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
          when(convId % 11 === 0, canned)
            .when(convId % 11 === 1,
              concat(canned, when(turnIdx === 5,
                concat(lit(" variant "), str(convId % 3))).otherwise(lit(""))))
            .otherwise(concat(lit("turn "), str(id), lit(": "),
              substring(col("text"), 1, 40))).as("content"))
        val rendered = graft.operators.Sft.renderConversations(
            turns, "conv_id", "turn_idx", "role", "content")
          .select(col("conv_id"), col("rendered"))
        Dedup.dedupCorpus(rendered, "rendered", "conv_id", 0.8)
          .select(col("conv_id")).orderBy("conv_id")
      },
      Some("WITH t AS (SELECT doc_id // 6 AS conv_id, doc_id % 6 AS pos, " +
        "CASE WHEN (doc_id % 6) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
        "CASE WHEN (doc_id // 6) % 11 = 0 THEN " +
        "'turn ' || (doc_id % 6) || ': the canned support script reply for this step' " +
        "WHEN (doc_id // 6) % 11 = 1 THEN " +
        "'turn ' || (doc_id % 6) || ': the canned support script reply for this step' || " +
        "(CASE WHEN doc_id % 6 = 5 THEN ' variant ' || ((doc_id // 6) % 3) ELSE '' END) " +
        "ELSE 'turn ' || doc_id || ': ' || substr(text, 1, 40) END AS content " +
        "FROM documents), " +
        "r AS (SELECT conv_id AS doc_id, " +
        "string_agg(CASE WHEN role = 'user' THEN '<|user|>' ELSE '<|assistant|>' END || " +
        "chr(10) || content || chr(10) || '<|end|>' || chr(10), '' ORDER BY pos) AS text " +
        "FROM t GROUP BY conv_id), " +
        "kept AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM r) " +
        "WHERE rn = 1), " +
        minhashPairsCte("kept") + ", " + jaccardCte + " " +
        "SELECT doc_id AS conv_id FROM kept WHERE doc_id NOT IN " +
        "(SELECT b_id FROM jac WHERE jaccard >= 0.8) ORDER BY conv_id")),

    // L109 — preference-pair (DPO/RLHF) prep (Sft.preferencePairs):
    // the post-training step after SFT — validate (prompt, chosen,
    // rejected) triples and decontaminate prompts against the eval
    // benchmark (composing l97's gram scrub). Constructed fixture
    // classes: every 23rd doc's rejected is NULL (has_fields false),
    // every 13th doc's rejected IS the chosen (distinct false), every
    // 19th doc's rejected is the chosen's uppercased-plus-punctuation
    // twin (the l60 mutation — distinct false ONLY under the
    // normalized compare, proving the compare normalizes), else a
    // genuine distinct pair; the benchmark is the doc_id % 37 prompt
    // slice (guaranteed hits, l97's pattern). The oracle replays every
    // check and the gram join from the same construction.
    "l109_preference_pairs" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val chosenE = concat(lit("the helpful answer "), str(id),
          lit(" says "), substring(col("text"), 5, 40))
        val triples = Tables.documents(s, d).select(id,
          concat(lit("question "), str(id), lit(" about "),
            substring(col("text"), 1, 60)).as("prompt"),
          chosenE.as("chosen"),
          when(id % 23 === 0, lit(null).cast("string"))
            .when(id % 13 === 0, chosenE)
            .when(id % 19 === 0, concat(upper(chosenE), lit(" !!")))
            .otherwise(concat(lit("the poor answer "), str(id),
              lit(" says nothing useful"))).as("rejected"))
        val bench = triples.filter(id % 37 === 0).select(col("prompt"))
        val grams = graft.operators.Decontaminate.benchGrams(bench, "prompt", n = 8)
        graft.operators.Sft.preferencePairs(
            triples, "doc_id", "prompt", "chosen", "rejected", grams, n = 8)
          .select(id, col("has_fields"), col("distinct_responses"),
            col("n_hit_grams"), col("prompt_contaminated"), col("keep"))
          .orderBy("doc_id")
      },
      Some("WITH tri AS (SELECT doc_id, " +
        "'question ' || doc_id || ' about ' || substr(text, 1, 60) AS prompt, " +
        "'the helpful answer ' || doc_id || ' says ' || substr(text, 5, 40) AS chosen, " +
        "CASE WHEN doc_id % 23 = 0 THEN NULL " +
        "WHEN doc_id % 13 = 0 THEN 'the helpful answer ' || doc_id || ' says ' || substr(text, 5, 40) " +
        "WHEN doc_id % 19 = 0 THEN upper('the helpful answer ' || doc_id || ' says ' || substr(text, 5, 40)) || ' !!' " +
        "ELSE 'the poor answer ' || doc_id || ' says nothing useful' END AS rejected " +
        "FROM documents), " +
        "pr AS (SELECT doc_id, " + normalizeTextSql("prompt") + " AS text FROM tri), " +
        shinglesCteN(8, "pr") + ", " +
        "bg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0), " +
        "hits AS (SELECT sh.doc_id, COUNT(*) AS n FROM sh JOIN bg USING (s) GROUP BY sh.doc_id) " +
        "SELECT t.doc_id, " +
        "(prompt IS NOT NULL AND chosen IS NOT NULL AND rejected IS NOT NULL " +
        "AND trim(prompt) <> '' AND trim(chosen) <> '' AND trim(rejected) <> '') AS has_fields, " +
        "COALESCE(" + normalizeTextSql("chosen") + " <> " + normalizeTextSql("rejected") + ", FALSE) AS distinct_responses, " +
        "CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_grams, " +
        "COALESCE(h.n, 0) > 0 AS prompt_contaminated, " +
        "(prompt IS NOT NULL AND chosen IS NOT NULL AND rejected IS NOT NULL " +
        "AND trim(prompt) <> '' AND trim(chosen) <> '' AND trim(rejected) <> '' " +
        "AND COALESCE(" + normalizeTextSql("chosen") + " <> " + normalizeTextSql("rejected") + ", FALSE) " +
        "AND NOT (COALESCE(h.n, 0) > 0)) AS keep " +
        "FROM tri t LEFT JOIN hits h ON h.doc_id = t.doc_id ORDER BY t.doc_id")),

    // L110 — PageRank over the host link graph (Graph.pageRank ∘
    // Domains.hostLinkEdges): the link-based quality prior next to
    // l99's content-side gate — 5 power-iteration rounds in EXACT
    // parts-per-billion integer arithmetic (every step a floor div),
    // over l102/l103's constructed 20-host graph. The oracle unrolls
    // the SAME five iterations as chained CTEs (the l42
    // unrolled-training pattern): any divergence in node set, degree,
    // damping base, or a single div boundary breaks the hash.
    "l110_host_pagerank" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://site"), str(id % 20),
          lit(".example/p/"), str(id))
        val html = concat(
          lit("<html><body><a href=\"https://site"), str((id % 20 + 1) % 20),
          lit(".example/p/1\">next</a> "),
          lit("<a href=\"https://site"), str((id * 3) % 20),
          lit(".example/x\">chord</a></body></html>"))
        val edges = graft.operators.Domains.hostLinkEdges(
          Tables.documents(s, d).select(id, url.as("url"), html.as("html")),
          "url", "html")
        graft.operators.Graph.pageRank(edges, "src_host", "dst_host", iters = 5)
          .select(col("node").as("host"), col("rank_ppb"))
          .orderBy("host")
      },
      Some {
        val iterCtes = (1 to 5).map { k =>
          s"s$k AS (SELECT dst_host AS node, SUM(r // d) AS s " +
            s"FROM e2 JOIN deg USING (src_host) JOIN r${k - 1} ON r${k - 1}.node = e2.src_host " +
            "GROUP BY dst_host), " +
            s"r$k AS (SELECT nodes.node, (1000000000 - 850000000) // nn + " +
            s"(850000000 * COALESCE(s, 0)) // 1000000000 AS r " +
            s"FROM nodes LEFT JOIN s$k USING (node), n)"
        }.mkString(", ")
        "WITH pg AS (SELECT doc_id, " +
          "'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR) AS url, " +
          "'<html><body><a href=\"https://site' || CAST((doc_id % 20 + 1) % 20 AS VARCHAR) || " +
          "'.example/p/1\">next</a> ' || " +
          "'<a href=\"https://site' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example/x\">chord</a></body></html>' AS html " +
          "FROM documents), " +
          "lk AS (SELECT lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host, " +
          "UNNEST(regexp_extract_all(html, '(?i)href=[\"'']?([^\"'' >]+)', 1)) AS href FROM pg), " +
          "ed AS (SELECT DISTINCT src_host, " +
          "lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host " +
          "FROM lk WHERE regexp_matches(href, '(?i)^https?://')), " +
          "e2 AS (SELECT * FROM ed WHERE dst_host <> src_host AND dst_host <> ''), " +
          "nodes AS (SELECT DISTINCT node FROM " +
          "(SELECT src_host AS node FROM e2 UNION SELECT dst_host FROM e2)), " +
          "n AS (SELECT COUNT(*) AS nn FROM nodes), " +
          "deg AS (SELECT src_host, COUNT(*) AS d FROM e2 GROUP BY src_host), " +
          "r0 AS (SELECT node, 1000000000 // nn AS r FROM nodes, n), " +
          iterCtes + " " +
          "SELECT node AS host, CAST(r AS BIGINT) AS rank_ppb FROM r5 ORDER BY host"
      }),

    // L118 — PageRank with DANGLING-MASS redistribution
    // (Graph.pageRank(redistributeDangling = true)): the
    // magnitude-faithful variant of l110 — each round the dangling
    // nodes' total rank D (one scalar agg, the convergence-test class
    // of driver collect) spreads evenly as (damping · (D div N)) div
    // 1e9, every step still a floor div. The constructed graph has
    // REAL dangling nodes (src hosts s0–s9, dst hosts s0–s12: s10–s12
    // never source an edge), so the variant provably differs from the
    // leaking default; the oracle unrolls the same 5 rounds with a
    // per-round dangling-sum CTE.
    "l118_pagerank_dangling" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val edges = Tables.documents(s, d).select(
            concat(lit("s"), str(id % 10)).as("src_host"),
            concat(lit("s"), str((id * 7) % 13)).as("dst_host"))
          .filter(col("src_host") =!= col("dst_host")).distinct()
        graft.operators.Graph.pageRank(edges, "src_host", "dst_host",
            iters = 5, redistributeDangling = true)
          .select(col("node").as("host"), col("rank_ppb"))
          .orderBy("host")
      },
      Some {
        val iterCtes = (1 to 5).map { k =>
          s"dm$k AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r${k - 1} JOIN dang USING (node)), " +
            s"s$k AS (SELECT dst AS node, SUM(r // d) AS s " +
            s"FROM e2 JOIN deg USING (src) JOIN r${k - 1} ON r${k - 1}.node = e2.src " +
            "GROUP BY dst), " +
            s"r$k AS (SELECT nodes.node, (1000000000 - 850000000) // nn + " +
            "(850000000 * (dm // nn)) // 1000000000 + " +
            s"(850000000 * COALESCE(s, 0)) // 1000000000 AS r " +
            s"FROM nodes LEFT JOIN s$k USING (node), n, dm$k)"
        }.mkString(", ")
        "WITH ed AS (SELECT DISTINCT 's' || (doc_id % 10) AS src, " +
          "'s' || ((doc_id * 7) % 13) AS dst FROM documents), " +
          "e2 AS (SELECT * FROM ed WHERE src <> dst), " +
          "nodes AS (SELECT DISTINCT node FROM " +
          "(SELECT src AS node FROM e2 UNION SELECT dst FROM e2)), " +
          "n AS (SELECT COUNT(*) AS nn FROM nodes), " +
          "deg AS (SELECT src, COUNT(*) AS d FROM e2 GROUP BY src), " +
          "dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e2)), " +
          "r0 AS (SELECT node, 1000000000 // nn AS r FROM nodes, n), " +
          iterCtes + " " +
          "SELECT node AS host, CAST(r AS BIGINT) AS rank_ppb FROM r5 ORDER BY host"
      }),

    // L119 — byte-level token pricing over the corpus
    // (ByteBpe.tokenCounts): the l94/l89 budget readout in the GPT
    // lineage's own units, certifying the WHOLE distributed path
    // (pre-token explode, distinct-token broadcast-rank encode,
    // shuffle-hash join-back, zero-token left join) relationally: the
    // published pre-tokenizer TILES text completely (every char falls
    // in exactly one alternative — spec-checked), so with the EMPTY
    // merge table each token prices at its UTF-8 byte count and the
    // per-document total is exactly octet_length(text) — no
    // BPE-specific arithmetic left unchecked (trained tables are
    // golden-pinned by l114).
    "l119_bytebpe_budget" -> QueryDef(
      (s, d) => graft.operators.ByteBpe.tokenCounts(
          Tables.documents(s, d), "doc_id", "text", Seq.empty)
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_tokens " +
        "FROM documents ORDER BY doc_id")),

    // L126 — byte-level token pricing with a TRAINED merge table (the
    // configuration production budgets actually run; l119 certified the
    // distributed path with EMPTY merges, l114 golden-pinned a trained
    // table at fixture size). The corpus normalizes to single-space-
    // joined [A-Za-z0-9]+ words (a shared, dialect-neutral construction
    // both engines evaluate identically), then ByteBpe.tokenCounts
    // prices every document against the 40 merges trained on the
    // l73/l111/l114 fixture corpus. The oracle replays the ENTIRE
    // encode relationally — pre-tokens derived by unnest-with-ordinality
    // over letter/digit runs, BPE as a rank-ordered replace chain over
    // chr(1)-separated symbols (exact under the trained-table
    // preconditions asserted at l126Merges; prototyped 500/500
    // doc-identical vs an independent python reference before landing).
    "l126_bytebpe_trained" -> QueryDef(
      (s, d) => {
        val norm = Tables.documents(s, d).select(col("doc_id"),
          array_join(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)"),
            " ").as("text"))
        graft.operators.ByteBpe.tokenCounts(norm, "doc_id", "text", l126Merges)
          .orderBy("doc_id")
      },
      Some(l126OracleSql)),

    // L139 — byte-BPE trained ON THE CORPUS ITSELF, then priced with
    // what it learned: the full train-on-your-own-data loop production
    // budgets actually run (l126 prices with a FIXTURE-trained table;
    // this closes the gap). The sf-scale documents table normalizes as
    // in l126, ByteBpe.trainMerges runs the DISTRIBUTED trainer over it
    // (corpus-wide pre-token counts with map-side combine, minCount=2
    // prune, then the driver endgame every real trainer collects into —
    // the collect is |distinct pruned pre-tokens| rows, a MODEL, not
    // data), the learned table must pass the SAME replace-unroll
    // preconditions as l126 (asserted in code — corpus drift fails
    // loudly), and tokenCounts prices every document with it. The
    // oracle is BUILT AT DUMP TIME (QueryDef.dynamic) as the l126
    // replace-unroll over the merges the run recorded — so a trainer
    // bug changes the merges, the oracle unrolls the changed merges,
    // and the PRICING must still agree symbol-for-symbol with DuckDB's
    // independent replay; ByteBpeSpec pins corpus-trained local ≡
    // distributed so the recorded table is itself certified.
    "l139_bytebpe_train_corpus" -> QueryDef.dynamic(
      (s, d) => {
        val norm = Tables.documents(s, d).select(col("doc_id"),
          array_join(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)"),
            " ").as("text"))
        val trained = graft.operators.ByteBpe
          .trainMerges(norm, "text", 48, minCount = 2L)
          .map(m => (m._1, m._2))
        assertByteBpePreconditions(trained, "l139")
        l139TrainedMerges.set(trained)
        graft.operators.ByteBpe.tokenCounts(norm, "doc_id", "text", trained)
          .orderBy("doc_id")
      },
      () => Option(l139TrainedMerges.get).map(byteBpeUnrollSql).getOrElse(
        // dump requested without the run (a filtered Verify that
        // excludes l139 still BUILDS every map value before filtering
        // it out): a well-formed placeholder that is never compared
        "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens WHERE FALSE")),

    // L128 — corpus-scale IMAGE round trip (the l121 discipline for the
    // image family, completing round-trip certification across all five
    // media kinds): every document becomes a HAND-WRITTEN image (BMP on
    // even ids, stored-deflate PNG on odd — both byte-assembled from
    // the public specs, independent of the javax.imageio reader under
    // test) whose dimensions and gray-ramp pattern are arithmetic in
    // doc_id; one decode pass (Multimodal.imageProfiles) reads
    // dimensions + dHash back, and the oracle restates the SAME
    // arithmetic in SQL (derivations at ImageFixtures.syntheticImage:
    // inc-ramp ⇒ dhash −1, dec/vertical ramp ⇒ 0).
    "l128_image_roundtrip" -> QueryDef(
      (s, d) => {
        // the fan-out shuffles only doc ids: the image is built from the id
        val files = fanOut(Tables.documents(s, d).select(col("doc_id")))
          .as(Encoders.scalaLong)
          .mapPartitions(_.map(graft.operators.ImageFixtures.syntheticImage))(
            Encoders.product[MediaFile])
        Multimodal.imageProfiles(files).toDF().orderBy("doc_id")
      },
      Some("SELECT doc_id, CAST(9 + doc_id % 8 AS BIGINT) AS width, " +
        "CAST(8 + doc_id % 5 AS BIGINT) AS height, TRUE AS decoded, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash " +
        "FROM documents ORDER BY doc_id")),

    // L111 — WordPiece train + encode golden pin (the l73 pattern
    // applied to the third tokenizer family): trainVocab learns 30
    // likelihood-scored merges over the SAME fixed 8-sentence corpus
    // as l73 (so the two families' merge choices are directly
    // comparable in the dumps), encodeWordsFast (broadcast-vocab
    // mapPartitions, greedy longest-match with ## continuations)
    // encodes every distinct word, and the oracle is a VALUES relation
    // of the frozen (word -> pieces) rows. Like l73 this is a
    // regression pin, not a semantic oracle -- the greedy matcher has
    // no DuckDB form; the semantic guarantees are WordPieceSpec
    // (likelihood-vs-count objective pinned on a disagreeing corpus,
    // [UNK] whole-word fallback, distributed == driver encode).
    "l111_wordpiece_pin" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val bases = Seq(
          "the quick brown fox jumps over the lazy dog by the river",
          "pack my box with five dozen liquor jugs for the long trip",
          "a stitch in time saves nine when the cloth begins to fray",
          "all that glitters is not gold said the old miner at dawn",
          "every good boy deserves fruit after the long practice session",
          "the rain in spain falls mainly on the wide open plain",
          "still waters run deep where the old stone bridge crosses over",
          "many hands make light work when the harvest moon rises early")
        val docs = bases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val vocab = graft.operators.WordPiece.trainVocab(docs, "text", 30)
        graft.operators.WordPiece.encodeWordsFast(docs, "text", vocab)
          .select(col("w"), array_join(col("pieces"), "|").as("pieces"),
            size(col("pieces")).cast("long").as("n_pieces"))
          .orderBy("w")
      },
      Some("SELECT * FROM (VALUES " +
        "('a', 'a', CAST(1 AS BIGINT)), ('after', 'a|##f|##t|##e|##r', CAST(5 AS BIGINT)), " +
        "('all', 'a|##l|##l', CAST(3 AS BIGINT)), ('at', 'a|##t', CAST(2 AS BIGINT)), " +
        "('begins', 'b|##e|##g|##i|##n|##s', CAST(6 AS BIGINT)), ('box', 'b|##ox', CAST(2 AS BIGINT)), " +
        "('boy', 'b|##o|##y', CAST(3 AS BIGINT)), ('bridge', 'b|##r|##i|##d|##g|##e', CAST(6 AS BIGINT)), " +
        "('brown', 'b|##r|##o|##wn', CAST(4 AS BIGINT)), ('by', 'b|##y', CAST(2 AS BIGINT)), " +
        "('cloth', 'c|##l|##o|##th', CAST(4 AS BIGINT)), ('crosses', 'c|##r|##o|##s|##s|##e|##s', CAST(7 AS BIGINT)), " +
        "('dawn', 'd|##a|##wn', CAST(3 AS BIGINT)), ('deep', 'de|##e|##p', CAST(3 AS BIGINT)), " +
        "('deserves', 'de|##s|##e|##rves', CAST(4 AS BIGINT)), ('dog', 'do|##g', CAST(2 AS BIGINT)), " +
        "('dozen', 'do|##z|##e|##n', CAST(4 AS BIGINT)), ('early', 'e|##a|##r|##l|##y', CAST(5 AS BIGINT)), " +
        "('every', 'e|##ver|##y', CAST(3 AS BIGINT)), ('falls', 'f|##a|##l|##l|##s', CAST(5 AS BIGINT)), " +
        "('five', 'f|##i|##ve', CAST(3 AS BIGINT)), ('for', 'f|##o|##r', CAST(3 AS BIGINT)), " +
        "('fox', 'f|##ox', CAST(2 AS BIGINT)), ('fray', 'f|##r|##a|##y', CAST(4 AS BIGINT)), " +
        "('fruit', 'f|##r|##u|##i|##t', CAST(5 AS BIGINT)), ('glitters', 'g|##l|##i|##t|##t|##e|##r|##s', CAST(8 AS BIGINT)), " +
        "('gold', 'go|##l|##d', CAST(3 AS BIGINT)), ('good', 'go|##o|##d', CAST(3 AS BIGINT)), " +
        "('hands', 'ha|##n|##d|##s', CAST(4 AS BIGINT)), ('harvest', 'ha|##rves|##t', CAST(3 AS BIGINT)), " +
        "('in', 'in', CAST(1 AS BIGINT)), ('is', 'i|##s', CAST(2 AS BIGINT)), " +
        "('jugs', 'ju|##g|##s', CAST(3 AS BIGINT)), ('jumps', 'ju|##m|##p|##s', CAST(4 AS BIGINT)), " +
        "('lazy', 'l|##a|##z|##y', CAST(4 AS BIGINT)), ('light', 'l|##i|##g|##h|##t', CAST(5 AS BIGINT)), " +
        "('liquor', 'l|##i|##q|##u|##o|##r', CAST(6 AS BIGINT)), ('long', 'lon|##g', CAST(2 AS BIGINT)), " +
        "('mainly', 'ma|##i|##n|##l|##y', CAST(5 AS BIGINT)), ('make', 'ma|##k|##e', CAST(3 AS BIGINT)), " +
        "('many', 'ma|##n|##y', CAST(3 AS BIGINT)), ('miner', 'm|##i|##n|##e|##r', CAST(5 AS BIGINT)), " +
        "('moon', 'm|##o|##o|##n', CAST(4 AS BIGINT)), ('my', 'm|##y', CAST(2 AS BIGINT)), " +
        "('nine', 'n|##i|##n|##e', CAST(4 AS BIGINT)), ('not', 'n|##o|##t', CAST(3 AS BIGINT)), " +
        "('old', 'old', CAST(1 AS BIGINT)), ('on', 'o|##n', CAST(2 AS BIGINT)), " +
        "('open', 'o|##p|##e|##n', CAST(4 AS BIGINT)), ('over', 'over', CAST(1 AS BIGINT)), " +
        "('pack', 'p|##a|##ck', CAST(3 AS BIGINT)), ('plain', 'p|##l|##a|##i|##n', CAST(5 AS BIGINT)), " +
        "('practice', 'p|##r|##a|##c|##t|##i|##c|##e', CAST(8 AS BIGINT)), ('quick', 'q|##u|##i|##ck', CAST(4 AS BIGINT)), " +
        "('rain', 'r|##a|##i|##n', CAST(4 AS BIGINT)), ('rises', 'r|##i|##s|##e|##s', CAST(5 AS BIGINT)), " +
        "('river', 'r|##i|##ver', CAST(3 AS BIGINT)), ('run', 'r|##u|##n', CAST(3 AS BIGINT)), " +
        "('said', 'sa|##i|##d', CAST(3 AS BIGINT)), ('saves', 'sa|##ves', CAST(2 AS BIGINT)), " +
        "('session', 's|##e|##s|##s|##i|##o|##n', CAST(7 AS BIGINT)), ('spain', 's|##p|##a|##i|##n', CAST(5 AS BIGINT)), " +
        "('still', 'sti|##l|##l', CAST(3 AS BIGINT)), ('stitch', 'sti|##t|##c|##h', CAST(4 AS BIGINT)), " +
        "('stone', 'st|##o|##n|##e', CAST(4 AS BIGINT)), ('that', 'th|##a|##t', CAST(3 AS BIGINT)), " +
        "('the', 'the', CAST(1 AS BIGINT)), ('time', 't|##i|##m|##e', CAST(4 AS BIGINT)), " +
        "('to', 't|##o', CAST(2 AS BIGINT)), ('trip', 't|##r|##i|##p', CAST(4 AS BIGINT)), " +
        "('waters', 'w|##a|##t|##e|##r|##s', CAST(6 AS BIGINT)), ('when', 'when', CAST(1 AS BIGINT)), " +
        "('where', 'whe|##r|##e', CAST(3 AS BIGINT)), ('wide', 'w|##i|##d|##e', CAST(4 AS BIGINT)), " +
        "('with', 'w|##i|##th', CAST(3 AS BIGINT)), ('work', 'w|##o|##r|##k', CAST(4 AS BIGINT))" +
        ") AS t(w, pieces, n_pieces) ORDER BY w")),

    // L112 — PDF document metadata (Multimodal.extractMetaPdf),
    // oracle-certified: the other big training-data container next to
    // WARC — header version, page-tree /Count, /Encrypt trailer flag,
    // %%EOF integrity marker, with the l61 discipline end to end:
    // deterministic fixture payloads built byte-exactly from known
    // construction parameters (graft.operators.PdfFixtures — single /
    // 5-page / encrypted / truncated / not-a-pdf), the DuckDB oracle a
    // VALUES relation of the SAME parameters, malformed input decoded
    // as data via the stub fallback. Same mapPartitions codec boundary
    // as images/audio/video; binary never touches the driver.
    "l112_pdf_meta" -> QueryDef(
      (s, _) => graft.operators.Multimodal.extractMetaPdf(
          graft.operators.PdfFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.PdfFixtures.oracleSql)),

    // L113 — PDF TEXT extraction (PdfText.extractText),
    // oracle-certified: the training-data payload of l112's container —
    // page-tree-ordered content streams (Kids order, NOT object order —
    // fixture 2's reversed Kids prove it), FlateDecode inflation
    // (construction deflates with Deflater, the parse inflates with
    // Inflater — a byte-exact round trip), and the BT…ET text-operator
    // fold (Tj/TJ concatenate, '/Td/TD/T* line-break, literal-string
    // escapes + octal + hex pairs). Expected text is hand-folded from
    // the construction-side operator sources (VALUES oracle with
    // chr(n) control characters), never from the parser under test;
    // encrypted documents report empty text (ciphertext is not text);
    // malformed input degrades to the stub. Same mapPartitions codec
    // boundary as all media decodes — binary never touches the driver.
    "l113_pdf_text" -> QueryDef(
      (s, _) => graft.operators.PdfText.extractText(
          graft.operators.PdfFixtures.textDataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.PdfFixtures.textOracleSql)),

    // L114 — BYTE-level BPE with GPT-2 regex pre-tokenization
    // (ByteBpe.trainMerges + encodeTokensFast), golden-pinned: the
    // tokenizer lineage production token budgets actually price in.
    // Train 30 merges over the l73 corpus THROUGH the published
    // pre-tokenizer (spaces attach to the following word — 'Ġthe' and
    // sentence-initial 'the' are distinct tokens with distinct
    // statistics, the defining difference from l73's word-level run on
    // the SAME corpus) and the bytes→unicode table (space = 'Ġ'), then
    // encode every distinct pre-token. The pinned VALUES come from an
    // INDEPENDENT reference implementation of the public algorithm
    // (scripts/ref_bytebpe.py — regex pre-tokenize, byte map, argmax
    // count desc/pair asc/cnt≥2, left-first merges, lowest-rank
    // encode), not from the Scala code under test.
    "l114_bytebpe_pin" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val bases = Seq(
          "the quick brown fox jumps over the lazy dog by the river",
          "pack my box with five dozen liquor jugs for the long trip",
          "a stitch in time saves nine when the cloth begins to fray",
          "all that glitters is not gold said the old miner at dawn",
          "every good boy deserves fruit after the long practice session",
          "the rain in spain falls mainly on the wide open plain",
          "still waters run deep where the old stone bridge crosses over",
          "many hands make light work when the harvest moon rises early")
        val docs = bases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val merges = graft.operators.ByteBpe.trainMerges(docs, "text", 30)
          .map(m => (m._1, m._2))
        graft.operators.ByteBpe.encodeTokensFast(docs, "text", merges)
          .select(col("units"), array_join(col("syms"), "|").as("syms"),
            col("n_syms"))
          .orderBy("units")
      },
      Some("SELECT * FROM (VALUES " +
        "('a', 'a', CAST(1 AS BIGINT)), ('all', 'all', CAST(1 AS BIGINT)), " +
        "('every', 'e|ver|y', CAST(3 AS BIGINT)), ('many', 'm|an|y', CAST(3 AS BIGINT)), " +
        "('pack', 'p|ac|k', CAST(3 AS BIGINT)), ('still', 's|t|i|ll', CAST(4 AS BIGINT)), " +
        "('the', 't|he', CAST(2 AS BIGINT)), ('Ġafter', 'Ġ|a|f|t|er', CAST(5 AS BIGINT)), " +
        "('Ġat', 'Ġ|at', CAST(2 AS BIGINT)), ('Ġbegins', 'Ġb|e|g|in|s', CAST(5 AS BIGINT)), " +
        "('Ġbox', 'Ġb|o|x', CAST(3 AS BIGINT)), ('Ġboy', 'Ġb|o|y', CAST(3 AS BIGINT)), " +
        "('Ġbridge', 'Ġb|ri|d|g|e', CAST(5 AS BIGINT)), ('Ġbrown', 'Ġb|r|o|w|n', CAST(5 AS BIGINT)), " +
        "('Ġby', 'Ġb|y', CAST(2 AS BIGINT)), ('Ġcloth', 'Ġ|c|l|o|t|h', CAST(6 AS BIGINT)), " +
        "('Ġcrosses', 'Ġ|c|r|o|s|s|es', CAST(7 AS BIGINT)), ('Ġdawn', 'Ġd|a|w|n', CAST(4 AS BIGINT)), " +
        "('Ġdeep', 'Ġd|e|e|p', CAST(4 AS BIGINT)), ('Ġdeserves', 'Ġd|es|er|ves', CAST(4 AS BIGINT)), " +
        "('Ġdog', 'Ġd|o|g', CAST(3 AS BIGINT)), ('Ġdozen', 'Ġd|o|z|e|n', CAST(5 AS BIGINT)), " +
        "('Ġearly', 'Ġ|e|ar|l|y', CAST(5 AS BIGINT)), ('Ġfalls', 'Ġf|all|s', CAST(3 AS BIGINT)), " +
        "('Ġfive', 'Ġf|i|v|e', CAST(4 AS BIGINT)), ('Ġfor', 'Ġf|or', CAST(2 AS BIGINT)), " +
        "('Ġfox', 'Ġf|o|x', CAST(3 AS BIGINT)), ('Ġfray', 'Ġf|r|a|y', CAST(4 AS BIGINT)), " +
        "('Ġfruit', 'Ġf|r|u|it', CAST(4 AS BIGINT)), ('Ġglitters', 'Ġg|l|it|t|er|s', CAST(6 AS BIGINT)), " +
        "('Ġgold', 'Ġg|o|ld', CAST(3 AS BIGINT)), ('Ġgood', 'Ġg|o|o|d', CAST(4 AS BIGINT)), " +
        "('Ġhands', 'Ġ|h|an|d|s', CAST(5 AS BIGINT)), ('Ġharvest', 'Ġ|h|ar|ves|t', CAST(5 AS BIGINT)), " +
        "('Ġin', 'Ġ|in', CAST(2 AS BIGINT)), ('Ġis', 'Ġ|i|s', CAST(3 AS BIGINT)), " +
        "('Ġjugs', 'Ġ|j|u|g|s', CAST(5 AS BIGINT)), ('Ġjumps', 'Ġ|j|u|m|p|s', CAST(6 AS BIGINT)), " +
        "('Ġlazy', 'Ġl|a|z|y', CAST(4 AS BIGINT)), ('Ġlight', 'Ġl|i|g|h|t', CAST(5 AS BIGINT)), " +
        "('Ġliquor', 'Ġl|i|q|u|or', CAST(5 AS BIGINT)), ('Ġlong', 'Ġl|on|g', CAST(3 AS BIGINT)), " +
        "('Ġmainly', 'Ġm|ain|l|y', CAST(4 AS BIGINT)), ('Ġmake', 'Ġm|a|k|e', CAST(4 AS BIGINT)), " +
        "('Ġminer', 'Ġm|in|er', CAST(3 AS BIGINT)), ('Ġmoon', 'Ġm|o|on', CAST(3 AS BIGINT)), " +
        "('Ġmy', 'Ġm|y', CAST(2 AS BIGINT)), ('Ġnine', 'Ġ|n|in|e', CAST(4 AS BIGINT)), " +
        "('Ġnot', 'Ġ|n|o|t', CAST(4 AS BIGINT)), ('Ġold', 'Ġo|ld', CAST(2 AS BIGINT)), " +
        "('Ġon', 'Ġ|on', CAST(2 AS BIGINT)), ('Ġopen', 'Ġo|p|e|n', CAST(4 AS BIGINT)), " +
        "('Ġover', 'Ġo|ver', CAST(2 AS BIGINT)), ('Ġplain', 'Ġ|p|l|ain', CAST(4 AS BIGINT)), " +
        "('Ġpractice', 'Ġ|p|r|ac|t|i|c|e', CAST(8 AS BIGINT)), ('Ġquick', 'Ġ|q|u|i|c|k', CAST(6 AS BIGINT)), " +
        "('Ġrain', 'Ġ|r|ain', CAST(3 AS BIGINT)), ('Ġrises', 'Ġ|ri|s|es', CAST(4 AS BIGINT)), " +
        "('Ġriver', 'Ġ|ri|ver', CAST(3 AS BIGINT)), ('Ġrun', 'Ġ|r|u|n', CAST(4 AS BIGINT)), " +
        "('Ġsaid', 'Ġs|a|i|d', CAST(4 AS BIGINT)), ('Ġsaves', 'Ġs|a|ves', CAST(3 AS BIGINT)), " +
        "('Ġsession', 'Ġs|es|s|i|on', CAST(5 AS BIGINT)), ('Ġspain', 'Ġs|p|ain', CAST(3 AS BIGINT)), " +
        "('Ġstitch', 'Ġs|t|it|c|h', CAST(5 AS BIGINT)), ('Ġstone', 'Ġs|t|on|e', CAST(4 AS BIGINT)), " +
        "('Ġthat', 'Ġt|h|at', CAST(3 AS BIGINT)), ('Ġthe', 'Ġthe', CAST(1 AS BIGINT)), " +
        "('Ġtime', 'Ġt|i|m|e', CAST(4 AS BIGINT)), ('Ġto', 'Ġt|o', CAST(2 AS BIGINT)), " +
        "('Ġtrip', 'Ġt|ri|p', CAST(3 AS BIGINT)), ('Ġwaters', 'Ġw|at|er|s', CAST(4 AS BIGINT)), " +
        "('Ġwhen', 'Ġwhe|n', CAST(2 AS BIGINT)), ('Ġwhere', 'Ġwhe|r|e', CAST(3 AS BIGINT)), " +
        "('Ġwide', 'Ġw|i|d|e', CAST(4 AS BIGINT)), ('Ġwith', 'Ġw|it|h', CAST(3 AS BIGINT)), " +
        "('Ġwork', 'Ġw|or|k', CAST(3 AS BIGINT))" +
        ") AS t(units, syms, n_syms) ORDER BY units")),

    // L115 — DOCX/EPUB container metadata (OfficeZip.extractMeta),
    // oracle-certified: the remaining big document family next to
    // WARC/image/audio/video/PDF. A real zip END-OF-CENTRAL-DIRECTORY
    // + central-directory walk (entry count, zip-crypto flag bits,
    // EPUB DRM encryption.xml), stored + raw-Deflate member reads,
    // then the structural fields a curator gates on: DOCX word count
    // over CONCATENATED <w:t> runs (run-split words fuse — fixture 1
    // proves it) + paragraph count + Dublin Core title/language; EPUB
    // title/language via container.xml→OPF and spine length. The
    // fixtures are built by a byte-exact zip writer from known
    // parameters (l61/l112 discipline), the oracle a VALUES relation
    // of the same parameters; encrypted members report empty content
    // (the l113 contract), malformed input degrades to "zip"/stub.
    "l115_office_meta" -> QueryDef(
      (s, _) => graft.operators.OfficeZip.extractMeta(
          graft.operators.OfficeFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.OfficeFixtures.oracleSql)),

    // L120 — DOCX/EPUB TEXT extraction (OfficeZip.extractText), the
    // l113 twin for office containers: DOCX paragraphs (run-
    // concatenated <w:t> texts) joined by newline; EPUB spine chapters
    // located via container.xml → OPF manifest (hrefs resolved
    // relative to the OPF directory, spine idref order), each XHTML
    // stripped to prose (script/style dropped, tags → spaces, entities
    // decoded, whitespace collapsed). Encrypted containers report
    // empty text (the l113 contract). Oracle = VALUES of text
    // hand-derived from the same member sources; chr(10) literals for
    // the newline joins.
    "l120_office_text" -> QueryDef(
      (s, _) => graft.operators.OfficeZip.extractText(
          graft.operators.OfficeFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.OfficeFixtures.textOracleSql)),

    // L121 — corpus-scale PDF text ROUND TRIP (PdfText.syntheticPdf ∘
    // extractText): every document's text wraps into a constructed
    // one-page PDF (escaped literal string, UTF-8 bytes through the
    // byte-preserving Latin-1 wrap, Flate on even ids) and extracts
    // back; the oracle is simply the original text — a byte-exact
    // certification of the whole write→inflate→scan→unescape chain on
    // 500 real documents, including operator lookalikes ("ET" inside
    // words) that a naive substring block scan would truncate on.
    // decode(encode(…)) re-reads the extracted Latin-1 units as UTF-8.
    "l121_pdf_roundtrip" -> roundTrip(PdfText.syntheticPdf, PdfText.extractText, latin1 = true),

    // L122 — corpus-scale DOCX text ROUND TRIP (OfficeZip.syntheticDocx
    // ∘ extractText, the l121 twin): every document's text wraps into a
    // constructed DOCX whose one paragraph is SPLIT ACROSS TWO <w:t>
    // RUNS at the midpoint (run concatenation load-bearing on every
    // row) with XML entities escaped per run, Deflate on even ids, and
    // extracts back through the zip central-directory walk + inflate +
    // w:t fold; the oracle is the original text verbatim.
    // L125 — PDF 1.5+ COMPRESSED-LAYOUT round trip
    // (PdfText.syntheticPdfObjStm ∘ extractText): the l121 discipline
    // over the modern PDF shape — every document's text wraps into a
    // one-page PDF whose catalog/page-tree/page dicts live inside a
    // Flate-compressed /Type /ObjStm object stream and whose
    // cross-reference is a /Type /XRef STREAM (no `trailer` keyword),
    // then extracts back through the ObjStm header walk + embedded-dict
    // expansion + xref-stream /Root resolution; oracle = the original
    // text verbatim. This is the layout most post-2007 real-world PDFs
    // use — the extractor family's single most common input.
    "l125_pdf_objstm_roundtrip" -> roundTrip(PdfText.syntheticPdfObjStm,
      PdfText.extractText, latin1 = true),

    // L129 — CID-FONT (/ToUnicode CMap) round trip
    // (PdfText.syntheticPdfCmap ∘ extractText): the l121 discipline
    // over the OTHER common real-PDF shape — subset-embedded composite
    // fonts whose string bytes are CODES, not characters. Every
    // document's text is written as 2-byte codes (unit+2 mod 2^16) in
    // a hex string shown through a /Type0 font whose embedded
    // /ToUnicode CMap (two bfrange runs + two bfchar entries) inverts
    // the shift; the extractor must resolve /Resources → /Font → Tf →
    // CMap and decode code-by-code. The +2 shift makes the map
    // non-identity, so ignoring the CMap (the pre-CMap reading, which
    // emitted code bytes as "text") fails visibly; oracle = the
    // original text verbatim. No Latin-1 re-read here: CMap output IS
    // Unicode.
    "l129_pdf_cmap_roundtrip" -> roundTrip(PdfText.syntheticPdfCmap, PdfText.extractText),

    // L133 — PDF FILTER-CHAIN round trip (PdfText.syntheticPdfFiltered
    // ∘ extractText): stream filters decode IN LISTED ORDER (ISO 32000
    // §7.4) — each document's content stream is armored by doc_id % 4
    // as [/ASCII85Decode /FlateDecode] (the email-safe deflate armor),
    // bare /ASCIIHexDecode, [/ASCIIHexDecode /FlateDecode], or bare
    // /RunLengthDecode, and the extractor must unwrap the chain
    // (base-85 / hex armor / RLE decoders, then the inflate). Construction-side encoders are independent
    // twins (java.util.zip deflate + hand-written armor per the spec);
    // oracle = the original text verbatim.
    "l133_pdf_filterchain_roundtrip" -> roundTrip(PdfText.syntheticPdfFiltered,
      PdfText.extractText, latin1 = true),

    // L140 — WARC REVISIT fold: Common Crawl's native dedup signal.
    // Crawlers emit `revisit` records (WARC-Profile identical-payload-
    // digest, WARC-Refers-To pointing at the record they re-observed)
    // instead of re-storing duplicate payloads — free dedup mass a
    // pipeline should fold in BEFORE computing any similarity of its
    // own. Every document ships as a WET conversion record; every 4th
    // also plants a revisit from a mirror URL referring back to it
    // (Warc.syntheticWetRevisit). The fold: conversion records keep
    // their payload (first-seen wins — the revisit carries none), and
    // each keeps the count of revisits, from any file, that refer to its
    // URI as its certified-duplicate count. Oracle = the same fold from
    // the construction arithmetic. Scale shape: one narrow record walk,
    // one shuffle on the URI (a window counts each URI's revisits next
    // to its conversions, so the walk runs once, not once per side of a
    // join) — no similarity computation anywhere.
    "l140_warc_revisit_fold" -> QueryDef(
      (s, d) => {
        val files = containers(fanOut(corpus(s, d)))((id, t) =>
          Warc.syntheticWetRevisit(id, s"http://corpus.example/wet/$id", t))
        val isConversion = col("warc_type") === "conversion"
        val isRevisit = col("warc_type") === "revisit" && col("refers_to") =!= ""
        Warc.records(files, headBytes = 1 << 20).toDF()
          .filter(isConversion || isRevisit)
          .select(col("file_id"), col("warc_type"), col("body_head"),
            when(isConversion, col("target_uri"))
              .otherwise(regexp_replace(col("refers_to"), "^<|>$", "")).as("uri"))
          .withColumn("n_revisits", count(when(col("warc_type") === "revisit", lit(1)))
            .over(org.apache.spark.sql.expressions.Window.partitionBy("uri")))
          .filter(isConversion)
          .select(col("file_id").as("doc_id"), col("body_head").as("text"), col("n_revisits"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text, CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS n_revisits FROM documents ORDER BY doc_id")),

    // L145 — TAR ingest round trip (Tar.syntheticTar ∘ Tar.members):
    // the container dataset DISTRIBUTIONS ship in — fixture tarballs,
    // text dumps, arXiv source bundles. Each document's text packs as
    // `docs/<id>.txt` in a ustar archive (outer wrapping rotated by
    // id % 4: gzip / plain / zstd / xz — the last two through the
    // public zstd-jni and org.tukaani.xz libraries Spark bundles) BEHIND
    // a directory entry and a PAX extended header whose payload must
    // be stepped over, not emitted (the classic tar-walk bugs, made
    // load-bearing: an extra member row or the pax payload as text
    // fails the oracle). A second copy rides under a >100-char path —
    // GNU 'L' longname on even ids, PAX `path=` on odd — so a walk
    // that ignores the override surfaces the 100-byte truncation and
    // fails. Oracle = the original text verbatim plus both
    // construction-arithmetic member names.
    "l145_tar_ingest" -> QueryDef(
      (s, d) => Tar.members(containers(fanOut(corpus(s, d)))(Tar.syntheticTar)).toDF()
        .select(col("file_id").as("doc_id"), col("member_idx"), col("name"),
          col("text_head").as("text"))
        .orderBy("doc_id", "member_idx"),
      Some("SELECT doc_id, CAST(0 AS BIGINT) AS member_idx, " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS name, text FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS BIGINT), " +
        "'docs/' || repeat('d', 96) || '/' || CAST(doc_id AS VARCHAR) || '.txt', text " +
        "FROM documents ORDER BY doc_id, member_idx")),

    // L147 — GENERIC ZIP ingest round trip (OfficeFixtures
    // .buildSyntheticArchiveZip ∘ Zip.members): the other half of the
    // container-distribution story l145 opened — plain
    // zip-of-text-files archives rather than OPC/ODF documents. Each
    // document packs as a STORED member, a raw-DEFLATE member, and an
    // encryption-FLAGGED member the reader must list but not read
    // (empty head — listing and readability are separate facts),
    // behind a directory entry that must not surface; ids % 4 == 0
    // force the zip64 sentinel + extended-information layout at
    // fixture size. The walk is OfficeZip's certified central-
    // directory machinery, re-surfaced tar-style. Oracle = three
    // construction-arithmetic rows per document.
    "l147_zip_ingest" -> QueryDef(
      (s, d) => {
        val files = containers(fanOut(corpus(s, d)))((id, t) =>
          WarcFile(id, OfficeFixtures.buildSyntheticArchiveZip(id, t)))
        Zip.members(files).toDF()
          .select(col("file_id").as("doc_id"), col("member_idx"), col("name"),
            col("size"), col("method"), col("text_head").as("text"))
          .orderBy("doc_id", "member_idx")
      },
      Some("SELECT doc_id, CAST(0 AS BIGINT) AS member_idx, " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS name, " +
        "CAST(strlen(text) AS BIGINT) AS size, CAST(0 AS BIGINT) AS method, " +
        "text FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS BIGINT), " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.z.txt', " +
        "CAST(strlen(text) AS BIGINT), CAST(8 AS BIGINT), text FROM documents " +
        "UNION ALL SELECT doc_id, CAST(2 AS BIGINT), " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.locked.txt', " +
        "CAST(strlen(text) AS BIGINT), CAST(0 AS BIGINT), '' FROM documents " +
        "ORDER BY doc_id, member_idx")),

    // L148 — ARCHIVE-DISTRIBUTION corpus cascade: the l130 composition
    // claim applied to the CONTAINER-OF-CONTAINERS layer — a dataset
    // that arrives as a mix of tarballs (gzip/plain/zstd/xz outer
    // wrappings) and plain zips, whose members must converge to ONE
    // corpus before dedup. Primaries ship by parity (even synthetic id
    // → tar, odd → zip); every 5th document ALSO ships in the OTHER
    // container under a shifted id — a cross-container duplicate that
    // exact dedup collapses ONLY if the tar and zip member walks
    // extract byte-identical text. Members are selected by their
    // construction name (the zip's deflate/locked siblings and the
    // tar's long-path twin stay out — name-based routing, the real
    // pipeline's move). Oracle = the same mix + keep-min-id dedup in
    // SQL. Scale shape: two narrow codec legs, one windowed exact
    // dedup on the text hash — no similarity computation.
    "l148_archive_corpus_cascade" -> QueryDef(
      (s, d) => {
        val base = fanOut(corpus(s, d))
        val mix = base
          .select((col("doc_id") * 10).as("sid"), col("text"),
            (col("doc_id") % 2).as("c"))
          .unionAll(base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") * 10 + 5).as("sid"), col("text"),
              ((col("doc_id") + 1) % 2).as("c")))
        def leg(c: Int) = mix.filter(col("c") === c).select(col("sid"), col("text"))
        def primary(members: DataFrame) = members
          .filter(col("name") === concat(lit("docs/"), col("file_id"), lit(".txt")))
          .select(col("file_id").as("sid"), col("text_head").as("text"))
        val tarDocs = primary(Tar.members(containers(leg(0))(Tar.syntheticTar)).toDF())
        val zipDocs = primary(Zip.members(containers(leg(1))((id, t) =>
          WarcFile(id, OfficeFixtures.buildSyntheticArchiveZip(id, t)))).toDF())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("sid"))
        tarDocs.unionAll(zipDocs)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("sid").as("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("WITH mix AS (SELECT doc_id * 10 AS sid, text FROM documents " +
        "UNION ALL SELECT doc_id * 10 + 5, text FROM documents WHERE doc_id % 5 = 0), " +
        "kept AS (SELECT sid, text, ROW_NUMBER() OVER " +
        "(PARTITION BY md5(text) ORDER BY sid) AS rn FROM mix) " +
        "SELECT sid AS doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "md5(text) AS text_md5 FROM kept WHERE rn = 1 ORDER BY doc_id")),

    // L149 — PACKED-ARCHIVE ingest round trip (Tar.syntheticTarMulti ∘
    // Tar.members): real distributions pack THOUSANDS of documents per
    // tarball, not one — so this packs 8 docs per archive (grouped by
    // doc_id / 8, a real shuffle-and-pack stage: the training-shard
    // geometry), wraps each archive by archive-id % 4 (gzip / plain /
    // zstd / xz), then recovers every document from the member WALK
    // with its id parsed back out of the member NAME — the
    // name-to-key recovery step every real archive-ingest pipeline
    // performs. Oracle = the corpus verbatim: a lost member, a
    // misparsed multi-member boundary, or a name/id mismatch all fail
    // visibly. Scale shape: one groupBy-pack shuffle, one narrow
    // member flatMap, per-row regexp.
    "l149_packed_tar_ingest" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val files = corpus(s, d).as[(Long, String)]
          .groupByKey(_._1 / 8)
          .mapGroups { (gid, rows) => Tar.syntheticTarMulti(gid, rows.toSeq.sortBy(_._1)) }
        Tar.members(files).toDF()
          .filter(col("name").rlike("^docs/[0-9]+\\.txt$"))
          .select(regexp_extract(col("name"), "^docs/([0-9]+)\\.txt$", 1)
            .cast("long").as("doc_id"),
            col("text_head").as("text"))
          .orderBy("doc_id")
      },
      Some(VerbatimSql)),

    // L150 — JSONL-SHARD ingest round trip (Jsonl.syntheticShard ∘
    // Jsonl.lines ∘ from_json): the distribution format most LLM
    // corpora actually arrive in — `.jsonl.{gz,zst,xz,bz2}` shards,
    // one JSON object per line. Documents pack 16-per-shard by
    // doc_id div 16 (the training-shard geometry, a real
    // shuffle-and-pack stage); every 7th document ALSO lands verbatim
    // in the NEXT shard — the cross-shard duplication real multi-source
    // merges produce — so the exact-dedup tail is load-bearing (skip
    // it and every 7th row doubles). Outer wrapping rotates by shard
    // id across all five transparent codecs (gzip/plain/zstd/xz/
    // bzip2); the per-line field extraction is Spark's own `from_json`
    // (Catalyst, column-pruned), not hand parsing. Oracle = the corpus
    // VERBATIM: a lost line, a broken JSON escape, a codec slip, or a
    // surviving duplicate all fail visibly. Scale shape: one
    // groupBy-pack shuffle, one narrow streaming line flatMap
    // (O(longest line) memory per shard), one exact-dedup shuffle.
    "l150_jsonl_shard_ingest" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val base = corpus(s, d)
        val mix = base.select(col("doc_id"), col("text"),
            expr("doc_id div 16").as("shard"))
          .unionAll(base.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), col("text"),
              expr("doc_id div 16 + 1").as("shard")))
        val files = mix.as[(Long, String, Long)]
          .groupByKey(_._3)
          .mapGroups { (sid, rows) =>
            graft.sources.Jsonl.syntheticShard(sid,
              rows.map(r => (r._1, r._2)).toSeq.sortBy(_._1)) }
        graft.sources.Jsonl.lines(files).toDF()
          .select(from_json(col("line"),
            org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, text STRING")).as("j"))
          .select(col("j.id").as("doc_id"), col("j.text").as("text"))
          .distinct()
          .orderBy("doc_id")
      },
      Some(VerbatimSql)),

    // L151 — 7z ARCHIVE ingest round trip (SevenZ.synthetic7z ∘
    // SevenZ.members): the tail of the distribution-format story after
    // tar (l145) and zip (l147) — academic bundles ship `.7z`. The
    // container (LZMA2-coded header tables) is decoded by Apache
    // commons-compress, the PUBLIC library Spark bundles (same
    // dependency posture as the zstd/xz codec legs, SURVEY §7.6); the
    // engine-side contract — bounded heads, archive-order member_idx,
    // directory skip, listed-vs-readable split — is this query's
    // surface. Each document rides THREE times under different
    // per-member coders (LZMA2 / COPY / BZIP2-in-7z), so all three
    // decode paths are load-bearing on every row. Oracle = three
    // construction-arithmetic rows per document.
    "l151_7z_ingest" -> QueryDef(
      (s, d) => SevenZ.members(containers(fanOut(corpus(s, d)))(SevenZ.synthetic7z)).toDF()
        .select(col("file_id").as("doc_id"), col("member_idx"), col("name"),
          col("size"), col("text_head").as("text"))
        .orderBy("doc_id", "member_idx"),
      Some("SELECT doc_id, CAST(0 AS BIGINT) AS member_idx, " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS name, " +
        "CAST(strlen(text) AS BIGINT) AS size, text FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS BIGINT), " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.c.txt', " +
        "CAST(strlen(text) AS BIGINT), text FROM documents " +
        "UNION ALL SELECT doc_id, CAST(2 AS BIGINT), " +
        "'docs/' || CAST(doc_id AS VARCHAR) || '.b.txt', " +
        "CAST(strlen(text) AS BIGINT), text FROM documents " +
        "ORDER BY doc_id, member_idx")),

    // L136 — OWNER-LOCKED ("encrypted") PDF round trip with the EMPTY
    // user password (PdfText.syntheticPdfEncrypted ∘ extractText): the
    // most common encrypted real-world PDF — print-driver output and
    // government scans set an OWNER password but leave the user
    // password empty, and every production extractor opens them. Each
    // document's content stream is filtered then RC4-40/RC4-128/
    // crypt-filter-RC4/AES-128-CBC/AES-256-CBC-encrypted (doc_id % 5
    // rotates the handler incl. the R6/V5 AESV3 layout with its
    // Algorithm-2.B iterated hash and /UE key unwrap; (doc_id/4) % 2
    // the Flate toggle) under a dictionary
    // whose /O, /U (+ /OE, /UE for V5), /P, /ID the CONSTRUCTION
    // derives per ISO 32000
    // §7.6.3–4 from its own owner password; the extractor must parse
    // the
    // dictionary, re-derive the file key from the empty user password,
    // authenticate against /U, and decrypt each stream BEFORE the
    // filter chain. Oracle = the original text verbatim — ciphertext,
    // decode garbage, or the old blank-on-encrypted contract all fail
    // visibly. (l112's `encrypted` flag is unchanged: the document IS
    // encrypted; extractability is a separate fact.)
    "l136_pdf_encrypted_roundtrip" -> roundTrip(PdfText.syntheticPdfEncrypted,
      PdfText.extractText, latin1 = true),

    // L137 — LEGACY BINARY WORD round trip (.doc via MS-CFB;
    // Cfb.syntheticDoc ∘ Cfb.extractText): pre-2007 Word is the
    // remaining big real-crawl document family after the OPC/ODF zips —
    // a COMPOUND FILE (public [MS-CFB] spec: 512/4096-byte sectors, FAT
    // chains, 64-byte mini-stream sectors for streams under 4 KiB) whose
    // WordDocument stream holds an [MS-DOC] FIB + PIECE TABLE. Each
    // document's text splits into ~48-unit pieces stored alternately
    // 8-bit-compressed (cp1252, fc bit 30) and UTF-16LE, located
    // through the Clx in the 1Table/0Table stream the FIB's
    // fWhichTblStm flag selects (a wrong-name distractor stream makes
    // ignoring the flag fail visibly); doc_id % 3 == 0 prepends a Prc
    // block the Clx walk must skip, doc_id % 5 == 0 writes a v4
    // container, and every document's second half is wrapped in a
    // HYPERLINK FIELD (begin mark + field code + separator … end mark,
    // [MS-DOC] §2.8.25 — the shape real documents carry), so a reader
    // that surfaces field codes or marks fails the verbatim oracle.
    // Oracle = the original text verbatim — the extraction
    // decodes REAL Unicode (no Latin-1 re-read).
    "l137_doc_roundtrip" -> roundTrip(Cfb.syntheticDoc, Cfb.extractText),

    // L141 — LEGACY BINARY EXCEL round trip (.xls via MS-CFB + BIFF8;
    // Cfb.syntheticXls ∘ Cfb.extractText): the spreadsheet half of the
    // pre-2007 Office family. Each document's text ships as ONE shared
    // string in a real BIFF8 workbook — globals substream (BOF,
    // BoundSheet8 tab directory, SST, EOF) + a worksheet substream
    // whose LabelSst cell references it — inside a compound file under
    // the `Workbook` stream. doc_id % 2 rotates the SST encoding
    // (UTF-16LE vs compressed single-byte), doc_id % 5 the v4 sector
    // size. Sheets extract in TAB order with XLSX's cell/row/sheet
    // joining (spec-certified: out-of-stream-order tabs, multi-cell
    // rows, and SST strings straddling CONTINUE records with a
    // mid-string mode flip). Oracle = the original text verbatim.
    "l141_xls_roundtrip" -> roundTrip(Cfb.syntheticXls, Cfb.extractText),

    // L142 — RTF round trip (Rtf.syntheticRtf ∘ Rtf.extractText): the
    // word-processor interchange format two decades of editors and
    // email clients emitted. Each document's text wraps into a real
    // RTF file — font table + an {\*\generator} ignorable group the
    // walk must DROP (their content leaking into text fails the
    // oracle), \par/\tab shaping, braces/backslash escapes, non-ASCII
    // rotating between \uN with a \uc1 fallback '?' (emitting the
    // fallback reads back visibly wrong) and \'hh byte escapes, plus a
    // mid-body {\*\themedata} distractor. Oracle = the original text
    // verbatim.
    "l142_rtf_roundtrip" -> roundTrip(Rtf.syntheticRtf, Rtf.extractText),

    // L143 — LEGACY BINARY POWERPOINT round trip (.ppt via MS-CFB +
    // the [MS-PPT] record tree; Cfb.syntheticPpt ∘ Cfb.extractText):
    // completes the pre-2007 Office trio (l137 .doc, l141 .xls). Each
    // document's text (\n as PPT's \r paragraph marks) ships as one
    // TextCharsAtom (UTF-16LE, even ids) or TextBytesAtom (cp1252)
    // inside a Document container next to an unknown-type sibling atom
    // the walk must skip; doc_id % 5 rotates the v4 sector size.
    // Oracle = the original text verbatim.
    "l143_ppt_roundtrip" -> roundTrip(Cfb.syntheticPpt, Cfb.extractText),

    // L144 — LEGACY OFFICE METADATA round trip ([MS-OLEPS]
    // SummaryInformation; Cfb.syntheticDocWithMeta ∘ Cfb.extractMeta):
    // the l112/l115 curation-gate fields for the pre-2007 family —
    // every .doc fixture gains a real property-set stream (header +
    // SummaryInformation FMTID section) carrying title (VT_LPWSTR with
    // a non-cp1252 char, so the UTF-16 string path is load-bearing),
    // author (VT_LPSTR cp1252), and create time (VT_FILETIME, 100 ns
    // since 1601) — all doc_id arithmetic the oracle restates in SQL;
    // the FILETIME reads back as epoch seconds. `kind` certifies the
    // container dispatch alongside the metadata.
    "l144_ole_meta" -> QueryDef(
      (s, d) => Cfb.extractMeta(containers(fanOut(corpus(s, d)))(Cfb.syntheticDocWithMeta))
        .toDF().orderBy("doc_id"),
      Some("SELECT doc_id, 'doc' AS kind, " +
        "'T' || chr(19990) || CAST(doc_id % 97 AS VARCHAR) AS title, " +
        "'author-' || CAST(doc_id % 7 AS VARCHAR) AS author, " +
        "CAST(1600000000 + doc_id AS BIGINT) AS created_epoch, " +
        "'cat-' || CAST(doc_id % 5 AS VARCHAR) AS category, " +
        "'C' || chr(26666) || CAST(doc_id % 13 AS VARCHAR) AS company " +
        "FROM documents ORDER BY doc_id")),

    // L138 — SIMPLE-FONT /Encoding /Differences round trip
    // (PdfText.syntheticPdfDifferences ∘ extractText): the OTHER
    // non-ToUnicode font problem (the l129 CMap machinery's cheap
    // half) — remapped/symbolic Type1 fonts whose byte codes resolve
    // through an /Encoding dictionary's /Differences array (ISO 32000
    // §9.6.5.1) and the Adobe Glyph List. Every document's UTF-8 bytes
    // are written +2-shifted (the l129 discipline: ignoring the
    // encoding returns visibly shifted garbage) through a 256-entry
    // Differences array that names ASCII letters/digits by their AGL
    // NAMES and everything else as uniXXXX — certifying both name
    // resolutions; doc_id % 2 toggles inline vs indirect /Encoding,
    // (doc_id/2) % 2 the Flate armor. Oracle = the original text
    // verbatim.
    "l138_pdf_differences_roundtrip" -> roundTrip(PdfText.syntheticPdfDifferences,
      PdfText.extractText, latin1 = true),

    // L146 — NAMED BASE ENCODING round trip (PdfText.syntheticPdfBaseEnc
    // ∘ extractText): the most common simple-font shape Word-exported
    // PDFs carry — `/Encoding /WinAnsiEncoding` with NO /Differences,
    // whose cp1252 0x80–0x9F block (smart quotes, dashes, €, ™) differs
    // from the raw ISO-8859-1 reading exactly where typography lives.
    // The text is PROJECTED onto cp1252 (non-encodable codepoints →
    // '?', the regexp_replace below) and every document appends a probe
    // line of all 27 high-block characters, so the table is load-
    // bearing on every row: ignoring the encoding extracts C1
    // controls. Odd ids route the SAME base table under a /Differences
    // array that swaps two codes (€ ↔ ‘, construction swaps to match),
    // certifying the base-fills-what-Differences-doesn't merge of
    // ISO 32000 §9.6.5 with one shared oracle.
    "l146_pdf_base_encoding" -> QueryDef(
      (s, d) => PdfText.extractText(containers(fanOut(corpus(s, d)))(PdfText.syntheticPdfBaseEnc))
        .toDF().select(col("doc_id"), col("text")).orderBy("doc_id"),
      Some("SELECT doc_id, regexp_replace(text, " +
        "'[^\\x00-\\x7f\\xa0-\\xff€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ]', '?', 'g') " +
        "|| chr(10) || '€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ' AS text " +
        "FROM documents ORDER BY doc_id")),

    // L130 — MIXED-CONTAINER crawl cascade, COMPOSED end-to-end: the
    // corpus a real crawl delivers is not one format — it is WARC-
    // wrapped HTML next to PDF, the OPC/ODF zips, the pre-2007 binary
    // Office trio, and RTF. Each
    // document ships in ONE container chosen by doc_id % 11 (0 = a
    // constructed single-record WARC file, gzipped on even synthetic
    // ids, whose
    // HTTP-200 body is the text inside style/comment/script chrome;
    // 1 = syntheticPdf; 2 = syntheticDocx; 3 = syntheticEpub;
    // 4 = syntheticXlsx; 5 = syntheticPptx; 6 = syntheticOdt;
    // 7 = Cfb.syntheticDoc; 8 = Cfb.syntheticXls; 9 = Cfb.syntheticPpt;
    // 10 = Rtf.syntheticRtf), and
    // every 5th document ALSO ships a SECOND
    // copy in the NEXT container type — a cross-container duplicate.
    // Per-type extract (WARC record walk → htmlToText; PDF content-
    // stream walk; four office zip walks; three compound-file walks;
    // the RTF control-word walk) → normalize → exact dedup →
    // banded-MinHash near dedup. The exact stage collapses a
    // cross-container pair ONLY if ALL ELEVEN extractor families
    // converge to the
    // same normalized text — the composition claim l121/l122/l124/
    // l131/l132/l134/l137/l141/l142/l143/l50/
    // l66 certify per-family, here certified ACROSS families in one
    // dataflow (EPUB's collapse-ws invariant converges because
    // normalizeText collapses whitespace on every leg). Oracle = the
    // same cascade from construction-side
    // VALUES (the documents table itself): every non-HTML extraction
    // is text-verbatim-up-to-normalization, the HTML leg re-runs the
    // l66 chain in SQL, then
    // the l68 dedup CTEs. Scale shape: eleven narrow mapPartitions
    // codec boundaries, per-row projections, then dedupCorpus's
    // banded join — nothing quadratic, binary never on the driver.
    "l130_mixed_cascade" -> QueryDef(
      (s, d) => {
        val base = corpus(s, d)
        // synthetic id scheme: primaries at 20k + k%2, duplicates at
        // 20k + 10 + (k+1)%2. The +k%2 keeps the synthetic id's PARITY
        // tracking doc_id's, so every constructor's compress-on-even-id
        // toggle (gzip WARC, flate PDF, deflate office) actually splits
        // the corpus half/half — the previous *10 scheme made every
        // primary id even and routed 100% of primaries down the
        // compressed legs. Duplicates get the OPPOSITE parity, so a
        // cross-container pair also crosses the compressed/raw split.
        // NO fanOut here: the eleven legs are union branches of one job
        // (see fanOut for the measurements).
        val mix = base.select((col("doc_id") * 20 + col("doc_id") % 2).as("mid"),
            col("text"), (col("doc_id") % 11).as("typ"))
          .unionAll(base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") * 20 + 10 + (col("doc_id") + 1) % 2).as("mid"),
              col("text"), ((col("doc_id") + 1) % 11).as("typ")))
        def leg[C <: Product : TypeTag](typ: Int)(make: (Long, String) => C) =
          containers(mix.filter(col("typ") === typ).select(col("mid"), col("text")))(make)
        def mid(extracted: Dataset[_]) =
          extracted.toDF().select(col("doc_id").as("mid"), col("text"))
        // 1 MiB body retention: the oracle runs htmlToText over the
        // FULL document text, so any truncation of the HTTP body
        // (chrome + text can exceed the old 8 KiB default) would
        // silently diverge
        val htmlDocs = Warc.records(leg(0)((id, t) => Warc.syntheticResponse(id,
            s"http://corpus.example/d/$id", MixedChromePre + t + MixedChromePost)),
            headBytes = 1 << 20).toDF()
          .filter(col("warc_type") === "response" && col("http_status") === 200)
          .select(col("file_id").as("mid"), htmlToText(col("body_head")).as("text"))
        val pdfDocs = PdfText.extractText(leg(1)(PdfText.syntheticPdf)).toDF()
          .select(col("doc_id").as("mid"),
            decode(encode(col("text"), "ISO-8859-1"), "UTF-8").as("text"))
        // the office zips, the pre-2007 binary Office trio (Cfb's
        // compound-file dispatch) and the RTF control-word walk all
        // extract text verbatim, so the convergence claim covers them
        val legs = Seq(htmlDocs, pdfDocs,
          mid(OfficeZip.extractText(leg(2)(OfficeZip.syntheticDocx))),
          mid(OfficeZip.extractText(leg(3)(OfficeZip.syntheticEpub))),
          mid(OfficeZip.extractText(leg(4)(OfficeZip.syntheticXlsx))),
          mid(OfficeZip.extractText(leg(5)(OfficeZip.syntheticPptx))),
          mid(OfficeZip.extractText(leg(6)(OfficeZip.syntheticOdt))),
          mid(Cfb.extractText(leg(7)(Cfb.syntheticDoc))),
          mid(Cfb.extractText(leg(8)(Cfb.syntheticXls))),
          mid(Cfb.extractText(leg(9)(Cfb.syntheticPpt))),
          mid(Rtf.extractText(leg(10)(Rtf.syntheticRtf))))
        // materialize the extracted corpus ONCE: dedupCorpus references
        // its input from several sides (exact window, shingle bands,
        // join-backs), and unmaterialized every reference re-runs all
        // eleven construct→extract codec legs — measured 2.5× wall back
        // on the 7-way shape (SCALE.md, round-16 probes). This is the
        // standard persist-the-extracted-corpus-before-dedup step of a
        // real pipeline.
        val docs = Materialize(legs.reduce(_ unionAll _)
          .select(col("mid").as("doc_id"), normalizeText(col("text")).as("text")),
          "l130_mixed_cascade")
        Dedup.dedupCorpus(docs, "text", "doc_id", 0.8)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("WITH base AS (SELECT doc_id, text FROM documents), " +
        "mix AS (SELECT doc_id * 20 + doc_id % 2 AS doc_id, text, doc_id % 11 AS typ FROM base " +
        "UNION ALL SELECT doc_id * 20 + 10 + (doc_id + 1) % 2, text, (doc_id + 1) % 11 " +
        "FROM base WHERE doc_id % 5 = 0), " +
        "ext AS (SELECT doc_id, CASE WHEN typ = 0 THEN " +
        htmlToTextSql(s"'$MixedChromePre' || text || '$MixedChromePost'") +
        " ELSE text END AS text FROM mix), " +
        "docs AS (SELECT doc_id, " + normalizeTextSql("text") + " AS text FROM ext), " +
        "kept AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM docs) " +
        "WHERE rn = 1), " +
        minhashPairsCte("kept") + ", " + jaccardCte + ", " +
        "fin AS (SELECT doc_id, text FROM kept WHERE doc_id NOT IN " +
        "(SELECT b_id FROM jac WHERE jaccard >= 0.8)) " +
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "md5(text) AS text_md5 FROM fin ORDER BY doc_id")),

    // L131 — corpus-scale XLSX text ROUND TRIP (OfficeZip.syntheticXlsx
    // ∘ extractText): the l122 discipline for spreadsheets — every
    // document's text as ONE shared string split across two rich-text
    // <t> runs (run fusion load-bearing per row), referenced by a
    // t="s" cell whose sheet resolves through a REAL rels indirection,
    // Deflate on even ids; oracle = the original text verbatim. A
    // match certifies the OPC r:id→rels→target chain, the shared-
    // string table decode, and the cell-type dispatch on 500 real
    // documents.
    "l131_xlsx_roundtrip" -> roundTrip(OfficeZip.syntheticXlsx, OfficeZip.extractText),

    // L132 — corpus-scale PPTX text ROUND TRIP (the slide twin): one
    // slide paragraph split across two <a:t> runs, the slide resolved
    // through the presentation's <p:sldId r:id> rels chain, Deflate on
    // even ids; oracle = the original text verbatim.
    "l132_pptx_roundtrip" -> roundTrip(OfficeZip.syntheticPptx, OfficeZip.extractText),

    // L135 — WET ingest round trip (Warc.syntheticWetFile ∘ records):
    // Common Crawl's *.warc.wet sidecar is the zero-extraction entry
    // point most corpus builds actually start from — WARC `conversion`
    // records whose payload IS the page's extracted plain text, no
    // HTTP framing. Each document's text wraps into a warcinfo +
    // conversion WET file (gzipped on even ids) and reads back through
    // the same streaming record walk as l50/l68 (non-HTTP branch:
    // charset-sniffed body prefix); oracle = the original text
    // verbatim. The warcinfo distractor proves the type filter.
    // headBytes = 1 MiB: "verbatim" holds up to that bound — real WET
    // conversion payloads routinely exceed the old 8 KiB HTTP-prefix
    // default and would have silently truncated (possibly mid-multibyte).
    "l135_wet_ingest" -> QueryDef(
      (s, d) => {
        val files = containers(fanOut(corpus(s, d)))((id, t) =>
          Warc.syntheticWetFile(id, s"http://corpus.example/wet/$id", t))
        Warc.records(files, headBytes = 1 << 20).toDF()
          .filter(col("warc_type") === "conversion")
          .select(col("file_id").as("doc_id"), col("body_head").as("text"))
          .orderBy("doc_id")
      },
      Some(VerbatimSql)),

    // L134 — corpus-scale ODT text ROUND TRIP (the OpenDocument /
    // LibreOffice family): one <text:p> split across two <text:span>
    // inline elements (span concatenation load-bearing — ODF inline
    // tags strip to NOTHING, not spaces), entity-escaped per span,
    // mimetype-member format detection, Deflate on even ids; oracle =
    // the original text verbatim.
    "l134_odt_roundtrip" -> roundTrip(OfficeZip.syntheticOdt, OfficeZip.extractText),

    "l122_docx_roundtrip" -> roundTrip(OfficeZip.syntheticDocx, OfficeZip.extractText),

    // L116 — NN-descent kNN-graph refinement (Similarity.nnDescent,
    // Dong et al. WWW'11): one fixed neighbors-of-neighbors round over
    // l35's RHP-blocked graph — co-neighbor pairs of every pivot
    // (neighbors AND reverse neighbors, closed neighborhood capped at
    // maxDegree=16 in deterministic member order — reverse degree is
    // the unbounded hub hazard at scale) score once per undirected
    // pair with the SAME cosine expression, then each node keeps its
    // top-3 over old ∪ new edges. The oracle unrolls the identical
    // round as CTEs on top of l35's replayed RHP chain (the l110 loop
    // discipline: fixed rounds, no convergence count, exact same
    // arithmetic both engines). Recall lift vs brute force is
    // spec-measured (SimilaritySpec).
    "l116_nn_descent" -> QueryDef(
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val g0 = Similarity.knnGraphRhp(embs, "embedding", "vec_id", 64, 3,
          nPlanes = 4, nTables = 16)
        Similarity.nnDescent(embs, "embedding", "vec_id", 3, g0,
            rounds = 1, maxDegree = 16)
          .select(col("src"), col("nbr"), round(col("sim"), 6).as("sim"), col("rnk"))
          .orderBy("src", "rnk")
      },
      Some {
        def bktSql(t: Int): String = (0 until 4).map { j =>
          val arr = Dedup.rhpSigns(t, j, 64)
            .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"(CASE WHEN ${dotSql("v", s"CAST($arr AS DOUBLE[])")} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        val bkts = (0 until 16).map(t =>
          s"SELECT vec_id, ${bktSql(t)} AS bkt, $t AS tbl FROM e").mkString(" UNION ALL ")
        s"WITH $embCte, bk AS ($bkts), " +
          "p AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id FROM bk a " +
          "JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id), " +
          "sym AS (SELECT a_id AS src, b_id AS nbr FROM p " +
          "UNION ALL SELECT b_id, a_id FROM p), " +
          "pv AS (SELECT src, nbr, ea.v AS va, eb.v AS vb FROM sym " +
          "JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = nbr), " +
          s"sc AS (SELECT src, nbr, ${cosSql("va", "vb")} AS sim FROM pv), " +
          "r0 AS (SELECT src, nbr, sim FROM (SELECT src, nbr, sim, " +
          "ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rnk " +
          "FROM sc) WHERE rnk <= 3), " +
          // one descent round: capped closed neighborhood, co-neighbor
          // candidates, old ∪ new pairs scored once, re-ranked
          "adj0 AS (SELECT src AS node, nbr AS member FROM r0 " +
          "UNION SELECT nbr, src FROM r0), " +
          "adj AS (SELECT node, member FROM (SELECT node, member, " +
          "ROW_NUMBER() OVER (PARTITION BY node ORDER BY member) AS dr FROM adj0) " +
          "WHERE dr <= 16), " +
          "cand AS (SELECT DISTINCT x.member AS a_id, y.member AS b_id " +
          "FROM adj x JOIN adj y ON x.node = y.node AND x.member < y.member), " +
          "ap AS (SELECT a_id, b_id FROM cand " +
          "UNION SELECT LEAST(src, nbr), GREATEST(src, nbr) FROM r0), " +
          "pv2 AS (SELECT a_id, b_id, ea.v AS va, eb.v AS vb FROM ap " +
          "JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id), " +
          s"sc2 AS (SELECT a_id, b_id, ${cosSql("va", "vb")} AS sim FROM pv2), " +
          "sym2 AS (SELECT a_id AS src, b_id AS nbr, sim FROM sc2 " +
          "UNION ALL SELECT b_id, a_id, sim FROM sc2), " +
          "r1 AS (SELECT src, nbr, sim, CAST(ROW_NUMBER() OVER " +
          "(PARTITION BY src ORDER BY sim DESC, nbr) AS BIGINT) AS rnk FROM sym2) " +
          "SELECT src, nbr, ROUND(sim, 6) AS sim, rnk FROM r1 WHERE rnk <= 3 " +
          "ORDER BY src, rnk"
      }),

    // L106 — classifier calibration (Scoring.calibrationBins): the QC
    // readout run before a quality model's scores gate real data —
    // reliability bins (predicted ppm vs observed positive rate) in
    // EXACT integer arithmetic, no float binning boundary. Synthetic
    // scorer from doc_id: prob = (37·id mod 1000) permille, label
    // drawn against an independent (7919·id mod 1000) permille
    // pseudo-uniform — calibrated by construction up to discreteness,
    // so bins carry small non-zero gaps both engines must agree on.
    "l106_calibration" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        val prob = (id * 37 % 1000) * 1000
        val label = when((id * 7919 % 1000) * 1000 < prob, 1L).otherwise(0L)
        graft.operators.Scoring.calibrationBins(
            Tables.documents(s, d).select(prob.as("prob_ppm"), label.as("label")),
            "prob_ppm", "label", bins = 10)
          .orderBy("bin")
      },
      Some("WITH p AS (SELECT ((doc_id * 37) % 1000) * 1000 AS prob, " +
        "CASE WHEN ((doc_id * 7919) % 1000) * 1000 < ((doc_id * 37) % 1000) * 1000 " +
        "THEN 1 ELSE 0 END AS label FROM documents), " +
        "b AS (SELECT LEAST(prob // 100000, 9) AS bin, COUNT(*) AS n, " +
        "SUM(label) AS pos, SUM(prob) AS sp FROM p GROUP BY 1) " +
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n, " +
        "CAST(pos AS BIGINT) AS positives, CAST(sp // n AS BIGINT) AS avg_pred_ppm, " +
        "CAST((pos * 1000000) // n AS BIGINT) AS obs_ppm, " +
        "CAST(ABS(sp // n - (pos * 1000000) // n) AS BIGINT) AS abs_gap_ppm " +
        "FROM b ORDER BY bin")),

    // L107 — inter-annotator agreement (Scoring.cohensKappa): the
    // labeled-data QC step before a label set is trusted for training —
    // Cohen's kappa per language between two annotators. Annotator A
    // labels by a doc_id hash; B agrees except every 13th doc (a
    // systematic disagreement both engines replay), so kappa is high
    // but below 1. po/pe are exact ppm integers; kappa is the double
    // ratio of the same exact counts, rounded to 6 in an identical
    // expression shape. A synthetic 'zz' stratum is constant-'keep' on
    // BOTH sides — the pe = 1 degenerate case, reported as the
    // conventional kappa = 1.0 by the guard in both engines.
    "l107_annotator_kappa" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        val aLab = when(id * 37 % 10 < 7, lit("keep")).otherwise(lit("drop"))
        val flip = when(id * 37 % 10 < 7, lit("drop")).otherwise(lit("keep"))
        val bLab = when(id % 13 === 0, flip).otherwise(aLab)
        val labeled = Tables.documents(s, d)
          .select(col("lang"), aLab.as("a"), bLab.as("b"))
          .union(Tables.documents(s, d).filter(id % 97 === 0)
            .select(lit("zz").as("lang"),
              lit("keep").as("a"), lit("keep").as("b")))
        graft.operators.Scoring.cohensKappa(labeled, "lang", "a", "b")
          .orderBy("lang")
      },
      Some("WITH lab AS (SELECT lang, " +
        "CASE WHEN (doc_id * 37) % 10 < 7 THEN 'keep' ELSE 'drop' END AS a, " +
        "CASE WHEN doc_id % 13 = 0 THEN " +
        "(CASE WHEN (doc_id * 37) % 10 < 7 THEN 'drop' ELSE 'keep' END) " +
        "ELSE (CASE WHEN (doc_id * 37) % 10 < 7 THEN 'keep' ELSE 'drop' END) END AS b " +
        "FROM documents " +
        "UNION ALL SELECT 'zz' AS lang, 'keep' AS a, 'keep' AS b " +
        "FROM documents WHERE doc_id % 97 = 0), " +
        "tot AS (SELECT lang, COUNT(*) AS n, " +
        "SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS ag FROM lab GROUP BY lang), " +
        "ma AS (SELECT lang, a AS c, COUNT(*) AS na FROM lab GROUP BY 1, 2), " +
        "mb AS (SELECT lang, b AS c, COUNT(*) AS nb FROM lab GROUP BY 1, 2), " +
        "pe AS (SELECT lang, SUM(na * nb) AS s FROM ma JOIN mb USING (lang, c) GROUP BY lang) " +
        "SELECT t.lang, CAST(n AS BIGINT) AS n, CAST(ag AS BIGINT) AS n_agree, " +
        "CAST((ag * 1000000) // n AS BIGINT) AS po_ppm, " +
        "CAST((s * 1000000) // (n * n) AS BIGINT) AS pe_ppm, " +
        "CASE WHEN s = n * n THEN CAST(1.0 AS DOUBLE) ELSE " +
        "ROUND((CAST(ag AS DOUBLE) / n - CAST(s AS DOUBLE) / (n * n)) / " +
        "(CAST(1.0 AS DOUBLE) - CAST(s AS DOUBLE) / (n * n)), 6) END AS kappa " +
        "FROM tot t JOIN pe USING (lang) ORDER BY lang")),

    // L87 — per-block language segmentation
    // (Scoring.blockLanguageSpans): l75 classifies whole documents,
    // but crawl pages mix languages BLOCK BY BLOCK — this composes
    // l76's boilerplate block filter with l75's hashed multiclass
    // classifier: classify each kept block, merge adjacent same-label
    // blocks into spans (gaps-and-islands), attach the page's majority
    // label (most blocks, ties to the earliest class). The fixture is
    // l76's page construction with THREE classifiable prose blocks
    // whose content varies per doc (text, id%7, id%3), so block
    // predictions — and therefore span shapes and majorities — vary
    // across the corpus; the oracle recomputes the whole composition
    // (block cuts → per-block bucket sums ×256 as exact integers →
    // argmax → islands → majority) from the same constructed HTML.
    "l87_block_lang" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val html = concat(
          lit("<html><head><title>T"), str(id), lit("</title></head><body>"),
          lit("<nav><ul><li><a href=/h>Home</a></li><li><a href=/c"), str(id % 5),
          lit(">Cat "), str(id % 5), lit("</a></li><li><a href=/c>Contact</a></li></ul></nav>"),
          lit("<p>the story of "), col("text"), lit(" and the rest of a tale</p>"),
          lit("<p>the report of a chapter "), str(id % 7),
          lit(" and the sum of all the parts</p>"),
          lit("<p>short "), str(id % 5), lit("</p>"),
          lit("<p>the account of a ledger "), str(id % 3),
          lit(" and the tale of all the sums</p>"),
          lit("<footer>Copyright 20"), str(id % 10),
          lit(" <a href=/p>privacy</a> <a href=/t>terms</a></footer>"),
          lit("</body></html>"))
        val classes = Seq("en", "de", "fr", "es").zipWithIndex.map { case (lang, c) =>
          lang -> Array.tabulate(256)(b => (((b + 37 * c) % 256) - 128) / 256.0)
        }
        // fanned out: the block parse + classifier checkpoint is CPU-bound
        graft.operators.Scoring.blockLanguageSpans(
            fanOut(Tables.documents(s, d).select(id, html.as("page"))),
            "page", "doc_id", classes)
          .orderBy("doc_id", "span_from")
      },
      Some {
        val h16 = (e: String) =>
          s"((strpos('0123456789abcdef', substr(md5($e),1,1))-1)*4096 + " +
            s"(strpos('0123456789abcdef', substr(md5($e),2,1))-1)*256 + " +
            s"(strpos('0123456789abcdef', substr(md5($e),3,1))-1)*16 + " +
            s"(strpos('0123456789abcdef', substr(md5($e),4,1))-1)) % 256"
        "WITH h AS (SELECT doc_id, '<html><head><title>T' || CAST(doc_id AS VARCHAR) || " +
          "'</title></head><body>' || " +
          "'<nav><ul><li><a href=/h>Home</a></li><li><a href=/c' || CAST(doc_id % 5 AS VARCHAR) || " +
          "'>Cat ' || CAST(doc_id % 5 AS VARCHAR) || '</a></li><li><a href=/c>Contact</a></li></ul></nav>' || " +
          "'<p>the story of ' || text || ' and the rest of a tale</p>' || " +
          "'<p>the report of a chapter ' || CAST(doc_id % 7 AS VARCHAR) || " +
          "' and the sum of all the parts</p>' || " +
          "'<p>short ' || CAST(doc_id % 5 AS VARCHAR) || '</p>' || " +
          "'<p>the account of a ledger ' || CAST(doc_id % 3 AS VARCHAR) || " +
          "' and the tale of all the sums</p>' || " +
          "'<footer>Copyright 20' || CAST(doc_id % 10 AS VARCHAR) || " +
          "' <a href=/p>privacy</a> <a href=/t>terms</a></footer>' || " +
          "'</body></html>' AS html FROM documents), " +
          mainContentCtes("h") + ", " +
          "btok AS (SELECT doc_id, ord, UNNEST(string_split(t, ' ')) AS tkn FROM mck WHERE keep), " +
          s"bh AS (SELECT doc_id, ord, ${h16("tkn")} AS b FROM btok), " +
          "bg AS (SELECT doc_id, ord, b, COUNT(*) AS n FROM bh GROUP BY 1, 2, 3), " +
          "bs AS (SELECT doc_id, ord, CAST(SUM(n) AS BIGINT) AS n_tokens, " +
          "CAST(SUM(n * (((b + 0) % 256) - 128)) AS BIGINT) AS s0, " +
          "CAST(SUM(n * (((b + 37) % 256) - 128)) AS BIGINT) AS s1, " +
          "CAST(SUM(n * (((b + 74) % 256) - 128)) AS BIGINT) AS s2, " +
          "CAST(SUM(n * (((b + 111) % 256) - 128)) AS BIGINT) AS s3 FROM bg GROUP BY 1, 2), " +
          "lab AS (SELECT doc_id, ord, n_tokens, " +
          "CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 'en' " +
          "WHEN s1 >= s2 AND s1 >= s3 THEN 'de' " +
          "WHEN s2 >= s3 THEN 'fr' ELSE 'es' END AS lang FROM bs), " +
          "isl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) " +
          "- ROW_NUMBER() OVER (PARTITION BY doc_id, lang ORDER BY ord) AS i FROM lab), " +
          "sp AS (SELECT doc_id, lang, i, CAST(MIN(ord) AS BIGINT) AS span_from, " +
          "CAST(MAX(ord) AS BIGINT) AS span_to, COUNT(*) AS span_blocks, " +
          "CAST(SUM(n_tokens) AS BIGINT) AS span_tokens FROM isl GROUP BY 1, 2, 3), " +
          "cnt AS (SELECT doc_id, lang, COUNT(*) AS c FROM lab GROUP BY 1, 2), " +
          "rkd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, " +
          "CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 2 ELSE 3 END) AS rk " +
          "FROM cnt), " +
          "maj AS (SELECT m1.doc_id, m1.lang AS doc_majority, " +
          "CAST(m1.c - COALESCE(m2.c, 0) AS BIGINT) AS majority_margin " +
          "FROM (SELECT * FROM rkd WHERE rk = 1) m1 " +
          "LEFT JOIN (SELECT * FROM rkd WHERE rk = 2) m2 ON m1.doc_id = m2.doc_id) " +
          "SELECT sp.doc_id, span_from, span_to, span_blocks, span_tokens, lang, " +
          "doc_majority, majority_margin " +
          "FROM sp JOIN maj USING (doc_id) ORDER BY doc_id, span_from"
      }),

    // L70 — IP-literal URL canonicalization, cross-engine certified
    // (the l64 pattern over the address-shaped corner of the URL
    // space): bracketed IPv6 with default/non-default/no ports, an
    // address tail ending in 80 that a naive default-port strip would
    // eat, bare IPv4, bare (invalid but crawl-real) IPv6 where a
    // trailing `:digits` is address, not port, plus name hosts as the
    // regression control. Both engines construct the same URLs from
    // doc_id and independently run the same authority-classification
    // chain (bracket → whole-[...] host; multi-colon → no port to
    // strip; else → port strip + www strip); IP hosts cap on
    // themselves in `domain`. Pure per-row projections throughout.
    "l70_url_ip" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(
          when(id % 2 === 0, lit("https")).otherwise(lit("http")), lit("://"),
          when(id % 5 === 0, concat(lit("[2001:db8::"), str(id % 9), lit("]")))
            .when(id % 5 === 1, concat(lit("[2001:DB8:0:"), str(id % 7), lit("::80]")))
            .when(id % 5 === 2, concat(lit("10."), str(id % 200), lit(".0."), str(id % 9)))
            .when(id % 5 === 3, concat(lit("2001:db8::"), str(id % 9)))
            .otherwise(concat(lit("www.Host"), str(id % 11), lit(".Example.com"))),
          when(id % 4 === 0, lit(":443")).when(id % 4 === 1, lit(":8080"))
            .when(id % 4 === 2, lit(":80")).otherwise(lit("")),
          lit("/p/"), str(id),
          when(id % 3 === 0, concat(lit("?utm_source=x&id="), str(id % 7)))
            .when(id % 3 === 1, concat(lit("?a="), str(id % 5)))
            .otherwise(lit("")),
          when(id % 6 === 0, lit("#f")).otherwise(lit("")))
        Tables.documents(s, d)
          .select(id, url.as("url"))
          .select(id, col("url"),
            urlHost(col("url")).as("host"),
            registrableDomain(col("url")).as("domain"),
            normalizeUrl(col("url")).as("norm_url"))
          .orderBy("doc_id")
      },
      Some("WITH u AS (SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END || '://' || " +
        "CASE WHEN doc_id % 5 = 0 THEN '[2001:db8::' || CAST(doc_id % 9 AS VARCHAR) || ']' " +
        "WHEN doc_id % 5 = 1 THEN '[2001:DB8:0:' || CAST(doc_id % 7 AS VARCHAR) || '::80]' " +
        "WHEN doc_id % 5 = 2 THEN '10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 9 AS VARCHAR) " +
        "WHEN doc_id % 5 = 3 THEN '2001:db8::' || CAST(doc_id % 9 AS VARCHAR) " +
        "ELSE 'www.Host' || CAST(doc_id % 11 AS VARCHAR) || '.Example.com' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ':443' WHEN doc_id % 4 = 1 THEN ':8080' " +
        "WHEN doc_id % 4 = 2 THEN ':80' ELSE '' END || " +
        "'/p/' || CAST(doc_id AS VARCHAR) || " +
        "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR) " +
        "WHEN doc_id % 3 = 1 THEN '?a=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 0 THEN '#f' ELSE '' END AS url FROM documents), " +
        "a AS (SELECT doc_id, url, " +
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS auth, " +
        "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, " +
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest " +
        "FROM u), " +
        "h AS (SELECT doc_id, url, scheme, rest, " +
        "CASE WHEN auth LIKE '[%' THEN lower(regexp_extract(auth, '^\\[[^\\]]*\\]', 0)) " +
        "WHEN regexp_matches(auth, ':.*:') THEN lower(auth) " +
        "ELSE lower(regexp_replace(auth, ':[0-9]+$', '')) END AS host, " +
        "lower(auth) AS la, " +
        "regexp_extract(lower(auth), '\\]:([0-9]+)$', 1) AS bport FROM a), " +
        "n AS (SELECT doc_id, url, host, " +
        "CASE WHEN regexp_matches(host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$') " +
        "OR host LIKE '[%' OR contains(host, ':') THEN host " +
        "ELSE regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) END AS domain, " +
        "scheme || '://' || " +
        "CASE WHEN la LIKE '[%' THEN regexp_extract(la, '^\\[[^\\]]*\\]', 0) || " +
        "(CASE WHEN bport IN ('', '80', '443') THEN '' ELSE ':' || bport END) " +
        "WHEN regexp_matches(la, ':.*:') THEN la " +
        "ELSE regexp_replace(regexp_replace(la, ':(80|443)$', ''), '^www\\.', '') END || " +
        "regexp_replace(CASE WHEN contains(rest, 'utm_') THEN " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest, " +
        "'\\?utm_[a-z]*=[^&#]*', '?', 'g'), '&utm_[a-z]*=[^&#]*', '&', 'g'), " +
        "'\\?[?&]+', '?', 'g'), '&[?&]+', '&', 'g') ELSE rest END, " +
        "'[?&]+$', '') AS norm_url FROM h) " +
        "SELECT doc_id, url, host, domain, norm_url FROM n ORDER BY doc_id")),

    // L71 — public-suffix-aware registrable domains (Domains.
    // registrableDomainPsl): the exact per-domain capping key, where
    // l64/l70's last-two-labels form over-collapses country registries
    // (every `*.co.uk` site under one key). Fixture hosts span 2-label
    // suffixes (co.uk, com.au), a private-section suffix (github.io),
    // plain .com, a host that IS a suffix (no registrable domain →
    // empty), and an unknown TLD (falls back to last-two-labels — the
    // PSL's implicit `*` rule); the suffix table is the same VALUES
    // relation on both sides. Spark matches via fixed-depth broadcast
    // hash left-joins (zero shuffles of the URL side — DomainsSpec pins
    // the plan); the oracle re-implements longest-suffix match
    // independently via candidate tails + MAX(k).
    "l71_psl_domain" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(lit("https://"),
          when(id % 6 === 0, concat(lit("sub"), str(id % 7), lit(".BBC.co.uk")))
            .when(id % 6 === 1, concat(lit("shop"), str(id % 5), lit(".example.com.au")))
            .when(id % 6 === 2, concat(lit("a"), str(id % 3), lit(".b.example"), str(id % 4), lit(".com")))
            .when(id % 6 === 3, concat(lit("user"), str(id % 9), lit(".github.io")))
            .when(id % 6 === 4, lit("co.uk"))
            .otherwise(concat(lit("x"), str(id % 8), lit(".example.zz"))),
          lit("/p/"), str(id))
        val sfx = Seq("com", "org", "uk", "co.uk", "org.uk", "com.au", "au",
          "jp", "co.jp", "github.io", "io").toDF("suffix")
        graft.operators.Domains.registrableDomainPsl(
            Tables.documents(s, d).select(id, url.as("url")), "url", sfx, "domain")
          .select(id, col("url"), col("domain"))
          .orderBy("doc_id")
      },
      Some("WITH sfx(suffix) AS (VALUES ('com'), ('org'), ('uk'), ('co.uk'), " +
        "('org.uk'), ('com.au'), ('au'), ('jp'), ('co.jp'), ('github.io'), ('io')), " +
        "u AS (SELECT doc_id, 'https://' || " +
        "CASE WHEN doc_id % 6 = 0 THEN 'sub' || CAST(doc_id % 7 AS VARCHAR) || '.BBC.co.uk' " +
        "WHEN doc_id % 6 = 1 THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.example.com.au' " +
        "WHEN doc_id % 6 = 2 THEN 'a' || CAST(doc_id % 3 AS VARCHAR) || '.b.example' || CAST(doc_id % 4 AS VARCHAR) || '.com' " +
        "WHEN doc_id % 6 = 3 THEN 'user' || CAST(doc_id % 9 AS VARCHAR) || '.github.io' " +
        "WHEN doc_id % 6 = 4 THEN 'co.uk' " +
        "ELSE 'x' || CAST(doc_id % 8 AS VARCHAR) || '.example.zz' END || " +
        "'/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents), " +
        "lab AS (SELECT doc_id, url, " +
        "string_split(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '.') AS arr " +
        "FROM u), " +
        "c AS (SELECT doc_id, k, array_to_string(arr[len(arr)-k+1:len(arr)], '.') AS cand " +
        "FROM lab, UNNEST(generate_series(1, 4)) AS t(k) WHERE len(arr) >= k), " +
        "m AS (SELECT doc_id, MAX(k) AS mk FROM c JOIN sfx ON cand = suffix GROUP BY doc_id) " +
        "SELECT l.doc_id, l.url, " +
        "CASE WHEN mk IS NULL THEN regexp_extract(array_to_string(arr, '.'), '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) " +
        "WHEN len(arr) > mk THEN array_to_string(arr[len(arr)-mk:len(arr)], '.') " +
        "ELSE '' END AS domain " +
        "FROM lab l LEFT JOIN m ON m.doc_id = l.doc_id ORDER BY l.doc_id")),

    // L72 — BM25 relevance scoring (Retrieval.bm25, the Lucene idf
    // form): every document scored against a 5-term query — the
    // inverted-index computation relationalized (decontamination
    // triage / corpus search / hard-negative mining). One token
    // explode feeds doc lengths AND query-term tfs (terms filtered
    // before the shuffle); df derives from tf; N/Σdl broadcast as a
    // 1-row scalar. Cross-engine determinism per the l34 discipline:
    // per-(doc, term) scores round once to 9 dp into DECIMAL(20,9),
    // per-doc sums are exact decimal, final score rounds to 6 dp.
    "l72_bm25" -> QueryDef(
      (s, d) => graft.operators.Retrieval.bm25(
          Tables.documents(s, d), "text", "doc_id",
          Seq("query", "join", "window", "vector", "merge"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t " +
        "FROM documents WHERE text <> ''), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok WHERE t <> '' GROUP BY 1), " +
        "scal AS (SELECT COUNT(*) AS n, SUM(dl) AS toks FROM dl), " +
        "tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok " +
        "WHERE t IN ('query', 'join', 'window', 'vector', 'merge') GROUP BY 1, 2), " +
        "df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT doc_id, CAST(ROUND(" +
        "LN(1 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) * " +
        "(tf * (CAST(1.2 AS DOUBLE) + 1)) / " +
        "(tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + " +
        "CAST(0.75 AS DOUBLE) * (dl / (CAST(toks AS DOUBLE) / n)))), 9) " +
        "AS DECIMAL(20,9)) AS s " +
        "FROM tf JOIN df USING (t) JOIN dl USING (doc_id), scal) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, " +
        "ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")),

    // L73 — BPE train + encode golden pin (the l69 pattern applied to
    // the tokenizer surface): trainMerges' driver endgame learns 30
    // merges over a fixed 8-sentence corpus, encodeWordsFast (the
    // broadcast-rank mapPartitions production encoder) applies them,
    // and the oracle is a VALUES relation of the frozen (word →
    // symbol-string) rows. The iterative fold has no DuckDB form, so
    // this is a regression pin, not a semantic oracle — but it runs
    // the REAL train→encode path end-to-end under CORRECTNESS every
    // round (spec-level guarantees: BpeSpec proves the encoder
    // identical to the sequential reference chain and the driver
    // endgame identical to the distributed loop).
    "l73_bpe_encode_pin" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val bases = Seq(
          "the quick brown fox jumps over the lazy dog by the river",
          "pack my box with five dozen liquor jugs for the long trip",
          "a stitch in time saves nine when the cloth begins to fray",
          "all that glitters is not gold said the old miner at dawn",
          "every good boy deserves fruit after the long practice session",
          "the rain in spain falls mainly on the wide open plain",
          "still waters run deep where the old stone bridge crosses over",
          "many hands make light work when the harvest moon rises early")
        val docs = bases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val merges = graft.operators.Bpe.trainMerges(docs, "text", 30)
          .map(m => (m._1, m._2))
        graft.operators.Bpe.encodeWordsFast(docs, "text", merges)
          .select(col("w"), array_join(col("syms"), "|").as("syms"),
            size(col("syms")).cast("long").as("n_syms"))
          .orderBy("w")
      },
      Some("SELECT * FROM (VALUES " +
        "('a', 'a', CAST(1 AS BIGINT)), ('after', 'a|f|t|er', CAST(4 AS BIGINT)), " +
        "('all', 'all', CAST(1 AS BIGINT)), ('at', 'at', CAST(1 AS BIGINT)), " +
        "('begins', 'b|e|g|in|s', CAST(5 AS BIGINT)), ('box', 'bo|x', CAST(2 AS BIGINT)), " +
        "('boy', 'bo|y', CAST(2 AS BIGINT)), ('bridge', 'b|ri|d|g|e', CAST(5 AS BIGINT)), " +
        "('brown', 'b|r|o|w|n', CAST(5 AS BIGINT)), ('by', 'b|y', CAST(2 AS BIGINT)), " +
        "('cloth', 'c|l|o|t|h', CAST(5 AS BIGINT)), ('crosses', 'c|r|o|s|ses', CAST(5 AS BIGINT)), " +
        "('dawn', 'd|a|w|n', CAST(4 AS BIGINT)), ('deep', 'de|e|p', CAST(3 AS BIGINT)), " +
        "('deserves', 'd|es|er|ves', CAST(4 AS BIGINT)), ('dog', 'do|g', CAST(2 AS BIGINT)), " +
        "('dozen', 'do|z|en', CAST(3 AS BIGINT)), ('early', 'e|ar|l|y', CAST(4 AS BIGINT)), " +
        "('every', 'e|ver|y', CAST(3 AS BIGINT)), ('falls', 'f|all|s', CAST(3 AS BIGINT)), " +
        "('five', 'f|i|v|e', CAST(4 AS BIGINT)), ('for', 'f|or', CAST(2 AS BIGINT)), " +
        "('fox', 'f|o|x', CAST(3 AS BIGINT)), ('fray', 'fr|a|y', CAST(3 AS BIGINT)), " +
        "('fruit', 'fr|u|it', CAST(3 AS BIGINT)), ('glitters', 'g|l|it|t|ers', CAST(5 AS BIGINT)), " +
        "('gold', 'g|old', CAST(2 AS BIGINT)), ('good', 'g|o|o|d', CAST(4 AS BIGINT)), " +
        "('hands', 'h|an|d|s', CAST(4 AS BIGINT)), ('harvest', 'h|ar|ves|t', CAST(4 AS BIGINT)), " +
        "('in', 'in', CAST(1 AS BIGINT)), ('is', 'i|s', CAST(2 AS BIGINT)), " +
        "('jugs', 'j|u|g|s', CAST(4 AS BIGINT)), ('jumps', 'j|u|m|p|s', CAST(5 AS BIGINT)), " +
        "('lazy', 'l|a|z|y', CAST(4 AS BIGINT)), ('light', 'l|i|g|h|t', CAST(5 AS BIGINT)), " +
        "('liquor', 'l|i|q|u|or', CAST(5 AS BIGINT)), ('long', 'l|on|g', CAST(3 AS BIGINT)), " +
        "('mainly', 'm|ain|l|y', CAST(4 AS BIGINT)), ('make', 'm|a|k|e', CAST(4 AS BIGINT)), " +
        "('many', 'm|an|y', CAST(3 AS BIGINT)), ('miner', 'm|in|er', CAST(3 AS BIGINT)), " +
        "('moon', 'm|o|on', CAST(3 AS BIGINT)), ('my', 'm|y', CAST(2 AS BIGINT)), " +
        "('nine', 'n|in|e', CAST(3 AS BIGINT)), ('not', 'n|o|t', CAST(3 AS BIGINT)), " +
        "('old', 'old', CAST(1 AS BIGINT)), ('on', 'on', CAST(1 AS BIGINT)), " +
        "('open', 'o|p|en', CAST(3 AS BIGINT)), ('over', 'o|ver', CAST(2 AS BIGINT)), " +
        "('pack', 'p|ac|k', CAST(3 AS BIGINT)), ('plain', 'p|l|ain', CAST(3 AS BIGINT)), " +
        "('practice', 'p|r|ac|t|ic|e', CAST(6 AS BIGINT)), ('quick', 'q|u|ic|k', CAST(4 AS BIGINT)), " +
        "('rain', 'r|ain', CAST(2 AS BIGINT)), ('rises', 'ri|ses', CAST(2 AS BIGINT)), " +
        "('river', 'ri|ver', CAST(2 AS BIGINT)), ('run', 'r|u|n', CAST(3 AS BIGINT)), " +
        "('said', 's|a|i|d', CAST(4 AS BIGINT)), ('saves', 's|a|ves', CAST(3 AS BIGINT)), " +
        "('session', 'ses|s|i|on', CAST(4 AS BIGINT)), ('spain', 's|p|ain', CAST(3 AS BIGINT)), " +
        "('still', 'st|i|ll', CAST(3 AS BIGINT)), ('stitch', 'st|it|c|h', CAST(4 AS BIGINT)), " +
        "('stone', 'st|on|e', CAST(3 AS BIGINT)), ('that', 't|h|at', CAST(3 AS BIGINT)), " +
        "('the', 'the', CAST(1 AS BIGINT)), ('time', 't|i|m|e', CAST(4 AS BIGINT)), " +
        "('to', 't|o', CAST(2 AS BIGINT)), ('trip', 't|ri|p', CAST(3 AS BIGINT)), " +
        "('waters', 'w|at|ers', CAST(3 AS BIGINT)), ('when', 'whe|n', CAST(2 AS BIGINT)), " +
        "('where', 'whe|r|e', CAST(3 AS BIGINT)), ('wide', 'w|i|de', CAST(3 AS BIGINT)), " +
        "('with', 'w|it|h', CAST(3 AS BIGINT)), ('work', 'w|or|k', CAST(3 AS BIGINT))" +
        ") AS t(w, syms, n_syms) ORDER BY w")),

    // L34 — Moore-Lewis contrastive data selection (Moore & Lewis,
    // ACL'10 — the standard cross-entropy-difference ranking for
    // domain-targeted pretraining data): score every document by the
    // mean of ln p_in(t) − ln p_out(t) over its tokens, where p_in is an
    // add-one-smoothed unigram model of the in-domain slice (lang='en')
    // and p_out of everything else; high = looks in-domain. Same plan
    // shape as l33 — the vocabulary aggregates both models in ONE pass
    // (conditional sums), scalars broadcast, DECIMAL sums keep the
    // per-doc mean shuffle-order-exact.
    "l34_moore_lewis" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(wsTokens(col("text"))).as("t"))
        val vocab = tok.groupBy("t").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__nin"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("__nout"))
        val tot = vocab.agg(sum(col("__nin")).as("__tin"),
          sum(col("__nout")).as("__tout"), count(lit(1)).as("__v"))
        tok.join(vocab.hint("shuffle_hash"), Seq("t"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("lang"),
            round(log((col("__nin") + 1).cast("double") / (col("__tin") + col("__v")))
                - log((col("__nout") + 1).cast("double") / (col("__tout") + col("__v"))), 9)
              .cast("decimal(20,9)").as("__s"))
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("__s")).cast("double") / count(lit(1)), 6).as("ml_score"))
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "v AS (SELECT t, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nin, " +
        "SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nout FROM tok GROUP BY t), " +
        "tot AS (SELECT SUM(nin) AS tin, SUM(nout) AS tout, COUNT(*) AS vv FROM v), " +
        "sc AS (SELECT doc_id, lang, CAST(ROUND(LN(CAST(nin + 1 AS DOUBLE) / (tin + vv)) " +
        "- LN(CAST(nout + 1 AS DOUBLE) / (tout + vv)), 9) AS DECIMAL(20,9)) AS s " +
        "FROM tok JOIN v USING (t), tot) " +
        "SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS ml_score " +
        "FROM sc GROUP BY doc_id, lang ORDER BY doc_id")),

    // L74 — embedding covariance sufficient statistics (Pca
    // .covarianceStats): per dimension pair i ≤ j, exact integer sums
    // of the 10⁶-quantized coordinates and their products (the l58
    // discipline lifted to second moments) — the distributed half of
    // PCA/whitening; PcaSpec proves the driver-side power iteration
    // recovers a planted principal direction from exactly these
    // statistics. One in-row pair expansion (no positional self-join)
    // + one map-side-combined agg, output dim·(dim+1)/2 rows.
    "l74_embed_covariance" -> QueryDef(
      (s, d) => graft.operators.Pca.covarianceStats(
          Tables.embeddings(s, d), "embedding")
        .orderBy("i", "j"),
      Some("WITH p AS (SELECT embedding AS e, " +
        "UNNEST(generate_series(0, len(embedding) - 1)) AS i FROM embeddings), " +
        "q AS (SELECT e, i, UNNEST(generate_series(i, len(e) - 1)) AS j FROM p), " +
        "u AS (SELECT i, j, " +
        "CAST(FLOOR(CAST(e[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS qi, " +
        "CAST(FLOOR(CAST(e[j + 1] AS DOUBLE) * 1000000) AS BIGINT) AS qj FROM q) " +
        "SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, COUNT(*) AS n, " +
        "CAST(SUM(qi) AS BIGINT) AS sum_qi, CAST(SUM(qj) AS BIGINT) AS sum_qj, " +
        "CAST(SUM(qi * qj) AS BIGINT) AS sum_qiqj FROM u " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // L75 — model-based multiclass language ID
    // (Scoring.hashedMulticlassScore): the production upgrade of l9's
    // marker heuristic — fastText-shaped argmax over per-class HASHED
    // weight vectors, the classifier CCNet-style pipelines run over
    // every document. Weights here are a fixed bucket formula
    // w_c[b] = ((b + 37c) mod 256 − 128)/256 — exact multiples of 2⁻⁸,
    // so per-class sums ×256 are INTEGERS and the oracle recomputes
    // them exactly (the l49 discipline, per class). The oracle derives
    // the same 16-bit md5 bucket, collapses to (doc, bucket) counts,
    // forms the four class sums, and takes the same
    // earliest-class-wins argmax plus top/margin via list_sort.
    // Real deployments pass trained per-class vectors (see the
    // trainer in ScoringSpec); the scale shape — one token collapse,
    // then k·256 multiplies per doc — is identical.
    "l75_lang_id_model" -> QueryDef(
      (s, d) => {
        val classes = Seq("en", "de", "fr", "es").zipWithIndex.map { case (lang, c) =>
          lang -> Array.tabulate(256)(b => (((b + 37 * c) % 256) - 128) / 256.0)
        }
        graft.operators.Scoring.hashedMulticlassScore(
            Tables.documents(s, d), "text", "doc_id", classes)
          .select(col("doc_id"), col("n_tokens"), col("pred").as("pred_lang"),
            (col("top_sum") * 256).cast("long").as("top_x256"),
            (col("margin") * 256).cast("long").as("margin_x256"))
          .orderBy("doc_id")
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "h AS (SELECT doc_id, ((strpos('0123456789abcdef', substr(md5(t),1,1))-1)*4096 + " +
        "(strpos('0123456789abcdef', substr(md5(t),2,1))-1)*256 + " +
        "(strpos('0123456789abcdef', substr(md5(t),3,1))-1)*16 + " +
        "(strpos('0123456789abcdef', substr(md5(t),4,1))-1)) % 256 AS b FROM tok), " +
        "g AS (SELECT doc_id, b, COUNT(*) AS n FROM h GROUP BY 1, 2), " +
        "s AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(n * (((b + 0) % 256) - 128)) AS BIGINT) AS s0, " +
        "CAST(SUM(n * (((b + 37) % 256) - 128)) AS BIGINT) AS s1, " +
        "CAST(SUM(n * (((b + 74) % 256) - 128)) AS BIGINT) AS s2, " +
        "CAST(SUM(n * (((b + 111) % 256) - 128)) AS BIGINT) AS s3 FROM g GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, " +
        "CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 'en' " +
        "WHEN s1 >= s2 AND s1 >= s3 THEN 'de' " +
        "WHEN s2 >= s3 THEN 'fr' ELSE 'es' END AS pred_lang, " +
        "CAST(list_sort([s0, s1, s2, s3])[4] AS BIGINT) AS top_x256, " +
        "CAST(list_sort([s0, s1, s2, s3])[4] - list_sort([s0, s1, s2, s3])[3] AS BIGINT) AS margin_x256 " +
        "FROM s ORDER BY doc_id")),

    // L76 — block-level boilerplate removal (TextFunctions.mainContent,
    // the jusText/trafilatura step between l66's extraction and the
    // quality filters): constructed HTML wraps each document's text in
    // a realistic page — title, link-only nav, a prose paragraph with
    // injected function words, a sub-minChars stub, a link-dense
    // "See also" block, a footer — and BOTH engines independently cut
    // at block tags, extract per-block text, score length / link
    // density / stopword density with integer cross-multiplied
    // thresholds, and join the kept blocks. A hash match over the full
    // main_text certifies the block cuts, the anchor-span accounting,
    // and every keep verdict span-for-span; whether the prose block
    // survives depends on each doc's own token count (stops·25 ≥
    // tokens), so the boundary cases are in the data, not avoided.
    // Pure per-row projection; zero shuffles at any scale.
    "l76_main_content" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val html = concat(
          lit("<html><head><title>T"), str(id), lit("</title></head><body>"),
          lit("<nav><ul><li><a href=/h>Home</a></li><li><a href=/c"), str(id % 5),
          lit(">Cat "), str(id % 5), lit("</a></li><li><a href=/c>Contact</a></li></ul></nav>"),
          lit("<p>the story of "), col("text"), lit(" and the rest of a tale</p>"),
          lit("<p>short "), str(id % 7), lit("</p>"),
          lit("<div>See also <a href=/x>link one</a> and <a href=/y>link two</a> now</div>"),
          lit("<footer>Copyright 20"), str(id % 10),
          lit(" <a href=/p>privacy</a> <a href=/t>terms</a></footer>"),
          lit("</body></html>"))
        Tables.documents(s, d)
          .select(id, html.as("__html"))
          .select(id, mainContentBlocks(col("__html")).as("__b"))
          .select(id,
            size(col("__b")).cast("long").as("n_blocks"),
            size(filter(col("__b"), b => b("keep"))).cast("long").as("n_kept"),
            array_join(transform(filter(col("__b"), b => b("keep")), b => b("t")),
              " ").as("main_text"))
          .withColumn("main_md5", md5(col("main_text")))
          .orderBy("doc_id")
      },
      Some {
        "WITH h AS (SELECT doc_id, '<html><head><title>T' || CAST(doc_id AS VARCHAR) || " +
          "'</title></head><body>' || " +
          "'<nav><ul><li><a href=/h>Home</a></li><li><a href=/c' || CAST(doc_id % 5 AS VARCHAR) || " +
          "'>Cat ' || CAST(doc_id % 5 AS VARCHAR) || '</a></li><li><a href=/c>Contact</a></li></ul></nav>' || " +
          "'<p>the story of ' || text || ' and the rest of a tale</p>' || " +
          "'<p>short ' || CAST(doc_id % 7 AS VARCHAR) || '</p>' || " +
          "'<div>See also <a href=/x>link one</a> and <a href=/y>link two</a> now</div>' || " +
          "'<footer>Copyright 20' || CAST(doc_id % 10 AS VARCHAR) || " +
          "' <a href=/p>privacy</a> <a href=/t>terms</a></footer>' || " +
          "'</body></html>' AS html FROM documents), " +
          mainContentCtes("h") + " " +
          "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks, " +
          "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "COALESCE(string_agg(t, ' ' ORDER BY ord) FILTER (WHERE keep), '') AS main_text, " +
          "md5(COALESCE(string_agg(t, ' ' ORDER BY ord) FILTER (WHERE keep), '')) AS main_md5 " +
          "FROM mck GROUP BY doc_id ORDER BY doc_id"
      }),

    // L28 — end-to-end corpus-cleaning pipeline (the flagship composite
    // a training-data run executes): quality gate (length + whitespace
    // ratio) → exact dedup → MinHash/LSH + Jaccard near-dedup → per-
    // language kept-corpus profile. Every stage reuses an operator with
    // its own oracle-checked query (l10, l1, l4, l5, l15); nothing here
    // is quadratic — the cascade is filters, one window, the banded LSH
    // join, and two aggregations.
    "l28_clean_pipeline" -> QueryDef(
      (s, d) => {
        val t = col("text"); val n = length(t)
        val spaces = n - length(replace(t, lit(" "), lit("")))
        val fil = Tables.documents(s, d)
          .filter(n.between(100, 1000) && (spaces / n) > 0.05)
        Dedup.dedupCorpus(fil, "text", "doc_id", 0.8)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("WITH fil AS (SELECT * FROM documents WHERE length(text) BETWEEN 100 AND 1000 " +
        "AND (length(text) - length(replace(text, ' ', ''))) / length(text) > 0.05), " +
        "kept AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM fil) " +
        "WHERE rn = 1), " +
        minhashPairsCte("kept") + ", " + jaccardCte + ", " +
        "fin AS (SELECT doc_id FROM kept WHERE doc_id NOT IN " +
        "(SELECT b_id FROM jac WHERE jaccard >= 0.8)) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM fin JOIN documents USING (doc_id) GROUP BY lang ORDER BY lang")),

    // L57 — deterministic weighted sampling without replacement
    // (priority sampling, Duffield-Lund-Thorup JACM'07): the 40 docs per
    // language most favored by a char-length-proportional reproducible
    // draw — "sample long documents preferentially, but reproducibly",
    // the training-mix curation primitive l16/l20/l47 don't cover
    // (those are unweighted / rate-based). Integer-only priorities
    // (floor(u/w) over the 15-hex md5 uniform) make the oracle
    // arithmetic bit-identical; selection runs through the two-level
    // salted top-k (Windows.topKPerKeyScalable), never one
    // multi-TB-per-stratum window task.
    "l57_weighted_sample" -> QueryDef(
      (s, d) => graft.operators.Sampling.weightedPrioritySample(
          Tables.documents(s, d), "lang", "doc_id", "n_chars", 40)
        .select("lang", "doc_id", "n_chars").orderBy("lang", "doc_id"),
      Some("WITH b AS (SELECT lang, doc_id, n_chars, " +
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS u " +
        "FROM documents), " +
        "q AS (SELECT lang, doc_id, n_chars, u // n_chars AS qt FROM b), " +
        "r AS (SELECT lang, doc_id, n_chars, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY qt, doc_id) AS rk FROM q) " +
        "SELECT lang, doc_id, n_chars FROM r WHERE rk <= 40 " +
        "ORDER BY lang, doc_id")),

    // L58 — per-class embedding centroids (Similarity.groupCentroids'
    // aggregation core): the prototype step behind SemDedup cluster
    // pruning / nearest-class-mean labeling / per-source drift, as one
    // distributed pass. Declared in the l49 exact-sufficient-statistic
    // style: per (label, dimension) the query emits Σ floor(x·10⁶) and n
    // — floor of an identically-widened double is bit-portable where a
    // float mean's shuffle-order fold is not; the operator's
    // double-precision centroid is proven against these statistics in
    // OperatorSpec. One explode + one map-side-combined agg, output
    // #labels × dim rows.
    "l58_label_centroids" -> QueryDef(
      (s, d) => Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(sum(floor(col("x").cast("double") * 1000000).cast("long")).as("sum_x1e6"),
          count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"), col("sum_x1e6"), col("n"))
        .orderBy("label", "pos"),
      Some("WITH p AS (SELECT label, embedding AS e, " +
        "UNNEST(generate_series(0, len(embedding) - 1)) AS pos FROM embeddings), " +
        "u AS (SELECT label, pos, e[pos + 1] AS x FROM p) " +
        "SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos, " +
        "CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_x1e6, " +
        "COUNT(*) AS n FROM u GROUP BY 1, 2 ORDER BY 1, 2")),

    // L59 — per-class embedding drift (Similarity.centroidDrift): each
    // label's L2 distance from the corpus centroid — the vector-space
    // analogue of l54's unigram KL ("which source shifted away from the
    // rest"). l54's engine-exact discipline adapted to vectors:
    // coordinates quantize once to floor(x·10⁶) BIGINTs, per-dimension
    // squared mean gaps round once into DECIMAL(30,6) terms, the term
    // sum is exact decimal, one final sqrt+round. Two shuffles, the
    // second dim-bounded.
    "l59_embedding_drift" -> QueryDef(
      (s, d) => graft.operators.Similarity.centroidDrift(
          Tables.embeddings(s, d), "label", "embedding")
        .select(col("label").cast("long").as("label"), col("n"), col("drift"))
        .orderBy("label"),
      Some("WITH p AS (SELECT label, embedding AS e, " +
        "UNNEST(generate_series(0, len(embedding) - 1)) AS pos FROM embeddings), " +
        "u AS (SELECT label, pos, " +
        "CAST(FLOOR(CAST(e[pos + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uq FROM p), " +
        "per AS (SELECT label, pos, SUM(uq) AS s, COUNT(*) AS n FROM u GROUP BY 1, 2), " +
        "g AS (SELECT pos, SUM(s) AS gs, SUM(n) AS gn FROM per GROUP BY 1), " +
        "t AS (SELECT label, n, CAST(ROUND((s / n - gs / gn) * (s / n - gs / gn), 6) " +
        "AS DECIMAL(30,6)) AS term FROM per JOIN g USING (pos)) " +
        "SELECT CAST(label AS BIGINT) AS label, CAST(MAX(n) AS BIGINT) AS n, " +
        "ROUND(SQRT(CAST(SUM(term) AS DOUBLE)) / 1000000, 6) AS drift " +
        "FROM t GROUP BY 1 ORDER BY 1")),

    // L60 — canonical-form dedup keys (TextFunctions.normalizeText, the
    // C4/RefinedWeb normalize-before-exact-dedup step): the corpus has
    // no case/punctuation variance, so — per the l51 fixture pattern —
    // each doc gets a deterministically mutated twin (uppercased prefix
    // + trailing punctuation) appended in-query on BOTH engine sides.
    // Raw md5 keys see 2× distinct texts; normalized keys collapse every
    // twin back onto its original, certifying the normalization catches
    // exactly the trivial-mutation duplicates. Per-lang distinct-count
    // agg is the only shuffle.
    "l60_normalized_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val twin = concat(upper(substring(col("text"), 1, 8)),
          expr("substring(text, 9)"), lit(" !!"))
        val aug = docs.select(col("lang"), col("text"))
          .unionAll(docs.select(col("lang"), twin.as("text")))
        aug.select(col("lang"), col("text"),
            normalizeText(col("text")).as("__norm"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(md5(col("text"))).as("n_raw"),
            countDistinct(md5(col("__norm"))).as("n_norm"))
          .orderBy("lang")
      },
      Some("WITH aug AS (SELECT lang, text FROM documents UNION ALL " +
        "SELECT lang, upper(substr(text, 1, 8)) || substr(text, 9) || ' !!' AS text " +
        "FROM documents), " +
        "n AS (SELECT lang, text, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm FROM aug) " +
        "SELECT lang, COUNT(*) AS n_rows, " +
        "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw, " +
        "CAST(COUNT(DISTINCT md5(norm)) AS BIGINT) AS n_norm " +
        "FROM n GROUP BY lang ORDER BY lang")),

    // L61 — REAL audio-container metadata, oracle-certified: the
    // WAV/FLAC/MP3 header walks (plus the stub-fallback path) over
    // deterministic fixture payloads built byte-exactly from known
    // construction parameters (graft.operators.AudioFixtures — the l48
    // pattern, audio twin). The DuckDB oracle is a VALUES relation of
    // the SAME construction parameters, so a match proves the parsers
    // read back exactly what the construction wrote. Same mapPartitions
    // decode boundary as images/video: malformed input is data, binary
    // never touches the driver.
    "l61_audio_meta" -> QueryDef(
      (s, _) => Multimodal.extractMetaAudio(
          graft.operators.AudioFixtures.dataset(s))
        .toDF().orderBy("doc_id"),
      Some(graft.operators.AudioFixtures.oracleSql)),

    // L62 — EXACT threshold set-similarity join (prefix filtering, the
    // PPJoin family): every document pair with shingle-set Jaccard
    // ≥ 0.5 and NO probabilistic misses — the deterministic complement
    // to l4's MinHash candidates. The ORACLE is the brute-force
    // all-pairs join, so a hash match certifies the prefix filter's
    // exactness theorem end-to-end (prefix pruning dropped no qualifying
    // pair), not just agreement with another heuristic.
    "l62_similarity_join" -> QueryDef(
      (s, d) => graft.operators.Dedup.similarityJoinExact(
          Tables.documents(s, d), "text", "doc_id", tau = 0.5)
        .orderBy("a_id", "b_id"),
      Some("WITH " + shinglesCte() + ", " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard " +
        "FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id " +
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5 ORDER BY a_id, b_id")),

    // L63 — BPE merge statistics (Sennrich et al. ACL 2016, the
    // tokenizer-training half of the pipeline): top-50 adjacent
    // character pairs by corpus frequency — the statistic whose argmax
    // is BPE's first merge. Computed over the DISTINCT-word table
    // weighted by word counts (the formulation every real trainer
    // uses), so the only corpus-scale shuffle is the (word → count)
    // hash agg; the pair agg runs on the vocabulary. (count desc, pair)
    // is a total order, so the 50 rows are engine-reproducible. The
    // iterative trainer (Bpe.trainMerges) is spec-pinned against a
    // reference implementation — its fold-with-list-accumulator merge
    // application has no DuckDB-portable form.
    "l63_bpe_pairs" -> QueryDef(
      (s, d) => graft.operators.Bpe.topPairs(Tables.documents(s, d), "text", 50),
      // whitespace-RUN split mirrored (string_split_regex ↔ Spark
      // split on "[ \n\t\r]+") — the space-only form fused
      // newline-joined words into phantom vocabulary entries
      Some("WITH words AS (SELECT UNNEST(string_split_regex(text, '[ \\n\\t\\r]+')) AS w FROM documents), " +
        "vocab AS (SELECT w, COUNT(*) AS c FROM words WHERE w <> '' GROUP BY w), " +
        "pr AS (SELECT UNNEST(CASE WHEN length(w) >= 2 " +
        "THEN list_transform(generate_series(1, length(w) - 1), i -> substr(w, i, 2)) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS pair, c FROM vocab) " +
        "SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM pr GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 50")),

    // L64 — URL canonicalization + per-domain capping (the crawl-side
    // dedup/politeness step): per the l48/l51 fixture pattern, a
    // deterministic URL is constructed from doc_id on BOTH engine sides
    // (mixed-case host, www. prefix, default and non-default ports,
    // utm_* tracking params in every position, fragments), then each
    // engine independently normalizes it (lowercase scheme+host, strip
    // www./default ports/fragment/utm_*, keep real ports+params) and
    // extracts host + registrable domain — a hash match certifies the
    // dialect-neutral regex chain span-for-span across Java regex and
    // RE2. `kept` caps each domain at 20 docs in md5 order (the
    // anti-domination rule) via the bucketed two-pass rank — no
    // per-domain single-task window at scale.
    "l64_url_dedup" -> QueryDef(
      (s, d) => {
        val id = col("doc_id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val url = concat(
          lit("https://"),
          when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
          lit("sub"), str(id % 5), lit(".Site"), str(id % 11), lit(".com"),
          when(id % 6 === 0, lit(":443"))
            .when(id % 7 === 3, lit(":8080")).otherwise(lit("")),
          lit("/path/"), str(id),
          when(id % 2 === 0,
            concat(lit("?utm_source=s"), str(id % 4), lit("&id="), str(id % 9)))
            .when(id % 5 === 1,
              concat(lit("?id="), str(id % 9), lit("&utm_campaign=c")))
            // A param whose NAME contains `utm_` but is not a utm param
            // — must survive normalization untouched while the real
            // `utm_term` after it strips (pins the delimiter-anchored
            // strip cross-engine).
            .when(id % 5 === 2,
              concat(lit("?my_utm_x="), str(id % 3),
                lit("&utm_term=t&q="), str(id % 7)))
            .otherwise(lit("")),
          when(id % 4 === 0, lit("#frag")).otherwise(lit("")))
        // withUrlParts = staged projections: authority/scheme/rest
        // extract once per row instead of once per branch reference
        val norm = withUrlParts(
          Tables.documents(s, d).select(id, url.as("url")), "url")
        graft.operators.Windows.runningSumScalable(
            norm.withColumn("__h", md5(id.cast("string"))),
            Seq("domain"), substring(col("__h"), 1, 2),
            Seq(col("__h"), id), lit(1L), "__rn")
          .select(id, col("url"), col("host"), col("domain"), col("norm_url"),
            when(col("__rn") <= 20, 1L).otherwise(0L).as("kept"))
          .orderBy("doc_id")
      },
      Some("WITH u AS (SELECT doc_id, 'https://' || " +
        "CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || " +
        "'sub' || CAST(doc_id % 5 AS VARCHAR) || '.Site' || " +
        "CAST(doc_id % 11 AS VARCHAR) || '.com' || " +
        "CASE WHEN doc_id % 6 = 0 THEN ':443' " +
        "WHEN doc_id % 7 = 3 THEN ':8080' ELSE '' END || " +
        "'/path/' || CAST(doc_id AS VARCHAR) || " +
        "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=s' || CAST(doc_id % 4 AS VARCHAR) " +
        "|| '&id=' || CAST(doc_id % 9 AS VARCHAR) " +
        "WHEN doc_id % 5 = 1 THEN '?id=' || CAST(doc_id % 9 AS VARCHAR) " +
        "|| '&utm_campaign=c' " +
        "WHEN doc_id % 5 = 2 THEN '?my_utm_x=' || CAST(doc_id % 3 AS VARCHAR) " +
        "|| '&utm_term=t&q=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url FROM documents), " +
        "n AS (SELECT doc_id, url, " +
        "lower(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), " +
        "':[0-9]+$', '')) AS host, " +
        "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' || " +
        "regexp_replace(regexp_replace(" +
        "lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), " +
        "':(80|443)$', ''), '^www\\.', '') || " +
        "regexp_replace(CASE WHEN contains(" +
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1), 'utm_') THEN " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1), " +
        "'\\?utm_[a-z]*=[^&#]*', '?', 'g'), '&utm_[a-z]*=[^&#]*', '&', 'g'), " +
        "'\\?[?&]+', '?', 'g'), '&[?&]+', '&', 'g') " +
        "ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) END, " +
        "'[?&]+$', '') AS norm_url FROM u) " +
        "SELECT doc_id, url, host, " +
        "regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) AS domain, " +
        "norm_url, CAST(CASE WHEN ROW_NUMBER() OVER (" +
        "PARTITION BY regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS kept FROM n ORDER BY doc_id"))
  )
}
