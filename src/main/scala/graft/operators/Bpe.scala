package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/**
 * Distributed byte-pair-encoding (BPE) merge statistics — the
 * tokenizer-training half of the data pipeline (north-star extension
 * per SURVEY.md §2.2; the reference has no text surface at all,
 * /root/reference/src/lib.rs:1-957). Sennrich et al. (ACL 2016)
 * formulation: training operates on the WORD-FREQUENCY table, not the
 * corpus — a word seen a million times contributes its pairs once,
 * weighted by its count. That table is the working set every real BPE
 * trainer (fastBPE, HF tokenizers) holds, and it is what makes the
 * operator scale: the corpus-sized shuffle is one (word → count) hash
 * agg with map-side combine; everything after runs on the distinct
 * vocabulary, orders of magnitude smaller than 100 TB of text.
 *
 * [[pairCounts]] is the per-iteration sufficient statistic (declared as
 * l63 with a DuckDB oracle); [[trainMerges]] iterates it into an actual
 * merge list, applying each merge with a pure Catalyst fold (no UDF) —
 * spec-pinned against a reference implementation in OperatorSpec (the
 * fold-with-list-accumulator has no DuckDB-portable form, so the
 * iterative path's guarantee is the spec, exactly like
 * [[Similarity.trainCentroids]]'s reseeding internals).
 */
object Bpe {

  /** word → corpus frequency, the Sennrich vocabulary table. One
    * map-side-combined hash agg — THE scale shuffle of the family.
    * Words split on WHITESPACE RUNS (space/newline/tab/CR — the same
    * pattern as `Scoring`'s token walk), not literal spaces: real
    * documents are multi-line, and a space-only split would fuse
    * newline-joined words into phantom vocabulary entries.
    *
    * `minCount` prunes the tail BEFORE anything downstream sees the
    * table — the boundary every real trainer guards: distinct "words"
    * on web-scale crawl (URLs, hashes, typos, code identifiers) run to
    * billions of rows, and the trainers' driver-side endgame collects
    * this table. A count floor of even 2 removes the vast hapax tail
    * while leaving merge statistics essentially untouched (a pair seen
    * once can never win an argmax that requires cnt ≥ 2 anyway).
    * Pruned words still ENCODE — the encoders fall back to
    * character/byte pieces — they just do not vote on the vocabulary.
    * Default 1 (no prune) keeps analysis queries exact. */
  def wordCounts(docs: DataFrame, textCol: String,
                 minCount: Long = 1L): DataFrame = {
    val counts = docs
      .select(explode(split(col(textCol), "[ \n\t\r]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    if (minCount > 1L) counts.filter(col("c") >= minCount) else counts
  }

  /** Adjacent-character-pair corpus frequencies — the statistic whose
    * argmax is BPE's first merge. Computed over the DISTINCT-word table
    * weighted by word counts (never over raw text), so the pair agg's
    * input is |vocab| × avg word length rows regardless of corpus size.
    * `sequence` is guarded behind `length >= 2`: Spark's
    * `sequence(1, 0)` counts DOWN (yielding [1, 0]), it is not empty.
    * Ties in downstream top-k consumers break on the pair string —
    * deterministic across engines. */
  def pairCounts(docs: DataFrame, textCol: String,
                 minCount: Long = 1L): DataFrame =
    wordCounts(docs, textCol, minCount)
      .select(explode(expr(
        "CASE WHEN length(w) >= 2 " +
          "THEN transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("pair"), col("c"))
      .groupBy("pair").agg(sum(col("c")).as("cnt"))

  /** Top-k merge candidates by weighted frequency (count desc, pair asc
    * — a total order, so the k rows are engine-reproducible). Two-level
    * TakeOrderedAndProject, never a global sort. */
  def topPairs(docs: DataFrame, textCol: String, k: Int,
               minCount: Long = 1L): DataFrame =
    pairCounts(docs, textCol, minCount)
      .orderBy(col("cnt").desc, col("pair")).limit(k)

  /** One greedy left-to-right merge pass over a symbol array: every
    * adjacent (a, b) becomes the single symbol a+b. A pure Catalyst
    * `aggregate` fold (codegen-eligible, no UDF): the accumulator is the
    * rebuilt array, and a step either extends it or replaces its last
    * element with the merged pair. Overlaps resolve left-first ("aaa"
    * under merge (a,a) → ["aa","a"]), matching the reference BPE
    * semantics. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /**
   * Full iterative BPE training: `nMerges` rounds of (count pairs over
   * the symbolized vocabulary → take the argmax → rewrite every word's
   * symbol array). Returns the learned merge table
   * (merge_idx, a, b, merged, cnt) — the artifact a tokenizer ships.
   *
   * Scale shape per round: one (a, b) hash agg over the vocab (map-side
   * combined), a 1-row `limit(1).collect()` argmax (driver-bounded, like
   * [[Similarity.trainCentroids]]'s k-row collects), and one narrow
   * projection applying the merge. Each round is materialized
   * ([[graft.Materialize]]) so round n's plan does not replay rounds 1..n−1.
   * Stops early when no pair occurs twice — merging a count-1 pair
   * memorizes a single word, which no tokenizer wants.
   */
  /**
   * Apply a learned merge list to the corpus: every distinct word is
   * symbolized and rewritten by each merge IN TRAINING ORDER (the BPE
   * encode contract — later merges see earlier merges' output), giving
   * the (word → symbol array) encoding table a tokenization join uses.
   * Each merge is one [[applyMerge]] projection over the distinct-word
   * table; the chain is `merges.length` narrow stages over |vocab| rows
   * — fine for spec/analysis-sized merge lists. A production encoder
   * with a 50k-merge vocabulary would instead walk a broadcast merge
   * trie per word inside `mapPartitions` (one pass, same output); this
   * form is the semantics reference that encoder must match.
   */
  def encodeWords(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val base = wordCounts(docs, textCol)
      .select(col("w"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
    merges.foldLeft(base) { case (df, (a, b)) =>
      df.select(col("w"), applyMerge(col("syms"), a, b).as("syms"))
    }
  }

  /** Code-point symbolization of a word (surrogate-pair safe — matches
    * Spark `substring`'s code-point character counting). */
  private def symbolize(w: String): Array[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      buf += w.substring(i, i + n)
      i += n
    }
    buf.toArray
  }

  /** One left-first merge pass — the driver-side mirror of
    * [[applyMerge]]'s fold (chains included: a freshly merged symbol is
    * immediately eligible as the `a` of the next position). */
  private def mergePass(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var j = 0
    while (j < syms.length) {
      val s = syms(j)
      if (out.nonEmpty && out(out.length - 1) == a && s == b)
        out(out.length - 1) = a + b
      else out += s
      j += 1
    }
    out.toArray
  }

  /**
   * Encode ONE word against a rank-ordered merge table — the published
   * BPE encode algorithm (the HF-tokenizers / tiktoken inner loop):
   * repeatedly find the adjacent pair with the LOWEST merge rank
   * present in the word and apply one left-first pass for it, until no
   * adjacent pair is in the table. Equivalent to applying all merges
   * sequentially in training order ([[encodeWords]]' chain) because a
   * merge of rank r can only CREATE pairs of rank > r — any pair
   * containing the merged symbol was necessarily learned after r — so
   * ascending-rank processing visits exactly the merges the sequential
   * chain applies, and skipping absent ranks is a no-op. Cost per word
   * is O(len · merges-applied), independent of the table size — this
   * is what makes a 50k-merge vocabulary affordable where the
   * projection chain's O(len · table-size) is not.
   */
  def encodeWord(w: String, rank: Map[(String, String), Int]): Seq[String] = {
    var syms = symbolize(w)
    var continue = syms.length >= 2 && rank.nonEmpty
    while (continue) {
      var best = Int.MaxValue
      var ba: String = null
      var bb: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; ba = syms(i); bb = syms(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        syms = mergePass(syms, ba, bb)
        continue = syms.length >= 2
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(syms)
  }

  /**
   * Production-rate encoder: same (word → symbol array) output as
   * [[encodeWords]] (spec-pinned identical on trained merges), but the
   * merge table broadcasts ONCE as a rank map and every distinct word
   * encodes in a single `mapPartitions` pass via [[encodeWord]] —
   * per-word cost scales with the word's length and applied merges,
   * not with the 50k-entry table, and the plan is one narrow stage
   * over the |vocab| rows instead of `merges.length` chained
   * projections. The corpus-sized shuffle remains the one
   * [[wordCounts]] agg either way.
   */
  def encodeWordsFast(docs: DataFrame, textCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    wordCounts(docs, textCol).select(col("w")).as[String]
      .mapPartitions(it => it.map(w => (w, encodeWord(w, bc.value))))
      .toDF("w", "syms")
  }

  /**
   * Driver-side merge loop over an already-collected symbolized vocab —
   * identical argmax (cnt desc, a asc, b asc; cnt ≥ 2) and left-first
   * merge-pass semantics as the distributed loop, spec-pinned to
   * produce the same merge list. This is the endgame every real
   * trainer switches to: once the vocab fits in driver memory
   * (|vocab| × avg word length strings — megabytes for real corpora),
   * one merge round is an in-memory scan instead of a Spark job, so a
   * 50k-merge run is 50k array scans, not 50k scheduled jobs.
   */
  /** Code-point lexicographic `<` — matches Spark's UTF-8 binary string
    * order (UTF-8 byte order ≡ code-point order). JVM `String.compareTo`
    * compares UTF-16 code units, which sorts U+E000–U+FFFF (e.g.
    * fullwidth forms) ABOVE supplementary characters (emoji); using it
    * for the merge tie-break would let the local endgame pick a
    * different merge than the distributed `orderBy` on such
    * vocabularies, breaking the identical-output contract. */
  private[operators] def cpLt(x: String, y: String): Boolean = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return cx < cy
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    i == x.length && j < y.length // x is a strict prefix of y
  }

  def trainMergesLocal(vocab0: Seq[(Array[String], Long)],
                       nMerges: Int): Seq[(String, String, Long)] = {
    var vocab = vocab0.toArray
    val merges = Seq.newBuilder[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { e =>
        if (e._2 >= 2L && (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (cpLt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && cpLt(e._1._2, best._1._2))))))
          best = e
      }
      if (best == null) exhausted = true
      else {
        val ((a, b), cnt) = best
        merges += ((a, b, cnt))
        vocab = vocab.map { case (syms, c) => (mergePass(syms, a, b), c) }
        round += 1
      }
    }
    merges.result()
  }

  /**
   * `driverVocabLimit`: when the distinct-word count is at or below it,
   * the symbolized vocab collects ONCE and the merge loop finishes
   * driver-side via [[trainMergesLocal]] (identical output,
   * spec-pinned) — eliminating the one-Spark-job-per-merge cost that
   * makes the thousands-of-merges regime impractical distributed. The
   * row count is invariant across rounds (merges rewrite arrays, never
   * add or drop words), so the decision is made once up front. Pass 0
   * to force the all-distributed path.
   */
  def trainMerges(docs: DataFrame, textCol: String, nMerges: Int,
                  driverVocabLimit: Long = 200000L,
                  minCount: Long = 1L): Seq[(String, String, Long)] = {
    var vocab = Materialize(wordCounts(docs, textCol, minCount)
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("c")), "Bpe.trainMerges")
    if (vocab.count() <= driverVocabLimit) {
      val spark = docs.sparkSession
      import spark.implicits._
      return trainMergesLocal(
        vocab.as[(Seq[String], Long)].collect().toSeq
          .map { case (s, c) => (s.toArray, c) }, nMerges)
    }
    val merges = Seq.newBuilder[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = vocab
        .select(explode(expr(
          "CASE WHEN size(syms) >= 2 " +
            "THEN transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END")).as("p"),
          col("c"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, cnt))
        vocab = Materialize(vocab.select(applyMerge(col("syms"), a, b).as("syms"), col("c")),
          "Bpe.trainMerges")
        round += 1
      }
    }
    merges.result()
  }
}
