package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/**
 * Deduplication operators for large text/embedding corpora — the
 * north-star surface absent from the reference engine (SURVEY.md §2.2).
 *
 * Scale design (the point of these at 100 TB):
 *  - exact: one hash-partitioned aggregation, map-side partial agg.
 *  - minhash: signatures are k per-doc `min` aggregates over exploded
 *    shingles (one shuffle by doc_id with partial agg — NOT a k-times
 *    row blow-up), then LSH banding turns the quadratic pair search into
 *    an equi-join on (band_idx, band_hash), which Spark executes as a
 *    hash shuffle join co-partitioned on the band key. Only colliding
 *    buckets produce pairs.
 *  - simhash: 32 conditional-sum aggregates in a single groupBy —
 *    again one shuffle, no bit-dimension explosion.
 *  - embedding near-dup: blocked (label) join so the pair space is
 *    per-block quadratic instead of corpus-quadratic; swap the blocking
 *    key for an LSH bucket at larger scales.
 *
 * Hash-function portability: every hash is md5-hex (identical across
 * engines); min-hash signatures compare lexicographically on the hex
 * string, and simhash bits read the high bit of one hex digit
 * (digit ∈ {8..f}) — all reproducible in ANSI SQL for the oracle.
 */
object Dedup {

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Exact-duplicate profile: one row per distinct content hash with the
    * multiplicity and the kept (minimum) doc id. `dropDuplicates`-style
    * filtering is `filter(c === 1)` + join back, or use [[exactKept]]. */
  def exactProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("c"), min(col(idCol)).as("keep"))

  /** Rows surviving exact dedup (min id per content hash wins). */
  def exactKept(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** WITHIN-document repeated-line removal — the RefinedWeb/Dolma
    * in-page repetition step between boilerplate block filtering
    * ([[graft.functions.TextFunctions.mainContentBlocks]]) and the
    * quality gates: crawl pages repeat nav crumbs, cookie banners and
    * list boilerplate INSIDE one page, which [[passageDedup]]/[[
    * exactKept]] (ACROSS documents) never touch. Splits `textCol` on
    * newlines, keeps the FIRST occurrence of each line, drops later
    * exact duplicates, rejoins with newlines into `outCol`.
    * Whitespace-only lines are structure (paragraph separators), never
    * deduped. With `normalizeKeys` the match key is
    * [[graft.functions.TextFunctions.normalizeText]] of the line
    * (case/punctuation/spacing-insensitive — "Cookie Notice!" ==
    * "cookie notice"), and the ORIGINAL first line is what survives.
    *
    * Scale shape: a pure per-row projection — zero shuffles at any
    * corpus size. The line and key arrays are materialized as staged
    * columns once per row (the l64 staged-projection lesson:
    * CollapseProject won't inline a non-cheap alias referenced more
    * than once), so the first-occurrence test is one `array_position`
    * over an in-row array per line — never a re-evaluated
    * split/normalize chain per reference. */
  def lineDedup(docs: DataFrame, textCol: String, outCol: String,
                normalizeKeys: Boolean = false): DataFrame = {
    val lines = col("__ld_lines"); val keys = col("__ld_keys")
    docs
      .withColumn("__ld_lines", split(col(textCol), "\n"))
      .withColumn("__ld_keys",
        if (normalizeKeys) transform(lines, l => normalizeText(l)) else lines)
      .withColumn(outCol, array_join(
        filter(lines, (_, i) => {
          val k = element_at(keys, i + lit(1))
          trim(k) === "" || array_position(keys, k) === (i + lit(1)).cast("long")
        }), "\n"))
      .drop("__ld_lines", "__ld_keys")
  }

  /** Per-document MinHash signature columns sig0..sig{k-1} over distinct
    * word n-gram shingles: one explode + one grouped agg. The k `min`s
    * partial-aggregate map-side, so the shuffle carries k hashes per doc,
    * not the shingle rows. (Measured against a shuffle-free
    * higher-order-function formulation — `array_min(transform(...))` —
    * the explode form is ~4× faster at sf0.1: Spark HOF lambdas are
    * CodegenFallback, while explode + hash-agg stays in whole-stage
    * codegen. The shuffle it keeps is the already-combined per-doc
    * signature rows, which is negligible at any scale.) */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 8, shingleN: Int = 3): DataFrame = {
    // Hash-partition the RAW docs by id up front: the shingle/md5 work
    // parallelizes across all cores even when the source is one small
    // file (one input split), and the groupBy below reuses the
    // partitioning — explode is narrow, so no second shuffle. At scale
    // this moves the only shuffle from exploded shingle rows to the far
    // smaller raw-document rows.
    val sh = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), explode(wordShingles(col(textCol), shingleN)).as("s"))
    val sigs = (0 until k).map(j => min(md5(concat(lit(s"$j|"), col("s")))).as(s"sig$j"))
    sh.groupBy(col(idCol)).agg(sigs.head, sigs.tail: _*)
  }

  /** LSH band table: (id, band_idx, band_hash), bands of r=k/bands sigs.
    * One projection + an explode of the (tiny) band array — the signature
    * input is evaluated once, not once per band as a per-band union
    * would. */
  def lshBands(sigs: DataFrame, idCol: String, k: Int = 8, bands: Int = 4): DataFrame = {
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val in = (0 until r).map(i => col(s"sig${b * r + i}"))
      struct(lit(b).as("band_idx"), md5(concat(in: _*)).as("band_hash"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("__band"))
      .select(col(idCol), col("__band.band_idx").as("band_idx"),
        col("__band.band_hash").as("band_hash"))
  }

  /** Candidate near-duplicate pairs (a < b) sharing at least one LSH
    * band. The band table (bands× short rows per doc — a tiny fraction of
    * the corpus) is persisted before the self-join: without it each join
    * side recomputes the whole shingle→signature pipeline (AQE broadcasts
    * one side, which defeats shuffle-exchange reuse). The persist is
    * scoped to this call ([[graft.Materialize.using]]): the (tiny) pair
    * set is materialized and the band cache dropped before returning. */
  /** `maxBucketSize` guards against degenerate buckets: a band bucket of
    * b documents yields b(b−1)/2 candidate pairs, so one cluster of 10⁶
    * near-identical documents is a 10¹²-pair self-join. Buckets larger
    * than the cap are dropped — at that multiplicity the cluster is
    * better collapsed by [[exactKept]] first (as [[dedupCorpus]] does).
    * Default keeps every bucket (exact LSH semantics, as the oracle
    * computes them). */
  def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
                            k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                            maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandsDf = lshBands(minhashSignatures(docs, textCol, idCol, k, shingleN), idCol, k, bands)
    Materialize.using("Dedup.minhashCandidatePairs", bandsDf) {
      val capped =
        if (maxBucketSize == Int.MaxValue) bandsDf
        else {
          val w = Window.partitionBy("band_idx", "band_hash")
          bandsDf.withColumn("__bsz", count(lit(1)).over(w))
            .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
        }
      val a = capped.select(col("band_idx"), col("band_hash"), col(idCol).as("a_id"))
      val b = capped.select(col("band_idx"), col("band_hash"), col(idCol).as("b_id"))
      a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
    }
  }

  /** Exact n-gram Jaccard over candidate pairs: verify stage of the
    * MinHash pipeline. The candidate set is tiny relative to the corpus
    * (that is LSH's whole point), so each pair pulls both documents'
    * shingle SETS (array columns — no explode) and intersects them with
    * `array_intersect`: two hash joins keyed on doc id and zero wide
    * shuffles, instead of the |pairs|×|shingles| blow-up an exploded
    * shingle equi-join produces. */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
                   k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // pairs come back materialized and tiny
    val pairs = minhashCandidatePairs(docs, textCol, idCol, k, bands, shingleN, maxBucketSize)
    // Referenced by both join sides (one shingle array per doc), but
    // semi-join-pruned to candidate ids FIRST: the materialized relation
    // is O(candidates), not O(corpus) — at 100 TB caching every
    // document's shingle array would itself be a corpus-sized cache.
    // No broadcast hint: in a heavily duplicated corpus the candidate id
    // set is O(corpus), and a forced broadcast would hit the 8 GB limit —
    // AQE broadcasts it exactly when it measures small (verified in
    // PlanSpec), and falls back to a shuffled semi join when it isn't.
    // The set intersection is the cost; pay it once per distinct TEXT
    // pair (keyed by content hash), not per id pair — in a dup-heavy
    // corpus an exact-copy group's C(g,2) candidate pairs would each
    // intersect identical arrays (the l56 lesson; jaccard depends only
    // on the texts, so mapping id pairs through hash pairs is
    // value-identical — equal-hash pairs evaluate to 1.0 through the
    // same formula, no special case). Hash-pair space is pruned to
    // candidates first, so the materialized relations stay
    // O(distinct candidates), not O(corpus).
    val hashed = docs.select(col(idCol).as("id"), md5(col(textCol)).as("__h"))
    val pairsH = Materialize(pairs
      .join(hashed.select(col("id").as("a_id"), col("__h").as("__ha"))
        .hint("shuffle_hash"), Seq("a_id"))
      .join(hashed.select(col("id").as("b_id"), col("__h").as("__hb"))
        .hint("shuffle_hash"), Seq("b_id")), "Dedup.ngramJaccard")
    val hashPairs = pairsH.select("__ha", "__hb").distinct()
    val candHashes = hashPairs.select(col("__ha").as("__h"))
      .union(hashPairs.select(col("__hb").as("__h"))).distinct()
    val repSets = Materialize(docs
      .select(md5(col(textCol)).as("__h"), col(textCol))
      .groupBy("__h").agg(min(col(textCol)).as("__t"))
      .join(candHashes, Seq("__h"), "left_semi")
      .select(col("__h"), wordShingles(col("__t"), shingleN).as("sh")), "Dedup.ngramJaccard")
    val hashJac = hashPairs
      .join(repSets.select(col("__h").as("__ha"), col("sh").as("__sha")), Seq("__ha"))
      .join(repSets.select(col("__h").as("__hb"), col("sh").as("__shb")), Seq("__hb"))
      .withColumn("__inter", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .select(col("__ha"), col("__hb"),
        (col("__inter").cast("double") /
          (size(col("__sha")) + size(col("__shb")) - col("__inter"))).as("jaccard"))
    pairsH.join(hashJac.hint("shuffle_hash"), Seq("__ha", "__hb"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** 32-bit SimHash over whitespace tokens: bit b of md5(token) is the
    * high bit of hex digit b (set iff digit ∈ 89abcdef); bits vote ±1 and
    * the per-doc majority forms the signature. Single groupBy with 32
    * partial-aggregating sums — md5 once per token, all 32 votes combined
    * map-side, whole-stage codegen throughout (an array-fold HOF variant
    * measured 2× slower: HOF lambdas are CodegenFallback). */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // Bit extraction: instead of 32 substring+instr string probes per
    // token, parse the 32 hex digits once as four 8-digit chunks
    // (conv base16 — 32 bits each, no sign trouble in a long) and test
    // each digit's high bit arithmetically. Digit b sits in chunk b/8 as
    // its (b%8)-th most-significant nibble, so its high bit is bit
    // 4*(7 - b%8) + 3 of the chunk — identical votes to the string form
    // (digit ∈ {8..f} ⇔ high bit set), ~2× cheaper per token.
    simhashVotes(docs, textCol, idCol, chunks = 4, width = 32,
      b => 4 * (7 - b % 8) + 3, "simhash")

  /** The SimHash body both widths share: md5 each whitespace token, parse
    * its first `chunks` 8-hex-digit chunks as longs, let bit b of the
    * signature be the majority vote (±1 per token) of bit `shift(b)` of
    * chunk b / (width / chunks), and pack the `width` majorities into one
    * long named `out`. Distinct powers of two: + has no carries, so bit
    * 63 (the long's sign bit) composes fine. */
  private def simhashVotes(docs: DataFrame, textCol: String, idCol: String,
                           chunks: Int, width: Int, shift: Int => Int,
                           out: String): DataFrame = {
    // repartition rationale as in minhashSignatures
    val tok = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), explode(wsTokens(col(textCol))).as("t"))
      .select(col(idCol), md5(col("t")).as("h"))
    val parsed = tok.select(
      col(idCol) +: (0 until chunks).map(c =>
        conv(substring(col("h"), c * 8 + 1, 8), 16, 10).cast("long").as(s"c$c")): _*)
    val votes = (0 until width).map { b =>
      sum(when(shiftright(col(s"c${b / (width / chunks)}"), shift(b)).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    val agg = parsed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig: Column = (0 until width)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(idCol), sig.as(out))
  }

  /**
   * End-to-end corpus dedup: drop exact duplicates (min id per content
   * hash wins), then drop near-duplicates — for every MinHash candidate
   * pair whose exact shingle Jaccard ≥ `jaccardThreshold`, the larger id
   * loses. Returns the surviving rows with their original columns.
   *
   * Shape at scale: one exact-hash window pass + the LSH pipeline + one
   * anti join — no quadratic stage anywhere; union-find chains collapse
   * greedily (b dropped whenever paired with any surviving-or-not a<b,
   * the standard keep-first policy for dedup cascades).
   */
  def dedupCorpus(docs: DataFrame, textCol: String, idCol: String,
                  jaccardThreshold: Double = 0.8,
                  k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val exact = exactKept(docs, textCol, idCol)
    val losers = ngramJaccard(exact, textCol, idCol, k, bands, shingleN, maxBucketSize)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("b_id").as(idCol)).distinct()
    // shuffle_hash, not broadcast: in a heavily-duplicated corpus the
    // loser set can be a large fraction of all ids, too big to ship to
    // every task — a hash anti join keeps it distributed without the
    // sort a sort-merge anti join would add on both sides
    exact.join(losers.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected candidate-pair list —
    * near-dup PAIRS become duplicate CLUSTERS (the standard final stage
    * of a corpus dedup: keep one representative per cluster, not per
    * pair, so transitive chains a~b~c collapse together). Returns
    * (id, cluster) for every id appearing in a pair, cluster = smallest
    * reachable id.
    *
    * Algorithm: iterative min-label propagation WITH POINTER JUMPING
    * (the hash-join form of Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): each round every node adopts the smallest
    * label in its closed neighborhood, then additionally adopts ITS NEW
    * LABEL'S label (path halving — a label is always the id of a node
    * in the same component, so its label is too, and it is never
    * larger). The jump roughly doubles the distance a minimum travels
    * per round, so labels flood a component in O(log diameter) rounds
    * instead of O(diameter) — measured on the l36 kNN graph (diameter
    * ~12 chains): 13 rounds before, 9 after, identical labels. Per
    * round: one equi-join of the edge list against the label table with
    * a partial-aggregating min, one left join applying it, one id-keyed
    * jump join — all hash-partitioned on an id, no quadratic stage.
    * (Guide §2.4/§1.2: the distributed algorithm is the lever — fewer
    * rounds = fewer passes over the edge table at any scale. The jump
    * join's key is a label VALUE, whose multiplicity is the component
    * size; a giant component is probe-side skew that AQE skew-join
    * splits — the build side stays one row per node.)
    *
    * Each round is materialized ([[graft.Materialize]]), keeping the
    * plan O(1) deep however many iterations run; the edge table is
    * materialized once and reused every round. The round's
    * materialization is lazy and the convergence count is the action
    * that runs it, so each round runs ONE job, not a materialization job
    * plus a convergence job. The driver-side loop is the convergence
    * test of an iterative algorithm, not a data path. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                          maxIter: Int = 20): DataFrame = {
    val edges = Materialize(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct(), "Dedup.connectedComponents")
    var labels = Materialize(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")), "Dedup.connectedComponents")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Round 20 restructure — jump EVERY candidate, not just the min:
      // the closed-neighborhood candidate labels (own + each neighbor's)
      // gather in ONE union, every candidate jumps through the label
      // table, and one groupBy(id) takes the min of the jumped
      // candidates. Validity: a label is always the id of a node in the
      // same component and labels only decrease, so L[c] stays in the
      // component and min_c L'[c] <= L'[min_c c] — a step at least as
      // strong as jumping only the minimum (round counts measured
      // unchanged on the fixtures — l36 kNN graph 9, l23 corpus 4,
      // identical labels — the win is per-round structure, not rounds),
      // with ~15% fewer scheduled jobs per call (l36 97 -> 82, l23
      // 55 -> 48: the separate stepped/jump left joins collapse into
      // the single pre-aggregation join). The fixpoint is
      // the same min-reachable-id labeling: at convergence no candidate
      // (jumped or not) is below the node's own label, which is exactly
      // edge-consistency of the labeling. `__own` (each node's previous
      // label, carried by the union's labels branch — exactly one row
      // per id, max() ignores the edge branch's nulls) feeds the
      // convergence test without a join back to the old table.
      val nbl = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("cluster").as("__c"),
          lit(null).cast("long").as("__own"))
        .unionByName(labels.select(col("id"), col("cluster").as("__c"),
          col("cluster").as("__own")))
      val merged = Materialize(nbl.join(
          labels.select(col("id").as("__c"), col("cluster").as("__jc")),
          Seq("__c"), "left")
        .groupBy(col("id"))
        .agg(min(least(col("__c"), coalesce(col("__jc"), col("__c")))).as("__next"),
          max(col("__own")).as("__own")), "Dedup.connectedComponents", eager = false)
      converged = merged.filter(col("__next") < col("__own")).count() == 0
      // one materialization per round is enough: `merged` was materialized by
      // the convergence count, and the label projection over it is
      // narrow — a second materialization here was one extra
      // materialization job per round (× every CC caller) for a lineage
      // already O(1) deep
      labels = merged.select(col("id"), col("__next").as("cluster"))
      iter += 1
    }
    log.debug(s"connected components converged after $iter rounds")
    labels
  }

  /** Duplicate clusters of a text corpus: MinHash-LSH candidate pairs
    * (optionally capped buckets), then [[connectedComponents]]. One row
    * per document that has at least one near-dup candidate (exact OR
    * near), cluster = smallest reachable doc id.
    *
    * Exact duplicates are collapsed to one representative (min id per
    * content hash) BEFORE pair generation: identical texts have identical
    * MinHash signatures, so a cluster of b exact copies is otherwise one
    * LSH bucket emitting b(b−1)/2 candidate pairs — the degenerate
    * quadratic case `maxBucketSize` exists to guard against, produced
    * here by construction. Labels propagate over representatives only and
    * map back through the hash groups afterward; a multi-copy group whose
    * representative has no near-dup neighbor is its own cluster (its
    * members are exact duplicates of each other). Output is identical to
    * running LSH on the raw corpus — signatures depend only on the text,
    * so every member of group A pairs with every member of group B
    * exactly when their representatives do, and min-id labels agree
    * because each representative IS its group's min id. (That equivalence
    * holds at the default unbounded cap; with a finite `maxBucketSize`
    * the cap intentionally applies to REPRESENTATIVE buckets, so a bucket
    * a raw-corpus run would have dropped for exact-copy bloat survives
    * here, and capped-out exact-copy groups still emit via the group-size
    * branch — the capped behaviors differ by design.) */
  def duplicateClusters(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // (id, rep, group size) per doc: one hash-partitioned agg + one join
    // on the content hash — both tiny next to the signature pipeline
    val hashed = docs.select(col(idCol).as("id"), md5(col(textCol)).as("__h"))
    val groups = hashed.groupBy(col("__h"))
      .agg(min(col("id")).as("__rep"), count(lit(1)).as("__gsz"))
    val members = hashed.join(groups, Seq("__h"))
    val repDocs = docs.join(
      groups.select(col("__rep").as(idCol)).hint("shuffle_hash"), Seq(idCol), "left_semi")
    val repLabels = connectedComponents(
        minhashCandidatePairs(repDocs, textCol, idCol, k, bands, shingleN, maxBucketSize))
      .select(col("id").as("__rep"), col("cluster").as("__c"))
    // repLabels comes out of connectedComponents' materialization, which
    // strips the size stats AQE needs to pick a hash join — unhinted this
    // map-back is a SortMergeJoin (round-4/5 PlanAudit flag). It is one
    // row per representative-with-a-candidate: hint it like repDocs above.
    members.join(repLabels.hint("shuffle_hash"), Seq("__rep"), "left")
      .filter(col("__c").isNotNull || col("__gsz") > 1)
      .select(col("id"), coalesce(col("__c"), col("__rep")).as("cluster"))
  }

  /** Edit-distance verification over the MinHash-LSH candidate pairs —
    * the character-level alternative to [[ngramJaccard]]'s set overlap
    * (catches small in-place edits that shift every n-gram). Distance is
    * classic Levenshtein (unit insert/delete/substitute — identical
    * semantics in Spark and DuckDB), computed ONLY on candidate pairs,
    * never all-pairs; `threshold >= 0` switches to Spark's banded
    * `levenshtein(l, r, threshold)` (O(len·threshold) instead of
    * O(len²), returns −1 past the bound) — the 100 TB form when
    * documents are long; the unbounded form stays for oracle
    * portability. Output: a_id, b_id, edit_dist. */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                        threshold: Int = -1): DataFrame = {
    val pairs = minhashCandidatePairs(docs, textCol, idCol, k, bands, shingleN)
    // The DP is the cost; pay it once per distinct TEXT pair, not per id
    // pair. A dup-heavy corpus (the kind that needs this operator) has
    // exact-copy groups whose C(g,2) candidate pairs would each run the
    // full O(len²) DP on identical strings — measured 10.9× at a 10×
    // replicated corpus before this, ~1× after. Exact-copy pairs
    // (equal hashes) short-circuit to 0 without touching the DP.
    val hashed = docs.select(col(idCol), md5(col(textCol)).as("__h"))
    val repText = docs.select(md5(col(textCol)).as("__h"), col(textCol))
      .groupBy("__h").agg(min(col(textCol)).as("__t"))
    val withH = pairs
      .join(hashed.select(col(idCol).as("a_id"), col("__h").as("__ha"))
        .hint("shuffle_hash"), Seq("a_id"))
      .join(hashed.select(col(idCol).as("b_id"), col("__h").as("__hb"))
        .hint("shuffle_hash"), Seq("b_id"))
    val dist =
      if (threshold >= 0) levenshtein(col("__ta"), col("__tb"), threshold)
      else levenshtein(col("__ta"), col("__tb"))
    val hashDist = withH.select("__ha", "__hb").distinct()
      .join(repText.select(col("__h").as("__ha"), col("__t").as("__ta"))
        .hint("shuffle_hash"), Seq("__ha"))
      .join(repText.select(col("__h").as("__hb"), col("__t").as("__tb"))
        .hint("shuffle_hash"), Seq("__hb"))
      .select(col("__ha"), col("__hb"),
        when(col("__ha") === col("__hb"), lit(0L))
          .otherwise(dist.cast("long")).as("edit_dist"))
    withH.join(hashDist.hint("shuffle_hash"), Seq("__ha", "__hb"))
      .select(col("a_id"), col("b_id"), col("edit_dist"))
  }

  /** Keep the BEST member of every duplicate cluster instead of the
    * first: real curation pipelines keep the longest / highest-quality
    * copy of near-duplicated content, not the lowest-id one (RefinedWeb
    * keeps by quality signals; "longest wins" is the common heuristic).
    * `priority` ranks members (descending; ties broken by ascending
    * `idCol` for determinism); documents in no cluster pass through.
    *
    * `idCol` must be unique across `docs`: losers are removed by an
    * anti-join on the id, so a winner sharing its id with a loser is
    * dropped along with it.
    *
    * Plan: [[duplicateClusters]]' pair/label machinery unchanged, plus
    * one id-keyed join and one rank window PARTITIONED BY CLUSTER — the
    * window input is only the clustered rows (dup-cluster membership,
    * a small fraction of any real corpus) and each partition is one
    * cluster, so the selection never concentrates the corpus. */
  def keepBestPerCluster(docs: DataFrame, textCol: String, idCol: String,
                         priority: Column,
                         k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val cl = duplicateClusters(docs, textCol, idCol, k, bands, shingleN)
      .withColumnRenamed("id", idCol)
    // Decide with SLIM rows, move heavy rows once (guide §8): the rank
    // window runs over (id, priority, cluster) — clustered rows only,
    // text never enters a window sort — and the losers (rank > 1, the
    // only rows that leave the output) anti-join the corpus once. The
    // previous two-branch form (filter-null ∪ filter-not-null+window
    // over the full-width join) consumed its docs-join twice, replaying
    // the whole duplicateClusters pipeline and the docs scan per branch
    // (12 parquet scans in the l55 before-plan — guide §1.2).
    val slim = docs.select(col(idCol), priority.as("__prio"))
      .join(cl.hint("shuffle_hash"), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("__prio").desc, col(idCol))
    val losers = slim.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col(idCol))
    docs.join(losers.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Benchmark-contamination check: for each document, the number of
    * distinct word n-gram shingles it shares with a benchmark corpus —
    * the standard train/test leakage scan in LLM data pipelines. The
    * benchmark shingle set (small by definition) is broadcast, so the
    * corpus is never shuffled for the probe; only matching (doc, shingle)
    * rows reach the per-doc count, which partial-aggregates map-side. */
  def benchmarkContamination(docs: DataFrame, bench: DataFrame, textCol: String,
                             idCol: String, shingleN: Int = 3): DataFrame = {
    val docSh = docs.select(col(idCol), explode(wordShingles(col(textCol), shingleN)).as("__s"))
    val benchSh = bench.select(explode(wordShingles(col(textCol), shingleN)).as("__s")).distinct()
    docSh.join(broadcast(benchSh), Seq("__s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** One-pass duplicate-rate estimate: 1 − distinct/total content
    * hashes, with the distinct count from HyperLogLog (`rsd` relative
    * error). Use to triage a corpus BEFORE paying for the full cascade —
    * a single scan with mergeable partial state, no shuffle of rows
    * (only sketch merge). Returns (estimated duplicate fraction, total). */
  def dupRateEstimate(docs: DataFrame, textCol: String, rsd: Double = 0.02): (Double, Long) = {
    val row = docs.agg(
      approx_count_distinct(md5(col(textCol)), rsd).as("d"),
      count(lit(1)).as("n")).head()
    val (d, n) = (row.getLong(0), row.getLong(1))
    (if (n == 0) 0.0 else math.max(0.0, 1.0 - d.toDouble / n), n)
  }

  /** Streaming-capable exact dedup: drop rows whose content hash was
    * already seen, with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — the streaming counterpart of
    * [[exactKept]] for continuous ingestion. The input must carry a
    * watermark; on a batch frame this degenerates to dropDuplicates. */
  def exactKeptStream(docs: DataFrame, textCol: String): DataFrame = {
    val hashed = docs.withColumn("__h", md5(col(textCol)))
    graft.streaming.CheckpointFiles.install(docs)
    val out = if (docs.isStreaming) hashed.dropDuplicatesWithinWatermark("__h")
              else hashed.dropDuplicates("__h")
    out.drop("__h")
  }

  /** Per-row MinHash LSH band hashes — the same values
    * `lshBands(minhashSignatures(…))` produces (proven in
    * StreamingDedupSpec), but computed NARROWLY with array expressions
    * (no groupBy), so they evaluate row-by-row on an unbounded stream:
    * sig_j = min over the doc's shingles of md5("j|"+shingle), band b =
    * md5(sig_{b·r} ‖ … ‖ sig_{b·r+r−1}). Adds `__band0…__band{bands−1}`
    * (null when the doc has fewer than `shingleN` tokens — such docs
    * have no signature in the batch pipeline either). */
  def withBandColumns(docs: DataFrame, textCol: String,
                      k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val r = k / bands
    val sh = wordShingles(col(textCol), shingleN)
    val sigs = (0 until k).map(j =>
      array_min(transform(sh, s => md5(concat(lit(s"$j|"), s)))))
    (0 until bands).foldLeft(docs) { (d, b) =>
      d.withColumn(s"__band$b", md5(concat((0 until r).map(i => sigs(b * r + i)): _*)))
    }
  }

  /**
   * Streaming near-duplicate dedup — the continuous-ingestion twin of
   * the l4/l15 MinHash-LSH path: drop arriving documents that share at
   * least one LSH band with the SEEN CORPUS (`seenBands`, a
   * [[lshBands]]-shaped static table `(band_idx, band_hash)` built from
   * the accumulated corpus and refreshed on whatever cadence the
   * pipeline re-snapshots it), and drop in-stream documents whose FULL
   * signature (all bands) matches an earlier arrival within the
   * watermark horizon.
   *
   * Plan shape, per micro-batch: band hashes are per-row array
   * expressions (zero shuffles), then one stream-static ANTI join per
   * band — each a hash join on its band key, the static side shared
   * across batches — and one `dropDuplicatesWithinWatermark` whose
   * state is one short row per surviving doc. Nothing is quadratic and
   * no state grows with the corpus (the corpus lives in `seenBands`).
   *
   * Scope: in-stream NEAR-dups (shared band, different full signature)
   * inside one watermark horizon are NOT caught here — use
   * [[nearDupKeptStreamStateful]] (per-band claim state) when that
   * matters; this stateless-per-band form stays for pipelines that
   * cannot disable the stateful-chain check, where the batch cascade
   * (l15) catches in-horizon pairs at the next corpus snapshot.
   */
  def nearDupKeptStream(docs: DataFrame, textCol: String, seenBands: DataFrame,
                        k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val withFull = bandedAgainstSeen(docs, textCol, seenBands, k, bands, shingleN)
    graft.streaming.CheckpointFiles.install(docs)
    val kept =
      if (docs.isStreaming) withFull.dropDuplicatesWithinWatermark("__sigfull")
      else withFull.dropDuplicates("__sigfull")
    kept.drop("__sigfull" +: (0 until bands).map(b => s"__band$b"): _*)
  }

  /** Shared front half of the streaming near-dup paths: per-row band
    * columns, one anti join per band against the seen corpus, and the
    * full-signature column. Docs too short to shingle have null bands;
    * they fall back to EXACT text dedup rather than all colliding on a
    * null signature. */
  private def bandedAgainstSeen(docs: DataFrame, textCol: String, seenBands: DataFrame,
                                k: Int, bands: Int, shingleN: Int): DataFrame = {
    val banded = withBandColumns(docs, textCol, k, bands, shingleN)
    val pruned = (0 until bands).foldLeft(banded) { (d, b) =>
      d.join(seenBands.filter(col("band_idx") === b)
          .select(col("band_hash").as(s"__seen$b")),
        col(s"__band$b") === col(s"__seen$b"), "left_anti")
    }
    pruned.withColumn("__sigfull",
      coalesce(concat((0 until bands).map(b => col(s"__band$b")): _*),
        concat(lit("raw:"), md5(coalesce(col(textCol), lit(""))))))
  }

  /**
   * [[nearDupKeptStream]] plus IN-HORIZON near-dup resolution — closes
   * that operator's documented scope gap: two near-duplicates arriving
   * within one horizon (same micro-batch included) now resolve to
   * first-arrival-wins instead of both surviving until the next corpus
   * snapshot. After the same per-band anti joins against `seenBands`,
   * survivors pass through two keyed stateful stages
   * (graft.streaming.NearDupState): claim each LSH band
   * first-arrival-wins with horizon-bounded state, then admit a doc only
   * if it won ALL its bands and its full signature is new — which
   * subsumes the exact-dup `dropDuplicatesWithinWatermark` too. One
   * scoped caveat inherited from that operator: among docs whose FULL
   * signatures are identical (all bands equal) arriving in the SAME
   * micro-batch, the survivor is an arbitrary one of them, not
   * necessarily the earliest — any is equally representative, but exact
   * `tsCol` order there is not guaranteed (across batches it is; and
   * docs differing in at least one band are always ordered by the claim
   * stage).
   *
   * `tsCol` orders arrivals within a batch (event time; full-signature
   * tiebreak) and anchors the horizon: ownership of a band lasts
   * `horizonMs` of EVENT time after the owner's own event time. Rows
   * whose `tsCol` is null (or fails the timestamp cast) are DROPPED up
   * front — the same fate Spark's watermarked aggregations give
   * null-event-time rows; route unstamped rows through
   * [[nearDupKeptStream]] or stamp them upstream if they must survive.
   * Both stages run on `flatMapGroupsWithState`, like the facade's
   * stateful ops; StreamingDedupSpec pins stream-vs-batch parity.
   * `seenBands` is still a static snapshot here —
   * when the corpus side must stay current automatically, use
   * [[nearDupAdmitAndAppend]], whose bands table doubles as permanent
   * (not horizon-bounded) claim state. Chaining stateful operators requires
   * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
   * on the session (fail-fast checked here, same contract as
   * `processStateGlobal`). Safe for this shape: the claim stage runs on
   * the event-time `WatermarkKernel` and so drops rows at or behind the
   * watermark, but every row reaching it has already passed the same
   * batch watermark in the `dropDuplicatesWithinWatermark` stage upstream
   * (which counts a late row in its `numRowsDroppedByWatermark`), so the
   * chain drops nothing that the first stage kept; the resolve stage
   * filters nothing.
   */
  def nearDupKeptStreamStateful(docs: DataFrame, textCol: String, tsCol: String,
                                seenBands: DataFrame, horizonMs: Long = 3600L * 1000,
                                k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    require(docs.isStreaming,
      "nearDupKeptStreamStateful is the continuous-ingestion path; on a batch " +
      "corpus use the dedup cascade (dedupCorpusKept), which also resolves " +
      "in-corpus near-dups")
    graft.api.GStream.requireCheckCorrectnessDisabled(docs, "nearDupKeptStreamStateful")
    // a row with no event time cannot participate in event-time ordering
    // or horizon arithmetic — drop it up front (same fate Spark's own
    // watermarked aggregations give null-event-time rows) instead of
    // letting a null __ord NPE inside the claim stage and kill the query
    val timed = docs.filter(col(tsCol).cast("timestamp").isNotNull)
    // exact in-horizon dups go first, on Spark's own watermark-evicted
    // store: this is what entitles the resolve stage to hold zero state
    // (at most one doc per full signature in-horizon reaches it)
    val withFull = bandedAgainstSeen(timed, textCol, seenBands, k, bands, shingleN)
      .dropDuplicatesWithinWatermark("__sigfull")
      .withColumn("__ord", unix_micros(col(tsCol).cast("timestamp")))
    graft.streaming.NearDupState(withFull, docs.columns.toSeq, tsCol, bands, horizonMs)
  }

  /**
   * Incremental `seenBands` maintenance — closes the "refresh cadence is
   * the caller's problem" gap of [[nearDupKeptStream]]: a
   * `foreachBatch` body that keeps the seen-corpus band table CURRENT by
   * appending each batch's admitted documents' bands to it, so a doc
   * admitted in batch N blocks its near-dups from batch N+1 on with no
   * manual snapshot.
   *
   * No streaming stateful operator is involved: the bands table at
   * `bandsPath` IS the state. Per micro-batch (all batch-mode plans):
   *  1. re-read `bandsPath` (a fresh read each batch sees appends — a
   *     static frame captured OUTSIDE foreachBatch would pin its file
   *     listing at plan time and never see them),
   *  2. anti join the batch against it per band — plus one extra anti
   *     join on the `band_idx = -1` rows, which carry raw-content
   *     signatures so docs too short to shingle still dedup exactly,
   *  3. resolve IN-BATCH near-dups relationally: the minimum
   *     (event-time, signature) claims each band key; a doc survives iff
   *     it claims ALL its bands — the batch twin of
   *     [[nearDupKeptStreamStateful]]'s claim/resolve stages (losers
   *     still claim their unshared bands, keeping the transitive
   *     cluster-collapse semantics),
   *  4. hand the surviving docs to `onAdmitted`,
   *  5. append the survivors' bands (and raw signatures) to `bandsPath`,
   *  6. write a commit marker `_committed/batch-<id>` inside `bandsPath`
   *     (underscore-prefixed → invisible to parquet file listing).
   *
   * DELIVERY SEMANTICS: exactly-once for any replay of a batch whose
   * previous attempt completed (the marker check no-ops the whole body —
   * the standard foreachBatch batchId-idempotence upgrade), at-least-once
   * across mid-batch crash windows: a crash between sink and append
   * re-delivers on replay (no marker yet), and a crash between append
   * and marker re-runs a batch that now collides with its OWN bands —
   * benign, because delivery already happened and the self-collided
   * replay admits (and re-appends) nothing. This is why the sink runs
   * BEFORE the append: with the order flipped, that same self-collision
   * would hit a batch that had NOT yet been delivered and silently lose
   * every document in it.
   *
   * Scale: per batch this is the same banded equi-join shape as the
   * batch cascade — nothing quadratic, shuffles keyed on band hashes and
   * signatures. The append stays idempotent-in-effect even where the
   * marker can't help: duplicate band rows cannot change an anti join's
   * semantics, only its input size ([[compactBands]] rewrites the table
   * distinct on whatever cadence suits).
   *
   * Wire it as `docs.writeStream.foreachBatch(
   *   Dedup.nearDupAdmitAndAppend("text", "ts", path, onAdmitted)).start()`.
   */
  def nearDupAdmitAndAppend(textCol: String, tsCol: String, bandsPath: String,
                            onAdmitted: (DataFrame, Long) => Unit,
                            k: Int = 8, bands: Int = 4, shingleN: Int = 3)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    // batchId idempotence: a marker per fully-committed batch lives inside
    // the bands table (underscore prefix = hidden from parquet listings,
    // same FileSystem as the table so it works on any Hadoop FS). Replays
    // of a committed batch no-op — single delivery; see Scaladoc for the
    // crash-window semantics.
    val marker = new org.apache.hadoop.fs.Path(s"$bandsPath/_committed/batch-$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      val seen = readBandsOrEmpty(spark, bandsPath)
      val withFull = bandedAgainstSeen(batch, textCol, seen, k, bands, shingleN)
        .join(seen.filter(col("band_idx") === -1)
            .select(col("band_hash").as("__seenraw")),
          col("__sigfull") === concat(lit("raw:"), col("__seenraw")), "left_anti")
        .withColumn("__ord", unix_micros(col(tsCol).cast("timestamp")))
      // consumed twice: the band append and onAdmitted
      val kept = Materialize(claimResolveBatch(withFull, bands,
          Seq(col("__ord")), materialize = true), "Dedup.nearDupAdmitAndAppend")
      // admit-and-append: survivors' bands (plus raw signatures for docs
      // too short to shingle) become part of the seen corpus NOW
      val newBands = (0 until bands).map(b =>
        kept.filter(col(s"__band$b").isNotNull)
          .select(lit(b).as("band_idx"), col(s"__band$b").as("band_hash")))
        .reduce(_ unionAll _)
        .unionAll(kept.filter((0 until bands).map(b => col(s"__band$b").isNull).reduce(_ && _))
          .select(lit(-1).as("band_idx"),
            regexp_replace(col("__sigfull"), "^raw:", "").as("band_hash")))
      // Deliver BEFORE appending: with the append first, a crash between
      // the two would make the replayed batch collide with its OWN bands
      // and the sink silently lose those documents (see Scaladoc).
      onAdmitted(kept.select(batch.columns.map(col): _*), batchId)
      newBands.write.mode("append").parquet(bandsPath)
      // marker LAST: it asserts "sink and append both completed", so any
      // replay of this batchId can safely skip the whole body
      fs.create(marker, true).close()
    }
  }

  /** The bands table at `bandsPath`, or its empty (band_idx, band_hash)
    * frame before the first batch has admitted anything. */
  def readBandsOrEmpty(spark: SparkSession, bandsPath: String): DataFrame =
    try spark.read.parquet(bandsPath)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("band_idx",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("band_hash",
            org.apache.spark.sql.types.StringType))))
    }

  /**
   * The COMPLETE streaming near-dup pipeline, wired end-to-end:
   *
   * {{{ ingest → nearDupKeptStreamStateful → foreachBatch(
   *     nearDupAdmitAndAppend) → onAdmitted sink }}}
   *
   * The two state layers complement each other and this helper composes
   * them the intended way so callers don't have to re-derive the wiring:
   *
   *  - the CLAIM state (horizon-bounded, checkpoint-recovered) resolves
   *    in-horizon near-dups — including same-micro-batch pairs — at
   *    first-arrival-wins;
   *  - the BANDS TABLE at `bandsPath` (corpus-scale, append-maintained,
   *    replay-idempotent via the `_committed` markers) blocks near-dups
   *    of everything admitted before this query even started; its
   *    snapshot is re-read HERE, at query (re)start, so each restart
   *    picks up everything prior runs admitted.
   *
   * Across a restart the layers agree on who survives: a near-dup of a
   * pre-restart admit is dropped by the recovered claim state while
   * still in-horizon and by the bands snapshot from then on (the
   * foreachBatch body re-checks the LIVE table per batch as belt and
   * braces). Proven in StreamingDedupE2eSpec, including a checkpoint
   * restart mid-sequence and batch-semantics parity ([[bandClaimKept]]
   * over the whole ingest equals the streamed admissions).
   *
   * Requires the session relaxation documented on
   * [[nearDupKeptStreamStateful]] (fail-fast checked there). Returns the
   * started query; `onAdmitted` receives each batch's admitted rows
   * exactly once per committed batch.
   */
  def nearDupPipeline(docs: DataFrame, textCol: String, tsCol: String,
                      bandsPath: String, checkpoint: String,
                      onAdmitted: (DataFrame, Long) => Unit,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                      horizonMs: Long = 3600L * 1000,
                      k: Int = 8, bands: Int = 4, shingleN: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val seen = readBandsOrEmpty(spark, bandsPath)
    nearDupKeptStreamStateful(docs, textCol, tsCol, seen, horizonMs, k, bands, shingleN)
      .writeStream
      .foreachBatch(nearDupAdmitAndAppend(textCol, tsCol, bandsPath, onAdmitted,
        k, bands, shingleN))
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()
  }

  /**
   * Offline maintenance for [[nearDupAdmitAndAppend]]'s bands table: the
   * append-only table accumulates duplicate rows from crash-window
   * replays (harmless to the anti joins, but they grow every batch's
   * scan input); this rewrites it DISTINCT via write-temp-then-swap.
   * One call replaces the Scaladoc's former "compact offline" homework.
   *
   * The `_committed` batch markers are carried over into the rewritten
   * table, so replay idempotence survives compaction. The swap is
   * rename-based (two renames, the old table parked at
   * `<path>_precompact` until the new one is in place) — crash-safe in
   * the sense that a half-finished swap leaves either the old or the new
   * complete table findable, never a merge of both; run it while the
   * stream is stopped (or between batches), as read-distinct-swap is not
   * atomic against a concurrent append.
   */
  def compactBands(spark: SparkSession, bandsPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val table = new Path(bandsPath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(bandsPath + "_compacting")
    val old = new Path(bandsPath + "_precompact")
    fs.delete(tmp, true); fs.delete(old, true) // debris from a prior crash
    spark.read.parquet(bandsPath).distinct()
      .write.mode("overwrite").parquet(tmp.toString)
    val markers = new Path(table, "_committed")
    if (fs.exists(markers) && !fs.rename(markers, new Path(tmp, "_committed")))
      throw new java.io.IOException(s"compactBands could not carry $markers over " +
        s"(table intact at $table)")
    if (!fs.rename(table, old) || !fs.rename(tmp, table))
      throw new java.io.IOException(s"compactBands swap failed for $bandsPath " +
        s"(table intact at ${if (fs.exists(table)) table else old})")
    fs.delete(old, true)
  }

  /** Shared in-batch claim/resolve core of [[nearDupAdmitAndAppend]] and
    * [[bandClaimKept]]: exact dedup on the full signature (first by
    * `ordCols` wins), then the minimum (`ordCols`, signature) claims each
    * band key and a doc survives iff it owns EVERY one of its band keys
    * (short docs own their raw-signature pseudo-band, so they dedup
    * exactly among themselves). Losers still claim their unshared bands —
    * the transitive cluster-collapse semantics of the streaming claim
    * stage. `materialize` materializes the deduped frame when the
    * caller runs inside foreachBatch (two consumers); the declared-query
    * path stays lazy and lets AQE's exchange reuse carry the diamond. */
  private def claimResolveBatch(withFull: DataFrame, bands: Int,
                                ordCols: Seq[Column], materialize: Boolean): DataFrame = {
    val exactW = Window.partitionBy(col("__sigfull")).orderBy(ordCols: _*)
    val deduped0 = withFull.withColumn("__rn", row_number().over(exactW))
      .filter(col("__rn") === 1).drop("__rn")
    val deduped = if (materialize) Materialize(deduped0, "Dedup.nearDupAdmitAndAppend") else deduped0
    val bandKeys = (0 until bands).map(b =>
      when(col(s"__band$b").isNotNull, concat(lit(s"$b|"), col(s"__band$b"))))
    val keysArr = array_compact(array(bandKeys: _*))
    val bandRows = deduped.select(
      explode(when(size(keysArr) > 0, keysArr)
        .otherwise(array(concat(lit("raw|"), col("__sigfull"))))).as("__bkey"),
      col("__sigfull"), struct(ordCols :+ col("__sigfull"): _*).as("__cand"))
    val losers = bandRows
      .withColumn("__owner", min(col("__cand")).over(Window.partitionBy(col("__bkey"))))
      .filter(col("__owner.__sigfull") =!= col("__sigfull"))
      .select("__sigfull").distinct()
    deduped.join(losers, Seq("__sigfull"), "left_anti")
  }

  /**
   * Batch band-claim dedup — the oracle-certifiable core of the
   * streaming claim/resolve stages ([[nearDupKeptStreamStateful]],
   * [[nearDupAdmitAndAppend]]): exact dedup on the full MinHash-band
   * signature (min `idCol` wins), then the minimum-id document claims
   * each LSH band and a document survives iff it claims all of its
   * bands. Pure-LSH transitive first-wins — no Jaccard verification, by
   * design: this is exactly what the streaming paths enforce, so its
   * DuckDB oracle (l46) certifies their shared relational semantics on
   * an engine-independent ground truth. (For the verified batch cascade
   * use [[dedupCorpus]].)
   *
   * Plan shape: the claim runs entirely on a NARROW (id, bands,
   * signature) projection — one per-signature window + one per-band-key
   * window + one anti join, all hash-partitioned on their keys — and
   * both consumers of the deduped frame read the IDENTICAL narrow
   * subtree, so Spark's exchange reuse computes the shingle/MinHash
   * work once; the surviving ids then semi-join back to the original
   * rows. Nothing quadratic, nothing broadcast, the wide document rows
   * never enter the claim shuffles.
   */
  def bandClaimKept(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val r = k / bands
    // batch path: the explode+agg signature form (whole-stage codegen;
    // measured ~4× the HOF form `withBandColumns` must use on streams —
    // see minhashSignatures' Scaladoc), then an id-co-partitioned left
    // join to pick up unshingleable docs' raw-hash fallback
    val sigs = minhashSignatures(docs.select(col(idCol), col(textCol)),
      textCol, idCol, k, shingleN)
    val bandsWide = sigs.select(
      col(idCol) +: (0 until bands).map(b =>
        md5(concat((0 until r).map(i => col(s"sig${b * r + i}")): _*)).as(s"__band$b")): _*)
    val banded = docs
      .select(col(idCol), md5(coalesce(col(textCol), lit(""))).as("__rawh"))
      .join(bandsWide, Seq(idCol), "left_outer")
      .withColumn("__sigfull",
        coalesce(concat((0 until bands).map(b => col(s"__band$b")): _*),
          concat(lit("raw:"), col("__rawh"))))
    val keptIds = claimResolveBatch(banded, bands, Seq(col(idCol)), materialize = false)
      .select(col(idCol))
    docs.join(keptIds, Seq(idCol), "left_semi")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Deterministic ±1 random-hyperplane components for [[rhpCandidatePairs]]:
    * component i of hyperplane (`table`, `plane`) is +1 iff the first hex
    * digit of md5("rhp|table|plane|i") has its high bit set. Derivable in
    * any engine with md5 — the DuckDB oracle embeds the same array
    * literals — and uniform ±1, which is all sign-LSH needs. */
  def rhpSigns(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      if ("89abcdef".contains(md5Hex(s"rhp|$table|$plane|$i").charAt(0))) 1.0 else -1.0
    }

  /** Default degenerate-bucket cap for the RHP composition entry points
    * ([[rhpCandidatePairs]], [[embeddingNearDupsRhp]],
    * `Similarity.knnGraphRhp`/`semanticDedup`): FINITE by default —
    * opt OUT with `Int.MaxValue`, never silently unbounded. With cap c
    * the pair output is ≤ n·c·nTables/2 — LINEAR in corpus size — so a
    * 100 TB pipeline that skips exact-dedup-before-ANN gets reduced
    * recall on its duplicate pile-ups (the dropped buckets), not an
    * OOM. A bucket over the cap is an LSH pathology, not signal: either
    * a duplicate group that belongs to exact dedup, or too few planes
    * for the corpus (expected bucket size is n / 2^nPlanes — raise
    * `nPlanes` with log₂(n) so it stays under the cap). */
  val DefaultRhpMaxBucket: Int = 512

  /** Candidate near-duplicate VECTOR pairs (a < b) sharing a
    * random-hyperplane LSH bucket in at least one of `nTables` tables
    * (SimHash-for-vectors): bucket bit j of table t = sign of
    * `dot(vec, rhpSigns(t, j, dim))`. The block key comes from the vectors
    * themselves — no data column needed — so the pair space is bounded by
    * bucket collisions (2^nPlanes buckets per table), the 100 TB form of
    * [[embeddingNearDups]]'s label blocking. Same scoped persist/
    * materialize lifecycle as [[minhashCandidatePairs]]; buckets above
    * [[DefaultRhpMaxBucket]] drop unless the caller opts out. */
  def rhpCandidatePairs(embs: DataFrame, vecCol: String, idCol: String, dim: Int,
                        nPlanes: Int = 8, nTables: Int = 4,
                        maxBucketSize: Int = DefaultRhpMaxBucket): DataFrame = {
    val tables = (0 until nTables).map { t =>
      val bkt = (0 until nPlanes).map { j =>
        when(dot(col(vecCol), lit(rhpSigns(t, j, dim))) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bkt.as("bkt"))
    }
    val buckets = embs
      .select(col(idCol), explode(array(tables: _*)).as("__tb"))
      .select(col(idCol), col("__tb.tbl").as("tbl"), col("__tb.bkt").as("bkt"))
    // Same degenerate-bucket guard as minhashCandidatePairs: a bucket
    // of g members emits g(g−1)/2 pairs, and a corpus with many
    // IDENTICAL vectors (same content embedded repeatedly — the norm
    // in an undeduplicated crawl) concentrates whole duplicate groups
    // into single buckets in EVERY table. The 10× scale probe drove
    // the unbounded join out of memory exactly this way. Production
    // order remains exact-dedup-before-ANN; the cap is the guard rail
    // for corpora that skip it (recall cost documented at the caller).
    // Pairs come from a streaming self-join, never a per-bucket array: a
    // single unbounded bucket can exceed one task's memory as an array.
    Materialize.using("Dedup.rhpCandidatePairs", buckets) {
      val capped =
        if (maxBucketSize == Int.MaxValue) buckets
        else buckets.withColumn("__bsz", count(lit(1)).over(Window.partitionBy("tbl", "bkt")))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
      val a = capped.select(col("tbl"), col("bkt"), col(idCol).as("a_id"))
      val b = capped.select(col("tbl"), col("bkt"), col(idCol).as("b_id"))
      a.join(b, Seq("tbl", "bkt"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
    }
  }

  /** Embedding near-dup pairs with cosine > threshold over the
    * random-hyperplane LSH candidates: the verify stage pulls each
    * candidate's vector via two id-keyed joins (pairs are tiny — that is
    * LSH's point), computes one dot per pair with hoisted norms
    * (`Similarity.scorePairs`). */
  def embeddingNearDupsRhp(embs: DataFrame, vecCol: String, idCol: String, dim: Int,
                           threshold: Double, nPlanes: Int = 8, nTables: Int = 4,
                           maxBucketSize: Int = DefaultRhpMaxBucket): DataFrame = {
    val pairs = rhpCandidatePairs(embs, vecCol, idCol, dim, nPlanes, nTables, maxBucketSize)
    Similarity.scorePairs(pairs, embs, vecCol, idCol).filter(col("sim") > threshold)
  }

  /** Cross-document repeated word n-grams — the discovery half of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): any n-gram appearing in ≥
    * `minDocs` distinct documents marks boilerplate / template / copied
    * spans worth excising. Shingles are distinct-per-doc
    * ([[graft.functions.ShinglesExpr]]), so a plain COUNT per shingle IS
    * the distinct-document count — one explode + one hash-partitioned
    * aggregation with map-side partial agg, no join. At 100 TB the only
    * hazard is skew on ultra-common n-grams; partial aggregation absorbs
    * it (each map task emits one row per shingle regardless of its
    * in-partition frequency). */
  def repeatedShingles(docs: DataFrame, textCol: String, idCol: String,
                       n: Int, minDocs: Int): DataFrame =
    docs.select(explode(wordShingles(col(textCol), n)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Global top-k most-repeated n-grams — the bounded-output form of
    * [[repeatedShingles]] for corpora where even the ≥ `minDocs` tail is
    * itself huge (at 100 TB the full repeated-shingle relation can rival
    * the corpus). Same explode + map-side-partial count (skew on
    * ultra-common n-grams is absorbed before the one shuffle), then a
    * two-level top-k: `orderBy().limit(k)` plans as
    * TakeOrderedAndProject (PlanSpec-pinned) — every post-agg partition
    * keeps only its local top k and the driver merges k·partitions rows,
    * so no global sort runs and no unbounded result materializes.
    * (n_docs DESC, s ASC) makes the cut deterministic under ties. */
  def topRepeatedShingles(docs: DataFrame, textCol: String, idCol: String,
                          n: Int, k: Int): DataFrame =
    docs.select(explode(wordShingles(col(textCol), n)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("s").asc)
      .limit(k)

  /** Embedding near-duplicate pairs with cosine > threshold, blocked by
    * `blockCol` to bound the pair space. L2 norms are computed per row
    * BELOW the pair join (per-pair work = one dot product); arithmetic
    * is unchanged, so results stay bit-identical to the naive form. */
  def embeddingNearDups(embs: DataFrame, vecCol: String, idCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    val a = embs.select(Seq(col(blockCol).as("blk"), col(idCol).as("a_id")) ++
      Similarity.normCols(vecCol, "a"): _*)
    val b = embs.select(Seq(col(blockCol).as("blk"), col(idCol).as("b_id")) ++
      Similarity.normCols(vecCol, "b"): _*)
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", Similarity.cosineOf("a", "b"))
      .filter(col("sim") > threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Benchmark contamination via a Bloom-filter prefilter — the scale
    * form of [[benchmarkContamination]] for when the benchmark shingle
    * SET no longer fits a broadcast join hash table but its Bloom filter
    * (a few bits per element) still ships to every task.
    *
    * Results are EXACTLY [[benchmarkContamination]]'s: the bloom probe
    * only prefilters (map-side, codegen'd, before any shuffle of the
    * corpus), and a shuffle-hash semi-join against the real shingle set
    * then removes the false positives — but that join's input is the
    * ~fpp-sized survivor stream, not the corpus.
    *
    * Spark-native plumbing: the filter is built DISTRIBUTED with
    * Catalyst's own `BloomFilterAggregate` over `xxhash64` (mergeable
    * sketch state, one tiny result row) and probed with its paired
    * `BloomFilterMightContain` — the exact expression pair Spark's
    * runtime row-level filtering injects, so the probe participates in
    * whole-stage codegen. The serialized filter rides the plan as a
    * binary literal, precisely how `InjectRuntimeFilter` inlines the
    * subquery result at 100 TB. */
  def bloomContamination(docs: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, shingleN: Int = 3, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter

    val benchSh = bench
      .select(explode(wordShingles(col(textCol), shingleN)).as("__s")).distinct()
    // Two tiny jobs on the bench side only (the corpus is untouched):
    // size the filter, then build it with mergeable partial aggregation.
    val nItems = math.max(benchSh.count(), 1L)
    val nBits = math.max(BloomFilter.optimalNumOfBits(nItems, fpp), 64L)
    val hash = new XxHash64(Seq(ColumnBridge.expression(col("__s"))))
    val bfBytes = benchSh
      .agg(ColumnBridge.column(
        new BloomFilterAggregate(hash, Literal(nItems), Literal(nBits))
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)

    val docSh = docs
      .select(col(idCol), explode(wordShingles(col(textCol), shingleN)).as("__s"))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(col("__s"))))))
    docSh.filter(mightContain)
      // exact verify on the survivors: shuffle-hash (NOT broadcast — the
      // premise is the set outgrew the broadcast threshold) semi-join
      // removes bloom false positives, so output ≡ the exact operator.
      .join(benchSh.hint("shuffle_hash"), Seq("__s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** SimHash near-duplicate pairs: documents whose 32-bit [[simhash]]
    * signatures differ in at most `maxHamming` bits. Banding by the four
    * signature bytes gives the standard pigeonhole guarantee: two
    * signatures within Hamming distance 3 agree on at least one of the
    * 4 bytes, so the candidate equi-join on (band, byte) is COMPLETE for
    * `maxHamming` ≤ 3; the `bit_count(xor)` verify then runs only on
    * bucket collisions, never all pairs.
    *
    * Plan shape: signature agg (one shuffle) → 4-way posexplode (narrow)
    * → equi-join on the band key (hash shuffle join, co-partitioned) →
    * distinct → per-pair bit arithmetic. The 32-bit/8-bit-band geometry
    * is what the md5-`conv` oracle portability allows; at 100 TB widen
    * to a 64-bit signature with 16-bit bands (65k buckets per band) —
    * the plan is identical, only the literals change. */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    hammingPairs(simhash(docs, textCol, idCol), idCol, "simhash",
      bandBits = 8, maxHamming, maxBucketSize)
  }

  /** 64-bit SimHash over whitespace tokens — the 100 TB widening
    * [[simhashNearDups]]'s Scaladoc promises: bit b is the b-th actual
    * bit (MSB-first) of the md5's first 16 hex digits, voted sum(+1/−1)
    * per token exactly like [[simhash]]. 64 bits drop the random-
    * collision rate of a byte band (2⁻⁸ per band at 32-bit) to 2⁻¹⁶ per
    * 16-bit band — at billions of documents that is the difference
    * between bounded buckets and a quadratic verify stage. Not
    * oracle-portable (the declared query stays 32-bit); spec-certified
    * by brute force instead (OperatorSpec). Output: (idCol, simhash64). */
  def simhash64(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // two 8-digit chunks cover the first 64 md5 bits, MSB-first within
    // each chunk
    simhashVotes(docs, textCol, idCol, chunks = 2, width = 64, b => 31 - b % 32, "simhash64")

  /** [[simhashNearDups]] at 64-bit/16-bit-band geometry: same pigeonhole
    * completeness (Hamming ≤ 3 spans at most 3 of the 4 bands), 65k
    * buckets per band. */
  def simhashNearDups64(docs: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    hammingPairs(simhash64(docs, textCol, idCol), idCol, "simhash64",
      bandBits = 16, maxHamming, maxBucketSize)
  }

  /** Public banded Hamming-pair join over an ARBITRARY 64-bit signature
    * column (perceptual image dHash, custom fingerprints): the
    * [[simhashNearDups64]] geometry — four 16-bit bands, pigeonhole-
    * complete for `maxHamming` ≤ 3 — without prescribing how the
    * signature was computed. `sig` must carry one row per id. */
  def hammingPairs64(sig: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    hammingPairs(sig, idCol, sigCol, bandBits = 16, maxHamming, maxBucketSize)
  }

  /** Shared banded Hamming-pair join: split the signature into four
    * `bandBits`-wide bands, equi-join on (band, value), verify with
    * `bit_count(xor)`. Only colliding buckets produce pairs. */
  private def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                           bandBits: Int, maxHamming: Int,
                           maxBucketSize: Int): DataFrame = {
    require(maxHamming <= 3, "4-band banding is only complete for maxHamming <= 3")
    val mask = lit((1L << bandBits) - 1)
    val exploded = sig.select(col(idCol), col(sigCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col(sigCol), bandBits * b).bitwiseAND(mask)): _*)))
      .toDF(idCol, "__sig", "__band", "__bv")
    // same degenerate-bucket guard as minhashCandidatePairs: a (band,
    // value) bucket holding a giant near-identical cluster is quadratic
    // by definition; a finite cap trades those buckets' recall for a
    // bounded pair space (completeness then holds for pairs whose
    // agreeing band sits in an uncapped bucket)
    val banded =
      if (maxBucketSize == Int.MaxValue) exploded
      else {
        val w = Window.partitionBy("__band", "__bv")
        exploded.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
      }
    val a = banded.select(col(idCol).as("a_id"), col("__sig").as("__sa"),
      col("__band"), col("__bv"))
    val b = banded.select(col(idCol).as("b_id"), col("__sig").as("__sb"),
      col("__band"), col("__bv"))
    a.join(b, Seq("__band", "__bv"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "__sa", "__sb").distinct()
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Passage-level exact deduplication (the paragraph-dedup stage of
    * Dolma/RefinedWeb-style pipelines, adapted to unstructured text):
    * split each document into fixed-width non-overlapping word passages,
    * keep a passage only in the FIRST document (min id) that contains
    * it, and reassemble each document from its surviving passages in
    * order. Exact-duplicate documents collapse to the first copy;
    * near-duplicates keep only their novel passages; cross-document
    * boilerplate is excised everywhere but its first occurrence.
    *
    * Plan shape: explode to passages (narrow) → ONE shuffle on the
    * passage value for the per-passage `min(doc id)` window (no
    * groupBy+join-back: that would shuffle the corpus twice, and
    * passages are mostly unique so partial aggregation buys nothing) →
    * one shuffle on doc id to reassemble. Nothing is quadratic and no
    * side is collected or broadcast, so the shape survives any corpus
    * size. Documents whose every passage first appeared elsewhere
    * disappear entirely (fully-boilerplate docs). Scope note: the unit
    * of dedup is CROSS-document first occurrence — a passage repeated
    * twice inside its first document keeps both copies (both rows carry
    * the minimum doc id); intra-document repetition is l22's
    * repetition-filter signal, not this operator's. */
  def passageDedup(docs: DataFrame, textCol: String, idCol: String,
                   passageWords: Int = 20): DataFrame = {
    // NULL-text docs vanish from the output entirely: split(NULL) is
    // NULL and the explode drops the row — the same thing the oracle's
    // UNNEST does, but indistinguishable from a fully-boilerplate doc
    // (n_kept would be 0). coalesce(text, '') upstream if NULL docs must
    // survive as empty rows.
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__t"))
      .select(col(idCol),
        explode(sequence(lit(0), size(col("__t")) - 1, lit(passageWords))).as("__start"),
        col("__t"))
      .select(col(idCol),
        (col("__start") / passageWords).cast("long").as("__idx"),
        concat_ws(" ", slice(col("__t"), col("__start") + 1, lit(passageWords))).as("__p"))
    val firstDoc = toks.withColumn("__fd",
      min(col(idCol)).over(Window.partitionBy(col("__p"))))
    firstDoc.filter(col(idCol) === col("__fd"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__idx"), col("__p")))),
          x => x.getField("__p"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
  }

  /**
   * Arbitrary-length exact-substring dedup — the full form of Lee et
   * al. 2022's repeated-substring removal that [[passageDedup]]
   * approximates with fixed cuts: excise from every document each token
   * run of length ≥ `minRun` that already appeared in an EARLIER
   * document, wherever the run starts. A repeated 50-token span
   * straddling a 20-word passage boundary — invisible to
   * [[passageDedup]] — is excised here, because repetition is detected
   * with POSITIONAL `minRun`-gram shingles (l32's machinery): a shared
   * run of length L ≥ minRun produces L − minRun + 1 consecutive shared
   * shingles, and a token is removed iff SOME shingle window covering
   * it is a repeat (max-flag over the trailing minRun-1 positions — the
   * winnowing-style per-doc window).
   *
   * Exactness: a token survives iff it is not inside any ≥ minRun-token
   * run shared with an earlier document — no boundary effects, no
   * approximation (modulo md5 collisions, as everywhere else here).
   * Cross-document scope as in [[passageDedup]]: the earliest doc keeps
   * its copy, intra-document repetition is untouched; NULL-text docs
   * vanish (same contract).
   *
   * Plan shape: one explode to token rows (narrow), one hash join of
   * token rows against the per-shingle `min(doc id)` aggregate (both
   * shuffle on the shingle hash; the aggregate partial-aggregates
   * map-side), one shuffle on doc id for the coverage window +
   * reassembly. Three token-level shuffles, nothing quadratic, nothing
   * broadcast or collected — survives any corpus size.
   */
  def substringDedup(docs: DataFrame, textCol: String, idCol: String,
                     minRun: Int = 20): DataFrame = {
    val n = minRun
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0), size(col("__t")) - 1)).as("__pos"))
      .select(col(idCol), col("__pos"),
        col("__t")(col("__pos")).as("__tok"),
        when(col("__pos") <= size(col("__t")) - n,
          md5(concat_ws(" ", slice(col("__t"), col("__pos") + 1, lit(n))))).as("__h"))
    val first = toks.filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(min(col(idCol)).as("__fd"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(-(n - 1), Window.currentRow)
    toks.join(first, Seq("__h"), "left")
      .withColumn("__dup", when(col("__fd") < col(idCol), 1).otherwise(0))
      .withColumn("__cov", max(col("__dup")).over(w))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          filter(array_sort(collect_list(struct(col("__pos"), col("__cov"), col("__tok")))),
            s => s.getField("__cov") === 0),
          s => s.getField("__tok"))).as("text_clean"),
        sum(when(col("__cov") === 0, 1L).otherwise(0L)).as("n_kept"))
  }

  /**
   * EXACT threshold set-similarity join via prefix filtering (the
   * PPJoin family — Xiao, Wang, Lin & Yu, WWW'08): every pair of
   * documents whose n-gram shingle sets have Jaccard ≥ `tau`, with NO
   * probabilistic misses — the deterministic complement to the MinHash
   * path ([[minhashCandidatePairs]] trades a small false-negative rate
   * for fewer candidates; this trades more candidates for a guarantee).
   *
   * Prefix theorem: order every set by one GLOBAL ordering (here:
   * document frequency ascending, then shingle — rarest first) and take
   * each set's first |x| − ⌈τ·|x|⌉ + 1 elements. If J(A,B) ≥ τ then
   * |A∩B| ≥ τ·|A|, so the intersection cannot fit entirely in the
   * ⌈τ·|A|⌉ − 1 elements after A's prefix — the prefixes must share an
   * element. Candidates are therefore pairs sharing a PREFIX shingle,
   * and rare-first ordering makes those join buckets the smallest ones.
   *
   * Plan shape: one df-count agg, a per-document rank window (bounded by
   * shingles-per-doc, never by corpus), a prefix equi-join on the
   * shingle, and an `array_intersect` verify over the candidate pairs
   * (l5's shape). `maxBucketSize` caps a degenerate prefix bucket the
   * same way the MinHash/RHP paths do — an all-identical-corpus makes
   * every shingle's bucket the whole corpus; collapse exact duplicates
   * first ([[exactKept]]) as [[dedupCorpus]] does. The cap trades the
   * exactness guarantee for survival, so it defaults off.
   */
  def similarityJoinExact(docs: DataFrame, textCol: String, idCol: String,
                          tau: Double, shingleN: Int = 3,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    // sh feeds four consumers (df counts, set sizes, the prefix table,
    // and the verify sets) and prefix feeds both self-join sides —
    // persist both for the call's scope and materialize the (small)
    // result (minhashCandidatePairs' discipline).
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("__id"),
        explode(wordShingles(col(textCol), shingleN)).as("__s"))
      .distinct()
    val dfreq = sh.groupBy("__s").agg(count(lit(1)).as("__df"))
    val sz = sh.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val prefix = sh.join(dfreq.hint("shuffle_hash"), Seq("__s"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__s"))))
      .join(sz, Seq("__id"))
      .filter(col("__r") <= col("__sz") - ceil(col("__sz") * lit(tau)) + 1)
      .select(col("__s"), col("__id"), col("__r"), col("__sz"))
    val capped =
      if (maxBucketSize == Int.MaxValue) prefix
      else {
        val w = Window.partitionBy("__s")
        prefix.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
      }
    // PPJoin's two exactness-preserving prunes, applied inside the join
    // before the (expensive) distinct + verify:
    //  - length filter: J ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ;
    //  - positional filter: both sets are sorted by the SAME global
    //    order, so for a shared element at ranks (r_a, r_b) the total
    //    overlap is at most min(r_a, r_b) + min(|A|−r_a, |B|−r_b)
    //    (matches before it + it + matches after it), which must reach
    //    the equivalent-overlap bound α = ⌈τ/(1+τ)·(|A|+|B|)⌉. This is
    //    the per-element-safe form of PPJoin's scan bound (the scan's
    //    "1 + suffix" constant is only valid with accumulated-match
    //    bookkeeping): a qualifying pair satisfies it at EVERY shared
    //    element, so keeping pairs where ANY element passes is exact.
    val a = capped.select(col("__s"), col("__id").as("a_id"),
      col("__r").as("__ra"), col("__sz").as("__sa"))
    val b = capped.select(col("__s"), col("__id").as("b_id"),
      col("__r").as("__rb"), col("__sz").as("__sb"))
    val cand = a.join(b, Seq("__s"))
      .filter(col("a_id") < col("b_id") &&
        col("__sb") >= ceil(col("__sa") * lit(tau)) &&
        col("__sa") >= ceil(col("__sb") * lit(tau)) &&
        least(col("__ra"), col("__rb")) +
          least(col("__sa") - col("__ra"), col("__sb") - col("__rb")) >=
          ceil((col("__sa") + col("__sb")) * lit(tau / (1 + tau))))
      .select("a_id", "b_id").distinct()
    val sets = sh.groupBy("__id").agg(collect_set(col("__s")).as("__set"),
      count(lit(1)).as("__n"))
    Materialize.using("Dedup.similarityJoinExact", sh, prefix) {
      cand
        .join(sets.select(col("__id").as("a_id"), col("__set").as("__sa"),
          col("__n").as("__na")), Seq("a_id"))
        .join(sets.select(col("__id").as("b_id"), col("__set").as("__sb"),
          col("__n").as("__nb")), Seq("b_id"))
        .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
        .withColumn("jaccard",
          col("__i").cast("double") /
            (col("__na") + col("__nb") - col("__i")).cast("double"))
        .filter(col("jaccard") >= tau)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
    }
  }
}
