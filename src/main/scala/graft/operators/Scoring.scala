package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.functions.TextFunctions._

/**
 * Model-based quality filtering, inference side (north-star extension):
 * the fastText-style linear classifier over HASHED token features that
 * every large-scale curation pipeline runs (CCNet's quality model,
 * LLaMA's Wikipedia-reference classifier, GPT-3's WebText filter). The
 * model is trained offline; what the 100 TB engine needs is the
 * INFERENCE shape, and the feature-hashing trick makes that shape
 * trivial to distribute:
 *
 *  - token → bucket via md5 (the repo-wide engine-portable hash): NO
 *    vocabulary table, NO join — unlike the l33/l45 LM scorers, whose
 *    vocab-count joins are their entire shuffle cost;
 *  - the weight vector rides along as a LITERAL array (the broadcast
 *    degenerates to codegen constants), so scoring is a pure map plus
 *    one per-doc partial aggregation — for a corpus of any size, the
 *    only shuffle is the per-doc agg, and map-side combine takes it.
 *
 * Determinism (the l49 oracle): weights are quantized to
 * DECIMAL(18,8) at literal-build time, so the per-doc sum is EXACT
 * decimal arithmetic — shuffle-order-independent, bit-equal across
 * engines — the same discipline as l33's DECIMAL LM sums.
 */
object Scoring {

  /**
   * Per-document linear score over hashed token features: bucket =
   * 16-bit md5 value of the token mod `weights.length`, document score =
   * mean bucket weight. Output: idCol, `n_tokens`, `w_sum`
   * (DECIMAL(38,8), exact), `score` (= w_sum / n_tokens, 6dp), `keep`
   * (score > 0 — the classifier's accept side).
   */
  def hashedLinearScore(docs: DataFrame, textCol: String, idCol: String,
                        weights: Array[Double]): DataFrame = {
    require(weights.nonEmpty, "hashedLinearScore needs a non-empty weight vector")
    val b = weights.length
    // exact decimal literals: quantization happens ONCE here, not per row
    val wArr = array(weights.map(w =>
      lit(BigDecimal(w).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .underlying()).cast("decimal(18,8)")): _*)
    val bucket = (conv(substring(md5(col("__t")), 1, 4), 16, 10)
      .cast("long") % b).cast("int")
    docs.select(col(idCol), explode(wsTokens(col(textCol))).as("__t"))
      .select(col(idCol), element_at(wArr, bucket + 1).as("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__w")).cast("decimal(38,8)").as("w_sum"))
      // Divide at scale 20, not w_sum's native 8: Spark's decimal
      // division yields a quotient at the dividend's scale, and a
      // scale-8 quotient double-rounds `round(.., 6)` whenever the exact
      // ratio falls within 5e-9 of a 6dp tie (observed in spec). At
      // scale 20 the exact ratio (denominator n·10⁸) is never within
      // 1e-20 of a tie for any n < 10¹², so the rounding is single.
      .withColumn("score",
        round(col("w_sum").cast("decimal(38,20)") / col("n_tokens"), 6))
      .withColumn("keep", col("w_sum") > 0)
  }

  /**
   * Multiclass hashed linear classifier — inference by argmax over
   * per-class hashed weight vectors: the fastText-style model shape
   * behind production language ID (CCNet et al. run one of these over
   * EVERY document in EVERY corpus). Same feature hashing as
   * [[hashedLinearScore]] (token → md5 16-bit value mod bucket count;
   * no vocabulary, no join), generalized to k classes.
   *
   * Scale shape — the shuffle does NOT grow with k: tokens first
   * collapse to per-(doc, bucket) COUNTS (one map-side-combined agg —
   * at most `buckets` rows per doc survive, independent of document
   * length), then each class's score is Σ count·w_c[bucket] over those
   * ≤`buckets` rows (second agg keyed by doc). Applying k weight
   * vectors after the collapse costs k·buckets multiplies per doc
   * instead of k per TOKEN — for a fastText-sized k (176 languages)
   * that is the difference between a scan-bound and a CPU-bound pass.
   * Weights ride as DECIMAL(18,8) literals (codegen constants), so
   * per-class sums are exact decimal arithmetic — shuffle-order
   * independent, bit-equal across engines (the l49 discipline).
   *
   * Output: idCol, `n_tokens`, `pred` (argmax class label; ties break
   * to the EARLIEST class in `classes` — deterministic), `top_sum`
   * (winning class's score, DECIMAL(38,8)), `margin` (top_sum minus
   * runner-up score — the fastText confidence signal; callers gate
   * low-margin predictions to "unknown"). Requires ≥ 2 classes with
   * equal-length weight vectors.
   */
  def hashedMulticlassScore(docs: DataFrame, textCol: String, idCol: String,
                            classes: Seq[(String, Array[Double])]): DataFrame = {
    require(classes.lengthCompare(2) >= 0, "need >= 2 classes")
    val b = classes.head._2.length
    require(b > 0 && classes.forall(_._2.length == b),
      "all classes need the same non-empty bucket count")
    def wLit(ws: Array[Double]) = array(ws.map(w =>
      lit(BigDecimal(w).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .underlying()).cast("decimal(18,8)")): _*)
    val bucket = (conv(substring(md5(col("__t")), 1, 4), 16, 10)
      .cast("long") % b).cast("int")
    val perBucket = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("__t"))
      .select(col(idCol), bucket.as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__n"))
    val sums = classes.zipWithIndex.map { case ((_, ws), i) =>
      // __n as DECIMAL(12,0), not its native long (= DECIMAL(20,0)):
      // (20,0)×(18,8) needs precision 39 > 38 and Spark's
      // precision-loss path silently rounds the product to scale 7;
      // (12,0)×(18,8) = (31,8) stays exact and 10¹² tokens per
      // (doc, bucket) is beyond any document
      sum(col("__n").cast("decimal(12,0)") * element_at(wLit(ws), col("__b") + 1))
        .cast("decimal(38,8)").as(s"__s$i")
    }
    val perDoc = perBucket.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_tokens"), sums: _*)
    // argmax + runner-up in one pass: sort (score, -idx) structs
    // descending — struct order is lexicographic, so ties on score
    // fall to the larger -idx, i.e. the EARLIEST class
    val arr = array(classes.indices.map(i =>
      struct(col(s"__s$i").as("s"), lit(-i).as("ni"),
        lit(classes(i)._1).as("lab"))): _*)
    perDoc
      .withColumn("__sorted", reverse(array_sort(arr)))
      .select(col(idCol), col("n_tokens"),
        col("__sorted")(0)("lab").as("pred"),
        col("__sorted")(0)("s").as("top_sum"),
        // operands down to (36,8) first: (38,8)−(38,8) needs precision
        // 39 and Spark's precision-loss path rounds the margin to
        // scale 7; (36,8)−(36,8) = (37,8) stays exact with 10²⁸
        // headroom over any real score
        (col("__sorted")(0)("s").cast("decimal(36,8)") -
          col("__sorted")(1)("s").cast("decimal(36,8)")).as("margin"))
  }

  /**
   * Per-block language segmentation (l87) — the multilingual-page
   * handler document-level language ID (l75) cannot be: a crawl page
   * routinely mixes languages block by block, and classifying the
   * whole document assigns every block the majority language. This is
   * the natural composition of the boilerplate block filter
   * ([[graft.functions.TextFunctions.mainContentBlocks]], l76) with
   * [[hashedMulticlassScore]] (l75): explode the KEPT blocks, classify
   * each block independently (the block id rides the same collapsed
   * (block, bucket) shuffle — cost identical to classifying documents
   * of block size), then merge ADJACENT same-label blocks into spans
   * (the gaps-and-islands `ord − row_number` trick — one window keyed
   * by (page, label)) and attach each page's majority label (most
   * blocks; ties to the earliest class in `classes`, the l75
   * discipline).
   *
   * Output: one row per span — (idCol, span_from, span_to [1-based
   * original block indexes, inclusive], span_blocks, span_tokens,
   * lang, doc_majority). Shuffles: the classifier's two aggs, the
   * span/majority windows, one shuffle-hash join of the per-page
   * majority — all keyed by page or (page, label); nothing quadratic.
   */
  def blockLanguageSpans(pages: DataFrame, htmlCol: String, idCol: String,
                         classes: Seq[(String, Array[Double])],
                         stopMarkers: Seq[String] = Seq("the", "a", "of", "and"),
                         minChars: Int = 40, maxLinkPct: Int = 34,
                         tokensPerStop: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.mainContentBlocks
    val blocks = pages
      .select(col(idCol), posexplode(mainContentBlocks(col(htmlCol), stopMarkers,
        minChars, maxLinkPct, tokensPerStop)).as(Seq("__ord", "__blk")))
      .filter(col("__blk")("keep"))
      // 1-based original block index (counting dropped chrome blocks
      // too — spans address positions in the PAGE, not the kept list)
      .select(struct(col(idCol).as("id"), (col("__ord") + 1).cast("long").as("ord"))
        .as("__bid"), col("__blk")("t").as("__bt"))
    // Materialized ONCE: three consumers below (the span islands, and
    // both sides of the majority/runner-up self-join) would otherwise
    // each re-derive the whole block-parse + 256-bucket classifier
    // subtree — the plan carried the html pipeline 3× (6 parquet scans,
    // 24 exchanges; measured 3.6 → 2.4 s warm on l87 after this). The
    // materialized relation is one narrow row per KEPT block — the
    // post-classifier contraction of the corpus, the same O(blocks)
    // class as minhashCandidatePairs' materialized pair set.
    val perBlock = Materialize(hashedMulticlassScore(blocks, "__bt", "__bid", classes)
      .select(col("__bid.id").as(idCol), col("__bid.ord").as("ord"),
        col("n_tokens"), col("pred")), "Scoring.blockLanguageSpans")
    def classIdx(c: Column): Column =
      classes.zipWithIndex.tail.foldLeft(when(c === classes.head._1, 0)) {
        case (acc, ((lab, _), i)) => acc.when(c === lab, i)
      }
    // islands over the KEPT-block sequence (original ordinals are not
    // consecutive — dropped chrome and the empty segments between
    // adjacent block tags sit between kept blocks): two same-label
    // blocks merge iff no OTHER kept block separates them, while
    // span_from/span_to still report original page positions
    val wSeq = Window.partitionBy(col(idCol)).orderBy(col("ord"))
    val wIsl = Window.partitionBy(col(idCol), col("pred")).orderBy(col("ord"))
    val spans = perBlock
      .withColumn("__isl", row_number().over(wSeq) - row_number().over(wIsl))
      .groupBy(col(idCol), col("pred"), col("__isl"))
      .agg(min(col("ord")).as("span_from"), max(col("ord")).as("span_to"),
        count(lit(1)).as("span_blocks"), sum(col("n_tokens")).as("span_tokens"))
    val wMaj = Window.partitionBy(col("__mid"))
      .orderBy(col("__cnt").desc, classIdx(col("__mlang")))
    // renamed keys: majority shares lineage with spans (both derive
    // from perBlock) — same-name joins would be ambiguous. The margin
    // is the majority's block-count lead over the runner-up label
    // (fastText's confidence signal at the page level; a page with one
    // label keeps its full count — no runner-up to subtract)
    val ranked = perBlock.groupBy(col(idCol).as("__mid"), col("pred").as("__mlang"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rk", row_number().over(wMaj))
    val majority = ranked.filter(col("__rk") === 1)
      .select(col("__mid"), col("__mlang").as("doc_majority"), col("__cnt").as("__c1"))
      .join(ranked.filter(col("__rk") === 2)
        .select(col("__mid").as("__mid2"), col("__cnt").as("__c2")).hint("shuffle_hash"),
        col("__mid") === col("__mid2"), "left")
      .select(col("__mid"), col("doc_majority"),
        (col("__c1") - coalesce(col("__c2"), lit(0L))).as("majority_margin"))
    spans.join(majority.hint("shuffle_hash"), col(idCol) === col("__mid"))
      .select(col(idCol), col("span_from"), col("span_to"),
        col("span_blocks"), col("span_tokens"),
        col("pred").as("lang"), col("doc_majority"), col("majority_margin"))
  }

  /**
   * Distributed trainer for the hashed linear classifier — batch
   * logistic regression by gradient descent, so pipelines can FIT the
   * quality/language filter on their own seed data instead of
   * importing weights ([[hashedLinearScore]] /
   * [[hashedMulticlassScore]] consume the result directly: same md5
   * bucket hash, same mean-bucket-weight feature definition
   * x_b = count_b / n_tokens).
   *
   * Scale shape (the `trainCentroids` pattern): the corpus touches
   * Spark ONCE — tokens collapse to a per-(doc, bucket) fraction table
   * (≤ `buckets` rows per doc, materialized so no iteration
   * replays the scan, partitioned by doc so the per-iteration score
   * window needs NO exchange). Each of the `iters` fixed iterations
   * then costs one windowed projection over that table plus one
   * map-side-combined aggregation keyed by BUCKET — the collect is
   * `buckets` doubles (the gradient), never rows. Driver applies
   * w ← w − lr·∇, where ∇ = (1/N)·Σ_d (σ(s_d) − y_d)·x_d — plain
   * mean-log-loss gradient, no regularization (callers can stop
   * early; iteration count is FIXED for reproducibility).
   *
   * `labelCol`: 0/1 (castable to double). Docs with no tokens drop
   * out (they have no features). Returns the weight vector.
   */
  def trainLogisticHashed(docs: DataFrame, textCol: String, idCol: String,
                          labelCol: String, buckets: Int,
                          iters: Int = 30, lr: Double = 2.0): Array[Double] = {
    require(buckets > 0 && iters >= 0)
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("__id")
    val tb = bucketFractions(docs, textCol, idCol, col(labelCol).cast("double"), buckets,
      "Scoring.trainLogisticHashed")
    val nDocs = tb.select("__id").distinct().count()
    if (nDocs == 0) return new Array[Double](buckets)
    val w = new Array[Double](buckets)
    for (_ <- 1 to iters) {
      val wl = array(w.map(lit(_)): _*)
      val grad = tb
        .withColumn("__s",
          sum(col("__f") * element_at(wl, col("__b") + 1)).over(byDoc))
        .withColumn("__r", lit(1.0) / (lit(1.0) + exp(-col("__s"))) - col("__y"))
        .groupBy("__b").agg(sum(col("__f") * col("__r")).as("__g"))
        .collect() // <= buckets rows — the gradient, not data
      grad.foreach { r =>
        w(r.getInt(0)) -= lr / nDocs * r.getDouble(1)
      }
    }
    w
  }

  /**
   * Multiclass (softmax) twin of [[trainLogisticHashed]] — trains the
   * per-class hashed weight vectors [[hashedMulticlassScore]] consumes,
   * closing the language-ID loop end to end: label a seed corpus, train
   * here, classify everywhere. Same scale shape: the corpus collapses
   * ONCE to the materialized per-(doc, bucket) fraction table
   * (partitioned by doc, so the per-iteration score windows need no
   * exchange); each fixed iteration computes all k class scores in one
   * windowed projection (one WindowExec, k aggregates), the per-row
   * softmax residuals p_c − 1[y=c], and ONE map-side-combined
   * per-bucket aggregation carrying k gradient sums — the driver
   * collects k·buckets doubles and applies w_c ← w_c − lr·∇_c (mean
   * cross-entropy gradient, max-subtracted softmax for stability).
   *
   * `labelCol` holds the class label string; rows whose label is not
   * in `classes` are ignored. Returns `classes`-ordered
   * (label, weights) pairs ready for [[hashedMulticlassScore]].
   */
  def trainSoftmaxHashed(docs: DataFrame, textCol: String, idCol: String,
                         labelCol: String, classes: Seq[String], buckets: Int,
                         iters: Int = 30, lr: Double = 2.0): Seq[(String, Array[Double])] = {
    require(buckets > 0 && iters >= 0 && classes.nonEmpty)
    val k = classes.length
    val tb = bucketFractions(docs.filter(col(labelCol).isin(classes: _*)),
      textCol, idCol, col(labelCol), buckets, "Scoring.trainSoftmaxHashed")
    val nDocs = tb.select("__id").distinct().count()
    val w = Array.fill(k)(new Array[Double](buckets))
    if (nDocs == 0) return classes.zip(w.toSeq)
    for (_ <- 1 to iters) {
      val grad = softmaxGradFrame(tb, w, classes)
        .collect() // <= buckets rows x k gradient sums
      grad.foreach { r =>
        val b = r.getInt(0)
        for (c <- 0 until k) w(c)(b) -= lr / nDocs * r.getDouble(c + 1)
      }
    }
    classes.zip(w.toSeq)
  }

  /** The hashed trainers' materialized (doc, label, bucket, fraction)
    * table `(__id, __y, __b, __f)`: `__f` = the doc's token share in md5
    * bucket `__b` (the [[hashedLinearScore]] feature), `__y` = `label`.
    * Partitioned by doc, so the per-iteration score windows need no
    * exchange. */
  private def bucketFractions(docs: DataFrame, textCol: String, idCol: String,
                              label: Column, buckets: Int, op: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = (conv(substring(md5(col("__t")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    val byDoc = Window.partitionBy("__id")
    Materialize(docs
      .select(col(idCol).as("__id"), label.as("__y"),
        explode(wsTokens(col(textCol))).as("__t"))
      .select(col("__id"), col("__y"), bucket.as("__b"))
      .groupBy("__id", "__y", "__b").agg(count(lit(1)).as("__n"))
      .withColumn("__f", col("__n").cast("double") / sum(col("__n")).over(byDoc))
      .select("__id", "__y", "__b", "__f"), op)
  }

  /** One softmax-GD iteration's per-bucket gradient frame over the
    * (doc, label, bucket, fraction) table: ONE select builds all k
    * score windows and softmax columns (Catalyst extracts the k
    * identical-per-class window aggregates into a single WindowExec,
    * and `greatest` over the same window trees reuses them via
    * subexpression extraction), then one map-side-combined per-bucket
    * agg. Plan NODE COUNT is independent of k — the former 2k chained
    * `withColumn`s grew the plan O(k) and re-ran the analyzer per
    * column (round-12 advice; SoftmaxPlanSpec pins the node count at
    * k = 5 vs k = 50). Exposed for that spec. */
  private[operators] def softmaxGradFrame(tb: DataFrame, w: Array[Array[Double]],
                                          classes: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = classes.length
    val byDoc = Window.partitionBy("__id")
    val wls = w.map(wc => array(wc.map(lit(_)): _*))
    def score(c: Int) =
      sum(col("__f") * element_at(wls(c), col("__b") + 1)).over(byDoc)
    val mx = if (k == 1) score(0) else greatest((0 until k).map(score): _*)
    val expCols = (0 until k).map(c => exp(score(c) - mx).as(s"__e$c"))
    val d = tb.select(Seq(col("__y"), col("__b"), col("__f")) ++ expCols: _*)
    val z = (0 until k).map(c => col(s"__e$c")).reduce(_ + _)
    val gradCols = (0 until k).map { c =>
      sum(col("__f") * (col(s"__e$c") / z -
        when(col("__y") === classes(c), 1.0).otherwise(0.0))).as(s"__g$c")
    }
    d.groupBy(col("__b")).agg(gradCols.head, gradCols.tail: _*)
  }

  /** The l49 weight vector: 256 buckets, w_b = (b − 128)/256 — a fixed
    * deterministic stand-in for trained weights whose arithmetic a DuckDB
    * oracle can reproduce exactly (each weight is an exact multiple of
    * 2⁻⁸, so decimal quantization is lossless and the per-doc sum is an
    * integer multiple of 2⁻⁸). Real deployments pass their trained
    * vector instead; OperatorSpec pins a random-weight run against a
    * driver-side reference. */
  val oracleWeights: Array[Double] = Array.tabulate(256)(b => (b - 128) / 256.0)

  /**
   * Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995) — the
   * smoothing family KenLM ships: per document, mean −ln P_KN(b|a)
   * under absolute discount `d` with continuation-probability backoff,
   *   P_KN(b|a) = (max(C(a,b)−d, 0) + d·N1+(a·)·P_cont(b)) / C(a·),
   *   P_cont(b) = N1+(·b) / |distinct bigrams|.
   * Self-scoring the training corpus means no unseen events, so no
   * unseen-context branch is needed. Every statistic is an agg of the
   * one bigram-count table; both count joins are shuffle-hash (vocab²
   * never broadcasts); 9-dp DECIMAL(20,9) per-bigram terms keep the
   * per-doc mean shuffle-order-exact (the l33/l45 discipline).
   * Output: idCol, n_bigrams, avg_neg_logprob. ScoringSpec pins the
   * formula against hand-computed probabilities.
   */
  /**
   * Compression-ratio quality signal (the Dolma/Gopher compressibility
   * heuristic): deflate each document's UTF-8 bytes and report
   * compressed/raw size ×10⁶ as an integer ratio — highly repetitive
   * boilerplate compresses far below prose, so a low ratio flags
   * template/spam pages and a ratio near (or above) 10⁶ flags
   * high-entropy noise. Runs at the same `mapPartitions` boundary as
   * the multimodal decoders (one Deflater per batch, reused across the
   * partition's rows — allocation cost amortizes exactly like a codec
   * would); a pure per-row map otherwise, zero shuffles at any scale.
   * No DuckDB oracle (the oracle engine ships no deflate) — like the
   * HLL sketch bytes, the guarantee is the spec: deterministic across
   * runs, ordered correctly across repetitive/prose/noise inputs.
   * Output: idCol, `raw_len`, `deflate_len`, `ratio_ppm` (all long).
   */
  def compressionRatio(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // level 6 = zlib default: the standard corpus-quality setting;
        // one deflater per partition, reset per row. Deflater holds
        // off-heap zlib state that finalization reclaims too slowly on
        // long-lived executors — release it at task completion.
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n, if (raw.length == 0) 0L else n * 1000000L / raw.length)
        }
      }
      .toDF(idCol, "raw_len", "deflate_len", "ratio_ppm")
  }

  /**
   * Gopher repetition signals (Rae et al., "Scaling Language Models:
   * Methods, Analysis & Insights from Training Gopher", 2021, Table A1)
   * beyond l22's top-token / dup-n-gram pair — the three highest-cut
   * remaining ones every MassiveText-descendant pipeline gates on:
   *
   *  - `dup_line_frac`       — duplicate lines / non-blank lines
   *  - `dup_line_char_frac`  — chars inside lines whose value occurs
   *                            more than once (ALL occurrences count,
   *                            the Gopher definition) / chars in all
   *                            non-blank lines
   *  - `top_ngram_char_frac` — chars covered by occurrences of the most
   *                            frequent word n-gram (count × gram
   *                            length; ties → lexicographically
   *                            smallest gram) / chars of the text
   *
   * All three are PURE PER-ROW: lines/grams/counts are staged as array
   * columns once (HOF lambdas re-evaluate non-attribute references per
   * element — the l84 lesson), then scanned with higher-order
   * functions; zero shuffles at any corpus size. The in-row count scans
   * are O(L²)/(G²) in lines/grams PER DOCUMENT — the right trade for
   * crawl docs (bounded pages); an unbounded-document corpus would use
   * l22's two-level (doc, gram) agg form instead.
   *
   * Fractions are ×1e6 integer ppm (exact integer division — no
   * float rounding boundary to disagree across engines); 0 when the
   * denominator is 0.
   */
  def repetitionSignals(docs: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    val lines = col("__rs_lines"); val toks = col("__rs_toks")
    val grams = col("__rs_grams"); val gcnt = col("__rs_gcnt")
    def chars(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + length(x).cast("long"))
    // exact integer ppm: stage (num, den) as named columns, `div` via
    // expr (integral division is not a Column method)
    def ppm(num: String, den: String): Column =
      expr(s"CASE WHEN $den > 0L THEN ($num * 1000000L) div $den ELSE 0L END")
    docs
      .withColumn("__rs_lines",
        filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= ""))
      // whitespace-run tokens (NOT the single-space convention: grams
      // must not glue the last word of one line to the first of the next)
      .withColumn("__rs_toks",
        filter(split(col(textCol), "[ \n\t\r]+"), w => w =!= ""))
      .withColumn("__rs_grams",
        when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array().cast("array<string>")))
      .withColumn("__rs_gcnt",
        transform(grams, g => size(filter(grams, x => x === g)).cast("long")))
      .withColumn("__rs_ln", size(lines).cast("long"))
      .withColumn("__rs_ldup", (size(lines) - size(array_distinct(lines))).cast("long"))
      .withColumn("__rs_lc", chars(lines))
      .withColumn("__rs_lcdup",
        chars(filter(lines, l => size(filter(lines, x => x === l)) > 1)))
      .withColumn("__rs_tchars", length(col(textCol)).cast("long"))
      .withColumn("__rs_topn",
        when(size(grams) > 0, {
          val maxc = array_max(gcnt)
          val top = array_min(filter(grams,
            (_, i) => element_at(gcnt, i + lit(1)) === maxc))
          maxc * length(top).cast("long")
        }).otherwise(lit(0L)))
      .withColumn("dup_line_frac_ppm", ppm("__rs_ldup", "__rs_ln"))
      .withColumn("dup_line_char_frac_ppm", ppm("__rs_lcdup", "__rs_lc"))
      .withColumn("top_ngram_char_frac_ppm", ppm("__rs_topn", "__rs_tchars"))
      .drop("__rs_lines", "__rs_toks", "__rs_grams", "__rs_gcnt",
        "__rs_ln", "__rs_ldup", "__rs_lc", "__rs_lcdup", "__rs_tchars", "__rs_topn")
  }

  /**
   * Unigram-distribution drift between two corpus slices — the
   * observability readout a data team watches across crawl snapshots,
   * dedup-parameter changes, or mixture re-weights: Jensen–Shannon
   * divergence (in NATS; symmetric, bounded by ln 2, defined even when
   * supports differ — unlike raw KL) between the token distributions
   * of slice A (`sliceACol` true) and slice B, per `keyCol` stratum.
   *
   * Determinism discipline (the l33/kneserNey pattern): per-token
   * contributions are doubles computed from EXACT integer (key, token,
   * side) counts in a fixed expression shape, ROUNDED to 9 decimals and
   * summed as DECIMAL(20,9) — the cross-partition sum is integer-exact,
   * so the result is bit-stable at any partitioning and restatable by
   * an independent engine running the same expression.
   *
   * Shuffle shape: one (key, token) agg (map-side combined — the only
   * corpus-sized exchange), per-key totals BROADCAST back (keys are
   * strata — languages/sources — small by construction), one final
   * per-key agg. No joins keyed by anything row-scale.
   */
  def unigramJsd(docs: DataFrame, textCol: String, keyCol: String,
                 sliceACol: String): DataFrame = {
    val tc = docs
      .select(col(keyCol), col(sliceACol).as("__ja"),
        explode(wsTokens(col(textCol))).as("__jt"))
      .groupBy(col(keyCol), col("__jt"))
      .agg(sum(when(col("__ja"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__ja"), 0L).otherwise(1L)).as("__cb"))
    val totals = tc.groupBy(col(keyCol))
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    val p = col("__ca").cast("double") / col("__na")
    val q = col("__cb").cast("double") / col("__nb")
    val m = (p + q) / lit(2.0)
    // 0·ln(0/m) terms are 0 by continuity: each side contributes only
    // where its count is positive (this also keeps the expression
    // defined when a token is absent from one slice)
    val contrib =
      when(col("__ca") > 0, p * log(p / m) * lit(0.5)).otherwise(lit(0.0)) +
        when(col("__cb") > 0, q * log(q / m) * lit(0.5)).otherwise(lit(0.0))
    tc.join(broadcast(totals), Seq(keyCol))
      .select(col(keyCol), col("__na"), col("__nb"),
        round(contrib, 9).cast("decimal(20,9)").as("__jc"))
      .groupBy(col(keyCol))
      .agg(max(col("__na")).as("n_tokens_a"), max(col("__nb")).as("n_tokens_b"),
        round(sum(col("__jc")).cast("double"), 6).as("jsd"))
  }

  /**
   * Classifier calibration — the QC readout run before a quality
   * classifier's scores gate real data (an over-confident model at
   * p≈0.9 silently biases the kept corpus): reliability bins over a
   * ppm-integer predicted probability vs observed positive rate, plus
   * the expected calibration error. ALL integer arithmetic (`div`): a
   * probability arrives as ppm (the l47/l90 convention for
   * cross-engine-exact rates), bins are ppm ranges, and observed rates
   * are exact integer ratios — no float binning boundary to disagree
   * across engines.
   *
   * Output per non-empty bin: `bin` (0-based), `n`, `positives`,
   * `avg_pred_ppm` (Σprob div n), `obs_ppm` (positives·1e6 div n),
   * `abs_gap_ppm`. One map-side-combined agg; bin count is the only
   * output cardinality.
   */
  def calibrationBins(scored: DataFrame, probPpmCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val width = 1000000L / bins
    scored
      .withColumn("__cb_bin",
        least(expr(s"CAST(`$probPpmCol` AS BIGINT) div ${width}L"),
          lit(bins - 1L)))
      .groupBy(col("__cb_bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("positives"),
        sum(col(probPpmCol).cast("long")).as("__cb_sp"))
      .withColumn("avg_pred_ppm", expr("__cb_sp div n"))
      .withColumn("obs_ppm", expr("(positives * 1000000L) div n"))
      .withColumn("abs_gap_ppm", abs(col("avg_pred_ppm") - col("obs_ppm")))
      .drop("__cb_sp")
  }

  /** Expected calibration error in ppm: Σ n_b·gap_b div N — the single
    * number a model card reports, exact from [[calibrationBins]]. */
  def expectedCalibrationErrorPpm(binsDf: DataFrame): Long = {
    // Zero bins (empty scored set) is a defined 0, not an NPE on the
    // null sums of an ungrouped agg over no rows.
    val r = binsDf.agg(
      coalesce(sum(col("n") * col("abs_gap_ppm")), lit(0L)).as("w"),
      coalesce(sum(col("n")), lit(0L)).as("t"))
      .head()
    if (r.getLong(1) == 0L) 0L else r.getLong(0) / r.getLong(1)
  }

  /**
   * Inter-annotator agreement — the labeled-data QC step before
   * classifier training or SFT ingestion trusts a label set: Cohen's
   * kappa per stratum between two label columns (two annotators, or
   * annotator vs model). Chance agreement uses the per-class marginal
   * products (Cohen 1960).
   *
   * Exactness: observed/expected agreement are ppm INTEGERS from exact
   * counts (`po_ppm` = agree·1e6 div n, `pe_ppm` = Σ_c na_c·nb_c·1e6
   * div n²); kappa itself is the double (po−pe)/(1−pe) computed from
   * the same exact integers in a fixed expression shape, rounded to 6
   * — both engines restate it identically.
   *
   * Degenerate stratum: pe = 1 exactly iff both annotators are
   * constant on the SAME single class (Cauchy–Schwarz: Σ na_c·nb_c =
   * n² forces one class carrying all of both marginals), which also
   * forces po = 1. The (po−pe)/(1−pe) form is 0/0 there; we report
   * the conventional κ = 1.0 (perfect trivial agreement) instead of
   * NaN so downstream gates see a defined value.
   *
   * Shape: three map-side-combined aggs — (key) totals, (key, class)
   * marginals per side joined shuffle-hash on (key, class) — output
   * cardinality is the stratum count. Nothing row-scale crosses a
   * broadcast.
   */
  def cohensKappa(df: DataFrame, keyCol: String,
                  aCol: String, bCol: String): DataFrame = {
    val tot = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(aCol) === col(bCol), 1L).otherwise(0L)).as("n_agree"))
    val ma = df.groupBy(col(keyCol), col(aCol).as("__ck_c"))
      .agg(count(lit(1)).as("__ck_na"))
    val mb = df.groupBy(col(keyCol), col(bCol).as("__ck_c"))
      .agg(count(lit(1)).as("__ck_nb"))
    val pe = ma.join(mb.hint("shuffle_hash"), Seq(keyCol, "__ck_c"))
      .groupBy(col(keyCol))
      .agg(sum(col("__ck_na") * col("__ck_nb")).as("__ck_s"))
    // pe's numerator is Σ na_c·nb_c ≤ n² — ×1e6 overflows BIGINT past
    // n ≈ 3.04M rows per stratum, so it (and the n² guard compare)
    // runs in DECIMAL(38,0), which DuckDB mirrors with HUGEINT
    tot.join(pe.hint("shuffle_hash"), Seq(keyCol))
      .withColumn("po_ppm", expr("(n_agree * 1000000L) div n"))
      .withColumn("pe_ppm", expr(
        "CAST((CAST(__ck_s AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
      .withColumn("kappa",
        when(col("__ck_s").cast("decimal(38,0)") ===
            col("n").cast("decimal(38,0)") * col("n"), lit(1.0))
          .otherwise(round(
            (col("n_agree").cast("double") / col("n") -
              col("__ck_s").cast("double") / (col("n").cast("double") * col("n"))) /
              (lit(1.0) - col("__ck_s").cast("double") / (col("n").cast("double") * col("n"))), 6)))
      .drop("__ck_s")
  }

  def kneserNeyBigram(docs: DataFrame, textCol: String, idCol: String,
                      d: Double = 0.75): DataFrame = {
    val big = docs
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0), size(col("__t")) - 2)).as("__i"))
      .select(col(idCol),
        col("__t")(col("__i")).as("a"), col("__t")(col("__i") + 1).as("b"))
    val bc = big.groupBy("a", "b").agg(count(lit(1)).as("__nab"))
    val cx = bc.groupBy("a").agg(sum(col("__nab")).as("__na"),
      count(lit(1)).as("__n1v"))
    val cw = bc.groupBy("b").agg(count(lit(1)).as("__ncw"))
    val nb = bc.agg(count(lit(1)).as("__nb"))
    val p = (greatest(col("__nab").cast("double") - lit(d), lit(0.0)) +
      lit(d) * col("__n1v") *
        (col("__ncw").cast("double") / col("__nb"))) / col("__na")
    big.join(bc.hint("shuffle_hash"), Seq("a", "b"))
      .join(cx.hint("shuffle_hash"), Seq("a"))
      .join(cw.hint("shuffle_hash"), Seq("b"))
      .crossJoin(broadcast(nb))
      .select(col(idCol),
        round(-log(p), 9).cast("decimal(20,9)").as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__lp")).cast("double") / count(lit(1)), 6).as("avg_neg_logprob"))
  }
}
