package graft.examples

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Sampling, Scoring}

/**
 * End-to-end training-data curation pipeline assembled from the graft
 * operators — the workload this engine is built for at 100 TB:
 *
 *   documents (as crawled HTML) → URL blocklist → text extraction
 *   (boilerplate blocks → line dedup → C4 line quality) → URL
 *   canonicalization → script-mix gate → quality + repetition +
 *   LM-perplexity filters → per-language percentile gate → exact+near
 *   dedup cascade (normalized keys) → benchmark decontamination →
 *   domain reweighting → token stats enrichment → drift report →
 *   stratified sample → leakage-safe split → training sequences +
 *   retrieval chunks → curated parquet
 *
 * Every stage is a declarative DataFrame transform, so the whole
 * pipeline is ONE Catalyst plan per output: pushdown reaches the scan,
 * dedup's one wide shuffle is the only exchange until the sample window.
 * Run: `sbt "runMain graft.examples.PipelineDemo [sfDir] [outDir]"`.
 */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/pipeline-demo")
    val spark = graft.SparkEntry.localSession(8)
    import spark.implicits._

    val raw = graft.sources.Tables.documents(spark, sfDir)
    val total = raw.count()

    // 0. crawl-side preprocessing: the corpus stands in for crawled
    // pages — wrap each text in deterministic HTML + a URL, then run
    // the real extraction/canonicalization the WARC path uses:
    // html_to_text recovers the text, normalize_url collapses revisit
    // variants (per-URL exact dedup), both pure projections
    val crawled = raw.select(col("doc_id"), col("lang"), col("source"),
      // the prose block is terminal-punctuated, as real sentences are —
      // the C4 line-quality stage downstream requires it
      concat(lit("<html><body><nav><a href=/h>Home</a> <a href=/b>Blog</a></nav><p>"),
        col("text"),
        lit(".</p><script>var x=1;</script>" +
          "<footer>Copyright <a href=/p>privacy</a></footer></body></html>")).as("html"),
      concat(lit("https://www.site"), (col("doc_id") % 11).cast("string"),
        lit(".com:443/p/"), col("doc_id").cast("string"),
        lit("?utm_source=crawl")).as("url"))
    // mainContent, not plain htmlToText: the nav/footer chrome above is
    // exactly what a real crawl page carries, and the block-level
    // boilerplate pass (link density + stopword density + length) is
    // the step that sheds it before quality filtering. Upstream of it,
    // fixMojibake (l88) reverses windows-1252-of-UTF-8 double encoding
    // that the charset sniff cannot catch; downstream, the kept blocks
    // join with NEWLINES so in-page line dedup (l84) can drop repeated
    // nav crumbs/banners before the quality gates — the l68 cascade's
    // order, demonstrated on the full pipeline
    // 0a. URL blocklist (l93) — the cheapest gate runs FIRST, before
    // any text is touched: rule tables broadcast, the URL side never
    // shuffles
    val blockedHosts = Seq("www.site3.com").toDF("host")
    val blockedDoms = Seq("spamfarm.biz").toDF("domain")
    val allowed = graft.operators.Domains.blocklistFilter(
        crawled, "url", blockedHosts, blockedDoms, pathPrefixes = Seq("/ads/"))
      .filter(col("block_reason").isNull).drop("block_reason")
    val pages = allowed.select(col("doc_id"), col("lang"), col("source"),
      col("url"),
      array_join(transform(filter(TextFunctions.mainContentBlocks(
        TextFunctions.fixMojibake(col("html"))), b => b("keep")), b => b("t")),
        "\n").as("__main"),
      TextFunctions.normalizeUrl(col("url")).as("norm_url"))
    // line dedup (l84) then the C4 line-quality rules (l91) — the l68
    // cascade's order — before lines flatten back to running text
    val extracted = Dedup.lineDedup(pages, "__main", "__lined")
      .withColumn("text", replace(
        TextFunctions.lineQualityFilter(col("__lined"), minWords = 3),
        lit("\n"), lit(" ")))
      .drop("__main", "__lined")
      // script-mix gate (l92): one native code-point pass; pages whose
      // dominant writing system is "none" (digit/symbol soup) drop here
      .withColumn("__script", graft.functions.ScriptProfileExpr.dominantScript(
        graft.functions.ScriptProfileExpr(col("text"))))
      .filter(col("__script") =!= "none").drop("__script")
    // PSL-exact per-domain capping key (last-two-labels would collapse
    // every *.co.uk site into one key): longest-suffix match against a
    // caller-supplied public-suffix table, broadcast joins only
    val psl = Seq("com", "org", "net", "co.uk", "uk").toDF("suffix")
    val docs = graft.operators.Domains.registrableDomainPsl(
      extracted, "url", psl, "domain").drop("url")

    // 1. quality gate: length band + whitespace sanity + repetition cap
    // (duplicate-2-gram fraction — per-row arithmetic, no shuffle) +
    // compressibility band (boilerplate crushes, noise doesn't)
    val dup2 = TextFunctions.dupNgramFraction(col("text"), 2)
    val ratios = Scoring.compressionRatio(docs, "text", "doc_id")
      .select(col("doc_id"), col("ratio_ppm"))
    val quality = docs.filter(
        length(col("text")).between(50, 5000) &&
          (length(col("text")) - length(replace(col("text"), lit(" "), lit("")))) / length(col("text")) > 0.05 &&
          dup2 < 0.9)
      .join(ratios.hint("shuffle_hash"), Seq("doc_id"))
      .filter(col("ratio_ppm").between(100000L, 900000L))
      .drop("ratio_ppm")

    // 1b. model-assisted quality (the CCNet pattern): the heuristic
    // gate's verdicts become SEED LABELS, the hashed linear classifier
    // trains on them distributed (per-bucket gradient aggs, driver
    // update), and the trained vector then scores every document —
    // heuristics label, the model generalizes. Here the model's keep
    // side is reported next to the heuristic gate; a production run
    // would union the model's keeps back in or replace the gate.
    val seed = docs.join(quality.select(col("doc_id"), lit(1).as("label")),
        Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), lit(0)))
    val weights = Scoring.trainLogisticHashed(
      seed, "text", "doc_id", "label", buckets = 256, iters = 8, lr = 2.0)
    val modelKeep = Scoring.hashedLinearScore(docs, "text", "doc_id", weights)
      .filter(col("keep")).count()

    // 2. dedup cascade: exact (min id wins) + MinHash-LSH near-dups
    val deduped = Dedup.dedupCorpus(quality, "text", "doc_id", jaccardThreshold = 0.8)

    // 3. benchmark decontamination: drop docs sharing 3-gram shingles
    // with the held-out set (stand-in: doc_id % 97 == 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val trainSide = deduped.filter(col("doc_id") % 97 =!= 0)
    val contaminated = Dedup.benchmarkContamination(trainSide, bench, "text", "doc_id")
      .select("doc_id")
    val decontaminated = trainSide.join(contaminated, Seq("doc_id"), "left_anti")

    // 4. domain reweighting: deterministic per-language keep rates
    val mixed = Sampling.rateStratifiedSample(
      decontaminated, "lang", "doc_id", Map("en" -> 0.7))

    // 5. enrichment: token counts + fingerprint (codegen'd expressions)
    // + Kneser-Ney bigram perplexity (the KenLM-family quality score)
    val kn = Scoring.kneserNeyBigram(mixed, "text", "doc_id")
      .select(col("doc_id"), col("avg_neg_logprob").as("kn_score"))
    val counted = mixed
      .withColumn("n_tokens", TextFunctions.wsTokenCount(col("text")))
      .withColumn("n_bpeish", TextFunctions.bpeishTokenCount(col("text")))
      .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
      .join(kn.hint("shuffle_hash"), Seq("doc_id"), "left")
    // 5b. per-language percentile gate (l100): drop the shortest decile
    // within each language — EXACT chunk-bounded ranks, no quantile
    // sketch, stratum counts broadcast
    val enriched = Sampling.percentileGate(
        counted, "lang", "n_tokens", "doc_id", dropBelowPpm = 100000L)
      .filter(col("kept")).drop("score_rank", "kept")
    // 5c. drift report (l101): token-distribution JSD between the two
    // doc_id-parity halves per language — the snapshot-over-snapshot
    // observability readout, here proving the curated halves stayed
    // distributionally close
    val drift = Scoring.unigramJsd(
        enriched.withColumn("in_a", col("doc_id") % 2 === 0),
        "text", "lang", "in_a")
      .agg(max(col("jsd"))).head().getDouble(0)

    // 6. decontamination triage the other way around: BM25-score the
    // kept corpus against an eval-style query and surface the top hits
    // for human review (the inverted-index computation relationalized)
    val triage = graft.operators.Retrieval.bm25(
        enriched, "text", "doc_id", Seq("query", "join", "window"))
      .orderBy(desc("score")).limit(20)

    // 7. deterministic per-language sample for eval/inspection splits
    val sample = Sampling.stratifiedSample(enriched, "lang", "doc_id", 50)

    // 8. leakage-safe split + training-sequence packing: holdout
    // assignment by dedup-cluster representative (near-dups never
    // straddle the split), then the train side packs into fixed
    // 512-token training sequences across document boundaries
    val clusters = Dedup.duplicateClusters(enriched, "text", "doc_id")
      .select(col("id").as("doc_id"), col("cluster"))
    val split = Sampling.leakageSafeSplit(
      enriched.join(clusters.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster"), col("doc_id"))).drop("cluster"),
      "rep")
    val trainDocs = split.filter(col("split") === "train")
    val packed = graft.operators.Packing.sequencePack(
      trainDocs, "text", "doc_id", seqLen = 512L)
    val nHoldout = split.filter(col("split") === "holdout").count()
    val nSeqs = packed.agg(countDistinct(col("seq_id"))).head().getLong(0)
    // 9. retrieval chunks (l98): the same curated corpus sliced for a
    // RAG index — sentence-aligned 128-token chunks with 16-token
    // overlap, next to the training sequences
    val chunks = graft.operators.Chunking.sentenceChunks(
      enriched, "text", "doc_id", maxTokens = 128, overlapTokens = 16)

    enriched.write.mode("overwrite").parquet(s"$outDir/curated")
    sample.write.mode("overwrite").parquet(s"$outDir/sample")
    triage.write.mode("overwrite").parquet(s"$outDir/triage")
    packed.write.mode("overwrite").parquet(s"$outDir/train_sequences")
    chunks.write.mode("overwrite").parquet(s"$outDir/chunks")

    val kept = spark.read.parquet(s"$outDir/curated").count()
    val sampled = spark.read.parquet(s"$outDir/sample").count()
    println(s"[pipeline-demo] $total docs -> quality ${quality.count()} " +
      s"(trained-model keep $modelKeep) -> " +
      s"deduped $kept curated (+ $sampled sampled, max parity-JSD $drift) -> " +
      s"holdout $nHoldout, train packed into $nSeqs x 512-token sequences " +
      s"+ ${spark.read.parquet(s"$outDir/chunks").count()} retrieval chunks -> $outDir")
    spark.stop()
  }
}
