package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.SparkEntry

/**
 * Plan-shape guards: the scale properties the queries rely on, asserted
 * against the optimized physical plan so a regression (lost pushdown, a
 * broadcast that became a shuffle, a fallen-out-of-codegen hot path)
 * fails CI rather than surfacing as a 100× slowdown at scale.
 */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan: execute first — AdaptiveSparkPlan
    * only materializes join choices and WholeStageCodegen spans after the
    * run. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("entry: the flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("r1: dimension join broadcasts; no cartesian anywhere") {
    val p = planOf("r1_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("r2: shipdate filter is pushed to the parquet scan") {
    val p = planOf("r2_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("r2: scan reads only the needed lineitem columns") {
    val p = planOf("r2_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 7 needed columns; the full table has 16
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("r4/r6: semi and anti joins stay hash joins on the key") {
    assert(planOf("r4_anti_join").contains("LeftAnti"))
    assert(planOf("r6_semi_join").contains("LeftSemi"))
  }

  test("t2: value filter is pushed to the events scan") {
    val p = planOf("t2_filter")
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThan(value"), p.take(2000))
  }

  test("l3: corpus is not shuffled for brute-force search (query side broadcasts)") {
    val p = planOf("l3_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("l4: signature aggregation happens before the only wide shuffle") {
    // the declared l4 query returns a localCheckpoint'd frame (scoped cache
    // lifecycle), whose executed plan is just the checkpoint scan — assert
    // on the signature pipeline itself, where the k mins must
    // partial-aggregate below the exchange
    val sigs = graft.operators.Dedup.minhashSignatures(
      graft.sources.Tables.documents(spark, sf), "text", "doc_id")
    sigs.collect()
    val p = sigs.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), p.take(3000))
  }

  test("r9: range join is an equi-join whose keys include the time bucket") {
    val p = planOf("r9_range_join")
    // the join must be a hash join keyed on (user_id, __bkt) — the
    // per-key cross product (user_id-only keys + post-filter) is the
    // scale-killer this query was rewritten to avoid
    val joinLine = p.linesIterator.find(l =>
      l.contains("HashJoin") && l.contains("user_id")).getOrElse("")
    assert(joinLine.contains("__bkt"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("t18: scalable global numbering has no partition-less window") {
    val p = planOf("t18_global_state_scalable")
    // every window function must partition by the bucket; a global Window
    // (single-task sort of the whole table) is what t18 exists to avoid.
    // windowspecdefinition(partCols..., sortCols..., frame) — partition-less
    // specs start straight with the sort spec.
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__bkt")), specs.mkString("\n"))
  }

  test("l30/l41: shard packing and mix positions have no small-constant-partition window") {
    // round-6 verdict: both queries windowed by source (≤20 partitions) /
    // shard (16 partitions) — ~5 TB per task at 100 TB. The t18 rewrite
    // must leave every window partitioned by the range bucket.
    for (name <- Seq("l30_pack_shards", "l41_mix_epochs", "l16_doc_sample",
                     "r17_spend_quartiles")) {
      val p = planOf(name)
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(specs.nonEmpty && specs.forall(_.contains("__bkt")),
        name + ":\n" + specs.mkString("\n"))
    }
  }

  test("t1/t3: narrow pipelines stay inside whole-stage codegen") {
    // codegen'd stages print as `*(n)` in the final plan
    assert(planOf("t3_map").contains("*(1) Project"))
  }

  test("PlanAudit flags a global window even when its sort key has parens") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the old string-regex audit truncated windowspecdefinition at the
    // first ')', so a sort key like cast(id as bigint) escaped the check
    val global = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(Window.orderBy(col("id").cast("bigint").desc)))
    global.collect()
    assert(graft.PlanAudit.flatten(global.queryExecution.executedPlan)
      .exists(graft.PlanAudit.isPartitionlessWindow))
    val partitioned = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id") % 7).orderBy(col("id").cast("bigint").desc)))
    partitioned.collect()
    assert(!graft.PlanAudit.flatten(partitioned.queryExecution.executedPlan)
      .exists(graft.PlanAudit.isPartitionlessWindow))
  }

  test("r8: as-of join is a single partition-sort pass, not a join blow-up") {
    val p = planOf("r8_asof_join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  /** AQE plan dumps repeat every node under "== Initial Plan ==" — node
    * COUNTS must only see the final plan. */
  private def finalPlanOf(name: String): String =
    planOf(name).split("== Initial Plan ==")(0)

  test("r15: grouping sets is one scan through one Expand, not a rescan per set") {
    val p = finalPlanOf("r15_grouping_sets")
    assert(p.contains("Expand"), p.take(2000))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p.take(2000))
  }

  test("r16: full-outer join of the aggregated sides is hash, not sort-merge") {
    val p = planOf("r16_full_outer")
    assert(p.contains("ShuffledHashJoin") && p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("l26: quantized pre-pass broadcasts scale+query; corpus never shuffles pre-window") {
    val p = planOf("l26_ann_int8")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("l23: cluster map-back join stays a hash join over checkpointed labels") {
    // connectedComponents returns a localCheckpoint'd label frame with no
    // size stats, so AQE can't see the map-back join's small side — unhinted
    // it regressed to SortMergeJoin for two rounds (PlanAudit flag). The
    // shuffle_hash hint in duplicateClusters must keep every join hash-based.
    val p = planOf("l23_dup_clusters")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("r18: co-bucketed join plans with no shuffle on either join side") {
    // with broadcast disabled (so AQE can't hide a missing co-location by
    // broadcasting the small sf0.001 side), the only non-broadcast
    // exchange allowed is the groupBy's — the join itself must read the
    // co-located sorted buckets directly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the AQE dump appends "== Initial Plan ==" — count the final plan only
      val p = planOf("r18_bucketed_join").split("== Initial Plan ==")(0)
      // neither join side may shuffle on its key — co-location comes from
      // the bucket layout, not an exchange
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p.take(3000))
      // the groupBy hash exchange and the final sort's range exchange are
      // the only repartitions in the whole query
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(exchanges <= 2, p.take(3000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("l29: top-k shingles runs as TakeOrderedAndProject, not a global sort") {
    val p = planOf("l29_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // a global Sort would mean the whole shingle relation range-shuffles
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("l27: repeated-shingle count partial-aggregates below its one shuffle") {
    val p = finalPlanOf("l27_repeated_ngrams")
    // map-side partial agg (count) must appear below the exchange; the
    // only exchanges are the agg hash-partition + the final sort
    assert(p.contains("partial_count"), p.take(2000))
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2, p.take(2000))
  }

  test("l37: bloom probe filters the corpus; exact verify stays a hash semi-join") {
    // the premise of the bloom path is that the bench set outgrew
    // broadcast: the codegen'd might_contain must prefilter the corpus
    // scan side, and the false-positive-removing semi-join must be the
    // hinted ShuffledHashJoin, never a sort-merge (and if AQE broadcasts
    // a tiny test-scale side, that's still hash, still fine)
    val p = planOf("l37_bloom_contamination")
    assert(p.contains("might_contain"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("r19: salted join replicates the small side, no sort-merge, no cartesian") {
    val p = planOf("r19_salted_join")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the salt explode must sit on the small (replicated) side
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("l40: simhash banding joins on the band key, verify is post-join arithmetic") {
    val p = planOf("l40_simhash_neardup")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // candidate generation must be an equi-join keyed by (band, byte)
    assert(p.contains("__band"), p.take(3000))
  }

  test("r20: one aggregation pass, no join of any kind") {
    // the whole point of the exact-sufficient-statistics form: corr is
    // ONE partial-aggregating groupBy over the scan — a join or second
    // pass appearing here means the closed form regressed
    val p = planOf("r20_correlation")
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("l52: the global prefix sum keeps its equi-keyed offsets join") {
    // the non-foldable constant group key must survive optimization: if
    // Catalyst ever folds it away, the bucket-offset self-join degrades
    // to a nested loop (round-10 PlanAudit catch)
    val p = planOf("l52_ngram_novelty")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l56: edit distance rides candidate pairs — no sort-merge, no cartesian") {
    val p = planOf("l56_edit_distance")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("levenshtein"), p.take(3000))
  }

  test("t20: interval join is a bucketed equi-join, no cartesian blow-up") {
    // RangeJoin's time-bucket key must keep this a hash/sort-merge
    // EQUI-join — losing the bucket key degrades to per-user cross
    // products filtered after the fact
    val p = planOf("t20_stream_join")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("r21: key stats end in TakeOrderedAndProject, not a global sort") {
    val p = planOf("r21_skew_stats")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("l57: weighted sample never windows a whole stratum in one task") {
    // both row_number windows must partition by (lang, __salt) first —
    // a single partition-by-lang window over the full input means the
    // two-level top-k collapsed
    val p = planOf("l57_weighted_sample")
    val firstWindow = p.linesIterator.filter(_.contains("row_number"))
      .toSeq.lastOption.getOrElse("") // bottom-most = first executed
    assert(firstWindow.contains("__salt"), p.take(3000))
  }

  test("l63: BPE pair top-k is TakeOrderedAndProject with partial aggs below both shuffles") {
    val p = planOf("l63_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // neither the word-count nor the pair-count agg may skip its
    // map-side combine: two HashAggregate pairs = 4 HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(3000))
  }

  test("r27: profiling has no Expand (the multi-distinct hazard) and one scan") {
    val p = planOf("r27_profile")
    // a countDistinct form would plan Expand (row multiplication
    // before the shuffle — measured 9.4x slower); the two-level
    // (col, value) agg must not
    assert(!p.contains("Expand"), p.take(3000))
    // one scan in the final plan (the AQE dump repeats it in the
    // "Initial Plan" section — count before that marker)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(finalPlan).size == 1, p.take(3000))
  }

  test("r28: CDC merge is one shuffled hash join, no sort, no broadcast of the change set") {
    val p = planOf("r28_cdc_merge")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l72: BM25 query-term filter runs BEFORE the tf shuffle") {
    val p = planOf("l72_bm25")
    // the isin filter must sit under the (doc, term) aggregate's
    // exchange so only query-term rows shuffle
    val lines = p.linesIterator.toSeq
    // in the tree dump children print after parents, so "the filter sits
    // below the exchange" = some INSET/IN Filter line reaches its leaf
    // Scan with NO Exchange line in between (rows are filtered before
    // they ever shuffle); an Exchange between the filter and the scan
    // would mean the whole term table shuffled first
    val filterIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Filter") && (l.contains("INSET") || l.contains(" IN (")) => i
    }
    assert(filterIdxs.nonEmpty, p.take(3000))
    val filteredBeforeShuffle = filterIdxs.exists { fi =>
      val below = lines.drop(fi + 1)
      val scanAt = below.indexWhere(_.contains("Scan parquet"))
      scanAt >= 0 && !below.take(scanAt).exists(_.contains("Exchange"))
    }
    assert(filteredBeforeShuffle, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l75: multiclass langid is the two-level agg — no Expand, one scan, no join") {
    val p = planOf("l75_lang_id_model")
    // per-class sums ride the (doc, bucket) collapse: a per-class
    // explode or countDistinct-style Expand would multiply rows before
    // the shuffle; the weight application must touch only collapsed rows
    assert(!p.contains("Expand"), p.take(3000))
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(finalPlan).size == 1, p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("l76: block boilerplate removal is projection-only below the sort") {
    val p = planOf("l76_main_content")
    // pure per-row pass: the only exchange is the final orderBy's range
    // partitioning — any other exchange means the block scoring
    // accidentally grew a shuffle
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("l79: PQ corpus side never sort-merges; codebooks and tables broadcast") {
    val p = planOf("l79_ann_pq")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l80: packing's only windows are over the chunk-level sums table") {
    val p = planOf("l80_seq_pack")
    // the corpus-scale data must reach the explode via the chunked
    // prefix-sum join, never through a row-scale global window: the
    // partition-less window in this plan is the CHUNK table's offsets
    // pass (rows = id-span/idChunk), documented in PlanAudit
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Generate"), p.take(3000)) // the token-linear explode is present
  }

  test("t27: SCD-2 enrichment broadcasts the versioned dimension") {
    val p = planOf("t27_scd2_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l64: URL canonicalization has no partition-less window and no sort-merge join") {
    val p = planOf("l64_url_dedup")
    // the per-domain rank must ride the bucketed two-pass form: every
    // window (the running-sum rank) partitions by (domain, __bkt),
    // never domain alone
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("__bkt")), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l84: line dedup is projection-only below the sort — no joins, no hash shuffle") {
    val p = planOf("l84_line_dedup")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("l85: IVFADC joins broadcast; the corpus never sort-merges or cartesians") {
    val p = planOf("l85_ann_ivfadc")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l86: whole-doc packing windows are chunk-bounded; class offsets broadcast") {
    val p = planOf("l86_pack_whole")
    // the per-class rank must ride runningSumChunked's (class, chunk)
    // windows; the ONLY coarser window is the class-offset prefix over
    // the O(sqrt(seqLen))-row class table
    // the executed-plan dump repeats reused subtrees — count DISTINCT
    // window specs
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .map(_.trim.replaceAll("^[:+\\- ]+", "")).toSeq.distinct
    assert(windows.nonEmpty, p.take(3000))
    assert(windows.count(!_.contains("__bkt")) <= 1, windows.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l87: block langid rides the collapsed (block, bucket) aggs — no Expand, no sort-merge") {
    val p = planOf("l87_block_lang")
    assert(!p.contains("Expand"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("ShuffledHashJoin"), p.take(3000)) // the majority attach
  }

  test("l88: mojibake repair is projection-only below the sort") {
    val p = planOf("l88_mojibake_repair")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("l89: BPE packing word join is shuffled-hash; prefix sum stays chunk-keyed") {
    val p = planOf("l89_pack_bpe")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l91: line-quality filtering is projection-only below the sort") {
    val p = planOf("l91_line_quality")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("l92: script profiling is one native pass — no joins, no hash shuffle, no regex") {
    val p = planOf("l92_script_profile")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // the point of the native expression: the per-script counts must
    // NOT lower to a stack of regexp_replace scans
    assert(p.contains("script_profile"), p.take(3000))
    assert(!p.contains("regexp_replace"), p.take(3000))
  }

  test("l93: blocklist rule tables broadcast; the URL side never shuffles or sort-merges") {
    val p = planOf("l93_url_blocklist")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l96: repetition signals are projection-only below the sort — no joins, no hash shuffle") {
    val p = planOf("l96_repetition_gopher")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("l97: benchmark grams broadcast; corpus explode never sort-merges") {
    val p = planOf("l97_decontamination")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l98: chunking windows partition by the document id; no joins") {
    val p = planOf("l98_sentence_chunks")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l99: domain stats join shuffled-hash; nothing sort-merges or cartesians") {
    val p = planOf("l99_domain_gate")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l100: percentile rank windows are all (key, bucket)-partitioned; counts broadcast") {
    val p = planOf("l100_percentile_gate")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .map(_.trim.replaceAll("^[:+\\- ]+", "")).toSeq.distinct
    assert(windows.nonEmpty, p.take(3000))
    assert(windows.forall(_.contains("__bkt")), windows.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l101: drift rides one (key, token) agg — totals broadcast, its exchange reused, no Expand") {
    val p = planOf("l101_unigram_drift")
    assert(!p.contains("Expand"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the (key, token) count table feeds both the totals agg and the
    // join probe: the shuffle must be computed once and reused, not
    // re-scanned from parquet
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.split("Scan parquet").length - 1 == 1, p.take(4000))
  }

  test("l102: link graph scans pages once (edge exchange reused); degree join shuffled-hash") {
    val p = planOf("l102_link_graph")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.split("Scan parquet").length - 1 == 1, p.take(4000))
  }

  test("l103: spam-neighborhood BFS plan is checkpoint-flat — no cartesian, no sort-merge") {
    val p = planOf("l103_spam_neighborhood")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l104: robots parse windows partition by host; rule join shuffled-hash; no sort-merge") {
    val p = planOf("l104_robots_compliance")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("host")), p.take(3000))
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("l105: SFT render is one conversation agg — no joins, no windows, no Expand") {
    val p = planOf("l105_sft_render")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("windowspecdefinition"), p.take(3000))
    assert(!p.contains("Expand"), p.take(3000))
  }

  test("l106: calibration is one two-phase agg — partial combine, no joins, no Expand") {
    val p = planOf("l106_calibration")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Expand"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000))
  }

  test("l107: kappa rides three map-side-combined aggs — shuffled-hash joins, no sort-merge, no Expand") {
    val p = planOf("l107_annotator_kappa")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("Expand"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000))
  }

  test("l94: token fertility is one two-phase agg — partial combine, no Expand, one scan") {
    val p = planOf("l94_token_fertility")
    assert(!p.contains("Expand"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000)) // map-side combine
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.split("Scan parquet").length - 1 == 1, p.take(3000))
  }

  /** For each scan of the documents table in a plan's tree string, the
    * operators on its path to the root, nearest first. */
  private def documentScanPaths(plan: String): Seq[Seq[String]] = {
    val lines = plan.linesIterator.toIndexedSeq
    val node = """^([ :]*)[+:]- """.r
    def depth(l: String) = node.findFirstMatchIn(l).fold(0)(_.group(1).length + 1)
    lines.indices.filter(i => lines(i).contains("FileScan") && lines(i).contains("documents"))
      .map { i =>
        lines.take(i).reverseIterator.foldLeft((depth(lines(i)), Vector.empty[String])) {
          case ((d, path), l) if depth(l) < d => (depth(l), path :+ l.trim)
          case (acc, _) => acc
        }._2
      }
  }

  private def roundRobins(path: Seq[String]) = path.count(_.contains("RoundRobinPartitioning"))

  test("codec legs: each single-leg decoder fans out once below its codec; l130's union legs never") {
    // a lost fan-out runs the whole corpus's construct + decode on one
    // core (l136: 19.4 s vs 2.4 s at sf0.1); a fan-out under l130's union
    // legs measured 10.3 s against 4.5 s
    val singleLeg = Seq("l121_pdf_roundtrip", "l122_docx_roundtrip", "l124_epub_roundtrip",
      "l125_pdf_objstm_roundtrip", "l128_image_roundtrip", "l129_pdf_cmap_roundtrip",
      "l131_xlsx_roundtrip", "l132_pptx_roundtrip", "l133_pdf_filterchain_roundtrip",
      "l134_odt_roundtrip", "l135_wet_ingest", "l136_pdf_encrypted_roundtrip",
      "l137_doc_roundtrip", "l138_pdf_differences_roundtrip", "l140_warc_revisit_fold",
      "l141_xls_roundtrip", "l142_rtf_roundtrip", "l143_ppt_roundtrip", "l144_ole_meta",
      "l145_tar_ingest", "l146_pdf_base_encoding", "l147_zip_ingest", "l151_7z_ingest")
    singleLeg.foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      val paths = documentScanPaths(p)
      assert(paths.nonEmpty, s"$q: no documents scan\n" + p.take(3000))
      paths.foreach { path =>
        assert(roundRobins(path) == 1, s"$q: ${roundRobins(path)} round-robin exchanges\n" + p.take(3000))
        val above = path.dropWhile(!_.contains("RoundRobinPartitioning")).tail
        assert(above.exists(_.contains("MapPartitions")), s"$q: no codec above the fan-out\n" + p.take(3000))
      }
    }
    // l130 materializes its eleven legs while it is built: read the plan
    // of that localCheckpoint (listener events arrive asynchronously)
    val checkpointed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpointed.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("l130_mixed_cascade")(spark, sf)
      def legs = checkpointed.toArray.toSeq.map(_.toString).find(documentScanPaths(_).size >= 11)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (legs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val p = legs.getOrElse(fail(s"no plan of the eleven legs among ${checkpointed.size}"))
      documentScanPaths(p).foreach { path =>
        assert(roundRobins(path) == 0, "l130 fans out a union leg\n" + p.take(3000))
        assert(path.exists(_.contains("MapPartitions")), "l130 leg without a codec\n" + p.take(3000))
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
