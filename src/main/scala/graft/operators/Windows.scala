package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/**
 * Fixed (tumbling) and sliding event-time windows — extensions beyond the
 * reference, which implements session windows only (SURVEY.md §2.2).
 * Native `window()`: the assignment is a generated column, the
 * aggregation partial-aggregates before its one shuffle, and the same
 * expression works in Structured Streaming with a watermark.
 */
object Windows {

  /** Per-key tumbling windows of `size`; exposes `w_start`. */
  def tumbling(df: DataFrame, tsCol: String, keyCol: String, size: String,
               aggs: Seq[Column]): DataFrame =
    df.groupBy(col(keyCol), window(col(tsCol), size))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", col("window.start"))
      .drop("window")

  /** Per-key sliding windows (`size` every `slide`); an event lands in
    * size/slide windows — the explode happens inside Spark's window
    * generator, pre-shuffle. */
  def sliding(df: DataFrame, tsCol: String, keyCol: String, size: String,
              slide: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(col(keyCol), window(col(tsCol), size, slide))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", col("window.start"))
      .drop("window")

  /**
   * Scalable per-group running SUM — the t18 two-pass prefix-offset
   * pattern (TamarQueries.scala t18_global_state_scalable) generalized.
   *
   * A plain `sum(v).over(Window.partitionBy(group).orderBy(order))`
   * caps parallelism at the number of groups: with O(10) sources each
   * task sequentially scans its source's whole corpus (~5 TB/task at
   * 100 TB). Here the heavy data instead shuffles on (group, bucket):
   *
   *   1. per-(group, bucket) value sums — one partial-aggregated shuffle
   *      over a TINY relation (one row per bucket);
   *   2. prefix offsets per group via a triangular join over that tiny
   *      relation (broadcast NLJ — never touches the heavy side);
   *   3. running sum WITHIN each (group, bucket) plus the bucket's
   *      offset — parallelism = #groups × #buckets.
   *
   * Output is bit-identical to the single-window form PROVIDED
   * `bucketExpr` is monotone non-decreasing in the intra-group
   * `orderCols` ordering (then (group, bucket, order) order ==
   * (group, order) order). Rows with equal full ordering keys must land
   * in the same bucket — guaranteed when the bucket is a function of a
   * prefix of the ordering key (floor(id/W), a leading substring, …).
   *
   * With `valueCol = lit(1L)` this is a scalable per-group
   * ROW_NUMBER/rank (ties impossible only if orderCols are unique —
   * same caveat as row_number itself).
   *
   * Returns `df` plus `out` = inclusive running sum; subtract the row's
   * own value at the call site for the exclusive form.
   */
  def runningSumScalable(df: DataFrame, groupCols: Seq[String],
                         bucketExpr: Column, orderCols: Seq[Column],
                         valueCol: Column, out: String): DataFrame = {
    val d = df.withColumn("__bkt", bucketExpr).withColumn("__v", valueCol)
    val gb = groupCols.map(col) :+ col("__bkt")
    val sums = d.groupBy(gb: _*).agg(sum(col("__v")).as("__c"))
    val tri = groupCols.map(g => col(s"a.$g") === col(s"b.$g"))
      .foldLeft(col("b.__bkt") < col("a.__bkt"))(_ && _)
    val offsets = sums.as("a")
      .join(sums.as("b"), tri, "left")
      .groupBy(groupCols.map(g => col(s"a.$g").as(g)) :+ col("a.__bkt").as("__bkt"): _*)
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gb: _*).orderBy(orderCols: _*)
    d.join(broadcast(offsets), groupCols :+ "__bkt")
      .withColumn(out, col("__off") + sum(col("__v")).over(w))
      .select(df.columns.map(col) :+ col(out): _*) // input schema + out, bit-compatible with the window form
  }

  /**
   * [[runningSumScalable]] for UNBOUNDED bucket counts: identical
   * semantics and contract, but the per-group prefix offsets come from a
   * per-group running-sum window over the (group, bucket) sums table
   * instead of the triangular self-join. The join is O(buckets²) per
   * group — the right shape when buckets are bounded by construction
   * (the md5-prefix forms: ≤256 forever) and exactly wrong when the
   * bucket is a TIME chunk whose count grows with the data's span
   * (r23's first cut measured 21.7× at the 10× along-time probe on that
   * shape). The offsets window here partitions by group over the
   * CHUNK-LEVEL table — span-bounded (a 10-year hourly spine at daily
   * chunks is ~3,650 rows per group), never row-scale, so the
   * single-task-per-group hazard this family exists to avoid does not
   * apply.
   */
  def runningSumChunked(df: DataFrame, groupCols: Seq[String],
                        bucketExpr: Column, orderCols: Seq[Column],
                        valueCol: Column, out: String): DataFrame = {
    val d = df.withColumn("__bkt", bucketExpr).withColumn("__v", valueCol)
    val gb = groupCols.map(col) :+ col("__bkt")
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("__bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // internal alias must not shadow a CALLER's group-column name
    // (a groupCol literally named "__c" made the offsets select
    // ambiguous — found by packWholeDocs)
    val offsets = d.groupBy(gb: _*).agg(sum(col("__v")).as("__bktsum"))
      .select((groupCols.map(col) :+ col("__bkt")) :+
        coalesce(sum(col("__bktsum")).over(wOff), lit(0L)).as("__off"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gb: _*).orderBy(orderCols: _*)
    d.join(offsets.hint("shuffle_hash"), groupCols :+ "__bkt")
      .withColumn(out, col("__off") + sum(col("__v")).over(w))
      .select(df.columns.map(col) :+ col(out): _*)
  }

  /**
   * Two-phase sliding COUNT/SUM: first aggregate per slide-grain tumbling
   * bucket (shuffle carries ONE row per event, already combined
   * map-side), then expand each bucket into the size/slide windows that
   * cover it and re-aggregate the (tiny) pre-aggregated rows.
   *
   * Shuffle volume vs. the direct form: the window generator replicates
   * every EVENT size/slide times before the exchange; here replication
   * happens after reduction, on bucket rows — at 100 TB with size/slide=k
   * that is k× less shuffled data, bounded instead by key×bucket
   * cardinality. Valid for any commutative monoid (count/sum/min/max).
   * Equivalent to [[sliding]] — proven in SkewAndWindowSpec.
   */
  def slidingCountTwoPhase(df: DataFrame, tsCol: String, keyCol: String,
                           sizeSec: Long, slideSec: Long): DataFrame = {
    require(sizeSec % slideSec == 0, "size must be a multiple of slide")
    val k = (sizeSec / slideSec).toInt
    val bucket = (unix_timestamp(col(tsCol)) / slideSec).cast("long") // floor
    val pre = df.groupBy(col(keyCol), bucket.as("__b"))
      .agg(count(lit(1)).as("__n"))
    // bucket b contributes to windows starting at (b-i)*slide, i in [0,k)
    pre.select(col(keyCol), col("__n"),
        explode(sequence(col("__b") - (k - 1), col("__b"))).as("__w"))
      .groupBy(col(keyCol), col("__w"))
      .agg(sum(col("__n")).as("n"))
      .withColumn("w_start", timestamp_seconds(col("__w") * slideSec))
      .drop("__w")
  }

  /**
   * Scalable per-key top-k: the k first rows per `keyCols` group in
   * `orderCols` order, without the single-task-per-group hazard of a
   * plain `row_number().over(partitionBy(key))` — with O(10) strata at
   * 100 TB that window is O(10) tasks, each sorting a multi-TB slice
   * (the same cap [[runningSumScalable]] removes for running sums).
   *
   * Two-level selection instead: rows first compete inside (key, salt)
   * sub-groups — `salt` is any deterministic per-row expression in
   * [0, salts) — so the heavy sort runs at #keys × #salts parallelism;
   * only each sub-group's top k (≤ k·salts rows per key, a bounded
   * relation) reach the final per-key window. The global per-key top-k
   * is contained in the union of the per-salt top-k's, so the output is
   * IDENTICAL to the single-window form (SkewAndWindowSpec proves it).
   * `out` receives the final 1-based rank in `orderCols` order.
   *
   * `orderCols` must be a total order (include a unique tiebreaker) or
   * the selected set is nondeterministic — row_number's own caveat.
   */
  def topKPerKeyScalable(df: DataFrame, keyCols: Seq[String],
                         orderCols: Seq[Column], k: Int, salt: Column,
                         out: String): DataFrame = {
    val d = df.withColumn("__salt", salt)
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col) :+ col("__salt"): _*).orderBy(orderCols: _*)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    d.withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn(out, row_number().over(w2)).filter(col(out) <= k)
      .select(df.columns.map(col) :+ col(out): _*)
  }

  /**
   * Time-series gap fill + cumulative resample: per key, one row per
   * `bucketSec`-sized time bucket from the key's first to last event —
   * missing buckets filled with zero — with the per-bucket event count
   * and the running cumulative count (the step function a dashboard or
   * downstream as-of join samples). Standard dense-resample shape SQL
   * engines lack a primitive for.
   *
   * Plan: one (key, bucket) count agg (map-side combined, THE scale
   * shuffle); the per-key bucket spine derives from that agg's min/max
   * (exchange-reused, spine rows = key's time span — arithmetic
   * `sequence` explode, never a calendar cross join); counts hash-join
   * back onto the spine; the cumulative sum runs in the two-pass
   * [[runningSumChunked]] form chunked by `bucketsPerChunk` buckets
   * (chunk index = bucket div chunk — a prefix of the order key,
   * monotone per key), so no key's full history ever sorts in one task
   * and the chunk-offset pass is a span-bounded per-key window, not the
   * triangular join (time-chunk counts grow with the span). Bucket
   * index is integer `div` of epoch seconds — identical floor
   * arithmetic in Spark and DuckDB.
   */
  /**
   * Linear-interpolation resample — [[gapFillCumulative]]'s numeric
   * twin: per key, one row per `bucketSec` bucket from first to last
   * measurement; measured buckets carry their mean value, gap buckets
   * carry the straight line between the nearest measured neighbors
   * (every gap is interior by construction — the spine's endpoints are
   * measured — so no boundary policy is needed).
   *
   * Scale shape: the LOCF/NOCB neighbor search never sorts a key's full
   * history in one task. Each bucket finds its neighbors within its
   * `bucketsPerChunk`-sized chunk via two (key, chunk)-partitioned
   * windows; buckets whose chunk holds no earlier (resp. later)
   * measurement fall back to a chunk-level carry table — per-chunk
   * first/last measured (bucket, value) structs with per-key running
   * max/min windows over the span-bounded chunk table (the
   * [[runningSumChunked]] offsets shape; chunk count per key =
   * span/chunk, orders of magnitude below row count).
   *
   * Determinism: measured means quantize to exact integer micro-units
   * (Σ floor(v·10⁶) — the t22 convention) and every downstream value is
   * the same IEEE double expression tree in Spark and the DuckDB
   * oracle, so `v_fill` is bit-identical across engines. It is emitted
   * UNROUNDED: a decimal rounding here would sit on the engines'
   * half-up-vs-half-even tie boundary (interpolating 6-dp values
   * produces exact midpoints — 19 such rows at sf0.01); the declared
   * r23 query projects `floor(v_fill·10⁶ + 0.5)` instead, the l49
   * integer-sufficient-statistic pattern with no rounding boundary at
   * all. Output: keyCol, bucket, `measured` 0/1, `v_fill` (double).
   */
  def gapFillInterpolate(events: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, bucketSec: Long,
                         bucketsPerChunk: Long = 24L): DataFrame = {
    val mStruct = struct(col("bucket").as("b"), col("__v").as("v"))
    // measured feeds FOUR consumers (spine, the spine join, chunkAgg,
    // spineChunks) — unmaterialized each replays the events scan + the
    // (key, bucket) agg (8 parquet scans in the r23 before-plan; guide
    // §3.3). The frame is one slim row per measured (key, bucket) —
    // orders of magnitude below event rows.
    val measured = Materialize(events
      .select(col(keyCol), expr(s"unix_timestamp($tsCol) div $bucketSec").as("bucket"),
        expr(s"CAST(floor($valueCol * 1000000) AS BIGINT)").as("__m"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("__m")).as("__s"), count(lit(1)).as("__n"))
      .select(col(keyCol), col("bucket"),
        (col("__s").cast("double") / col("__n") / lit(1000000.0)).as("__v")),
      "Windows.gapFillInterpolate")
    val spine = measured.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(keyCol), explode(sequence(col("__lo"), col("__hi"))).as("bucket"))
    val chunk = expr(s"bucket div $bucketsPerChunk")
    val joined = spine
      .join(measured.hint("shuffle_hash"), Seq(keyCol, "bucket"), "left")
      .withColumn("__chunk", chunk)
    // within-chunk neighbors: (key, chunk)-partitioned windows, so the
    // per-task sort is bounded by the chunk width
    val pv = when(col("__v").isNotNull, mStruct)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), col("__chunk")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wNext = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), col("__chunk")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val within = joined
      .withColumn("__pin", last(pv, ignoreNulls = true).over(wPrev))
      .withColumn("__nin", first(pv, ignoreNulls = true).over(wNext))
    // chunk-level carry: per measured chunk its first/last measurement,
    // then per-key running max/min over strictly-earlier/-later CHUNKS.
    // These per-key windows run over the CHUNK table — span-bounded
    // (#buckets / bucketsPerChunk rows per key: a 10-year hourly spine
    // at daily chunks is ~3,650 rows), never row-scale, so the
    // single-task-per-key hazard the chunked windows above avoid does
    // not apply; a triangular offsets join here would instead be
    // O(chunks²) per key — measured 21.7× at the 10× along-time probe
    // before this form replaced it.
    val chunkAgg = measured.withColumn("__chunk", chunk)
      .groupBy(col(keyCol), col("__chunk"))
      .agg(max(mStruct).as("__last"), min(mStruct).as("__first"))
    val spineChunks = measured.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(keyCol), explode(sequence(
        expr(s"__lo div $bucketsPerChunk"),
        expr(s"__hi div $bucketsPerChunk"))).as("__chunk"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__chunk"))
    val carries = spineChunks
      .join(chunkAgg.hint("shuffle_hash"), Seq(keyCol, "__chunk"), "left")
      .select(col(keyCol), col("__chunk"),
        max(col("__last")).over(wk.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
          .as("__cprev"),
        min(col("__first")).over(wk.rowsBetween(1,
          org.apache.spark.sql.expressions.Window.unboundedFollowing))
          .as("__cnext"))
    val p = coalesce(col("__pin"), col("__cprev"))
    val n = coalesce(col("__nin"), col("__cnext"))
    within
      .join(carries.hint("shuffle_hash"), Seq(keyCol, "__chunk"), "left")
      .select(col(keyCol), col("bucket"),
        when(col("__v").isNotNull, 1L).otherwise(0L).as("measured"),
        when(col("__v").isNotNull, col("__v"))
          .otherwise(p.getField("v") + (n.getField("v") - p.getField("v")) *
            ((col("bucket") - p.getField("b")).cast("double") /
              (n.getField("b") - p.getField("b")).cast("double"))).as("v_fill"))
  }

  def gapFillCumulative(events: DataFrame, keyCol: String, tsCol: String,
                        bucketSec: Long, bucketsPerChunk: Long = 24L): DataFrame = {
    // counts feeds the spine AND the spine join (and `filled` feeds
    // runningSumChunked twice) — materialize the slim per-(key, bucket)
    // agg so no consumer replays the events scan (guide §3.3)
    val counts = Materialize(events
      .select(col(keyCol), expr(s"unix_timestamp($tsCol) div $bucketSec").as("bucket"))
      .groupBy(col(keyCol), col("bucket")).agg(count(lit(1)).as("n_events")),
      "Windows.gapFillCumulative")
    val spine = counts.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(keyCol), explode(sequence(col("__lo"), col("__hi"))).as("bucket"))
    val filled = spine
      .join(counts.hint("shuffle_hash"), Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    runningSumChunked(filled, Seq(keyCol),
        expr(s"bucket div $bucketsPerChunk"), Seq(col("bucket")),
        col("n_events"), "cum_events")
      .select(col(keyCol), col("bucket"), col("n_events"), col("cum_events"))
  }
}
