package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Streaming per-window top-k ("trending tokens"): exact top-k values by
 * count within each tumbling event-time window, emitted once when the
 * watermark closes the window — the trending-detection surface a batch
 * engine only gets after the fact.
 *
 * Why ONE stateful stage: the natural two-stage form (windowed count
 * aggregation → per-window top-k) is illegal in Spark — a
 * group-with-state operator cannot follow an aggregation in append
 * mode — so the counts live in this operator's own keyed state. That is
 * also the honest cost statement: exact streaming top-k holds the full
 * value-count map per OPEN window; state is bounded by (values per
 * window) × (open windows per key horizon), evicted at close, NOT by
 * stream length. The [[GapFillStream]] conventions apply: pure
 * [[merge]]/[[closeWindow]] core, `flatMapGroupsWithState` with an
 * event-time timeout re-armed on every invocation.
 *
 * THROUGHPUT: state is keyed by `(window_start, shard)` where
 * `shard = pmod(hash(token), shards)` — with hourly windows there are
 * only 1-2 open windows at any moment, so a window-only key would
 * funnel the ENTIRE live token stream through one or two state
 * partitions (one task absorbs the full ingest rate). Sharding the key
 * splits that hot window across `shards` tasks while staying EXACT:
 * the token→shard assignment partitions tokens disjointly, so each
 * token's full in-window count lives in exactly one shard, per-shard
 * counts are the true counts, and the global top-k is contained in the
 * union of per-shard top-k's. Each shard emits its own top-k at close
 * (k·shards candidate rows per window — tiny); [[resolveCandidates]]
 * takes the final k downstream (a trailing batch query or
 * foreachBatch). `shards = 1` (the default) reproduces the original
 * single-key behavior exactly: one candidate set per window IS the
 * final top-k, rank included — TopKStreamSpec pins it row-identical to
 * the batch tumbling + top-k composition.
 *
 * Late rows: group-with-state operators do NOT pre-filter rows behind
 * the watermark, so a straggler for an already-closed-and-emitted
 * window would silently recreate state and later emit a second,
 * partial top-k for the same window. The operator guards: a row whose
 * window has no live state AND whose window end is at or below the
 * current watermark is dropped (the standard beyond-lateness-drop
 * semantics; mirrors GapFillStream's retired-key contract). A late row
 * for a STILL-OPEN window merges normally.
 *
 * Output: (window_start µs, token, cnt, rank 1..k), ties broken by
 * token ascending — a total order, so emissions are deterministic.
 * With `shards > 1` the rank is shard-local (candidate order); the
 * resolver reassigns the global rank.
 */
object TopKStream {

  /** Fold a batch of tokens into the window's count map. */
  def merge(counts: Map[String, Long], tokens: Iterator[String]): Map[String, Long] =
    tokens.foldLeft(counts)((m, t) => m.updated(t, m.getOrElse(t, 0L) + 1L))

  /**
   * Approximate per-window state — the documented swap for extreme
   * per-window cardinality: a count-min sketch (d rows × w counters,
   * integer-exact updates) plus a CANDIDATE map capped at `cap`
   * entries. Every arriving token updates the sketch and enters the
   * candidate map at its current CMS estimate; when the map exceeds
   * `cap`, the smallest-estimate entries are dropped (classic
   * sketch + heap heavy hitters). State per open window is
   * d·w + cap regardless of token cardinality. CMS never
   * underestimates, so a true heavy hitter's estimate always reaches
   * the candidate bar — misses need `cap − cap/4` distinct tokens with
   * higher estimates, impossible for a token above that rank's true
   * frequency plus the CMS error εN. Seeds are FIXED — emissions stay
   * deterministic for a given input multiset.
   */
  final case class CmsState(grid: Vector[Long], candidates: Map[String, Long])

  private val CmsD = 4
  private val CmsSeeds = Vector(0x9E3779B97F4A7C15L, 0xC2B2AE3D27D4EB4FL,
    0x165667B19E3779F9L, 0x27D4EB2F165667C5L)

  private def cmsSlot(token: String, row: Int, w: Int): Int = {
    // splitmix-style scramble of the string hash — independent rows
    var h = token.hashCode.toLong ^ CmsSeeds(row)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    (((h ^ (h >>> 31)) % w + w) % w).toInt
  }

  def cmsEmpty(w: Int): CmsState =
    CmsState(Vector.fill(CmsD * w)(0L), Map.empty)

  /**
   * Fold a batch of tokens into the sketch + capped candidate map.
   * The grid copies to a mutable Array ONCE per invocation (not 4
   * Vector rebuilds per token), and eviction drops to `cap − cap/4`
   * rather than exactly `cap`: at capacity every unseen token would
   * otherwise trigger a full O(cap log cap) sort — with the slack the
   * sort runs once per cap/4 new tokens, amortizing to O(log cap) per
   * token in exactly the extreme-cardinality regime this operator
   * exists for. The kept set stays deterministic (total (-est, token)
   * order), and an evicted token that re-arrives re-enters at its
   * current CMS estimate, which already includes its earlier counts.
   */
  def mergeApprox(st: CmsState, tokens: Iterator[String], w: Int, cap: Int): CmsState = {
    val grid = st.grid.toArray
    var cand = st.candidates
    val low = math.max(1, cap - cap / 4)
    tokens.foreach { t =>
      var est = Long.MaxValue
      var r = 0
      while (r < CmsD) {
        val i = r * w + cmsSlot(t, r, w)
        val v = grid(i) + 1L
        grid(i) = v
        if (v < est) est = v
        r += 1
      }
      cand = cand.updated(t, est)
      if (cand.size > cap)
        cand = cand.toSeq.sortBy { case (tok, c) => (-c, tok) }.take(low).toMap
    }
    CmsState(grid.toVector, cand)
  }

  /** Top-k of a closed approximate window: estimate desc, token asc. */
  def closeWindowApprox(st: CmsState, k: Int): Seq[(String, Long, Long)] =
    st.candidates.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
      .zipWithIndex.map { case ((t, c), i) => (t, c, i + 1L) }

  /** Top-k rows of a closed window: count desc, token asc, rank 1..k. */
  def closeWindow(counts: Map[String, Long], k: Int): Seq[(String, Long, Long)] =
    counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
      .zipWithIndex.map { case ((t, c), i) => (t, c, i + 1L) }

  private val outSchema = StructType(Seq(
    StructField("window_start", LongType), StructField("token", StringType),
    StructField("cnt", LongType), StructField("rank", LongType)))

  /**
   * Global top-k from the union of per-shard candidates (batch; run it
   * over the candidate sink or inside foreachBatch). Exact because the
   * token→shard assignment is a partition of the token space — every
   * candidate row carries its token's TRUE in-window count, and any
   * token in the global top-k is necessarily in its own shard's top-k.
   * Inputs are tiny (k·shards rows per window), but the salted
   * two-level form is kept anyway so even a pathological shard count
   * never single-tasks a window.
   */
  def resolveCandidates(candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Windows.topKPerKeyScalable(
        candidates.select(col("window_start"), col("token"), col("cnt")),
        Seq("window_start"), Seq(col("cnt").desc, col("token")), k,
        substring(md5(col("token")), 1, 1), "rank")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** (window_start µs, shard, token, event-time) input projection. */
  private def project(events: DataFrame, tsCol: String, tokenCol: String,
                      windowSec: Long, shards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    events.select(
      (expr(s"unix_timestamp($tsCol) div $windowSec") * lit(windowSec * 1000000L))
        .as("window_start"),
      pmod(hash(col(tokenCol).cast("string")), lit(shards)).cast("int").as("shard"),
      col(tokenCol).cast("string").as("token"), col(tsCol))
  }

  private def keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)
  private def keyOf(r: Row): (Long, Int) = (r.getLong(0), r.getInt(1))

  /**
   * Approximate variant of [[apply]] — same output schema and close
   * semantics, `cnt` is the CMS estimate (never an underestimate).
   * State per (window, shard) is d·w + cap integers/entries regardless
   * of token cardinality — the extreme-cardinality regime where the
   * exact map outgrows the store. Sharding additionally SHARPENS the
   * sketch: each shard sees only its tokens, so the εN error term
   * scales with the shard's mass, not the window's.
   */
  def approx(events: DataFrame, tsCol: String, tokenCol: String,
             windowSec: Long, k: Int, w: Int = 1024, cap: Int = 256,
             shards: Int = 1): DataFrame = {
    val windowMs = windowSec * 1000L
    val (kk, ww, cc) = (k, w, cap)
    val rows = project(events, tsCol, tokenCol, windowSec, shards)
    val outEnc = Encoders.row(outSchema)
    implicit val ke = keyEnc
    val stEnc = Encoders.kryo[CmsState]
    rows.groupByKey(keyOf _)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Int), it: Iterator[Row], gs: GroupState[CmsState]) =>
          if (gs.hasTimedOut) {
            val st = gs.get
            gs.remove()
            closeWindowApprox(st, kk).iterator.map { case (t, c, r) => Row(key._1, t, c, r) }
          } else if (!gs.exists &&
              key._1 / 1000L + windowMs <= gs.getCurrentWatermarkMs()) {
            Iterator.empty[Row] // late-row guard: closed window, no revival
          } else {
            val merged = mergeApprox(if (gs.exists) gs.get else cmsEmpty(ww),
              it.map(_.getString(2)), ww, cc)
            gs.update(merged)
            gs.setTimeoutTimestamp(math.max(key._1 / 1000L + windowMs,
              gs.getCurrentWatermarkMs() + 1))
            Iterator.empty[Row]
          }
      }(stEnc, outEnc)
  }

  /**
   * Wire the stream: `events` must declare a watermark on `tsCol`.
   * `window_start` is the tumbling window's start in epoch MICROS
   * (µs-portable, the SessionBounds convention). With `shards > 1`,
   * output rows are per-shard candidates — pipe through
   * [[resolveCandidates]] for the final k.
   */
  def apply(events: DataFrame, tsCol: String, tokenCol: String,
            windowSec: Long, k: Int, shards: Int = 1): DataFrame = {
    val windowMs = windowSec * 1000L
    val kk = k
    val rows = project(events, tsCol, tokenCol, windowSec, shards)
    val outEnc = Encoders.row(outSchema)
    implicit val ke = keyEnc
    val stEnc = Encoders.kryo[Map[String, Long]]
    rows.groupByKey(keyOf _)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Int), it: Iterator[Row], gs: GroupState[Map[String, Long]]) =>
          if (gs.hasTimedOut) {
            val counts = gs.get
            gs.remove()
            closeWindow(counts, kk).iterator.map { case (t, c, r) => Row(key._1, t, c, r) }
          } else if (!gs.exists &&
              key._1 / 1000L + windowMs <= gs.getCurrentWatermarkMs()) {
            Iterator.empty[Row] // late-row guard: closed window, no revival
          } else {
            val merged = merge(if (gs.exists) gs.get else Map.empty,
              it.map(_.getString(2)))
            gs.update(merged)
            // re-arm on EVERY invocation (Spark clears a group's timeout
            // whenever its function fires)
            gs.setTimeoutTimestamp(math.max(key._1 / 1000L + windowMs,
              gs.getCurrentWatermarkMs() + 1))
            Iterator.empty[Row]
          }
      }(stEnc, outEnc)
  }
}
