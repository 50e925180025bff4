package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoders, Row}
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
 * stream length. The pure [[merge]]/[[closeWindow]] core runs on the
 * [[WatermarkKernel]], one body for the exact and the approximate state.
 *
 * THROUGHPUT: state is keyed by `(window_start, shard)` with `shard =
 * pmod(hash(token), shards)`: with hourly windows only 1-2 windows are
 * open, and a window-only key would funnel the whole live token stream
 * through one or two tasks. Sharding stays EXACT — tokens partition
 * disjointly, so per-shard counts are the true counts and the global
 * top-k is contained in the union of the per-shard top-k's, which each
 * shard emits at close (k·shards candidate rows per window);
 * [[resolveCandidates]] takes the final k downstream. `shards = 1` (the
 * default) emits the final top-k itself, rank included — TopKStreamSpec
 * pins it row-identical to the batch tumbling + top-k composition.
 *
 * Late rows: Spark drops rows at or behind the watermark before the
 * stateful stage, so a straggler for a closed and emitted window cannot
 * revive it (a window closes only once the watermark reaches its end).
 * A row with a null event time belongs to no window and is dropped
 * before the stateful stage.
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
   * Approximate per-window state for extreme per-window cardinality: a
   * count-min sketch (d rows × w counters) plus a CANDIDATE map capped
   * at `cap` entries, each arriving token entering it at its current
   * CMS estimate (sketch + heap heavy hitters). State per open window is
   * d·w + cap whatever the token cardinality. CMS never underestimates,
   * so a miss needs `cap − cap/4` distinct tokens with higher estimates,
   * impossible for a token above that rank's true frequency plus the
   * CMS error εN. Seeds are FIXED, so emissions are deterministic.
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

  def cmsEmpty(w: Int): CmsState = CmsState(Vector.fill(CmsD * w)(0L), Map.empty)

  /**
   * Fold a batch of tokens into the sketch + capped candidate map. The
   * grid copies to an Array once per call, and eviction drops to
   * `cap − cap/4`, not `cap`, so the O(cap log cap) sort runs once per
   * cap/4 new tokens instead of per token. The kept set is deterministic
   * ((-est, token) order); an evicted token that re-arrives re-enters at
   * its CMS estimate, which includes its earlier counts.
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
             shards: Int = 1): DataFrame =
    topK[CmsState](events, tsCol, tokenCol, windowSec, k, shards, cmsEmpty(w),
      mergeApprox(_, _, w, cap), _.candidates)

  /**
   * Wire the stream: `events` must declare a watermark on `tsCol`.
   * `window_start` is the tumbling window's start in epoch MICROS
   * (µs-portable, the SessionBounds convention). With `shards > 1`,
   * output rows are per-shard candidates — pipe through
   * [[resolveCandidates]] for the final k.
   */
  def apply(events: DataFrame, tsCol: String, tokenCol: String,
            windowSec: Long, k: Int, shards: Int = 1): DataFrame =
    topK[Map[String, Long]](events, tsCol, tokenCol, windowSec, k, shards, Map.empty,
      merge, identity)

  /** The one body: per (window_start, shard) key, `add` folds the tokens
    * into the state from `empty`, and the window's top-k of `counts` is
    * emitted when the watermark reaches its end. */
  private def topK[S: ClassTag](events: DataFrame, tsCol: String, tokenCol: String,
      windowSec: Long, k: Int, shards: Int, empty: => S, add: (S, Iterator[String]) => S,
      counts: S => Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val windowMs = windowSec * 1000L
    val rows = events.filter(col(tsCol).isNotNull).select(
      (expr(s"unix_timestamp($tsCol) div $windowSec") * lit(windowSec * 1000000L))
        .as("window_start"),
      pmod(hash(col(tokenCol).cast("string")), lit(shards)).cast("int").as("shard"),
      col(tokenCol).cast("string").as("token"), col(tsCol))
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)
    implicit val outEnc = Encoders.row(outSchema)
    WatermarkKernel(rows.groupByKey((r: Row) => (r.getLong(0), r.getInt(1))))(
      (_: (Long, Int), st: Option[S], it: Iterator[Row]) =>
        (Some(add(st.getOrElse(empty), it.map(_.getString(2)))), Iterator.empty[Row]),
      (key: (Long, Int), s: S, wm: Long) => release(key._1, s, wm, windowMs, k, counts),
      (key: (Long, Int), _: S) => nextClose(key._1, windowMs))
  }

  /** Emit the window's top-k and drop its state once the watermark
    * reaches the window's end. */
  private[streaming] def release[S](windowStart: Long, s: S, wmMs: Long, windowMs: Long,
      k: Int, counts: S => Map[String, Long]): (Option[S], Iterator[Row]) =
    if (wmMs < nextClose(windowStart, windowMs)) (Some(s), Iterator.empty)
    else (None, closeWindow(counts(s), k).iterator.map { case (t, c, r) => Row(windowStart, t, c, r) })

  /** The window's end (ms), where [[release]] closes it. */
  private[streaming] def nextClose(windowStart: Long, windowMs: Long): Long =
    windowStart / 1000L + windowMs
}
