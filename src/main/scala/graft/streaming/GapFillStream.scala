package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Streaming time-series gap fill — the streaming twin of
 * [[graft.operators.Windows.gapFillCumulative]], and the one member of
 * the family a batch engine cannot express at all: it EMITS rows for
 * buckets in which nothing arrived. A dashboard shows the zero, an
 * alerting rule fires on the silence — both need the row to exist.
 *
 * Semantics: per key, one output row per `bucketSec` bucket from the
 * key's first event bucket onward — (key, bucket, n_events,
 * cum_events) — emitted when the watermark passes the bucket's end, in
 * bucket order, zero-count buckets included. The emitted prefix is
 * row-identical to the batch operator over the same data (proven in
 * GapFillStreamSpec), and past the key's last event the stream keeps
 * emitting zero rows until `idleTimeoutBuckets` consecutive zeros
 * retire the key (releasing all its state) — silence is data, but
 * unbounded silence must not be unbounded state. A RETIRED key that
 * receives new data starts a FRESH series (cum restarts at zero from
 * the new first bucket): retirement is end-of-series, not a pause;
 * callers wanting one unbroken series across long silences set
 * `idleTimeoutBuckets` ≤ 0 and accept the standing zero emission.
 *
 * Scale shape: state per key = the running (nextBucket, cum, zeroRun)
 * counters plus pending counts for buckets the watermark has not
 * passed — bounded by the watermark delay ÷ bucketSec, NOT by history.
 * One `flatMapGroupsWithState` event-time timeout per key, re-armed at
 * each bucket boundary around the pure [[absorb]]/[[release]] core.
 */
object GapFillStream {

  /** Per-key state: first unemitted bucket, cumulative emitted count,
    * consecutive-zero run, and counts for not-yet-released buckets. */
  final case class GapState(next: Long, cum: Long, zeroRun: Long,
                            pending: Map[Long, Long])

  /** Fold arriving bucket indexes into the state. Buckets behind `next`
    * arrive only when the engine let a row lag the watermark past an
    * already-emitted bucket — dropped, matching the watermark
    * contract everywhere else in the streaming layer. */
  def absorb(st: Option[GapState], buckets: Iterator[Long]): Option[GapState] = {
    var s = st
    buckets.foreach { b =>
      s match {
        case None =>
          s = Some(GapState(b, 0L, 0L, Map(b -> 1L)))
        case Some(g) if b >= g.next =>
          s = Some(g.copy(pending = g.pending.updated(b, g.pending.getOrElse(b, 0L) + 1L)))
        case _ => // late beyond an emitted bucket: dropped
      }
    }
    s
  }

  /** Emit every bucket whose end the watermark has passed, in order;
    * returns the rows and the surviving state (None = key retired after
    * `idleMax` consecutive zero buckets with nothing pending). */
  def release(g: GapState, watermarkMs: Long, bucketMs: Long,
              idleMax: Long): (Seq[(Long, Long, Long)], Option[GapState]) = {
    val out = Seq.newBuilder[(Long, Long, Long)]
    var s = g
    var retired = false
    while (!retired && (s.next + 1) * bucketMs <= watermarkMs) {
      val n = s.pending.getOrElse(s.next, 0L)
      val cum = s.cum + n
      out += ((s.next, n, cum))
      val zeroRun = if (n == 0L) s.zeroRun + 1 else 0L
      s = GapState(s.next + 1, cum, zeroRun, s.pending - s.next)
      if (idleMax > 0 && zeroRun >= idleMax && s.pending.isEmpty) retired = true
    }
    (out.result(), if (retired) None else Some(s))
  }

  private val outSchema = StructType(Seq(
    StructField("key", StringType), StructField("bucket", LongType),
    StructField("n_events", LongType), StructField("cum_events", LongType)))

  /**
   * Wire the stream: `events` must declare a watermark on `tsCol`.
   * Output: (key, bucket, n_events, cum_events) append stream.
   * `idleTimeoutBuckets` ≤ 0 keeps silent keys alive forever (state is
   * still horizon-bounded, but every key emits a zero row per bucket
   * until the query stops — opt-in).
   */
  def apply(events: DataFrame, keyCol: String, tsCol: String, bucketSec: Long,
            idleTimeoutBuckets: Long = 8L): DataFrame = {
    import org.apache.spark.sql.functions._
    val bucketMs = bucketSec * 1000L
    val idle = idleTimeoutBuckets
    // tsCol stays a top-level attribute: the watermark tag must survive
    // into the stateful stage's input schema (see NearDupState.apply)
    val rows = events.select(col(keyCol).cast("string").as("key"),
      expr(s"unix_timestamp($tsCol) div $bucketSec").as("bucket"), col(tsCol))
    val outEnc = Encoders.row(outSchema)
    implicit val strEnc = Encoders.STRING
    val stEnc = Encoders.kryo[GapState]
    rows.groupByKey((r: Row) => r.getString(0))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[Row], gs: GroupState[GapState]) =>
          if (gs.hasTimedOut) {
            val (out, next) = release(gs.get, gs.getCurrentWatermarkMs(),
              bucketMs, idle)
            next match {
              case Some(g) =>
                gs.update(g)
                gs.setTimeoutTimestamp(math.max((g.next + 1) * bucketMs,
                  gs.getCurrentWatermarkMs() + 1))
              case None => gs.remove()
            }
            out.iterator.map { case (b, n, c) => Row(key, b, n, c) }
          } else {
            val prev = if (gs.exists) Some(gs.get) else None
            absorb(prev, it.map(_.getLong(1))).foreach { g =>
              gs.update(g)
              // re-arm on EVERY invocation (Spark clears a group's
              // timeout whenever its function fires)
              gs.setTimeoutTimestamp(math.max((g.next + 1) * bucketMs,
                gs.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty[Row]
          }
      }(stEnc, outEnc)
  }
}
