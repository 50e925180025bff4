package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
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
 * The bound holds in every micro-batch: the pure [[absorb]]/[[release]]
 * core runs on the [[WatermarkKernel]], which releases a key on every
 * call, so a key with data in every batch emits its closed buckets as
 * the watermark passes them, not only once its data stops. A row with a
 * null event time belongs to no bucket and is dropped before the
 * stateful stage.
 */
object GapFillStream {

  /** Per-key state: first unemitted bucket, cumulative emitted count,
    * consecutive-zero run, and counts for not-yet-released buckets. */
  final case class GapState(next: Long, cum: Long, zeroRun: Long,
                            pending: Map[Long, Long])

  /** Fold arriving bucket indexes into the state. A bucket behind `next`
    * is already emitted and is dropped; in a stream none arrives, since
    * Spark drops rows at or behind the watermark first. */
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

  /** The first watermark (ms) at which [[release]] emits: the end of bucket `next`. */
  def nextClose(g: GapState, bucketMs: Long): Long = (g.next + 1) * bucketMs

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
    val rows = events.filter(col(tsCol).isNotNull).select(col(keyCol).cast("string").as("key"),
      expr(s"unix_timestamp($tsCol) div $bucketSec").as("bucket"), col(tsCol))
    implicit val strEnc = Encoders.STRING
    implicit val outEnc = Encoders.row(outSchema)
    WatermarkKernel(rows.groupByKey((r: Row) => r.getString(0)))(
      (_: String, st: Option[GapState], it: Iterator[Row]) =>
        (absorb(st, it.map(_.getLong(1))), Iterator.empty[Row]),
      (key: String, g: GapState, wm: Long) => {
        val (out, next) = release(g, wm, bucketMs, idle)
        (next, out.iterator.map { case (b, n, c) => Row(key, b, n, c) })
      },
      (_: String, g: GapState) => nextClose(g, bucketMs))
  }
}
