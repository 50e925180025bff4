package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The one keyed event-time state machine under the streaming operators
 * (sessions, the interval join, exact and approximate top-k, gap fill,
 * the near-dup claim): tamar's single store and trigger loop (the
 * reference's `src/lib.rs:439-612`), as one
 * `flatMapGroupsWithState(Append, EventTimeTimeout)`. An operator is
 * three functions over its per-key state `S`:
 *
 *  - `absorb(k, state, rows)` folds a key's new rows into its state and
 *    may emit rows at once (join pairs, claim flags);
 *  - `release(k, s, watermarkMs)` emits what the watermark has closed
 *    and returns what stays open, `None` when the key holds nothing;
 *  - `nextClose(k, s)` is the first watermark at which `release` would
 *    emit or drop something (`Long.MaxValue`: never).
 *
 * Every call, with data or on a timeout, runs `absorb` (data only), then
 * `release` at the current watermark, so a key that receives data in
 * every micro-batch is still released on time. Rules stated once here:
 *
 *  - the watermarked event-time column must stay a TOP-LEVEL column of
 *    the input: the timeout and late-row checks look for the watermark
 *    tag on the input schema, and a column packed in a struct loses it;
 *  - Spark drops input rows at or behind the watermark before `absorb`
 *    (counted in the operator's `numRowsDroppedByWatermark`), so nothing
 *    can arrive for what `release` has closed;
 *  - the timer is re-armed on every call (Spark clears it whenever the
 *    function fires) at `max(nextClose - 1, watermark)`: it fires once
 *    the watermark is strictly past it, i.e. at `nextClose`, and Spark
 *    accepts a timer equal to the current watermark.
 *
 * Timers are event-time only: a processing-time timeout makes Spark run
 * another batch unconditionally, so a zero-interval trigger busy-loops
 * empty micro-batches (measured: >21k stages in 13 min on a 6-row test
 * stream). State is Kryo-encoded, opaque to the store. A streaming
 * result installs [[CheckpointFiles]] on its session.
 */
private[graft] object WatermarkKernel {

  def apply[K, R, S: ClassTag, O: Encoder](grouped: KeyValueGroupedDataset[K, R])(
      absorb: (K, Option[S], Iterator[R]) => (Option[S], Iterator[O]),
      release: (K, S, Long) => (Option[S], Iterator[O]),
      nextClose: (K, S) => Long): Dataset[O] = {
    val out = grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (k: K, rows: Iterator[R], gs: GroupState[S]) =>
        val wm = gs.getCurrentWatermarkMs()
        val (absorbed, fresh) =
          if (gs.hasTimedOut) (gs.getOption, Iterator.empty) else absorb(k, gs.getOption, rows)
        val (kept, closed) = absorbed.fold((Option.empty[S], Iterator.empty[O]))(release(k, _, wm))
        kept match {
          case Some(s) =>
            gs.update(s)
            // Spark rejects a non-positive timer (only reachable at watermark 0)
            gs.setTimeoutTimestamp(math.max(math.max(nextClose(k, s) - 1L, wm), 1L))
          case None => if (gs.exists) gs.remove()
        }
        fresh ++ closed
    }(Encoders.kryo[S], implicitly[Encoder[O]])
    CheckpointFiles.install(out)
    out
  }
}
