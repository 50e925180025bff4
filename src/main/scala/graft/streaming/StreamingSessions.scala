package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import graft.api.{Event, SessionScan}
import graft.api.SessionScan.Open

/**
 * Streaming event-time sessions for the typed facade — the incremental
 * counterpart of the reference's window store + trigger loop
 * (EventTimeWindowMemoryStore, its `src/lib.rs:439-612`), on the
 * [[WatermarkKernel]]. Every streaming facade session operator runs
 * on it: windowed `aggregate`, `process` and `processState`, and the
 * watermark-ordered keyed fold (`KeyedGStream.processState`), which is a
 * session of gap 1 µs.
 *
 * Where the reference keeps ALL keys' windows in one task's HashMap and
 * re-triggers every key on every event (src/lib.rs:788-828), this state
 * lives per key in Spark's checkpointed state store, hash-partitioned by
 * key, and is touched only when that key receives data or its timer
 * fires — the 100 TB shape. A session closes when the engine watermark
 * reaches `last + gap`, the same close-out rule as the reference's
 * `trigger` (SURVEY.md §2.3.2) and Spark's own `session_window`; since
 * the engine admits no row at or behind the watermark, nothing can still
 * arrive that would merge into a closed session.
 *
 * `combine` must be associative and commutative (the reference requires
 * a monoid-ish `Add` the same way, src/lib.rs:836-839): stored and fresh
 * sessions fold in start order, which may differ from strict event order.
 */
object StreamingSessions {

  /** Per-key state: the user's state (None for the stateless forms) plus
    * the open sessions, sorted by start. */
  final case class KeyState[S, P](user: Option[S], open: List[Open[P]])

  /** Merge the key's stored and fresh sessions (`SessionScan.merge`),
    * then close every session with `last + gap <= watermark` in start
    * order: `emit` sees each one and threads the user state from `init`.
    * The key's state is removed once it holds neither an open session nor
    * user state. The input stream must carry a watermark on `eventTime`
    * (GStream.withWatermark). */
  def apply[K, T, P, S, U](ds: Dataset[Event[T]], sel: Event[T] => K, gapMicros: Long,
      payload: Event[T] => P, combine: (P, P) => P, init: K => Option[S],
      emit: (K, Open[P], Option[S]) => (Option[S], IterableOnce[Event[U]]))(
      implicit kEnc: Encoder[K], eu: Encoder[Event[U]]): Dataset[Event[U]] =
    WatermarkKernel(ds.groupByKey(sel))(
      (k: K, st: Option[KeyState[S, P]], events: Iterator[Event[T]]) => {
        val prev = st.getOrElse(KeyState[S, P](init(k), Nil))
        val fresh = events.map(e => SessionScan.open(e, payload(e))).toList
        val open = SessionScan.merge((prev.open ::: fresh).sortBy(_.start).iterator,
          gapMicros, combine).toList
        (Some(prev.copy(open = open)), Iterator.empty[Event[U]])
      },
      release(gapMicros, emit),
      (_: K, s: KeyState[S, P]) => nextClose(gapMicros, s))

  /** Close, in start order, the sessions with `last + gap <= watermark`. */
  private[streaming] def release[K, P, S, U](gapMicros: Long,
      emit: (K, Open[P], Option[S]) => (Option[S], IterableOnce[Event[U]]))(
      k: K, s: KeyState[S, P], wmMs: Long): (Option[KeyState[S, P]], Iterator[Event[U]]) = {
    val (closed, open) = s.open.partition(_.last + gapMicros <= wmMs * 1000L)
    var user = s.user
    val out = closed.flatMap { c => val (u, o) = emit(k, c, user); user = u; o }
    (if (open.isEmpty && user.isEmpty) None else Some(KeyState(user, open)), out.iterator)
  }

  /** The first watermark (ms) with `last + gap <= watermark` for an open session. */
  private[streaming] def nextClose(gapMicros: Long, s: KeyState[_, _]): Long =
    if (s.open.isEmpty) Long.MaxValue
    else Math.floorDiv(s.open.iterator.map(_.last).min + gapMicros - 1L, 1000L) + 1L
}
