package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.api.{Event, SessionScan}
import graft.api.SessionScan.Open

/**
 * Streaming event-time sessions for the typed facade — the incremental
 * counterpart of the reference's window store + trigger loop
 * (EventTimeWindowMemoryStore, /root/reference/src/lib.rs:439-612),
 * re-expressed as one `flatMapGroupsWithState` with an event-time
 * timeout. Every streaming facade session operator runs on it: windowed
 * `aggregate`, `process` and `processState`, and the watermark-ordered
 * keyed fold (`KeyedGStream.processState`), which is a session of gap
 * 1 µs.
 *
 * Where the reference keeps ALL keys' windows in one task's HashMap and
 * re-triggers every key on every event (src/lib.rs:788-828), this state
 * lives per key in Spark's checkpointed state store, hash-partitioned by
 * key, and is touched only when that key receives data or its timeout
 * fires — the 100 TB shape. A session closes when the engine watermark
 * reaches `last + gap`, the same close-out rule as the reference's
 * `trigger` (SURVEY.md §2.3.2) and Spark's own `session_window`; since
 * the engine admits no row older than the watermark, nothing can still
 * arrive that would merge into a closed session.
 *
 * State is Kryo-encoded (opaque binary in the store — the store never
 * needs columnar access to it). `combine` must be associative and
 * commutative (the reference requires a monoid-ish `Add` the same way,
 * src/lib.rs:836-839): stored and fresh sessions fold in start order,
 * which may differ from strict event order.
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
      implicit kEnc: Encoder[K], eu: Encoder[Event[U]]): Dataset[Event[U]] = {
    implicit val stateEnc: Encoder[KeyState[S, P]] = Encoders.kryo[KeyState[S, P]]
    ds.groupByKey(sel).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (k: K, events: Iterator[Event[T]], gs: GroupState[KeyState[S, P]]) =>
        val prev = if (gs.exists) gs.get else KeyState[S, P](init(k), Nil)
        val fresh = events.map(e => SessionScan.open(e, payload(e))).toList
        val wmMs = gs.getCurrentWatermarkMs()
        val (closed, open) = SessionScan
          .merge((prev.open ::: fresh).sortBy(_.start).iterator, gapMicros, combine).toList
          .partition(_.last + gapMicros <= wmMs * 1000L)
        var user = prev.user
        val out = closed.flatMap { s => val (u, o) = emit(k, s, user); user = u; o }
        if (open.isEmpty && user.isEmpty) gs.remove()
        else {
          gs.update(KeyState(user, open))
          // fires at the first watermark (ms) with minClose <= watermark
          if (open.nonEmpty) gs.setTimeoutTimestamp(math.max(
            Math.floorDiv(open.map(_.last).min + gapMicros - 1L, 1000L), wmMs + 1L))
        }
        out.iterator
    }
  }
}
