package graft.api

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

import graft.api.SessionScan.Open
import graft.streaming.StreamingSessions

/** Closed-session bounds: first and last event time. Exposed instead of
  * the reference's synthetic `end = last + 1ns`
  * (/root/reference/src/lib.rs:480) so results are µs-portable
  * (SURVEY.md §7.5.2); the exclusive end of the merge interval is
  * `lastEventTime + gap`. */
final case class SessionBounds(start: Timestamp, lastEventTime: Timestamp)

/** The session rule, written once for every typed facade session
  * operator: batch over a key's time-sorted events, streaming over a
  * key's stored and fresh sessions (graft.streaming.StreamingSessions).
  * Standalone object so task closures capture no Dataset-holding
  * instance. */
private[graft] object SessionScan {

  /** A session: first and last event time and max processing time, all
    * µs, and its payload. */
  final case class Open[P](start: Long, last: Long, maxProc: Long, payload: P)

  def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  def tsOf(us: Long): Timestamp = {
    val ms = Math.floorDiv(us, 1000L)
    val t = new Timestamp(ms)
    // fractional second = the ms remainder plus the µs remainder
    t.setNanos((Math.floorMod(ms, 1000L) * 1000000L + Math.floorMod(us, 1000L) * 1000L).toInt)
    t
  }

  /** The one-event session. Requires eventTime (reference contract — it
    * `unwrap()`s, /root/reference/src/lib.rs:459). */
  def open[T, P](e: Event[T], payload: P): Open[P] = {
    val t = micros(e.eventTimeOrThrow)
    Open(t, t, micros(e.processingTime), payload)
  }

  /** Lazily merge sessions sorted by start: the next session extends the
    * current one while `start < last + gap`, else a new one starts
    * (SURVEY.md §2.3.1-2 — the same rule as `session_window`; the
    * reference's add_event bridge-merge, src/lib.rs:520-527, made n-way).
    * Payloads fold left with `combine`. */
  def merge[P](it: Iterator[Open[P]], gapMicros: Long, combine: (P, P) => P): Iterator[Open[P]] =
    new Iterator[Open[P]] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): Open[P] = {
        var s = in.next()
        while (in.hasNext && in.head.start < s.last + gapMicros) {
          val n = in.next()
          s = Open(s.start, math.max(s.last, n.last), math.max(s.maxProc, n.maxProc),
            combine(s.payload, n.payload))
        }
        s
      }
    }

  /** `combine` for a payload of events kept newest first, so a merge
    * copies only the right-hand session. */
  def append[E](l: List[E], r: List[E]): List[E] = r ::: l

  /** The events of an [[append]]ed session in (eventTime, processingTime)
    * order — the batch path's secondary sort. */
  def contents[T](s: Open[List[Event[T]]]): List[Event[T]] =
    s.payload.reverse.sortBy(e => (micros(e.eventTimeOrThrow), micros(e.processingTime)))

  def bounds(s: Open[_]): SessionBounds = SessionBounds(tsOf(s.start), tsOf(s.last))
}

/**
 * Event-time session windows over a keyed stream — the reference's
 * windowing machinery (/root/reference/src/lib.rs:395-905) re-expressed.
 *
 * Every operator is one `emit` over `SessionScan.merge`. Batch: shuffle
 * by key once, secondary-sort by (eventTime, processingTime), then one
 * lazy merge per key — `aggregate` holds one value per open session (the
 * reference eagerly re-reduces each window to one buffered event too,
 * src/lib.rs:673-693), `process` buffers only the current open session.
 * Streaming: the same merge and `emit` run in one per-key state machine
 * with watermark close-out (graft.streaming.StreamingSessions); the
 * stream must then carry a watermark (`GStream.withWatermark`). The
 * relational path (`graft.operators.Sessionize`, native
 * `session_window`) is preferred when the aggregate is expressible in
 * columns — Catalyst adds partial aggregation before the shuffle, which
 * this typed fold cannot.
 */
final class WindowedGStream[K, T](
    private val ds: Dataset[Event[T]],
    private val sel: Event[T] => K,
    private val gap: Duration)(
    implicit kEnc: Encoder[K], etEnc: Encoder[Event[T]]) {

  /** Merge each key's sessions, then `emit` each closed one in start
    * order, threading the per-key user state from `init` (None for the
    * stateless forms). */
  private def runSessions[P, S, U](payload: Event[T] => P, combine: (P, P) => P,
      init: K => Option[S])(emit: (K, Open[P], Option[S]) => (Option[S], IterableOnce[Event[U]]))(
      implicit eu: Encoder[Event[U]]): GStream[U] = {
    val g = gap.toNanos / 1000L
    if (ds.isStreaming)
      return new GStream(StreamingSessions(ds, sel, g, payload, combine, init, emit))
    new GStream(ds.groupByKey(sel)
      .flatMapSortedGroups(col("eventTime").asc, col("processingTime").asc) {
        (k: K, events: Iterator[Event[T]]) =>
          var user = init(k)
          SessionScan.merge(events.map(e => SessionScan.open(e, payload(e))), g, combine)
            .flatMap { s => val (u, o) = emit(k, s, user); user = u; o }
      })
  }

  /**
   * Incremental windowed aggregation (reference `aggregate` +
   * `event_reducer`, /root/reference/src/lib.rs:836-880,:639-654): one
   * event per closed session; value = combine-fold of `acc` over the
   * session, processingTime = max over the session, eventTime = last
   * event's time (the reference's element-wise max rule). On a streaming
   * dataset `combine` must be associative and commutative.
   */
  def aggregate[U](acc: T => U)(combine: (U, U) => U)(
      implicit eu: Encoder[Event[U]]): GStream[U] =
    runSessions[U, Unit, U](e => acc(e.value), combine, _ => None) { (_, s, u) =>
      (u, Iterator(Event(SessionScan.tsOf(s.maxProc), Some(SessionScan.tsOf(s.last)), s.payload)))
    }

  /** Full-window process (reference windowed `process`,
    * /root/reference/src/lib.rs:755-769): user fn sees the closed
    * session's bounds and its complete contents in (eventTime,
    * processingTime) order (SURVEY.md §2.3.4). */
  def process[U](f: (K, SessionBounds, Seq[Event[T]]) => IterableOnce[Event[U]])(
      implicit eu: Encoder[Event[U]]): GStream[U] =
    runSessions[List[Event[T]], Unit, U](_ :: Nil, SessionScan.append, _ => None) { (k, s, u) =>
      (u, f(k, SessionScan.bounds(s), SessionScan.contents(s)))
    }

  /** `process` + per-key state threaded across that key's closed sessions
    * in start order (reference windowed `process_state`,
    * /root/reference/src/lib.rs:771-834). On a streaming dataset the state
    * lives in the checkpointed store for the whole stream and sessions
    * close at the watermark, in start order, so the fold order matches
    * batch. */
  def processState[S, U](init: K => S)(
      f: (K, SessionBounds, Seq[Event[T]], S) => (S, Seq[Event[U]]))(
      implicit eu: Encoder[Event[U]]): GStream[U] =
    runSessions[List[Event[T]], S, U](_ :: Nil, SessionScan.append, k => Some(init(k))) { (k, s, u) =>
      val (u2, o) = f(k, SessionScan.bounds(s), SessionScan.contents(s), u.get)
      (Some(u2), o)
    }

  /**
   * Windowed `process_state` with BOTH the global AND per-key state the
   * reference's full windowed signature passes (`GST` + `KST`,
   * /root/reference/src/lib.rs:771-784; test
   * `windowed_process_state_joined_events`, src/lib.rs:1438-1486 — a
   * global counter advances across keys as their sessions close).
   *
   * Same two-stage composition as `KeyedGStream.processStateGlobal`
   * (SURVEY.md §7.5.4): the windowed per-key fold runs distributed, and
   * only its OUTPUT events fold sequentially through the global state.
   * The user fn is split into a key part and a global part; the
   * single-task global stage sees one event per closed session, not the
   * raw stream.
   *
   * Global-fold ORDER is the reference's watermark-trigger order —
   * sessions across keys fold by their LAST event time (close order),
   * not by whatever eventTime `keyFold` happens to emit: each key-stage
   * output is tagged internally with its session's last event time as
   * the sort key, so overlapping cross-key sessions (key A open
   * [12:00, 13:00] while key B's [12:30, 12:35] closes first) fold B
   * before A, exactly as the reference's watermark loop closes them.
   * The original output event is rebuilt before `globalFold` sees it.
   * On a streaming dataset the same tag sorts each micro-batch; since
   * the watermark is monotonic, a session closing at an earlier time
   * can never surface in a later batch than one closing later, so the
   * cross-batch fold order is identical. Streaming requires
   * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
   * (see `KeyedGStream.processStateGlobal` — the per-batch global stage
   * never event-time-filters, so Spark's conservative late-row check
   * does not apply).
   */
  def processStateGlobal[S, M, GS, U](init: K => S, globalInit: GS)(
      keyFold: (K, SessionBounds, Seq[Event[T]], S) => (S, Seq[Event[M]]))(
      globalFold: (Event[M], GS) => (GS, Seq[Event[U]]))(
      implicit em: Encoder[Event[M]], etag: Encoder[Event[(Long, M)]], egs: Encoder[GS],
      eu: Encoder[Event[U]], ei: Encoder[Int]): GStream[U] = {
    GStream.requireCheckCorrectnessDisabled(ds, "processStateGlobal")
    val tagged = processState(init) { (k, bounds, evs, s) =>
      val (s2, out) = keyFold(k, bounds, evs, s)
      (s2, out.map { m =>
        val origMicros = m.eventTime.map(SessionScan.micros).getOrElse(Long.MinValue)
        Event(m.processingTime, Some(bounds.lastEventTime), (origMicros, m.value))
      })
    }
    tagged.keyBy((_: Event[(Long, M)]) => 0).processStatePerBatch((_: Int) => globalInit) {
      (_, te, gs) =>
        val (origMicros, mv) = te.value
        val orig = Event(te.processingTime,
          if (origMicros == Long.MinValue) None else Some(SessionScan.tsOf(origMicros)), mv)
        globalFold(orig, gs)
    }
  }

  /** As GStream.split (reference /root/reference/src/lib.rs:883-905). */
  def split(): (WindowedGStream[K, T], WindowedGStream[K, T]) = (this, this)
}
