package graft.api

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

import graft.streaming.StreamingSessions

/** Closed-session bounds: first and last event time. Exposed instead of
  * the reference's synthetic `end = last + 1ns`
  * (/root/reference/src/lib.rs:480) so results are µs-portable
  * (SURVEY.md §7.5.2); the exclusive end of the merge interval is
  * `lastEventTime + gap`. */
final case class SessionBounds(start: Timestamp, lastEventTime: Timestamp)

/** Executor-side session assignment: lazily split a time-sorted event
  * iterator into closed sessions (gaps-and-islands). Standalone object so
  * task closures capture no Dataset-holding instance. */
private[api] object SessionScan {

  private[api] def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  private[api] def tsOf(us: Long): Timestamp = {
    val ms = Math.floorDiv(us, 1000L)
    val t = new Timestamp(ms)
    t.setNanos((Math.floorMod(ms, 1000L) * 1000000L + Math.floorMod(us, 1000L) * 1000L).toInt)
    t
  }

  /** Requires eventTime on every event (reference contract — it
    * `unwrap()`s, /root/reference/src/lib.rs:459). An event extends the
    * open session while `ts < last + gap`; at `ts >= last + gap` a new
    * session starts (SURVEY.md §2.3.1-2 — same rule as `session_window`). */
  def sessions[T](events: Iterator[Event[T]], gapMicros: Long): Iterator[(SessionBounds, Vector[Event[T]])] =
    new Iterator[(SessionBounds, Vector[Event[T]])] {
      private val it = events.buffered
      def hasNext: Boolean = it.hasNext
      def next(): (SessionBounds, Vector[Event[T]]) = {
        val first = it.next()
        var last = first.eventTimeOrThrow
        val buf = Vector.newBuilder[Event[T]]
        buf += first
        var open = true
        while (open && it.hasNext) {
          val t = it.head.eventTimeOrThrow
          if (micros(t) < micros(last) + gapMicros) { buf += it.next(); last = t }
          else open = false
        }
        (SessionBounds(first.eventTimeOrThrow, last), buf.result())
      }
    }
}

/**
 * Event-time session windows over a keyed stream — the reference's
 * windowing machinery (/root/reference/src/lib.rs:395-905) re-expressed.
 *
 * Batch execution: shuffle by key once, secondary-sort by event time,
 * then a linear gaps-and-islands scan per key — `aggregate` holds O(1)
 * state per open session (the reference eagerly re-reduces each window to
 * one buffered event too, src/lib.rs:673-693), `process` buffers only the
 * current open session. The relational path
 * (`graft.operators.Sessionize`, native `session_window`) is preferred
 * when the aggregate is expressible in columns — Catalyst adds partial
 * aggregation before the shuffle, which this typed fold cannot.
 */
final class WindowedGStream[K, T](
    private val ds: Dataset[Event[T]],
    private val sel: Event[T] => K,
    private val gap: Duration)(
    implicit kEnc: Encoder[K], etEnc: Encoder[Event[T]]) {

  private def gapMicros: Long = gap.toNanos / 1000L

  /**
   * Incremental windowed aggregation (reference `aggregate` +
   * `event_reducer`, /root/reference/src/lib.rs:836-880,:639-654): one
   * event per closed session; value = combine-fold of `acc` over the
   * session, processingTime = max over the session, eventTime = last
   * event's time (the reference's element-wise max rule).
   *
   * On a streaming dataset this runs incrementally with per-key state and
   * watermark close-out (graft.streaming.StreamingSessions); `combine`
   * must then be associative and commutative, and the stream must carry a
   * watermark (`GStream.withWatermark`).
   */
  def aggregate[U](acc: T => U)(combine: (U, U) => U)(
      implicit eu: Encoder[Event[U]]): GStream[U] = {
    if (ds.isStreaming)
      return new GStream(StreamingSessions.aggregate(ds, sel, gapMicros, acc, combine))
    val g = gapMicros
    val out = ds.groupByKey(sel)
      .flatMapSortedGroups(col("eventTime").asc, col("processingTime").asc) {
        (_: K, events: Iterator[Event[T]]) =>
          SessionScan.sessions(events, g).map { case (bounds, evs) =>
            val value = evs.iterator.map(e => acc(e.value)).reduce(combine)
            val maxProc = evs.iterator.map(_.processingTime).maxBy(_.getTime)
            Event(maxProc, Some(bounds.lastEventTime), value)
          }
      }
    new GStream(out)
  }

  /** Full-window process (reference windowed `process`,
    * /root/reference/src/lib.rs:755-769): user fn sees the closed
    * session's bounds and its complete, time-ordered contents
    * (SURVEY.md §2.3.4). */
  def process[U](f: (K, SessionBounds, Seq[Event[T]]) => IterableOnce[Event[U]])(
      implicit eu: Encoder[Event[U]]): GStream[U] = {
    if (ds.isStreaming)
      return new GStream(StreamingSessions.process(ds, sel, gapMicros, f))
    val g = gapMicros
    val out = ds.groupByKey(sel)
      .flatMapSortedGroups(col("eventTime").asc, col("processingTime").asc) {
        (k: K, events: Iterator[Event[T]]) =>
          SessionScan.sessions(events, g).flatMap { case (bounds, evs) => f(k, bounds, evs) }
      }
    new GStream(out)
  }

  /** `process` + per-key state threaded across that key's closed sessions
    * in time order (reference windowed `process_state`,
    * /root/reference/src/lib.rs:771-834). On a streaming dataset the state
    * lives in the checkpointed store and sessions close at the watermark
    * (graft.streaming.StreamingSessions.processState); sessions of one key
    * close in start order, so the fold order matches batch. */
  def processState[S, U](init: K => S)(
      f: (K, SessionBounds, Seq[Event[T]], S) => (S, Seq[Event[U]]))(
      implicit eu: Encoder[Event[U]]): GStream[U] = {
    if (ds.isStreaming)
      return new GStream(StreamingSessions.processState(ds, sel, gapMicros, init, f))
    val g = gapMicros
    val out = ds.groupByKey(sel)
      .flatMapSortedGroups(col("eventTime").asc, col("processingTime").asc) {
        (k: K, events: Iterator[Event[T]]) =>
          var s = init(k)
          SessionScan.sessions(events, g).flatMap { case (bounds, evs) =>
            val (s2, o) = f(k, bounds, evs, s); s = s2; o
          }
      }
    new GStream(out)
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
    GStream.requireCheckCorrectnessDisabled(ds)
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
