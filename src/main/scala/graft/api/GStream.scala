package graft.api

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Typed dataflow facade mirroring the reference `DataStream` DSL
 * (/root/reference/src/lib.rs:108-393) on Spark `Dataset[Event[T]]`.
 *
 * Design (SURVEY.md §1.3, §7.1): every operator is a thin delegation to a
 * Dataset transformation, so the plan stays declarative and Catalyst owns
 * optimization; the same `GStream` works over a batch or a streaming
 * Dataset (streaming stateful paths use `flatMapGroupsWithState`).
 *
 * Where the reference runs every operator as ONE task with ALL keys in one
 * HashMap (/root/reference/src/lib.rs:339-355), the keyed paths here hash-
 * partition by key (`groupByKey` → Exchange) — the 100 TB enabler the
 * reference lacks. Per-key processing streams over a secondary-sorted
 * iterator (`flatMapSortedGroups`), so memory is O(open state), not
 * O(group).
 */
final class GStream[T](val ds: Dataset[Event[T]]) {

  /** 1→1 transform of the whole event (reference `map`,
    * /root/reference/src/lib.rs:127-144). Use `e.withValue(...)` inside
    * `f` to propagate timestamps. */
  def map[U](f: Event[T] => Event[U])(implicit e: Encoder[Event[U]]): GStream[U] =
    new GStream(ds.map(f))

  /** Keep events satisfying the predicate (reference `filter`,
    * /root/reference/src/lib.rs:146-162). */
  def filter(p: Event[T] => Boolean): GStream[T] =
    new GStream(ds.filter(p))

  /** 1→N low-level transform (reference `process`,
    * /root/reference/src/lib.rs:164-174): emit zero or more events per
    * input instead of pushing to a `Sender`. */
  def process[U](f: Event[T] => IterableOnce[Event[U]])(implicit e: Encoder[Event[U]]): GStream[U] =
    new GStream(ds.flatMap(f))

  /** `process` with global mutable state (reference `process_state`,
    * /root/reference/src/lib.rs:176-199). Deliberately a single sequential
    * group — the reference's own design is one task; SURVEY.md §7.5.4
    * excludes it from the 100 TB path. Events are folded in
    * (eventTime, processingTime) order. */
  def processState[S, U](initial: S)(f: (Event[T], S) => (S, Seq[Event[U]]))(
      implicit es: Encoder[S], eu: Encoder[Event[U]], ei: Encoder[Int],
      et: Encoder[Event[T]]): GStream[U] =
    keyBy((_: Event[T]) => 0).processState((_: Int) => initial)((_, e, s) => f(e, s))

  /** Attach a key selector (reference `key_by`,
    * /root/reference/src/lib.rs:201-211). Like the reference, this moves
    * no data by itself; the shuffle happens at the first stateful op. */
  def keyBy[K](sel: Event[T] => K)(implicit ek: Encoder[K], et: Encoder[Event[T]]): KeyedGStream[K, T] =
    new KeyedGStream(ds, sel)

  /** Duplicate the stream (reference `split`,
    * /root/reference/src/lib.rs:217-246). Datasets are immutable, so both
    * branches trivially observe the identical full stream; for a
    * single-pass guarantee over an expensive source, `persist()` first. */
  def split(): (GStream[T], GStream[T]) = (this, this)

  /** Merge two streams — absent from the reference (SURVEY.md §2.2: split
    * fans out but nothing fans back in); included because any real
    * pipeline needs it. */
  def union(other: GStream[T]): GStream[T] =
    new GStream(ds.unionByName(other.ds))

  def persist(): GStream[T] = { ds.persist(); this }

  /** Declare the engine watermark on `eventTime` — the Spark equivalent of
    * the reference's per-event watermark under its own fixed-offset
    * contract (/root/reference/src/lib.rs:560-563; SURVEY.md §7.5.1).
    * Required before windowed/stateful ops on a STREAMING dataset; a no-op
    * concept in batch. */
  def withWatermark(delay: String): GStream[T] =
    new GStream(ds.withWatermark("eventTime", delay))

  // ---- sinks (reference `add_sink` / `StdoutSink`, src/lib.rs:117-125,:943-956) ----

  /** Batch sink: collect events to the driver (test/debug only). */
  def collectEvents(): Seq[Event[T]] = ds.collect().toSeq

  /** Batch sink: collect payloads to the driver (test/debug only). */
  def collectValues(): Seq[T] = collectEvents().map(_.value)

  /** Console sink (the reference's one production sink). */
  def printToStdout(): Unit = ds.show(numRows = 100, truncate = false)

  /** Name-parity with the reference `add_sink`
    * (/root/reference/src/lib.rs:117-125). */
  def addSink(sink: Sink[T]): Unit = sink.run(ds)
}

object GStream {
  /** Whether the dataset's plan declares an engine watermark (i.e.
    * `withWatermark` appears somewhere upstream) — selects the
    * watermark-ordered stateful path over the per-batch one. */
  private[api] def hasWatermark(ds: Dataset[_]): Boolean =
    ds.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }

  /** Fail-fast guard for the compositions that chain stateful streaming
    * operators (`processStateGlobal`, `Dedup.nearDupKeptStreamStateful`),
    * named by `caller` in the message: Spark's correctness check rejects
    * such a chain wholesale at `start()` with a generic message. Throw
    * at COMPOSITION time instead, with the graft-specific explanation —
    * and spell out the blast radius of the required relaxation (the
    * setting is session-wide: it also silences the check for every other
    * streaming query on the session, including genuinely unsafe chains). */
  private[graft] def requireCheckCorrectnessDisabled(ds: Dataset[_], caller: String): Unit = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    if (ds.isStreaming && ds.sparkSession.conf.get(key, "true") != "false")
      throw new IllegalStateException(
        s"streaming $caller chains stateful operators, which Spark's " +
        s"correctness check rejects wholesale; set $key=false BEFORE composing to run it. " +
        "CAUTION: the setting is session-wide — it also disables the check for every " +
        "other streaming query on this session, so scope it to the session running " +
        s"this composition. Why the chain is safe for $caller: see its Scaladoc.")
  }
}

/**
 * Keyed stream (reference `KeyedDataStream`,
 * /root/reference/src/lib.rs:249-393): the selector is carried and
 * recomputed per element for map/filter/process (the reference does the
 * same — key is computed, not stored, src/lib.rs:344-345); stateful ops
 * shuffle by key.
 */
final class KeyedGStream[K, T](
    private[api] val ds: Dataset[Event[T]],
    private[api] val sel: Event[T] => K)(
    implicit kEnc: Encoder[K], etEnc: Encoder[Event[T]]) {

  /** 1→1 transform receiving (key, event); returns an UNKEYED stream,
    * like the reference (/root/reference/src/lib.rs:269-287).
    * (Local copies of `sel`/`f` keep the Dataset-holding instance out of
    * the task closure.) */
  def map[U](f: (K, Event[T]) => Event[U])(implicit e: Encoder[Event[U]]): GStream[U] = {
    val s = sel
    new GStream(ds.map(ev => f(s(ev), ev)))
  }

  /** Predicate receiving (key, event) (/root/reference/src/lib.rs:289-306). */
  def filter(p: (K, Event[T]) => Boolean): KeyedGStream[K, T] = {
    val s = sel
    new KeyedGStream(ds.filter(ev => p(s(ev), ev)), sel)
  }

  /** 1→N with the key in hand (/root/reference/src/lib.rs:308-321). */
  def process[U](f: (K, Event[T]) => IterableOnce[Event[U]])(implicit e: Encoder[Event[U]]): GStream[U] = {
    val s = sel
    new GStream(ds.flatMap(ev => f(s(ev), ev)))
  }

  /**
   * Per-key stateful 1→N — the `KeyedProcessFunction` analogue (reference
   * `process_state`, /root/reference/src/lib.rs:323-361): per-key state is
   * created lazily via `init`, then `f` folds each event through it.
   *
   * Batch: one shuffle by key, then a secondary-sorted streaming fold per
   * key ((eventTime, processingTime) order — the declared deterministic
   * order, SURVEY.md §2.3.5/§7.5.3) with O(state) memory.
   * Streaming WITH a watermark (`withWatermark` upstream): events buffer
   * in the checkpointed store until the watermark strictly passes their
   * event time, then fold in full (eventTime, processingTime) order — the
   * same order as batch for any cross-batch arrival pattern, at the cost
   * of watermark-delay latency. This is the session state machine
   * (graft.streaming.StreamingSessions) with a gap of 1 µs: events of one
   * µs form one session, which closes once the watermark is past it (an
   * event exactly AT the watermark could still gain an equal-time
   * sibling, since Spark drops only rows strictly older than it). As
   * with Spark's own append-mode windowed aggregates, events the
   * watermark has NOT yet passed stay buffered:
   * a bounded run (Trigger.AvailableNow / processAllAvailable) emits only
   * events with eventTime strictly below the final watermark (max event
   * time − delay); the tail at-or-after it remains in state for the next
   * run. Declaring a watermark is therefore the explicit opt-in to this
   * fold-on-close contract — leave it off (per-batch path below) when
   * every event must emit in its arrival batch. Streaming WITHOUT a
   * watermark: `flatMapGroupsWithState` folding each micro-batch as it
   * arrives, time-sorted within the batch only — order across batches is
   * arrival order (the documented ordered-input contract; give the
   * stream a watermark when cross-batch event-time order matters).
   */
  def processState[S, U](init: K => S)(f: (K, Event[T], S) => (S, Seq[Event[U]]))(
      implicit es: Encoder[S], eu: Encoder[Event[U]]): GStream[U] =
    if (ds.isStreaming && GStream.hasWatermark(ds))
      // a session of gap 1 µs closes once the watermark passes its time
      new GStream(graft.streaming.StreamingSessions(ds, sel, 1L, (e: Event[T]) => e :: Nil,
        SessionScan.append[Event[T]], (k: K) => Some(init(k)),
        (k: K, s: SessionScan.Open[List[Event[T]]], u: Option[S]) => {
          var st = u.get
          val out = SessionScan.contents(s).flatMap { e => val (s2, o) = f(k, e, st); st = s2; o }
          (Some(st), out)
        }))
    else processStatePerBatch(init)(f)

  /** [[processState]] restricted to the per-batch streaming branch (and
    * the plain sorted fold in batch). For the global stage of
    * `processStateGlobal` compositions, whose input is ALREADY released
    * in watermark order by the upstream stateful stage: a second
    * event-time-timeout operator there is both unnecessary — the
    * watermark is monotonic, so cross-batch arrival order IS event-time
    * order — and un-analyzable (the watermark attribute does not survive
    * the upstream `flatMapGroupsWithState`). */
  private[api] def processStatePerBatch[S, U](init: K => S)(
      f: (K, Event[T], S) => (S, Seq[Event[U]]))(
      implicit es: Encoder[S], eu: Encoder[Event[U]]): GStream[U] = {
    graft.streaming.CheckpointFiles.install(ds)
    val out =
      if (ds.isStreaming)
        ds.groupByKey(sel).flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (k: K, events: Iterator[Event[T]], gs: GroupState[S]) =>
            var s = if (gs.exists) gs.get else init(k)
            val emitted = events.toSeq
              .sortBy(e => (e.eventTime.map(_.getTime), e.processingTime.getTime))
              .flatMap { e => val (s2, o) = f(k, e, s); s = s2; o }
            gs.update(s)
            emitted.iterator
        }
      else
        ds.groupByKey(sel).flatMapSortedGroups(col("eventTime").asc_nulls_first,
          col("processingTime").asc_nulls_first) { (k: K, events: Iterator[Event[T]]) =>
          var s = init(k)
          events.flatMap { e => val (s2, o) = f(k, e, s); s = s2; o }
        }
    new GStream(out)
  }

  /**
   * Combined per-key AND global state in one call — the reference's full
   * `process_state` signature, which passes BOTH a shared `GST` and a
   * per-key `KST` to the user fn (/root/reference/src/lib.rs:323-361).
   *
   * Two-stage composition (SURVEY.md §7.5.4): the per-key fold runs
   * distributed (hash-partitioned by key, `keyFold` threads the per-key
   * state), and only its OUTPUT events fold sequentially through the
   * global state — so the single-task stage sees the per-key stage's
   * (usually much smaller) output, not the raw stream. The price of
   * determinism on a partitioned engine: the user fn is split into a key
   * part and a global part instead of one closure mutating both states;
   * both stages fold in (eventTime, processingTime) order.
   *
   * On a watermarked stream the key stage releases events in watermark
   * order, so the global stage folds per micro-batch (time-sorted within
   * each) — cross-batch arrival order is already event-time order.
   * Streaming requires
   * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`:
   * Spark's conservative check flags ANY stateful-after-stateful chain,
   * but the global stage here never event-time-filters its input, so no
   * row can be lost as "late". The relaxation is SESSION-WIDE — it also
   * silences the check for every other streaming query on the session,
   * including ones where a stateful-after-stateful chain genuinely drops
   * late rows — so this method fails fast (below) instead of letting
   * Spark's analyzer surface the generic error at start(), and callers
   * should scope the setting to the narrowest session/lifetime that runs
   * this composition.
   */
  def processStateGlobal[S, M, GS, U](init: K => S, globalInit: GS)(
      keyFold: (K, Event[T], S) => (S, Seq[Event[M]]))(
      globalFold: (Event[M], GS) => (GS, Seq[Event[U]]))(
      implicit es: Encoder[S], em: Encoder[Event[M]], egs: Encoder[GS],
      eu: Encoder[Event[U]], ei: Encoder[Int]): GStream[U] = {
    GStream.requireCheckCorrectnessDisabled(ds, "processStateGlobal")
    processState(init)(keyFold)
      .keyBy((_: Event[M]) => 0)
      .processStatePerBatch((_: Int) => globalInit)((_, e, g) => globalFold(e, g))
  }

  /** Attach a session window (reference `window` +
    * `EventTimeSessionWindowFactory` — the one window type it has,
    * /root/reference/src/lib.rs:363-371,:708-740). */
  def window(sessionGap: Duration): WindowedGStream[K, T] =
    new WindowedGStream(ds, sel, sessionGap)

  /** As GStream.split, preserving the key selector
    * (/root/reference/src/lib.rs:374-393). */
  def split(): (KeyedGStream[K, T], KeyedGStream[K, T]) = (this, this)

  /** Two-stream keyed combination — the fan-in the reference lacks
    * entirely (SURVEY.md §2.2: `split` fans out, nothing fans back in);
    * Flink's coGroup analogue on `KeyValueGroupedDataset.cogroupSorted`.
    * Both sides arrive time-ordered ((eventTime, processingTime), the
    * facade's declared order); one co-partitioning shuffle per side. */
  def coGroup[T2, U](other: KeyedGStream[K, T2])(
      f: (K, Seq[Event[T]], Seq[Event[T2]]) => IterableOnce[Event[U]])(
      implicit et2: Encoder[Event[T2]], eu: Encoder[Event[U]]): GStream[U] = {
    val sortCols = Seq(col("eventTime").asc_nulls_first, col("processingTime").asc_nulls_first)
    val out = ds.groupByKey(sel)
      .cogroupSorted(other.ds.groupByKey(other.sel))(sortCols: _*)(sortCols: _*) {
        (k, left, right) => f(k, left.toSeq, right.toSeq)
      }
    new GStream(out)
  }
}
