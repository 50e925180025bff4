package graft.streaming

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.api.Event
import graft.api.SessionScan.Open

/**
 * The timer rules of [[WatermarkKernel]], checked on every operator's
 * (`release`, `nextClose`) pair over random states and watermarks:
 *
 *  - `release` at `nextClose - 1` emits nothing and keeps the state as
 *    it is, and at `nextClose` it emits or drops something — so the
 *    kernel's timer at `nextClose - 1` fires exactly when it should;
 *  - a state that `release` keeps closes after that watermark, so the
 *    timer is never armed below the watermark;
 *  - `release` returns `None` exactly when the key holds nothing more:
 *    no open session or user state, no buffered row, no open window, no
 *    owner in horizon, no unretired series — checked at a random
 *    watermark and at both sides of `nextClose`.
 *
 * Pure functions — no Spark session.
 */
object WatermarkKernelProps extends Properties("WatermarkKernel") {

  private val genWm: Gen[Long] = Gen.chooseNum(0L, 12000000L) // ms
  private val genUs: Gen[Long] = Gen.chooseNum(0L, 10000000000L) // µs

  /** The three rules for one operator. `holds(s, wm)`: what the key must
    * still keep after `release(s, wm)`, stated without `release`. */
  private def rules[S](name: String, gen: Gen[S], release: (S, Long) => (Option[S], Seq[Any]),
      nextClose: S => Long, same: (S, S) => Boolean, holds: (S, Long) => Boolean): Unit = {
    property(s"$name: release at nextClose - 1 keeps all, at nextClose acts") = forAll(gen) { s =>
      val at = nextClose(s)
      (at == Long.MaxValue) || {
        val (before, quiet) = release(s, at - 1L)
        val (after, out) = release(s, at)
        Prop(quiet.isEmpty && before.exists(same(_, s))) :| "before" &&
          Prop(out.nonEmpty || !after.exists(same(_, s))) :| "at"
      }
    }
    property(s"$name: a kept state closes after the watermark") = forAll(gen, genWm) { (s, wm) =>
      release(s, wm)._1.forall(nextClose(_) > wm)
    }
    property(s"$name: release drops the key exactly when it holds nothing") =
      forAll(gen, genWm) { (s, wm) =>
        val at = nextClose(s)
        (wm +: (if (at == Long.MaxValue) Nil else Seq(at - 1L, at)))
          .forall(w => release(s, w)._1.isDefined == holds(s, w))
      }
  }

  // sessions: open sessions sorted by start, optional user state
  private val genSessions = for {
    gap <- Gen.oneOf(Gen.const(1L), Gen.chooseNum(1L, 3600000000L))
    spans <- Gen.listOf(Gen.zip(genUs, Gen.chooseNum(0L, 600000000L)))
    user <- Gen.option(Gen.chooseNum(0L, 5L))
  } yield (gap, StreamingSessions.KeyState(user,
    spans.sortBy(_._1).map { case (start, len) => Open(start, start + len, start, len) }))
  /** Counts the closed sessions when the form keeps user state. */
  private def emit(k: String, s: Open[Long], u: Option[Long]) =
    (u.map(_ + 1L), Seq(Event.at(s.payload, new Timestamp(0L))))
  rules[(Long, StreamingSessions.KeyState[Long, Long])]("sessions", genSessions,
    { case ((gap, s), wm) =>
      val (kept, out) = StreamingSessions.release(gap, emit)("k", s, wm)
      (kept.map((gap, _)), out.toSeq) },
    { case (gap, s) => StreamingSessions.nextClose(gap, s) },
    _ == _,
    { case ((gap, s), wm) => s.user.isDefined || s.open.exists(_.last + gap > wm * 1000L) })

  // interval join: left/right buffers, some rows already paired
  private val genPending = Gen.zip(genUs, Gen.oneOf(true, false))
    .map { case (us, m) => new StreamJoins.Pending(us, us, us, m) }
  private val genJoin = for {
    h <- Gen.chooseNum(0L, 3600000000L)
    outer <- Gen.chooseNum(0, 2)
    l <- Gen.listOf(genPending)
    r <- Gen.listOf(genPending)
  } yield (h, outer, StreamJoins.Buffers(l.toArray, r.toArray))
  private def view(b: StreamJoins.Buffers) =
    (b.left.toSeq.map(p => (p.us, p.matched)), b.right.toSeq.map(p => (p.us, p.matched)))
  rules[(Long, Int, StreamJoins.Buffers)]("interval join", genJoin,
    { case ((h, outer, s), wm) =>
      val (kept, out) = StreamJoins.Interval(h, outer >= 1, outer == 2).release("k", s, wm)
      (kept.map((h, outer, _)), out.toSeq) },
    { case (h, _, s) => StreamJoins.Interval(h, false, false).nextClose(s) },
    (a, b) => a._1 == b._1 && view(a._3) == view(b._3),
    { case ((h, _, s), wm) =>
      s.left.exists(_.us + h >= wm * 1000L) || s.right.exists(_.us > wm * 1000L) })

  // top-k: the (window_start, shard) key and the window's counts
  private val genTopK = for {
    windowSec <- Gen.chooseNum(1L, 7200L)
    w <- Gen.chooseNum(0L, 10000000L / windowSec)
    counts <- Gen.mapOf(Gen.zip(Gen.alphaLowerStr, Gen.chooseNum(1L, 9L)))
    k <- Gen.chooseNum(1, 4)
  } yield (w * windowSec * 1000000L, windowSec * 1000L, k, counts)
  rules[(Long, Long, Int, Map[String, Long])]("top-k", genTopK,
    { case ((start, windowMs, k, s), wm) =>
      val (kept, out) = TopKStream.release[Map[String, Long]](start, s, wm, windowMs, k, identity)
      (kept.map((start, windowMs, k, _)), out.toSeq) },
    { case (start, windowMs, _, _) => TopKStream.nextClose(start, windowMs) },
    _ == _,
    { case ((start, windowMs, _, _), wm) => start / 1000L + windowMs > wm })

  // near-dup claim: the band's owner (signature, event time µs)
  private val genOwner = for {
    horizonMs <- Gen.chooseNum(0L, 7200000L)
    ord <- Gen.chooseNum(-10000000000L, 10000000000L)
  } yield (horizonMs, ("sig", ord))
  rules[(Long, (String, Long))]("near-dup claim", genOwner,
    { case ((h, own), wm) => (NearDupState.release(own, wm, h).map((h, _)), Nil) },
    { case (h, own) => NearDupState.nextClose(own, h) },
    _ == _,
    { case ((h, own), wm) => own._2 + h * 1000L > wm * 1000L })

  // gap fill: the series counters plus pending counts at or past `next`
  private val genGap = for {
    bucketMs <- Gen.chooseNum(1000L, 3600000L) // at most 12k buckets to a watermark
    idle <- Gen.chooseNum(-1L, 5L)
    next <- Gen.chooseNum(0L, 12000000L / bucketMs)
    zeroRun <- Gen.chooseNum(0L, 6L)
    pending <- Gen.mapOf(Gen.zip(Gen.chooseNum(next, next + 20L), Gen.chooseNum(1L, 3L)))
  } yield (bucketMs, idle, GapFillStream.GapState(next, 0L, zeroRun, pending))
  /** The bucket whose release retires the series: `idle` zeros past the
    * last pending bucket, or past the zero run so far if none pends. */
  private def retireAt(g: GapFillStream.GapState, idle: Long): Long =
    if (g.pending.nonEmpty) g.pending.keys.max + idle
    else g.next + math.max(idle - g.zeroRun, 1L) - 1L
  rules[(Long, Long, GapFillStream.GapState)]("gap fill", genGap,
    { case ((bucketMs, idle, g), wm) =>
      val (out, kept) = GapFillStream.release(g, wm, bucketMs, idle)
      (kept.map((bucketMs, idle, _)), out) },
    { case (bucketMs, _, g) => GapFillStream.nextClose(g, bucketMs) },
    _ == _,
    { case ((bucketMs, idle, g), wm) => idle <= 0 || (retireAt(g, idle) + 1) * bucketMs > wm })
}
