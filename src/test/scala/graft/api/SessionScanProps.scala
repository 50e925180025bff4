package graft.api

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.api.SessionScan.Open

/**
 * Property tests for the session merge (SURVEY.md §5.2): for arbitrary
 * event sets and gaps, sessions must partition the input, chain-connect
 * internally (every consecutive gap < timeout), and be separated by ≥
 * timeout — the invariants the reference's store tests pin with examples
 * (/root/reference/src/lib.rs:1188-1255), checked here over randomized
 * inputs. Pure function — no Spark session needed, so the whole property
 * suite runs in milliseconds.
 */
object SessionScanProps extends Properties("SessionScan") {

  private val genTimes: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(0L, 3600L * 1000000L)) // µs offsets within an hour

  private val genGap: Gen[Long] = Gen.chooseNum(1L, 900L * 1000000L)

  /** One session per point, its payload the point itself. */
  private def points(ts: List[Long]): List[Open[List[Long]]] =
    ts.sorted.map(t => Open(t, t, t, t :: Nil))

  /** One pass over the sorted points, as the batch path runs it. */
  private def sessions(ts: List[Long], gap: Long): List[Open[List[Long]]] =
    SessionScan.merge(points(ts).iterator, gap, SessionScan.append[Long]).toList

  property("sessions partition the input in order") = forAll(genTimes, genGap) { (ts, gap) =>
    sessions(ts, gap).flatMap(_.payload.reverse) == ts.sorted
  }

  property("within a session, consecutive gaps are < timeout") = forAll(genTimes, genGap) { (ts, gap) =>
    Prop.all(sessions(ts, gap).map { s =>
      val evs = s.payload.reverse
      Prop(evs.zip(evs.tail).forall { case (a, b) => b - a < gap })
    }: _*)
  }

  property("consecutive sessions are separated by >= timeout") = forAll(genTimes, genGap) { (ts, gap) =>
    val ss = sessions(ts, gap)
    ss.zip(ss.drop(1)).forall { case (a, b) => b.start - a.last >= gap }
  }

  property("bounds equal first/last event times") = forAll(genTimes, genGap) { (ts, gap) =>
    sessions(ts, gap).forall { s =>
      s.start == s.payload.min && s.last == s.payload.max && s.maxProc == s.last
    }
  }

  property("merging pre-merged parts sorted by start equals one pass") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3600L * 1000000L), Gen.chooseNum(0, 4))), genGap) {
      (tagged, gap) =>
        // what the streaming state does: each part (the store's or a
        // batch's sessions) is merged on its own, then their union,
        // sorted by start, merges once more. Payloads: the points' sum
        // and the points themselves.
        def once(os: List[Open[(Long, List[Long])]]) = SessionScan.merge(os.iterator, gap,
          (a: (Long, List[Long]), b: (Long, List[Long])) => (a._1 + b._1, SessionScan.append(a._2, b._2))
        ).toList.map(s => s.copy(payload = (s.payload._1, s.payload._2.sorted)))
        def single(ts: List[Long]) = ts.sorted.map(t => Open(t, t, t, (t, t :: Nil)))
        val parts = tagged.groupBy(_._2).values.toList.flatMap(p => once(single(p.map(_._1))))
        once(parts.sortBy(_.start)) == once(single(tagged.map(_._1)))
    }
}
