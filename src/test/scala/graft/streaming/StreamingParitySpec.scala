package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.api.{Env, Event, GStream}

/**
 * Streaming/batch duality (SURVEY.md §7.4): the same facade pipeline over
 * a MemoryStream must emit, incrementally under watermark close-out, the
 * sessions the batch path computes — the reference's own trigger tests
 * re-expressed (watermark passing last+gap fires the session,
 * /root/reference/src/lib.rs:1320-1344,:1388-1401).
 */
class StreamingParitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(value: Long, time: String): Event[Long] =
    Event.at(value, Timestamp.valueOf(time))

  test("streaming session aggregate fires when the watermark passes last+gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_ => "k")
      .window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)

    val query = sessions.ds
      .writeStream.format("memory").queryName("s_agg").outputMode("append").start()
    try {
      // batch 1: one session {12:00,12:05} — must NOT fire yet (watermark
      // is still behind last+gap, as in the reference trigger test).
      input.addData(ev(1, "2009-10-11 12:00:00"), ev(2, "2009-10-11 12:05:00"))
      query.processAllAvailable()
      assert(spark.table("s_agg").count() == 0)

      // batch 2: a far-future event advances the watermark past 12:05+10m.
      input.addData(ev(100, "2009-10-11 14:00:00"))
      query.processAllAvailable()
      // one more empty-ish batch lets the timeout fire after the watermark
      // update (watermark advances at batch boundaries).
      input.addData(ev(101, "2009-10-11 15:00:00"))
      query.processAllAvailable()

      val fired = spark.table("s_agg")
        .as[Event[Long]].collect().toSeq
      assert(fired.map(_.value).contains(3L), s"got $fired")
      val s = fired.find(_.value == 3L).get
      assert(s.eventTime.contains(Timestamp.valueOf("2009-10-11 12:05:00")))
    } finally query.stop()
  }

  test("a session closing just past the watermark fires at the next watermark") {
    // a's first session closes at 12:10:00.000. Batch 2 runs at the
    // watermark 12:09:59.999 (b's event), one millisecond before that
    // close, and its own event 12:10:00.000 opens a second session and
    // moves the watermark onto the close: the session is due there
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(e => if (e.value < 100) "a" else "b")
      .window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)
    val query = sessions.ds
      .writeStream.format("memory").queryName("s_clamp").outputMode("append").start()
    try {
      input.addData(ev(1, "2009-10-11 12:00:00"), ev(100, "2009-10-11 12:09:59.999"))
      query.processAllAvailable()
      input.addData(ev(2, "2009-10-11 12:10:00"))
      query.processAllAvailable()
      val fired = spark.table("s_clamp").as[Event[Long]].collect().toSeq
      assert(fired.map(_.value) == Seq(1L), s"got $fired")
    } finally query.stop()
  }

  test("streaming sessions merge across micro-batches (bridging event)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("10 minutes") // allow the bridging event to arrive "late"
      .keyBy(_ => "k")
      .window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)

    val query = sessions.ds
      .writeStream.format("memory").queryName("s_merge").outputMode("append").start()
    try {
      // two sessions 16 minutes apart...
      input.addData(ev(1, "2009-10-11 12:00:00"), ev(2, "2009-10-11 12:16:00"))
      query.processAllAvailable()
      // ...bridged by an out-of-order event in the next batch
      input.addData(ev(4, "2009-10-11 12:08:00"))
      query.processAllAvailable()
      // close everything
      input.addData(ev(100, "2009-10-11 14:00:00"))
      query.processAllAvailable()
      input.addData(ev(101, "2009-10-11 15:00:00"))
      query.processAllAvailable()

      val fired = spark.table("s_merge").as[Event[Long]].collect().toSeq
      // the three events merged into ONE session summing 1+2+4
      assert(fired.map(_.value).contains(7L), s"got $fired")
    } finally query.stop()
  }

  test("streaming keyed processState accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val counts = Env(spark).fromDataset(input.toDS())
      .keyBy(_.value % 2)
      .processState((_: Long) => 0L) { (k, e, n) =>
        (n + 1, Seq(e.withValue((k, n + 1))))
      }

    val query = counts.ds
      .writeStream.format("memory").queryName("s_count").outputMode("append").start()
    try {
      input.addData(ev(0, "2009-10-11 12:00:00"), ev(1, "2009-10-11 12:01:00"))
      query.processAllAvailable()
      input.addData(ev(2, "2009-10-11 12:02:00"), ev(3, "2009-10-11 12:03:00"))
      query.processAllAvailable()
      val out = spark.table("s_count").as[Event[(Long, Long)]]
        .collect().toSeq.map(_.value).sorted
      // per key the count rises across batches: key0 → 1,2; key1 → 1,2
      assert(out == Seq((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L)))
    } finally query.stop()
  }

  test("watermarked keyed processState folds across batches in event-time order") {
    // batch 2 delivers an event whose time falls BETWEEN batch 1's two
    // events: the watermark-buffered path (StreamingSessions, sessions
    // of 1 µs) must fold it in full event-time order — the
    // batch path's order — where a per-batch fold would sequence it last.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val seqd = Env(spark).fromDataset(input.toDS())
      .withWatermark("30 minutes")
      .keyBy(_ => "k")
      .processState((_: String) => 0L) { (_, e, n) =>
        (n + 1, Seq(e.withValue((e.value, n + 1))))
      }
    val query = seqd.ds
      .writeStream.format("memory").queryName("s_ordered").outputMode("append").start()
    try {
      input.addData(ev(1, "2009-10-11 12:10:00"), ev(3, "2009-10-11 12:30:00"))
      query.processAllAvailable()
      input.addData(ev(2, "2009-10-11 12:20:00")) // out of order, within the 30 min delay
      query.processAllAvailable()
      // watermark is still 12:00 — nothing is foldable yet
      assert(spark.table("s_ordered").count() == 0)
      input.addData(ev(4, "2009-10-11 14:00:00")) // watermark → 13:30
      query.processAllAvailable()
      val got = spark.table("s_ordered").as[Event[(Long, Long)]]
        .collect().toSeq.map(_.value)
      // fold sequence follows event time (1,2,3), not arrival (1,3,2)
      assert(got.sorted == Seq((1L, 1L), (2L, 2L), (3L, 3L)), s"got $got")
    } finally query.stop()
  }

  test("streaming processStateGlobal fails fast when checkCorrectness is not disabled") {
    // without the documented session-wide opt-out, composition must throw
    // the graft-specific message (not Spark's generic analyzer error at
    // start()), and the message must name the blast radius
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    val keyed = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_.value)
    val e = intercept[IllegalStateException] {
      keyed.processStateGlobal((_: Long) => 0L, 0L)(
        (k, ev, kn) => (kn + 1, Seq(ev.withValue((k, kn)))))(
        (ev, gn) => (gn + 1, Seq(ev.withValue((ev.value._1, ev.value._2, gn)))))
    }
    assert(e.getMessage.contains("checkCorrectness.enabled=false"), e.getMessage)
    assert(e.getMessage.contains("session-wide"), e.getMessage)
    // the windowed composition carries the same guard
    val ew = intercept[IllegalStateException] {
      keyed.window(Duration.ofMinutes(10))
        .processStateGlobal((_: Long) => 0L, 0L)(
          (k, _, evs, kn) => (kn + 1, Seq(evs.head.withValue((k, kn)))))(
          (ev, gn) => (gn + 1, Seq(ev.withValue((ev.value._1, gn)))))
    }
    assert(ew.getMessage.contains("session-wide"), ew.getMessage)
  }

  test("withGlobalStateSession scopes the chain-check relaxation to the clone") {
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    // the outer session is EXPLICITLY strict; the composition must still
    // run inside the scoped clone and the outer flag must stay untouched
    val markerKey = "spark.graft.percentile.accuracy"
    spark.conf.set(checkKey, "true")
    try TestSpark.withConf(markerKey -> "12345") {
      val result = Env.withGlobalStateSession(spark) { scoped =>
        assert(scoped.conf.get(checkKey) == "false")
        // the outer session's runtime conf must have crossed into the clone
        assert(scoped.conf.get(markerKey) == "12345")
        implicit val sqlCtx = scoped.sqlContext
        val input = MemoryStream[Event[Long]]
        val out = Env(scoped).fromDataset(input.toDS())
          .withWatermark("0 seconds")
          .keyBy(_.value)
          .processStateGlobal((_: Long) => 0L, 0L)(
            (k, e, kn) => (kn + 1, Seq(e.withValue((k, kn)))))(
            (e, gn) => (gn + 1, Seq(e.withValue((e.value._1, e.value._2, gn)))))
        val query = out.ds.writeStream.format("memory")
          .queryName("s_scoped").outputMode("append").start()
        try {
          input.addData(ev(10, "2009-10-11 12:00:00"), ev(20, "2009-10-11 12:30:00"))
          query.processAllAvailable()
          input.addData(ev(99, "2009-10-11 14:00:00"))
          query.processAllAvailable() // wm 14:00 → releases 12:00 and 12:30
          scoped.table("s_scoped").as[Event[(Long, Long, Long)]]
            .collect().toSeq.map(_.value).toSet
        } finally query.stop()
      }
      assert(result == Set((10L, 0L, 0L), (20L, 0L, 1L)), s"got $result")
      assert(spark.conf.get(checkKey) == "true", "outer session flag was mutated")
      // and the outer session still fails fast, proving the check is live there
      implicit val sqlCtx = spark.sqlContext
      val outerInput = MemoryStream[Event[Long]]
      intercept[IllegalStateException] {
        Env(spark).fromDataset(outerInput.toDS())
          .withWatermark("0 seconds").keyBy(_.value)
          .processStateGlobal((_: Long) => 0L, 0L)(
            (k, e, kn) => (kn + 1, Seq(e.withValue((k, kn)))))(
            (e, gn) => (gn + 1, Seq(e.withValue((e.value._1, e.value._2, gn)))))
      }
    } finally spark.conf.unset(checkKey)
  }

  test("streaming keyed processStateGlobal interleaves keys in event-time order") {
    // two keys' events interleave in event time across batches; the
    // global counter must follow event-time order, not per-key arrival:
    // 10@12:00 → 0, 20@12:30 → 1, 10@12:35 → 2, 20@12:40 → 3.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    // same opt-out as the windowed composition: the per-batch global
    // stage never event-time-filters its input. Must be set BEFORE
    // composing — processStateGlobal fails fast at composition time.
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val out = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_.value)
      .processStateGlobal((_: Long) => 0L, 0L)(
        (k, e, kn) => (kn + 1, Seq(e.withValue((k, kn)))))(
        (e, gn) => (gn + 1, Seq(e.withValue((e.value._1, e.value._2, gn)))))
    val query = out.ds
      .writeStream.format("memory").queryName("s_kpsg").outputMode("append").start()
    try {
      input.addData(ev(10, "2009-10-11 12:00:00"), ev(20, "2009-10-11 12:30:00"))
      query.processAllAvailable() // wm 12:30 → releases 12:00 only
      input.addData(ev(10, "2009-10-11 12:35:00"), ev(20, "2009-10-11 12:40:00"))
      query.processAllAvailable() // wm 12:40 → releases 12:30, 12:35
      input.addData(ev(99, "2009-10-11 14:00:00"))
      query.processAllAvailable() // wm 14:00 → releases 12:40

      val got = spark.table("s_kpsg").as[Event[(Long, Long, Long)]]
        .collect().toSeq.map(_.value).toSet
      // (key, per-key counter, global counter)
      assert(got == Set((10L, 0L, 0L), (20L, 0L, 1L), (10L, 1L, 2L), (20L, 1L, 3L)),
        s"got $got")
    } finally {
      query.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("streaming windowed processState threads key state across batches") {
    // The reference windowed_process_state_separate_events timeline
    // (/root/reference/src/lib.rs:1384-1436): keys 0,0,0,1,1,2 with gap
    // 10 min; per-key session counter. Delivered over FIVE micro-batches
    // so key 0's two sessions close in different triggers — the state
    // must thread across batches through the checkpointed store.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val out = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_.value)
      .window(Duration.ofMinutes(10))
      .processState((_: Long) => 0L) { (k, _, evs, n) =>
        (n + 1, Seq(evs.head.withValue((k, n))))
      }
    val query = out.ds
      .writeStream.format("memory").queryName("s_wps").outputMode("append").start()
    try {
      // 12:39 (not the reference's 12:40): our pinned boundary rule is
      // strict — an event exactly at last+gap starts a NEW session — so
      // 12:40 would be a third key-0 session rather than extending the
      // second, unlike the reference's inclusive-touch merge.
      input.addData(ev(0, "2009-10-11 12:10:00"), ev(0, "2009-10-11 12:30:00"),
        ev(0, "2009-10-11 12:39:00"))
      query.processAllAvailable()
      input.addData(ev(1, "2009-10-11 12:55:00"), ev(1, "2009-10-11 12:56:00"))
      query.processAllAvailable() // wm 12:39 → key0 session 1 closes: (0, 0)
      input.addData(ev(2, "2009-10-11 13:20:00"))
      query.processAllAvailable() // wm 12:56 → key0 session 2 next trigger
      input.addData(ev(9, "2009-10-11 15:00:00"))
      query.processAllAvailable() // wm 13:20 → key0 s2 (0,1), key1 (1,0)
      input.addData(ev(9, "2009-10-11 15:30:00"))
      query.processAllAvailable() // wm 15:30 → key2 (2,0), key9 s1 (9,0)

      // everything except key 9's still-open 15:30 session has fired
      val got = spark.table("s_wps").as[Event[(Long, Long)]].collect().toSeq
        .map(e => (e.eventTime.get, e.value)).toSet
      assert(got == Set(
        (Timestamp.valueOf("2009-10-11 12:10:00"), (0L, 0L)),
        (Timestamp.valueOf("2009-10-11 12:30:00"), (0L, 1L)),
        (Timestamp.valueOf("2009-10-11 12:55:00"), (1L, 0L)),
        (Timestamp.valueOf("2009-10-11 13:20:00"), (2L, 0L)),
        (Timestamp.valueOf("2009-10-11 15:00:00"), (9L, 0L))), s"got $got")
    } finally query.stop()
  }

  test("streaming windowed processStateGlobal assigns global counters in close order") {
    // Overlapping cross-key sessions delivered so they CLOSE in different
    // micro-batches: key 0 spans 12:00-12:40 (one session, closes at
    // 12:50); key 1 is 12:30,12:31 (closes at 12:41, FIRST). The global
    // counter must follow close order — key 1 gets 0, key 0 gets 1 —
    // across batches, matching the batch path and the reference's
    // watermark loop.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    // the documented opt-out for the two-stage streaming composition: the
    // global stage never event-time-filters, so Spark's conservative
    // stateful-after-stateful late-row check does not apply to it. Must
    // be set BEFORE composing — the guard fails fast at composition time.
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val out = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_.value)
      .window(Duration.ofMinutes(10))
      .processStateGlobal((_: Long) => 0L, 0L)(
        (k, _, evs, kn) => (kn + 1, Seq(evs.head.withValue((k, kn)))))(
        (e, gn) => (gn + 1, Seq(e.withValue((e.value._1, gn)))))
    val query = out.ds
      .writeStream.format("memory").queryName("s_wpsg").outputMode("append").start()
    try {
      input.addData(ev(0, "2009-10-11 12:00:00"), ev(0, "2009-10-11 12:08:00"),
        ev(0, "2009-10-11 12:16:00"), ev(0, "2009-10-11 12:24:00"),
        ev(0, "2009-10-11 12:32:00"), ev(0, "2009-10-11 12:40:00"),
        ev(1, "2009-10-11 12:30:00"), ev(1, "2009-10-11 12:31:00"))
      query.processAllAvailable() // wm 12:40 — nothing closed yet
      input.addData(ev(7, "2009-10-11 12:45:00"))
      query.processAllAvailable() // wm 12:45 → key 1 closes: global 0
      input.addData(ev(7, "2009-10-11 14:00:00"))
      query.processAllAvailable() // wm 14:00 → key 0 (12:50), key 7 (12:55)
      input.addData(ev(9, "2009-10-11 15:00:00"))
      query.processAllAvailable() // wm 15:00 → key 7's second session (14:00)

      val got = spark.table("s_wpsg").as[Event[(Long, Long)]].collect().toSeq
        .map(_.value).toSet
      // close order: key1 @12:41 → 0, key0 @12:50 → 1, key7 @12:55 → 2,
      // key7's second session @14:10 → 3 (key9's 15:00 stays open)
      assert(got == Set((1L, 0L), (0L, 1L), (7L, 2L), (7L, 3L)), s"got $got")
    } finally {
      query.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("streaming full-window process delivers time-ordered contents") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_ => "k")
      .window(Duration.ofMinutes(10))
      .process((_, b, evs) => Seq(evs.head.withValue(evs.map(_.value))))

    val query = sessions.ds
      .writeStream.format("memory").queryName("s_proc").outputMode("append").start()
    try {
      input.addData(ev(3, "2009-10-11 12:04:00"), ev(1, "2009-10-11 12:00:00"),
        ev(2, "2009-10-11 12:02:00"))
      query.processAllAvailable()
      input.addData(ev(100, "2009-10-11 14:00:00"))
      query.processAllAvailable()
      input.addData(ev(101, "2009-10-11 15:00:00"))
      query.processAllAvailable()
      val fired = spark.table("s_proc").as[Event[Seq[Long]]].collect().toSeq
      assert(fired.map(_.value).contains(Seq(1L, 2L, 3L)), s"got $fired")
    } finally query.stop()
  }

  /** Runs `build` over `batches`, one micro-batch each, then two closer
    * batches at 14:00 and 15:00, and returns what closed before 14:00. */
  private def streamed[V](name: String, batches: Seq[Seq[Event[Long]]])(
      build: Dataset[Event[Long]] => GStream[V])(implicit enc: Encoder[Event[V]]): Seq[Event[V]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val query = build(input.toDS()).ds
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      (batches :+ Seq(ev(100, "2009-10-11 14:00:00")) :+ Seq(ev(101, "2009-10-11 15:00:00")))
        .foreach { b => input.addData(b); query.processAllAvailable() }
      spark.table(name).as[Event[V]].collect().toSeq
        .filter(_.eventTime.get.before(Timestamp.valueOf("2009-10-11 14:00:00")))
    } finally query.stop()
  }

  test("streaming windowed process orders equal event times by processing time, as batch") {
    // A arrives first but was processed later: both paths deliver [B, A]
    val a = Event(Timestamp.valueOf("2009-10-11 10:05:00"),
      Some(Timestamp.valueOf("2009-10-11 10:00:00")), 1L)
    val b = Event(Timestamp.valueOf("2009-10-11 10:01:00"),
      Some(Timestamp.valueOf("2009-10-11 10:00:00")), 2L)
    def ids(ds: Dataset[Event[Long]]) = Env(spark).fromDataset(ds)
      .withWatermark("10 minutes").keyBy(_ => "k").window(Duration.ofMinutes(10))
      .process((_, _, evs) => Seq(evs.head.withValue(evs.map(_.value))))
    val batch = ids(spark.createDataset(Seq(a, b))).collectValues()
    val stream = streamed[Seq[Long]]("s_ties", Seq(Seq(a), Seq(b)))(ids).map(_.value)
    assert(batch == Seq(Seq(2L, 1L)))
    assert(stream == batch)
  }

  test("windowed aggregate keeps the session's max processing time to the µs, batch and stream") {
    val a = Event(Timestamp.valueOf("2009-10-11 12:00:00.0005"),
      Some(Timestamp.valueOf("2009-10-11 12:00:01")), 1L)
    val b = Event(Timestamp.valueOf("2009-10-11 12:00:00.0009"),
      Some(Timestamp.valueOf("2009-10-11 12:00:02")), 2L)
    def agg(ds: Dataset[Event[Long]]) = Env(spark).fromDataset(ds)
      .withWatermark("0 seconds").keyBy(_ => "k").window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)
    val want = Event(b.processingTime, b.eventTime, 3L)
    assert(agg(spark.createDataset(Seq(a, b))).collectEvents() == Seq(want))
    assert(streamed[Long]("s_proc_us", Seq(Seq(a, b)))(agg) == Seq(want))
  }
}
