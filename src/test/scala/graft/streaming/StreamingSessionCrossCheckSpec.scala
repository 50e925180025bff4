package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.api.{Env, Event}

/**
 * Randomized cross-check of the incremental streaming session
 * implementation (StreamingSessions: SessionScan.merge over stored and
 * fresh sessions + timeout state machine) against the batch path: the same 400 random events,
 * delivered out of order across four micro-batches under a watermark
 * delay larger than the whole time span (so nothing is dropped late),
 * must produce the identical closed-session aggregates once a far-future
 * event closes everything.
 */
class StreamingSessionCrossCheckSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming sessions equal batch sessions on random multi-batch input") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(1234)
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val events = (0 until 400).map { i =>
      val key = rnd.nextInt(6)
      // cluster times per key with gaps straddling the 10-min session gap
      val t = base + key * 7200000L + rnd.nextInt(240) * 60000L
      Event(new Timestamp(t), Some(new Timestamp(t)), (key.toLong, 1L))
    }
    val closer = {
      val t = base + 90L * 86400000L // +90 days: closes every session
      Event(new Timestamp(t), Some(new Timestamp(t)), (99L, 0L))
    }
    val gap = Duration.ofMinutes(10)

    def pipeline(ds: org.apache.spark.sql.Dataset[Event[(Long, Long)]]) =
      Env(spark).fromDataset(ds)
        .keyBy(_.value._1)
        .window(gap)
        .aggregate(_._2)(_ + _)

    // batch reference (includes the closer's own singleton session)
    val batch = pipeline(spark.createDataset(events :+ closer))
      .collectEvents()
      .map(e => (e.eventTime.get, e.value)).sorted

    // streaming: 4 shuffled batches + the closer
    val input = MemoryStream[Event[(Long, Long)]]
    val streamed = Env(spark).fromDataset(input.toDS())
      .withWatermark("30 days") // span of data ≈ 16h → nothing is ever late
      .keyBy(_.value._1)
      .window(gap)
      .aggregate(_._2)(_ + _)
    val query = streamed.ds.writeStream
      .format("memory").queryName("sess_xcheck").outputMode("append").start()
    try {
      val shuffled = rnd.shuffle(events)
      shuffled.grouped(100).foreach { batchEvents =>
        input.addData(batchEvents: _*)
        query.processAllAvailable()
      }
      input.addData(closer)
      query.processAllAvailable()
      // one empty-ish batch so timeouts see the advanced watermark
      input.addData(closer.withValue((98L, 0L)))
      query.processAllAvailable()

      val fired = spark.table("sess_xcheck").as[Event[Long]]
        .collect().map(e => (e.eventTime.get, e.value)).sorted.toSeq

      // every batch session except the closers' own (still open) must fire
      val expectedClosed = batch.filterNot(s =>
        s._1.getTime >= base + 90L * 86400000L)
      assert(fired == expectedClosed,
        s"streamed=${fired.size} batch-closed=${expectedClosed.size}")
    } finally query.stop()
  }

  test("streaming windowed processState equals batch on random multi-batch input") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(4321)
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val events = (0 until 400).map { i =>
      val key = rnd.nextInt(6)
      val t = base + key * 7200000L + rnd.nextInt(240) * 60000L
      Event(new Timestamp(t), Some(new Timestamp(t)), (key.toLong, 1L))
    }
    val closer = {
      val t = base + 90L * 86400000L
      Event(new Timestamp(t), Some(new Timestamp(t)), (99L, 0L))
    }
    val gap = Duration.ofMinutes(10)

    // per-key session ordinal + session size: the ordinal certifies the
    // cross-session state thread, the size the window contents
    def pipeline(ds: org.apache.spark.sql.Dataset[Event[(Long, Long)]]) =
      Env(spark).fromDataset(ds)
        .keyBy(_.value._1)
        .window(gap)
        .processState((_: Long) => 0L) { (k, b, evs, n) =>
          (n + 1, Seq(evs.head.withValue((k, n, evs.size.toLong))))
        }

    val batch = pipeline(spark.createDataset(events :+ closer))
      .collectEvents()
      .map(e => (e.eventTime.get, e.value)).sorted

    val input = MemoryStream[Event[(Long, Long)]]
    val streamed = Env(spark).fromDataset(input.toDS())
      .withWatermark("30 days")
      .keyBy(_.value._1)
      .window(gap)
      .processState((_: Long) => 0L) { (k, b, evs, n) =>
        (n + 1, Seq(evs.head.withValue((k, n, evs.size.toLong))))
      }
    val query = streamed.ds.writeStream
      .format("memory").queryName("wps_xcheck").outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(100).foreach { batchEvents =>
        input.addData(batchEvents: _*)
        query.processAllAvailable()
      }
      input.addData(closer)
      query.processAllAvailable()
      input.addData(closer.withValue((98L, 0L)))
      query.processAllAvailable()

      val fired = spark.table("wps_xcheck").as[Event[(Long, Long, Long)]]
        .collect().map(e => (e.eventTime.get, e.value)).sorted.toSeq
      val expectedClosed = batch.filterNot(s =>
        s._1.getTime >= base + 90L * 86400000L)
      assert(fired == expectedClosed,
        s"streamed=${fired.size} batch-closed=${expectedClosed.size}")
    } finally query.stop()
  }

  test("watermarked keyed processState equals batch fold on random multi-batch input") {
    // the watermark-buffered keyed fold (StreamingSessions, sessions of
    // 1 µs): 400 random events shuffled into 4 micro-batches
    // must fold per key in the same (eventTime, processingTime) order the
    // batch path sorts by — per-key running counts attach to the same
    // events regardless of arrival pattern.
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(9876)
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val events = (0 until 400).map { i =>
      val key = rnd.nextInt(6)
      val t = base + key * 7200000L + rnd.nextInt(240) * 60000L
      Event(new Timestamp(t), Some(new Timestamp(t)), (key.toLong, 1L))
    }
    val closer = {
      val t = base + 90L * 86400000L
      Event(new Timestamp(t), Some(new Timestamp(t)), (99L, 0L))
    }

    def fold(env: graft.api.KeyedGStream[Long, (Long, Long)]) =
      env.processState((_: Long) => 0L) { (k, e, n) =>
        (n + 1, Seq(e.withValue((k, n + 1))))
      }

    val batch = fold(Env(spark).fromDataset(spark.createDataset(events :+ closer))
        .keyBy(_.value._1))
      .collectEvents()
      .map(e => (e.eventTime.get, e.value)).sorted

    val input = MemoryStream[Event[(Long, Long)]]
    val streamed = fold(Env(spark).fromDataset(input.toDS())
      .withWatermark("30 days")
      .keyBy(_.value._1))
    val query = streamed.ds.writeStream
      .format("memory").queryName("okps_xcheck").outputMode("append").start()
    try {
      rnd.shuffle(events).grouped(100).foreach { batchEvents =>
        input.addData(batchEvents: _*)
        query.processAllAvailable()
      }
      input.addData(closer)
      query.processAllAvailable()

      val fired = spark.table("okps_xcheck").as[Event[(Long, Long)]]
        .collect().map(e => (e.eventTime.get, e.value)).sorted.toSeq
      // the closer itself stays buffered (the watermark never passes it)
      val expectedReady = batch.filterNot(s =>
        s._1.getTime >= base + 90L * 86400000L)
      assert(fired == expectedReady,
        s"streamed=${fired.size} batch-ready=${expectedReady.size}")
    } finally query.stop()
  }
}
