package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Join}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.TestSpark
import graft.TestSpark.withRocksDb

/**
 * Stream-stream inner join with watermark-bounded state — a capability
 * entirely absent from the reference (no joins at all, no two-stream
 * combination; SURVEY.md §2.2). Each side carries a watermark and the
 * time-range condition bounds how long a row waits for matches, so join
 * state is evictable — the only shape that survives unbounded streams.
 */
class StreamStreamJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("clicks join purchases within 10 minutes, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)

    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]

    val c = clicks.toDF().toDF("user_id", "c_ts", "click_id")
      .withWatermark("c_ts", "0 seconds")
    val p = purchases.toDF().toDF("p_user_id", "p_ts", "purchase_id")
      .withWatermark("p_ts", "0 seconds")

    val joined = c.join(p,
      col("user_id") === col("p_user_id") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select("click_id", "purchase_id")

    val query = joined.writeStream
      .format("memory").queryName("ssj").outputMode("append").start()
    try {
      clicks.addData((1L, t("2024-03-01 10:00:00"), 100L))
      purchases.addData((1L, t("2024-03-01 10:05:00"), 900L)) // within window
      query.processAllAvailable()
      clicks.addData((1L, t("2024-03-01 12:00:00"), 101L))
      purchases.addData((1L, t("2024-03-01 12:30:00"), 901L)) // outside 10 min
      query.processAllAvailable()

      val got = spark.table("ssj").as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 900L)), s"got $got")
    } finally query.stop()
  }

  test("StreamJoins.follows (streaming) is row-identical to RangeJoin.follows (batch)") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic two-stream workload: 5 users, 120 events per side,
    // timestamps striding so some pairs fall inside the 10-minute
    // horizon and some straddle it
    def ts(i: Long) = new Timestamp(1709280000000L + i * 97000L) // 97 s apart
    val viewRows = (0L until 120L).map(i => (i % 5, ts(i), 1000L + i))
    val clickRows = (0L until 120L).map(i => (i % 5, ts(i * 3 / 2), 2000L + i))

    val batchViews = viewRows.toDF("user_id", "ts", "event_id")
    val batchClicks = clickRows.toDF("user_id", "ts", "event_id")
    val expected = graft.operators.RangeJoin
      .follows(batchViews, batchClicks, "user_id", "ts", "event_id", 600000000L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    // the same predicate in one batch call of the streaming twin
    val batchTwin = StreamJoins
      .follows(batchViews, batchClicks, "user_id", "ts", "event_id", "10 minutes")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(batchTwin == expected)

    // now as two real watermarked streams, fed across several batches
    val views = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamJoins.follows(
      views.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      clicks.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      "user_id", "ts", "event_id", "10 minutes")
    val query = joined.select("a_id", "b_id").writeStream
      .format("memory").queryName("ssj_parity").outputMode("append").start()
    try {
      viewRows.grouped(40).zip(clickRows.grouped(40)).foreach { case (v, c) =>
        views.addData(v); clicks.addData(c)
        query.processAllAvailable()
      }
      val got = spark.table("ssj_parity").as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"streaming missing ${expected -- got}, extra ${got -- expected}")
      // watermark-bounded state: state rows count keys; once a far-future
      // sentinel (key 9) moves the watermark past every fed row's
      // horizon, each of the 5 users' state is removed and only the
      // sentinel's key is left
      views.addData((9L, ts(10000L), 999999L))
      clicks.addData((9L, ts(10000L), 888888L))
      query.processAllAvailable()
      views.addData((9L, ts(10001L), 999998L))
      query.processAllAvailable()
      val state = query.lastProgress.stateOperators(0)
      assert(state.numRowsTotal == 1, s"join state not evicted: ${state.numRowsTotal} keys")
      // an idle trigger's progress carries no state operators
      assert(query.recentProgress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum >= 5)
    } finally query.stop()
  }

  test("followsLeftOuter (streaming) emits null-padded rows on watermark passage") {
    implicit val sqlCtx = spark.sqlContext
    def ts(i: Long) = new Timestamp(1709280000000L + i * 97000L)
    // user 4 gets views but never clicks — its rows can ONLY surface
    // through the outer path
    val viewRows = (0L until 80L).map(i => (i % 5, ts(i), 1000L + i))
    val clickRows = (0L until 80L).map(i => (i % 4, ts(i * 3 / 2), 2000L + i))

    val batchViews = viewRows.toDF("user_id", "ts", "event_id")
    val batchClicks = clickRows.toDF("user_id", "ts", "event_id")
    val expected = StreamJoins
      .followsLeftOuter(batchViews, batchClicks, "user_id", "ts", "event_id", "10 minutes")
      .select("a_id", "b_id").as[(Long, Option[Long])].collect().toSet
    assert(expected.exists(_._2.isEmpty), "fixture must have unmatched views")
    // the t21 composition (bucketed inner + anti-join union) agrees
    val inner = graft.operators.RangeJoin
      .follows(batchViews, batchClicks, "user_id", "ts", "event_id", 600000000L)
    val composed = inner.select("a_id", "b_id").as[(Long, Long)].collect()
      .map { case (a, b) => (a, Some(b): Option[Long]) }.toSet ++
      batchViews.join(inner.select("a_id"),
          batchViews("event_id") === col("a_id"), "left_anti")
        .select("event_id").as[Long].collect()
        .map(a => (a, None: Option[Long])).toSet
    assert(composed == expected)

    val views = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamJoins.followsLeftOuter(
      views.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      clicks.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      "user_id", "ts", "event_id", "10 minutes")
    val query = joined.select("a_id", "b_id").writeStream
      .format("memory").queryName("ssj_outer").outputMode("append").start()
    try {
      viewRows.grouped(40).zip(clickRows.grouped(40)).foreach { case (v, c) =>
        views.addData(v); clicks.addData(c)
        query.processAllAvailable()
      }
      // before the watermark clears the tail, unmatched views near the
      // end are still pending; a far-future sentinel (excluded from
      // `expected` by its id, matching nothing) flushes them
      views.addData((9L, ts(10000L), 999999L))
      clicks.addData((9L, ts(10000L), 888888L))
      query.processAllAvailable()
      views.addData((9L, ts(10001L), 999998L)) // one more advance to drain
      query.processAllAvailable()
      val got = spark.table("ssj_outer").as[(Long, Option[Long])].collect().toSet
        .filterNot(r => r._1 >= 999000L)
      assert(got == expected,
        s"streaming missing ${expected -- got}, extra ${got -- expected}")
    } finally query.stop()
  }

  test("followsFullOuter (streaming) accounts for every row on both sides") {
    implicit val sqlCtx = spark.sqlContext
    def ts(i: Long) = new Timestamp(1709280000000L + i * 97000L)
    // user 4: views only (left-null-padded path); the i*3/2 click spread
    // also strands clicks with no prior in-horizon view (right path)
    val viewRows = (0L until 80L).map(i => (i % 5, ts(i), 1000L + i))
    val clickRows = (0L until 80L).map(i => (i % 4, ts(i * 3 / 2), 2000L + i))
    val batchViews = viewRows.toDF("user_id", "ts", "event_id")
    val batchClicks = clickRows.toDF("user_id", "ts", "event_id")
    val expected = StreamJoins
      .followsFullOuter(batchViews, batchClicks, "user_id", "ts", "event_id", "10 minutes")
      .select("a_id", "b_id").as[(Option[Long], Option[Long])].collect().toSet
    assert(expected.exists(_._1.isEmpty), "fixture must have orphan clicks")
    assert(expected.exists(_._2.isEmpty), "fixture must have unmatched views")
    // the t24 composition (bucketed inner + two anti-join unions) agrees
    val inner = graft.operators.RangeJoin
      .follows(batchViews, batchClicks, "user_id", "ts", "event_id", 600000000L)
    val composed: Set[(Option[Long], Option[Long])] =
      inner.select("a_id", "b_id").as[(Long, Long)].collect()
        .map { case (a, b) => (Some(a): Option[Long], Some(b): Option[Long]) }.toSet ++
      batchViews.join(inner.select("a_id"),
          batchViews("event_id") === col("a_id"), "left_anti")
        .select("event_id").as[Long].collect()
        .map(a => (Some(a): Option[Long], None: Option[Long])).toSet ++
      batchClicks.join(inner.select("b_id").distinct(),
          batchClicks("event_id") === col("b_id"), "left_anti")
        .select("event_id").as[Long].collect()
        .map(b => (None: Option[Long], Some(b): Option[Long])).toSet
    assert(composed == expected)

    val views = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamJoins.followsFullOuter(
      views.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      clicks.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "1 minute"),
      "user_id", "ts", "event_id", "10 minutes")
    val query = joined.select("a_id", "b_id").writeStream
      .format("memory").queryName("ssj_full").outputMode("append").start()
    try {
      viewRows.grouped(40).zip(clickRows.grouped(40)).foreach { case (v, c) =>
        views.addData(v); clicks.addData(c)
        query.processAllAvailable()
      }
      views.addData((9L, ts(10000L), 999999L))
      clicks.addData((9L, ts(10000L), 888888L))
      query.processAllAvailable()
      views.addData((9L, ts(10001L), 999998L))
      clicks.addData((9L, ts(10001L), 888887L))
      query.processAllAvailable()
      val got = spark.table("ssj_full").as[(Option[Long], Option[Long])].collect().toSet
        .filterNot(r => r._1.exists(_ >= 999000L) || r._2.exists(_ >= 888000L))
      assert(got == expected,
        s"streaming missing ${expected -- got}, extra ${got -- expected}")
    } finally query.stop()
  }

  test("stream-static enrichment (t22): file-stream join to broadcast dim equals batch") {
    val sf = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("t22_stream_enrich")(spark, sf)
      .as[(String, String, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    val c = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val e = graft.sources.Tables.eventsStream(spark, sf)
    val enriched = e.join(broadcast(c), e("user_id") === c("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_v1e6"))
    val query = enriched.writeStream
      .format("memory").queryName("t22_stream").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table("t22_stream")
        .as[(String, String, Long, Long)].collect().toSet
      assert(got == expected,
        s"missing ${expected -- got}, extra ${got -- expected}")
    } finally query.stop()
  }

  // ---- the interval-join operator: edge cases, late rows, restarts ----

  private type Form = (DataFrame, DataFrame, String, String, String, String) => DataFrame
  private val forms: Seq[(String, Form)] = Seq(
    "inner" -> (StreamJoins.follows _),
    "left_outer" -> (StreamJoins.followsLeftOuter _),
    "full_outer" -> (StreamJoins.followsFullOuter _))

  private val horizon = "2 minutes"
  private val t0 = 1709280000000L
  private def at(sec: Long) = new Timestamp(t0 + sec * 1000L)

  /** A join output as sorted row strings, without sentinel rows (ids
    * from 900000): bag semantics, duplicates count. */
  private def bag(rows: Seq[Row]): Seq[String] =
    rows.filterNot(r => Seq(1, 3).exists(i => !r.isNullAt(i) && r.getLong(i) >= 900000L))
      .map(_.toString).sorted

  /** Both sides fed through one memory stream, so that each `feed` lands
    * in one micro-batch; split on the side flag, each side with its own
    * watermark. */
  private final class TwoSided[K](delay: String)(implicit
      enc: Encoder[(K, Timestamp, Long, Boolean)], ctx: org.apache.spark.sql.SQLContext) {
    private val ms = MemoryStream[(K, Timestamp, Long, Boolean)]
    private val all = ms.toDF().toDF("user", "ts", "id", "is_left")
    def side(isLeft: Boolean): DataFrame =
      all.filter(col("is_left") === isLeft).drop("is_left").withWatermark("ts", delay)
    def feed(l: Seq[(K, Timestamp, Long)], r: Seq[(K, Timestamp, Long)]): Unit =
      ms.addData(l.map { case (k, t, i) => (k, t, i, true) } ++ r.map { case (k, t, i) => (k, t, i, false) })
  }

  /**
   * Seeded two-sided input of `batches` micro-batches: batch i is
   * centred on minute i, with rows up to 3.5 minutes before it or 2
   * after (the watermark, 5 minutes behind the latest left row, stays
   * below 4 minutes before it, so no row is late but some arrive just
   * above it), on a 30 s grid so that times coincide. Each batch also
   * pairs a left row with a right row at the same time (no match) and
   * one exactly a horizon later (a match). Some rows repeat, within a
   * batch and across batches, and some have a null key or a null time.
   * Ids: left 1000+, right 5000+.
   */
  private def gen[K](seed: Long, batches: Int, key: Int => K, nullKey: K)
      : Seq[(Seq[(K, Timestamp, Long)], Seq[(K, Timestamp, Long)])] = {
    val rnd = new Random(seed)
    var prevL, prevR = Seq.empty[(K, Timestamp, Long)]
    var nextL = 1000L
    var nextR = 5000L
    (0 until batches).map { i =>
      def side(n: Int, next: () => Long, prev: Seq[(K, Timestamp, Long)]) = {
        val fresh = (0 until n).map { _ =>
          val k = if (rnd.nextInt(12) == 0) nullKey else key(rnd.nextInt(3))
          val ts = if (rnd.nextInt(16) == 0) null else at(60L * i + 30L * (rnd.nextInt(12) - 7))
          (k, ts, next())
        }
        val pool = fresh ++ prev.filter(r => r._2 == null || !r._2.before(at(60L * i - 210L)))
        fresh ++ (0 until 2).map(_ => pool(rnd.nextInt(pool.size)))
      }
      val l = side(6, () => { nextL += 1; nextL }, prevL)
      val anchor = l.find(r => r._1 != nullKey && r._2 != null).get
      val r = side(6, () => { nextR += 1; nextR }, prevR) ++ Seq(
        (anchor._1, anchor._2, { nextR += 1; nextR }),
        (anchor._1, new Timestamp(anchor._2.getTime + 120000L), { nextR += 1; nextR }))
      prevL = l
      prevR = r
      (l, r)
    }
  }

  /** Feeds `batches` to every join form as two watermarked streams and
    * checks each output, as a bag, against the same form on the whole
    * input as batch frames; the streamed schema must equal the batch one. */
  private def crossCheck[K](tag: String, batches: Seq[(Seq[(K, Timestamp, Long)],
      Seq[(K, Timestamp, Long)])], sentinel: K)(
      implicit enc: Encoder[(K, Timestamp, Long, Boolean)]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = spark.createDataset(batches.flatMap { case (l, r) =>
      l.map { case (k, t, i) => (k, t, i, true) } ++ r.map { case (k, t, i) => (k, t, i, false) }
    }).toDF("user", "ts", "id", "is_left")
    def batchSide(isLeft: Boolean) = input.filter(col("is_left") === isLeft).drop("is_left")
    forms.foreach { case (how, join) =>
      val expected = join(batchSide(true), batchSide(false), "user", "ts", "id", horizon)
      val want = bag(expected.collect().toSeq)
      val in = new TwoSided[K]("5 minutes")
      val joined = join(in.side(true), in.side(false), "user", "ts", "id", horizon)
      assert(joined.schema == expected.schema, s"$how schema")
      val q = joined.writeStream.format("memory").queryName(s"ssj_x_${tag}_$how")
        .outputMode("append").start()
      try {
        batches.foreach { case (l, r) =>
          in.feed(l, r)
          q.processAllAvailable()
        }
        // far-future sentinels move the watermark past every horizon
        Seq(86400L, 86401L).zipWithIndex.foreach { case (sec, j) =>
          in.feed(Seq((sentinel, at(sec), 900000L + j)), Seq((sentinel, at(sec), 950000L + j)))
          q.processAllAvailable()
        }
        val got = bag(spark.table(s"ssj_x_${tag}_$how").collect().toSeq)
        assert(got == want, s"$how: streaming ${got.diff(want)} extra, ${want.diff(got)} missing")
        assert(q.recentProgress.forall(_.stateOperators.forall(_.numRowsDroppedByWatermark == 0)))
      } finally q.stop()
    }
  }

  test("interval join: seeded multi-batch input, all three forms equal batch (Long key)") {
    Seq(11L, 12L).foreach { seed =>
      val batches = gen[Option[Long]](seed, 8, k => Some(k.toLong), None)
      val rows = (batches.flatMap(_._1), batches.flatMap(_._2))
      // the fixture reaches every edge case it names
      assert(rows._1.exists(_._1.isEmpty) && rows._2.exists(_._2 == null))
      assert(rows._1.diff(rows._1.distinct).nonEmpty && rows._2.diff(rows._2.distinct).nonEmpty)
      assert(rows._1.exists(a => a._2 != null &&
        rows._2.exists(b => b._1 == a._1 && b._2 != null && b._2.getTime == a._2.getTime + 120000L)))
      crossCheck(s"long$seed", batches, Some(99L))
    }
  }

  test("interval join: seeded multi-batch input, all three forms equal batch (String key)") {
    crossCheck("str", gen[String](13L, 8, k => s"u$k", null), "zz")
  }

  test("interval join: a late row on either side is dropped and counted") {
    implicit val sqlCtx = spark.sqlContext
    val in = new TwoSided[Long]("0 seconds")
    val joined = StreamJoins.followsFullOuter(in.side(true), in.side(false),
      "user", "ts", "id", "10 minutes")
    val b = Seq((1L, at(0), 1L)).toDF("user", "ts", "id")
    assert(joined.schema == StreamJoins.followsFullOuter(b, b, "user", "ts", "id", "10 minutes").schema)
    val q = joined.writeStream.format("memory").queryName("ssj_late")
      .outputMode("append").start()
    try {
      in.feed(Seq((1L, at(0), 1L), (2L, at(300), 5L)), Seq((1L, at(300), 2L), (2L, at(300), 6L)))
      q.processAllAvailable()
      // both watermarks are now at 300 s: a view at 60 s and a click at
      // 120 s (each would pair with a key-1 row) are behind them
      in.feed(Seq((1L, at(60), 3L)), Seq((1L, at(120), 4L)))
      q.processAllAvailable()
      Seq(86400L, 86401L).foreach { sec =>
        in.feed(Seq((9L, at(sec), 900000L)), Seq((9L, at(sec), 950000L)))
        q.processAllAvailable()
      }
      val got = spark.table("ssj_late").collect().toSeq
      assert(bag(got) == Seq(Row(1L, 1L, at(0), 2L, at(300)), Row(2L, 5L, at(300), null, null),
        Row(2L, null, null, 6L, at(300))).map(_.toString).sorted, got)
      val dropped = q.recentProgress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      assert(dropped == 2, s"dropped $dropped")
      // the watermark tag survives the union into the stateful operator
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val stateIn = plan.collect { case p if p.nodeName == "FlatMapGroupsWithState" => p.children.head }
      assert(stateIn.size == 1 &&
        stateIn.head.output.exists(_.metadata.contains(EventTimeWatermark.delayKey)))
    } finally q.stop()
  }

  test("interval join: rows just inside the eviction bounds still pair with later arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val in = new TwoSided[Long]("0 seconds")
    val joined = StreamJoins.follows(in.side(true), in.side(false), "user", "ts", "id", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_bounds")
      .outputMode("append").start()
    // batch 1 takes both watermarks to 300 s. Batch 2 touches keys 1 and
    // 3 at that watermark, where click 7 (330 s) and view 9 (-280 s,
    // horizon end 320 s) are just inside their bounds and must stay.
    // Batch 3 then pairs view 8 (310 s) with click 7 and click 10 (315 s)
    // with view 9.
    val b1 = (Seq((1L, at(0), 1L), (5L, at(300), 5L), (3L, at(-280), 9L)),
      Seq((1L, at(100), 2L), (5L, at(300), 6L), (1L, at(330), 7L)))
    val b2 = (Seq((3L, at(305), 11L)), Seq((1L, at(305), 12L)))
    val b3 = (Seq((1L, at(310), 8L)), Seq((3L, at(315), 10L)))
    val feed = Seq(b1, b2, b3)
    try {
      feed.foreach { case (v, c) =>
        in.feed(v, c)
        q.processAllAvailable()
      }
      val (bv, bc) = (feed.flatMap(_._1), feed.flatMap(_._2))
      val expected = StreamJoins.follows(bv.toDF("user", "ts", "id"), bc.toDF("user", "ts", "id"),
        "user", "ts", "id", "10 minutes").collect().toSeq
      assert(Seq((8L, 7L), (9L, 10L)).forall { case (a, b) =>
        expected.exists(r => r.getLong(1) == a && r.getLong(3) == b) })
      assert(bag(spark.table("ssj_bounds").collect().toSeq) == bag(expected))
      assert(q.recentProgress.forall(_.stateOperators.forall(_.numRowsDroppedByWatermark == 0)))
    } finally q.stop()
  }

  test("interval join plan: one stateful operator and one shuffle; batch keeps the join") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val s = ms.toDF().toDF("user", "ts", "id", "kind").withWatermark("ts", "10 minutes")
    val q = StreamJoins.follows(s.filter(col("kind") === "view"), s.filter(col("kind") === "click"),
        "user", "ts", "id", "10 minutes")
      .writeStream.format("memory").queryName("ssj_plan").outputMode("append").start()
    try {
      ms.addData((1L, at(0), 1L, "view"), (1L, at(60), 2L, "click"))
      q.processAllAvailable()
      val plan: SparkPlan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val names = plan.collect { case p => p.nodeName }
      assert(!names.exists(_.contains("SymmetricHashJoin")), names)
      assert(names.count(_ == "FlatMapGroupsWithState") == 1, names)
      assert(names.count(_ == "Exchange") == 1, names)
      assert(spark.table("ssj_plan").count() == 1)
    } finally q.stop()
    val b = Seq((1L, at(0), 1L)).toDF("user", "ts", "id")
    val batch = StreamJoins.follows(b, b, "user", "ts", "id", "10 minutes")
    assert(batch.queryExecution.optimizedPlan.collect { case j: Join => j }.size == 1)
  }

  /** Rows for the restart cases: one file per batch, views and clicks
    * in one file stream told apart by `kind`. */
  private def restartFiles(): Seq[Seq[(Long, Timestamp, Long, String)]] =
    gen[Long](21L, 6, _.toLong, -1L).map { case (l, r) =>
      def ok(x: (Long, Timestamp, Long)) = x._1 >= 0 && x._2 != null
      l.filter(ok).map { case (k, t, i) => (k, t, i, "view") } ++
        r.filter(ok).map { case (k, t, i) => (k, t, i, "click") }
    } :+ Seq((99L, at(86400), 900000L, "view"), (99L, at(86400), 950000L, "click"))

  /** Runs `how` over the files in `src` to completion with checkpoint
    * `ckpt`, one file per micro-batch; returns the rows it emitted. */
  private def runFiles(join: Form, src: String, ckpt: String): Seq[Row] = {
    val schema = "user BIGINT, ts TIMESTAMP, id BIGINT, kind STRING"
    val s = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    def side(kind: String) = s.filter(col("kind") === kind).withWatermark("ts", "5 minutes")
    val out = mutable.ArrayBuffer.empty[Row]
    val collect: (DataFrame, Long) => Unit = (df, _) => out.synchronized(out ++= df.collect())
    val q: StreamingQuery = join(side("view"), side("click"), "user", "ts", "id", horizon)
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(collect)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.forall(_.stateOperators.forall(_.numRowsDroppedByWatermark == 0)))
    out.toSeq
  }

  private def restartCase(how: String, rocksDb: Boolean): Unit = {
    val join = forms.toMap.apply(how)
    val root = java.nio.file.Files.createTempDirectory(s"graft_ssj_restart_$how").toFile.getAbsolutePath
    val files = restartFiles()
    // one parquet file per batch, modification times in feed order (the
    // file source replays in that order)
    var n = 0
    def land(dir: String, fs: Seq[Seq[(Long, Timestamp, Long, String)]]): Unit = fs.foreach { f =>
      val tmp = s"$root/tmp$n"
      f.toDF("user", "ts", "id", "kind").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"f$n%03d.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + n * 10000L)
      n += 1
    }
    land(s"$root/whole", files)
    val whole = bag(runFiles(join, s"$root/whole", s"$root/ckpt_whole"))
    // the split: half the files, stop, the rest, restart on the checkpoint
    val (first, rest) = files.splitAt(files.size / 2)
    land(s"$root/split", first)
    def run() = runFiles(join, s"$root/split", s"$root/ckpt_split")
    val (a, b) = if (rocksDb) withRocksDb {
      val a = run(); land(s"$root/split", rest); (a, run())
    } else {
      val a = run(); land(s"$root/split", rest); (a, run())
    }
    assert(bag(a ++ b) == whole, s"$how: ${bag(a ++ b).diff(whole)} extra, ${whole.diff(bag(a ++ b))} missing")
    // the restart fell mid-horizon: a pair spans it
    val firstIds = first.flatten.map(_._3).toSet
    assert(b.exists(r => !r.isNullAt(3) && firstIds(r.getLong(1)) && !firstIds(r.getLong(3))))
    val ckptFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/ckpt_split/state"))
      .toArray.map(_.toString)
    assert(ckptFiles.exists(_.endsWith(".zip")) == rocksDb, "state-store provider")
  }

  test("interval join state survives a restart mid-horizon (inner, default provider)") {
    restartCase("inner", rocksDb = false)
  }

  test("interval join state survives a restart mid-horizon (inner, RocksDB)") {
    restartCase("inner", rocksDb = true)
  }

  test("interval join state survives a restart mid-horizon (left outer, default provider)") {
    restartCase("left_outer", rocksDb = false)
  }

  test("interval join state survives a restart mid-horizon (left outer, RocksDB)") {
    restartCase("left_outer", rocksDb = true)
  }
}
