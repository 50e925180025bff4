package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.Windows

/** Streaming per-window top-k vs the batch tumbling + top-k
  * composition: emissions must be row-identical once windows close,
  * cross-batch counts must merge, and closed-window state must drop. */
class TopKStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(hour: Long, min: Long): Timestamp =
    new Timestamp((hour * 3600 + min * 60) * 1000L)

  /** Batch reference: tumbling hourly counts + scalable top-k. */
  private def batchTopK(rows: Seq[(Timestamp, String)], k: Int): Set[(Long, String, Long, Long)] = {
    val df = rows.toDF("ts", "token")
    val counts = df.groupBy(
        (expr("unix_timestamp(ts) div 3600") * lit(3600000000L)).as("window_start"),
        col("token"))
      .agg(count(lit(1)).as("cnt"))
    Windows.topKPerKeyScalable(counts, Seq("window_start"),
        Seq(col("cnt").desc, col("token")), k,
        substring(md5(col("token")), 1, 1), "rank")
      .as[(Long, String, Long, Long)].collect().toSet
  }

  test("FMGWS backend matches the batch tumbling + top-k composition") {
    implicit val sqlCtx = spark.sqlContext
    // hour 10: a×3 b×2 c×1 split ACROSS two micro-batches (state must
    // merge); hour 11: b×2 d×1
    val batch1 = Seq((t(10, 1), "a"), (t(10, 2), "b"), (t(10, 3), "a"))
    val batch2 = Seq((t(10, 4), "a"), (t(10, 5), "c"), (t(10, 6), "b"),
      (t(11, 1), "b"), (t(11, 2), "d"), (t(11, 3), "b"))
    val sentinel = Seq((t(20, 0), "zzz"))
    val expected = batchTopK(batch1 ++ batch2, 2)

    val input = MemoryStream[(Timestamp, String)]
    val out = TopKStream(
      input.toDF().toDF("ts", "token").withWatermark("ts", "0 seconds"),
      "ts", "token", 3600L, 2)
    val name = "topk_exact"
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2); query.processAllAvailable()
      input.addData(sentinel); query.processAllAvailable() // closes 10, 11
      input.addData(Seq((t(21, 0), "zz2"))); query.processAllAvailable()
      val got = spark.table(name).as[(Long, String, Long, Long)].collect().toSet
        .filterNot(_._1 >= 20L * 3600L * 1000000L) // sentinel windows
      assert(got == expected,
        s"missing ${expected -- got}, extra ${got -- expected}")
      // hour 10's top-2 is (a,3),(b,2) — c must NOT appear
      assert(!got.exists(r => r._1 == 10L * 3600000000L && r._2 == "c"))
    } finally query.stop()
  }

  test("approx (CMS + candidate cap) recovers the exact top-k on skewed streams") {
    implicit val sqlCtx = spark.sqlContext
    // Zipf-ish hour: heavy tokens h0..h4 (60, 50, 40, 30, 20 events)
    // inside 2000 singleton-noise tokens — the regime the sketch is for.
    // cap=64 << 2005 distinct tokens forces real candidate eviction.
    val rnd = new scala.util.Random(5)
    val heavy = (0 until 5).flatMap(i => Seq.fill(60 - i * 10)(s"h$i"))
    val noise = (0 until 2000).map(i => s"n$i")
    val events = rnd.shuffle(heavy ++ noise).zipWithIndex
      .map { case (tok, i) => (t(10, 0 + (i % 59)), tok) }
    val input = MemoryStream[(Timestamp, String)]
    // 1-hour delay: the shuffled arrival order must not make in-window
    // rows late (a 0 s watermark would drop every row behind the
    // running max — the exact-path tests feed in order, this one not)
    val out = TopKStream.approx(
      input.toDF().toDF("ts", "token").withWatermark("ts", "1 hour"),
      "ts", "token", 3600L, 5, w = 1024, cap = 64)
    val query = out.writeStream.format("memory").queryName("topk_approx")
      .outputMode("append").start()
    try {
      events.grouped(800).foreach { g => input.addData(g); query.processAllAvailable() }
      input.addData(Seq((t(20, 0), "zz"))); query.processAllAvailable()
      input.addData(Seq((t(21, 0), "zz2"))); query.processAllAvailable()
      val got = spark.table("topk_approx").as[(Long, String, Long, Long)].collect()
        .filter(_._1 == 10L * 3600000000L).sortBy(_._4)
      // the five true heavy hitters, in order; estimates ≥ true counts
      assert(got.map(_._2).toSeq == Seq("h0", "h1", "h2", "h3", "h4"), s"got ${got.toSeq}")
      got.zip(Seq(60L, 50L, 40L, 30L, 20L)).foreach { case (r, trueC) =>
        assert(r._3 >= trueC && r._3 <= trueC + 40, s"estimate off: $r vs $trueC")
      }
    } finally query.stop()
  }

  test("sharded state (4 shards) + resolveCandidates == batch top-k, FMGWS") {
    implicit val sqlCtx = spark.sqlContext
    // 12 distinct tokens so 4 shards all carry load; counts 12,11,…,1
    val toks = (0 until 12).flatMap(i => Seq.fill(12 - i)(f"tk$i%02d"))
    val rows = toks.zipWithIndex.map { case (tok, i) => (t(10, i % 59), tok) }
    val expected = batchTopK(rows, 3)
    val input = MemoryStream[(Timestamp, String)]
    val cands = TopKStream(
      input.toDF().toDF("ts", "token").withWatermark("ts", "1 hour"),
      "ts", "token", 3600L, 3, shards = 4)
    val name = "topk_shard"
    val query = cands.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      rows.grouped(30).foreach { g => input.addData(g); query.processAllAvailable() }
      input.addData(Seq((t(20, 0), "zz"))); query.processAllAvailable()
      input.addData(Seq((t(21, 0), "zz2"))); query.processAllAvailable()
      val cand = spark.table(name).filter(col("window_start") === 10L * 3600000000L)
      // ≤ k·shards candidates, every count exact (token→shard partition)
      assert(cand.count() <= 3 * 4)
      val resolved = TopKStream.resolveCandidates(cand, 3)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(resolved == expected,
        s"missing ${expected -- resolved}, extra ${resolved -- expected}")
    } finally query.stop()
  }

  test("late row for a closed window is dropped, not revived (FMGWS)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = TopKStream(
      input.toDF().toDF("ts", "token").withWatermark("ts", "0 seconds"),
      "ts", "token", 3600L, 2)
    val query = out.writeStream.format("memory").queryName("topk_late")
      .outputMode("append").start()
    try {
      input.addData(Seq((t(10, 1), "a"), (t(10, 2), "a"), (t(10, 3), "b")))
      query.processAllAvailable()
      input.addData(Seq((t(20, 0), "zz"))); query.processAllAvailable() // closes 10
      val h10 = () => spark.table("topk_late")
        .filter(col("window_start") === 10L * 3600000000L)
        .as[(Long, String, Long, Long)].collect().toSet
      val afterClose = h10()
      assert(afterClose == Set((10L * 3600000000L, "a", 2L, 1L),
        (10L * 3600000000L, "b", 1L, 2L)))
      // a straggler for the closed window, then another watermark push:
      // without the guard this recreates state and re-emits a partial
      // top-k for hour 10
      input.addData(Seq((t(10, 30), "c"))); query.processAllAvailable()
      input.addData(Seq((t(22, 0), "zz2"))); query.processAllAvailable()
      assert(h10() == afterClose, s"closed window re-emitted: ${h10()}")
    } finally query.stop()
  }

  test("merge/closeWindow core: count desc, token asc, rank, k cut") {
    val m = TopKStream.merge(Map("a" -> 1L), Iterator("b", "a", "b", "c"))
    assert(m == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    assert(TopKStream.closeWindow(m, 2) == Seq(("a", 2L, 1L), ("b", 2L, 2L)))
    assert(TopKStream.closeWindow(Map.empty, 3) == Seq.empty)
  }
}
