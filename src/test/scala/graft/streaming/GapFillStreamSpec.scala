package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.Windows

/**
 * Streaming gap fill vs the batch operator: the emitted prefix must be
 * row-identical to `Windows.gapFillCumulative` over the same events,
 * PLUS the zero rows past each key's last event that only a streaming
 * engine can emit — and `idleTimeoutBuckets` must retire silent keys.
 */
class GapFillStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(hour: Long, min: Long = 0): Timestamp =
    new Timestamp((hour * 3600 + min * 60) * 1000L)

  test("FMGWS backend: batch-identical prefix + trailing zeros + retirement") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val out = GapFillStream(
      input.toDF().toDF("k", "ts").withWatermark("ts", "0 seconds"),
      "k", "ts", 3600L, idleTimeoutBuckets = 2L)
    val name = "gapfill_idle2"
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // key a: events in hours 10 (×2) and 13 — hours 11, 12 are silent
      input.addData(("a", t(10, 5)), ("a", t(10, 40)), ("a", t(13, 1)))
      query.processAllAvailable()
      // advance the watermark to hour 16: releases a's buckets 10..13
      // complete, plus trailing zeros for 14, 15 (until idle retirement)
      input.addData(("b", t(16, 0)))
      query.processAllAvailable()

      val got = spark.table(name)
        .as[(String, Long, Long, Long)].collect().toSet
      val batch = Windows.gapFillCumulative(
          Seq(("a", t(10, 5)), ("a", t(10, 40)), ("a", t(13, 1)))
            .toDF("k", "sec").select(col("k"), col("sec").as("ts")),
          "k", "ts", 3600L)
        .as[(String, Long, Long, Long)].collect().toSet
      // batch prefix (buckets 10..13) is contained row-identically
      assert(batch.subsetOf(got), s"missing ${batch.diff(got)}")
      // the zero rows past a's last event — the streaming-only surface.
      // Buckets 11, 12 are zeros but a 13-event resets the run; 14, 15
      // retire the key exactly at the idle cap of 2
      assert(got.contains(("a", 14L, 0L, 3L)) && got.contains(("a", 15L, 0L, 3L)))
      // move the watermark far ahead: a retired key must emit nothing
      input.addData(("b", t(30, 0)))
      query.processAllAvailable()
      val after = spark.table(name).as[(String, Long, Long, Long)].collect()
        .filter(r => r._1 == "a" && r._2 > 15L)
      assert(after.isEmpty, s"retired key emitted $after")
    } finally query.stop()
  }

  /** Two AvailableNow runs sharing one checkpoint: the second must
    * continue the first run's per-key series, not restart it. */
  private def restartScenario(tag: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_gapfill_ckpt_$tag")
      .toFile.getAbsolutePath
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    def writeBatch(rows: Seq[(String, Timestamp)]): Unit =
      rows.toDF("k", "ts").write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("k STRING, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "0 seconds")
      val q = GapFillStream(stream, "k", "ts", 3600L, idleTimeoutBuckets = 0L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeBatch(Seq(("a", t(10, 5)), ("a", t(12, 30)))) // wm ends at 12:30
    runOnce()
    // run 2, same checkpoint: the cumulative must CONTINUE (bucket 12's
    // count includes run 1's 12:30 event — its state survived), and the
    // gap bucket 11 emits zero exactly once across the two runs
    writeBatch(Seq(("a", t(12, 40)), ("a", t(15, 0))))
    runOnce()
    val got = spark.read.parquet(out)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got.contains(("a", 10L, 1L, 1L)), s"got $got")
    assert(got.contains(("a", 11L, 0L, 1L)), s"got $got")
    assert(got.contains(("a", 12L, 2L, 3L)), s"got $got") // spans both runs
    assert(got.contains(("a", 13L, 0L, 3L)) && got.contains(("a", 14L, 0L, 3L)))
    assert(got.count(_._2 == 11L) == 1, s"bucket 11 emitted twice: $got")
  }

  test("gap-fill state survives a restart from the checkpoint (flatMapGroupsWithState)") {
    restartScenario("default")
  }

  test("gap-fill state survives a restart from the checkpoint (flatMapGroupsWithState + RocksDB)") {
    TestSpark.withRocksDb { restartScenario("rocksdb") }
  }

  test("a key with data in every micro-batch is released batch by batch") {
    // one file per micro-batch, key a has an event at hour 10 + b in file
    // b. Batch b runs at the watermark of batch b - 1's event (0 s delay),
    // so from batch 2 on it closes exactly a's bucket 10 + b - 2 — even
    // though a receives data in that same batch
    val root = java.nio.file.Files.createTempDirectory("graft_gapfill_backlog")
      .toFile.getAbsolutePath
    val src = new java.io.File(s"$root/src")
    src.mkdirs()
    (0 until 10).foreach { b =>
      Seq(("a", t(10 + b))).toDF("k", "ts").coalesce(1).write.parquet(s"$root/tmp$b")
      val part = new java.io.File(s"$root/tmp$b").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(src, f"b$b%02d.parquet")
      assert(part.renameTo(dst))
      dst.setLastModified(1700000000000L + b * 1000L) // the source reads oldest first
    }
    val emitted = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) =>
      emitted.synchronized { emitted(id) = df.filter(col("key") === "a").select("bucket").as[Long].collect().toSeq }
    val stream = spark.readStream.schema("k STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(src.getPath)
      .withWatermark("ts", "0 seconds")
    val q = GapFillStream(stream, "k", "ts", 3600L, idleTimeoutBuckets = 0L).writeStream
      .option("checkpointLocation", s"$root/ckpt").foreachBatch(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 10)
    (0 until 10).foreach { b =>
      assert(emitted(b.toLong) == (if (b < 2) Nil else Seq(10L + b - 2)), s"batch $b: $emitted")
    }
    assert(emitted.values.flatten.toSeq.sorted == (10L to 18L), s"$emitted")
  }

  test("a retired key revived by new data starts a fresh series") {
    // retire at idleMax=2, then absorb a later bucket: next/cum restart
    val s1 = GapFillStream.absorb(None, Iterator(5L)).get
    val (r1, s2) = GapFillStream.release(s1, 9000L, 1000L, idleMax = 2L)
    assert(r1 == Seq((5L, 1L, 1L), (6L, 0L, 1L), (7L, 0L, 1L)) && s2.isEmpty)
    val revived = GapFillStream.absorb(s2, Iterator(20L)).get
    assert(revived == GapFillStream.GapState(20L, 0L, 0L, Map(20L -> 1L)))
    val (r2, _) = GapFillStream.release(revived, 22000L, 1000L, idleMax = 2L)
    assert(r2 == Seq((20L, 1L, 1L), (21L, 0L, 1L))) // cum restarted at 0
  }

  test("absorb/release core: zero runs, retirement, late-row drop") {
    val s1 = GapFillStream.absorb(None, Iterator(5L, 5L, 7L)).get
    assert(s1 == GapFillStream.GapState(5L, 0L, 0L, Map(5L -> 2L, 7L -> 1L)))
    // watermark passes buckets 5..8 (end of 8 = 9*1000 <= 9000)
    val (rows, s2) = GapFillStream.release(s1, 9000L, 1000L, idleMax = 0L)
    assert(rows == Seq((5L, 2L, 2L), (6L, 0L, 2L), (7L, 1L, 3L), (8L, 0L, 3L)))
    assert(s2.get.next == 9L && s2.get.zeroRun == 1L && s2.get.pending.isEmpty)
    // late row behind next is dropped, not resurrected
    val s3 = GapFillStream.absorb(s2, Iterator(4L)).get
    assert(s3 == s2.get)
    // idleMax retires after the run of zeros
    val (rows2, s4) = GapFillStream.release(s3, 20000L, 1000L, idleMax = 3L)
    assert(s4.isEmpty && rows2.takeRight(1).head._2 == 0L)
    assert(rows2.size == 2L) // buckets 9, 10 → zeroRun reaches 3, retire
  }
}
