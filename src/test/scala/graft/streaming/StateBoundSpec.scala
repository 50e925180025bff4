package graft.streaming

import java.sql.Timestamp
import java.time.{Duration, Instant}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.TestSpark
import graft.api.{Env, Event}
import graft.operators.Dedup

/**
 * Watermark close-out bounds of the stateful streaming operators: after
 * every micro-batch that reads data, each operator's state store holds
 * what the watermark leaves open (live keys, open windows, in-horizon
 * band keys), never the stream's history. Each test feeds one
 * `MemoryStream` batch at a time and reads the batch's own watermark and
 * `stateOperators` from its progress report.
 */
class StateBoundSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hourMs = 3600000L
  /** Fixture epoch, on an hour boundary. A row at epoch 0 would sit on
    * the first batch's zero watermark and count as late. */
  private val t0 = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** Feed `batches` one micro-batch each through `build`'s query and
    * return the progress of every batch that read data. */
  private def replay[A: Encoder](batches: Seq[Seq[A]], cols: String*)(
      build: DataFrame => DataFrame): Seq[StreamingQueryProgress] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[A]
    val q = build(input.toDF().toDF(cols: _*)).writeStream
      .format("noop").outputMode("append").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    val withData = q.recentProgress.filter(_.numInputRows > 0).toSeq
    assert(withData.size == batches.size, s"${withData.size} data batches")
    withData
  }

  /** The watermark the batch ran with, epoch ms. */
  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli).getOrElse(0L)

  /** State rows of the batch's one operator named `name`. */
  private def stateRows(p: StreamingQueryProgress, name: String): Long = {
    val ops = p.stateOperators.filter(_.operatorName == name)
    assert(ops.length == 1, s"operators: ${p.stateOperators.map(_.operatorName).mkString(", ")}")
    ops.head.numRowsTotal
  }

  /** Hourly windows that received data by batch `b` (window w = hour w
    * after `t0`) and whose end the watermark has not passed. */
  private def openWindows(b: Int, wm: Long): Int =
    (0 to b).count(w => t0 + (w + 1) * hourMs > wm)

  test("gap fill holds one state row per unretired key, flat while history grows") {
    // batch b spans hours [2b, 2b + 2); live keys send an event every
    // 20 minutes of every batch, quiet keys only in batch 0. A quiet
    // key's last bucket is hour 1, so its two idle buckets (2, 3) retire
    // it once the watermark passes the end of hour 3.
    def at(b: Int, min: Int) = new Timestamp(t0 + (b * 120L + min) * 60000L)
    Seq(10 -> 5, 100 -> 50).foreach { case (live, quiet) =>
      val batches = (0 until 5).map { b =>
        val keys = if (b == 0) live + quiet else live
        for (m <- 0 until 120 by 20; k <- 0 until keys) yield (s"k$k", at(b, m))
      }
      val progress = replay(batches, "k", "ts") { in =>
        GapFillStream(in.withWatermark("ts", "30 minutes"), "k", "ts", 3600L,
          idleTimeoutBuckets = 2L)
      }
      val got = progress.map(stateRows(_, "flatMapGroupsWithState"))
      val want = progress.map(p => live + (if (watermarkMs(p) > t0 + 4 * hourMs) 0 else quiet))
      assert(got == want, s"live=$live quiet=$quiet")
      assert(got.last == live && got.head == live + quiet)
    }
  }

  test("top-k state is one row per open window and shard, at any token cardinality") {
    // batch b spans hour b; with a 5-minute watermark delay, windows b-1
    // and b are open after it
    def batches(tokens: Int) = {
      val rnd = new Random(13)
      (0 until 5).map(b => (0 until 400).map(_ =>
        (new Timestamp(t0 + b * hourMs + rnd.nextInt(hourMs.toInt)), s"tok${rnd.nextInt(tokens)}")))
    }
    for (approx <- Seq(false, true); shards <- Seq(1, 4)) {
      val rowsAt = Seq(40, 400).map { tokens =>
        val progress = replay(batches(tokens), "ts", "token") { in =>
          val events = in.withWatermark("ts", "5 minutes")
          if (approx) TopKStream.approx(events, "ts", "token", 3600L, 10, shards = shards)
          else TopKStream(events, "ts", "token", 3600L, 10, shards = shards)
        }
        val got = progress.map(stateRows(_, "flatMapGroupsWithState"))
        val want = progress.zipWithIndex.map { case (p, b) =>
          openWindows(b, watermarkMs(p)).toLong * shards
        }
        assert(got == want, s"approx=$approx shards=$shards tokens=$tokens")
        got
      }
      assert(rowsAt.head == rowsAt.last, s"approx=$approx shards=$shards")
    }
  }

  test("distinct: dedup holds the open windows' distinct ids, each aggregation one row per open window") {
    Seq(50, 500).foreach { ids =>
      val rnd = new Random(29)
      val batches = (0 until 5).map(b => (0 until 600).map(_ =>
        (new Timestamp(t0 + b * hourMs + rnd.nextInt(hourMs.toInt)), s"u${rnd.nextInt(ids)}")))
      val exact = replay(batches, "ts", "user") { in =>
        DistinctStream.stream(in.withWatermark("ts", "5 minutes"), "ts", "user", 3600L)
      }
      exact.zipWithIndex.foreach { case (p, b) =>
        val wm = watermarkMs(p)
        val openPairs = batches.take(b + 1).flatten
          .map { case (ts, u) => ((ts.getTime - t0) / hourMs, u) }.distinct
          .count { case (w, _) => t0 + (w + 1) * hourMs > wm }
        assert(stateRows(p, "dedupe") == openPairs, s"ids=$ids batch $b")
        assert(stateRows(p, "stateStoreSave") == openWindows(b, wm), s"ids=$ids batch $b")
      }
      val approx = replay(batches, "ts", "user") { in =>
        DistinctStream.approxStream(in.withWatermark("ts", "5 minutes"), "ts", "user", 3600L)
      }
      approx.zipWithIndex.foreach { case (p, b) =>
        assert(stateRows(p, "stateStoreSave") == openWindows(b, watermarkMs(p)),
          s"approx ids=$ids batch $b")
      }
    }
  }

  test("near-dup claim state holds the in-horizon band keys, not the corpus") {
    // 6 batches 30 minutes apart, each spreading its docs over 25
    // minutes: 3 h of event time against a 1 h horizon and a 25-minute
    // watermark delay, so from batch 4 on each batch evicts every band
    // key first claimed four batches earlier. Batches 0 and 1 are
    // distinct random docs (4 band keys each, the most a doc can add);
    // later batches mix in a near-dup of the doc five back every tenth
    // doc, so once batches 0 and 1 are evicted no batch can add more
    // keys than it evicts.
    val perBatch = 60
    val rnd = new Random(7)
    val texts = new Array[String](6 * perBatch)
    texts.indices.foreach { i =>
      texts(i) =
        if (i >= 2 * perBatch && i % 10 == 9)
          texts(i - 5).split(" ").updated(6, s"tok${rnd.nextInt(50000)}").mkString(" ")
        else Seq.fill(12)(s"tok${rnd.nextInt(50000)}").mkString(" ")
    }
    val docs = texts.indices.map { i =>
      val (b, j) = (i / perBatch, i % perBatch)
      (new Timestamp(t0 + b * 1800000L + j * 1500000L / perBatch), i.toLong, texts(i))
    }
    val horizonMs = hourMs
    // ground truth from the fixture: each band key's first event time
    val firstClaim = Dedup.withBandColumns(docs.toDF("ts", "doc_id", "text"), "text")
      .select(col("ts"), explode(array((0 until 4).map(b =>
        concat(lit(s"$b|"), col(s"__band$b"))): _*)).as("k"))
      .groupBy("k").agg(min("ts").as("ts"))
      .select("ts").as[Timestamp].collect().map(_.getTime - t0)
    def keysOf(b: Int) = firstClaim.count(t => t >= b * 1800000L && t < (b + 1) * 1800000L)
    assert(keysOf(0) == 4 * perBatch && keysOf(1) == 4 * perBatch)

    val progress = TestSpark.withChainCheckOff {
      val noBands = Dedup.readBandsOrEmpty(spark, "target/state-bound-no-bands")
      replay(docs.grouped(perBatch).toSeq, "ts", "doc_id", "text") { in =>
        Dedup.nearDupKeptStreamStateful(in.withWatermark("ts", "25 minutes"), "text", "ts",
          noBands, horizonMs = horizonMs)
      }
    }
    // the claim stage is the stateful operator below the (stateless)
    // resolve stage, and above the exact-signature dedup
    val claim = progress.map(p =>
      p.stateOperators.filter(_.operatorName == "flatMapGroupsWithState")(1).numRowsTotal)
    val want = progress.zipWithIndex.map { case (p, b) =>
      val wm = watermarkMs(p)
      firstClaim.count(t => t < (b + 1) * 1800000L && t0 + t + horizonMs >= wm).toLong
    }
    assert(claim == want)
    assert(claim.last < firstClaim.length, s"claim state ${claim.last} of ${firstClaim.length}")
    assert(claim(5) <= claim(4) && claim(4) <= claim(3), s"claim state grew: $claim")
  }

  test("facade sessions hold the keys with an open session, processState every key it touched") {
    // batch b spans minutes [30b, 30b + 30); keys 0-7 send three events
    // in every batch, keys 8-11 only in batch 0, so their sessions close
    // once the watermark passes their last event + gap. The stateless
    // forms then drop the key; both processState forms keep its state.
    val gapMs = 10 * 60000L
    val batches = (0 until 5).map { b =>
      for (k <- 0 until (if (b == 0) 12 else 8); j <- 0 until 3)
        yield Event.at(k.toLong, new Timestamp(t0 + (b * 30L + (7 * k + 11 * j) % 30) * 60000L))
    }
    def keyed(in: DataFrame) = Env(spark).fromDataset(in.as[Event[Long]])
      .withWatermark("5 minutes").keyBy(_.value)
    def window(in: DataFrame) = keyed(in).window(Duration.ofMillis(gapMs))
    val forms = Seq[(String, Boolean, DataFrame => DataFrame)](
      ("aggregate", false, in => window(in).aggregate(identity[Long])(_ + _).ds.toDF()),
      ("process", false, in => window(in).process((_, _, evs) => evs.take(1)).ds.toDF()),
      ("windowed processState", true, in => window(in).processState((_: Long) => 0L)(
        (_, _, evs, n) => (n + 1, evs.take(1))).ds.toDF()),
      ("keyed processState", true, in => keyed(in).processState((_: Long) => 0L)(
        (_, e, n) => (n + 1, Seq(e))).ds.toDF()))
    forms.foreach { case (name, keepsState, build) =>
      val progress = replay(batches, "processingTime", "eventTime", "value")(build)
      val got = progress.map(stateRows(_, "flatMapGroupsWithState"))
      val want = progress.zipWithIndex.map { case (p, b) =>
        val lastMs = batches.take(b + 1).flatten.groupBy(_.value).values
          .map(_.map(_.eventTime.get.getTime).max)
        (if (keepsState) lastMs.size else lastMs.count(_ + gapMs > watermarkMs(p))).toLong
      }
      assert(got == want, name)
      assert(if (keepsState) got.forall(_ == 12) else got.last == 8 && got.head == 12, name)
    }
  }
}
