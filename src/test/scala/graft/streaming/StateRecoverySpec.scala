package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.TestSpark.{withChainCheckOff, withConf, withRocksDb}
import graft.api.{Env, Event, GStream}

/**
 * Checkpoint recovery: a streaming facade query stopped and restarted
 * with the same checkpoint must resume its keyed state, not restart it —
 * the operability property a long-lived 100 TB pipeline leans on (an
 * executor loss or planned restart must never reset running state).
 * Proven on the default state-store provider and on RocksDB.
 */
class StateRecoverySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(v: Long, t: String): Event[Long] =
    Event.at(v, Timestamp.valueOf(t))

  /** Two AvailableNow runs over a growing source dir sharing one
    * checkpoint: the second run must process ONLY the new file and
    * continue the per-key running counts where the first left off. */
  private def recoveryScenario(tag: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_recovery_$tag")
      .toFile.getAbsolutePath
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"

    def writeBatch(events: Seq[Event[Long]]): Unit =
      spark.createDataset(events).write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val schema = implicitly[Encoder[Event[Long]]].schema
      val stream = spark.readStream.schema(schema).parquet(src).as[Event[Long]]
      val counts = Env(spark).fromDataset(stream)
        .keyBy(_.value % 2)
        .processState((_: Long) => 0L) { (k, e, n) =>
          (n + 1, Seq(e.withValue((k, n + 1))))
        }
      val q = counts.ds.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    writeBatch(Seq(ev(0, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:01:00")))
    runOnce()
    val first = spark.read.parquet(out).as[Event[(Long, Long)]]
      .collect().map(_.value).toSet
    assert(first == Set((0L, 1L), (1L, 1L)), s"first run: $first")

    writeBatch(Seq(ev(2, "2024-01-01 10:02:00"), ev(3, "2024-01-01 10:03:00")))
    runOnce() // same checkpoint: counts must CONTINUE at 2, not restart at 1
    val all = spark.read.parquet(out).as[Event[(Long, Long)]]
      .collect().map(_.value).toSet
    assert(all == Set((0L, 1L), (1L, 1L), (0L, 2L), (1L, 2L)), s"after restart: $all")
  }

  /** The in-horizon near-dup claim state must also survive a restart: a
    * near-dup of a run-1 document arriving in run 2 (same checkpoint,
    * still in-horizon) must be dropped by the RECOVERED band ownership —
    * if the claim state reset, it would claim its bands freely and
    * wrongly survive. */
  private def nearDupRecoveryScenario(tag: String): Unit = {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory(s"graft_ndrec_$tag")
      .toFile.getAbsolutePath
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    val x = "winnowing fingerprints select the minimum hash inside each sliding recovery span"
    val x2 = "winnowing fingerprints select the minimum hash inside each sliding recovery region"
    val fresh = "spark structured streaming keeps per key state in a rocksdb backed store"
    val fresh2 = "another new document mentioning broadcast joins and shuffle partitions today"
    // sanity: (x, x2) is a candidate pair, nothing else collides
    val cand = Dedup.minhashCandidatePairs(
        Seq((1L, x), (2L, x2), (10L, fresh), (12L, fresh2)).toDF("doc_id", "text"),
        "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L)), s"cand: $cand")
    val emptyBands = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band_idx",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("band_hash",
          org.apache.spark.sql.types.StringType))))
    val docSchema = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 0L, ""))
      .toDF("ts", "doc_id", "text").schema
    def writeBatch(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docSchema).parquet(src)
        .withWatermark("ts", "1 hour")
      val kept = Dedup.nearDupKeptStreamStateful(stream, "text", "ts", emptyBands)
      val q = kept.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    withChainCheckOff {
      writeBatch(Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, x),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 10L, fresh)))
      runOnce()
      val first = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      assert(first == Set(1L, 10L), s"first run kept: $first")
      // run 2, same checkpoint: x2 is an in-horizon near-dup of run 1's x
      writeBatch(Seq((Timestamp.valueOf("2024-01-01 10:05:00"), 2L, x2),
        (Timestamp.valueOf("2024-01-01 10:06:00"), 12L, fresh2)))
      runOnce()
      val all = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      assert(all == Set(1L, 10L, 12L), s"after restart kept: $all")
    }
  }

  test("keyed state survives a restart from the checkpoint (flatMapGroupsWithState)") {
    recoveryScenario("fmgws")
  }

  test("near-dup claim state survives a restart from the checkpoint (flatMapGroupsWithState)") {
    nearDupRecoveryScenario("fmgws")
  }

  test("near-dup claim state survives a restart from the checkpoint (flatMapGroupsWithState + RocksDB)") {
    withRocksDb { nearDupRecoveryScenario("rocksdb") }
  }

  test("keyed state survives a restart from the checkpoint (flatMapGroupsWithState + RocksDB)") {
    withRocksDb { recoveryScenario("rocksdb") }
  }

  /** A restart in the middle of a window: run 1 leaves sessions (or
    * not-yet-foldable events) open in the state store; run 2, on the
    * same checkpoint, adds `run2` and a closer at 12:00 whose watermark
    * releases everything before it. Returns the output after run 1, the
    * output after run 2 and the batch result over all events, the
    * closer's own output left out. `managers`, when given, names the
    * checkpoint file manager class of run 1 and of run 2. */
  private def restartMidWindow[V](tag: String, run1: Seq[Event[Long]], run2: Seq[Event[Long]],
      managers: Option[(String, String)] = None)(
      build: GStream[Long] => GStream[V])(
      implicit enc: Encoder[Event[V]]): (Set[(Timestamp, V)], Set[(Timestamp, V)], Set[(Timestamp, V)]) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_midwindow_$tag")
      .toFile.getAbsolutePath
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    val closer = Timestamp.valueOf("2024-01-01 12:00:00")
    def pipeline(ds: org.apache.spark.sql.Dataset[Event[Long]]) =
      build(Env(spark).fromDataset(ds).withWatermark("20 minutes"))
    def rows(evs: Seq[Event[V]]) =
      evs.filter(_.eventTime.get.before(closer)).map(e => (e.eventTime.get, e.value)).toSet
    def runOnce(events: Seq[Event[Long]], manager: Option[String]) = withConf(
        manager.map(CheckpointFiles.Key -> _).toSeq: _*) {
      spark.createDataset(events).write.mode("append").parquet(src)
      val schema = implicitly[Encoder[Event[Long]]].schema
      val q = pipeline(spark.readStream.schema(schema).parquet(src).as[Event[Long]])
        .ds.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      rows(spark.read.schema(enc.schema).parquet(out).as[Event[V]].collect().toSeq)
    }
    val all = run1 ++ run2 :+ Event.at(99L, closer)
    (runOnce(run1, managers.map(_._1)), runOnce(run2 :+ Event.at(99L, closer), managers.map(_._2)),
      rows(pipeline(spark.createDataset(all)).collectEvents()))
  }

  private val gap = java.time.Duration.ofMinutes(10)

  /** Key 1's two sessions, 16 minutes apart, stay open through run 1
    * (watermark 09:56); run 2's 10:08 bridges them into one. */
  private def aggregateMidWindow(tag: String, managers: Option[(String, String)] = None): Unit = {
    val (first, all, batch) = restartMidWindow(tag,
      Seq(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:16:00"), ev(2, "2024-01-01 10:05:00")),
      Seq(ev(1, "2024-01-01 10:08:00")), managers) {
      _.keyBy(_.value).window(gap).aggregate(v => (v, 1L))((a, b) => (a._1, a._2 + b._2))
    }
    assert(first.isEmpty, s"run 1: $first")
    assert(batch == Set((Timestamp.valueOf("2024-01-01 10:16:00"), (1L, 3L)),
      (Timestamp.valueOf("2024-01-01 10:05:00"), (2L, 1L))), s"batch: $batch")
    assert(all == batch)
  }

  /** As [[aggregateMidWindow]], plus sessions at 09:00 that close in run
    * 1: the bridged session after the restart is key 1's second, and key
    * 3, with no session open across the restart, still counts on. */
  private def processStateMidWindow(tag: String): Unit = {
    val (first, all, batch) = restartMidWindow(tag,
      Seq(ev(1, "2024-01-01 09:00:00"), ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:16:00"),
        ev(2, "2024-01-01 10:05:00"), ev(3, "2024-01-01 09:00:00")),
      Seq(ev(1, "2024-01-01 10:08:00"), ev(3, "2024-01-01 10:30:00"))) {
      _.keyBy(_.value).window(gap).processState((_: Long) => 0L) { (k, _, evs, n) =>
        (n + 1, Seq(evs.head.withValue((k, n, evs.size.toLong))))
      }
    }
    assert(first == Set((Timestamp.valueOf("2024-01-01 09:00:00"), (1L, 0L, 1L)),
      (Timestamp.valueOf("2024-01-01 09:00:00"), (3L, 0L, 1L))), s"run 1: $first")
    assert(batch.contains((Timestamp.valueOf("2024-01-01 10:00:00"), (1L, 1L, 3L))), s"batch: $batch")
    assert(batch.contains((Timestamp.valueOf("2024-01-01 10:30:00"), (3L, 1L, 1L))), s"batch: $batch")
    assert(all == batch)
  }

  /** Run 1's watermark (10:10) folds only 10:00 and 10:05; 10:10 and
    * 10:30 stay buffered and must fold after run 2's 10:20. */
  private def keyedMidWindow(tag: String): Unit = {
    val (first, all, batch) = restartMidWindow(tag,
      Seq(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:10:00"), ev(1, "2024-01-01 10:30:00"),
        ev(2, "2024-01-01 10:05:00")),
      Seq(ev(1, "2024-01-01 10:20:00"))) {
      _.keyBy(_.value).processState((_: Long) => 0L) { (k, e, n) =>
        (n + 1, Seq(e.withValue((k, n + 1))))
      }
    }
    assert(first == Set((Timestamp.valueOf("2024-01-01 10:00:00"), (1L, 1L)),
      (Timestamp.valueOf("2024-01-01 10:05:00"), (2L, 1L))), s"run 1: $first")
    assert(batch.contains((Timestamp.valueOf("2024-01-01 10:30:00"), (1L, 4L))), s"batch: $batch")
    assert(all == batch)
  }

  test("windowed aggregate resumes sessions left open by a restart (default provider)") {
    aggregateMidWindow("agg")
  }

  test("windowed aggregate resumes sessions left open by a restart (RocksDB)") {
    withRocksDb { aggregateMidWindow("agg_rocksdb") }
  }

  /** The checkpoint's files are the same under either manager, so a
    * checkpoint moves between Spark's default (`FileContext`) manager and
    * graft's in both directions, mid-window. */
  private val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
  private val graftManager = classOf[CheckpointFiles].getName

  test("sessions checkpointed under Spark's default manager resume under graft's (default provider)") {
    aggregateMidWindow("fc_to_fs", Some((sparkDefault, graftManager)))
  }

  test("sessions checkpointed under graft's manager resume under Spark's default (default provider)") {
    aggregateMidWindow("fs_to_fc", Some((graftManager, sparkDefault)))
  }

  test("sessions checkpointed under Spark's default manager resume under graft's (RocksDB)") {
    withRocksDb { aggregateMidWindow("fc_to_fs_rocksdb", Some((sparkDefault, graftManager))) }
  }

  test("sessions checkpointed under graft's manager resume under Spark's default (RocksDB)") {
    withRocksDb { aggregateMidWindow("fs_to_fc_rocksdb", Some((graftManager, sparkDefault))) }
  }

  test("windowed processState resumes sessions left open by a restart (default provider)") {
    processStateMidWindow("wps")
  }

  test("windowed processState resumes sessions left open by a restart (RocksDB)") {
    withRocksDb { processStateMidWindow("wps_rocksdb") }
  }

  test("watermarked keyed processState resumes its buffered events after a restart (default provider)") {
    keyedMidWindow("keyed")
  }

  test("watermarked keyed processState resumes its buffered events after a restart (RocksDB)") {
    withRocksDb { keyedMidWindow("keyed_rocksdb") }
  }
}
