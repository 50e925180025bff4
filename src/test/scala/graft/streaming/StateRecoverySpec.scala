package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.TestSpark.{withChainCheckOff, withRocksDb}
import graft.api.{Env, Event}

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
}
