package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/**
 * Measured scale probe for the streaming gap fill
 * (graft.streaming.GapFillStream): the Scaladoc argues state per key is
 * the counters plus watermark-horizon-bounded pending counts — i.e.
 * total state scales with KEY CARDINALITY, not with history length or
 * corpus size. Run at two key counts (e.g. 200 and 2000) and compare
 * stored state rows per micro-batch: rows should track keys ~linearly
 * and stay flat across batches (history growing 5× while state does
 * not). Recorded in SCALE.md.
 *
 * Usage: `sbt "runMain graft.GapFillProbe 200"` (key count; 5 file
 * batches, each spanning 2 h of event time at minute-level events, 1 h
 * buckets, 30 min watermark delay).
 */
object GapFillProbe {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toInt).getOrElse(200)
    val batches = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_gapfillprobe")
      .toFile.getAbsolutePath
    val src = s"$root/src"

    // every key emits one event per ~7 minutes but SKIPS a pseudo-random
    // third of the hours — a steady mix of measured and zero buckets
    val rnd = new scala.util.Random(11)
    (0 until batches).foreach { b =>
      val rows = for {
        k <- 0 until keys
        m <- 0 until 17 // ~one event per 7 min over the 2 h window
        if rnd.nextInt(3) > 0
      } yield (s"k$k",
        new Timestamp(1704100000000L + (b * 120L + m * 7L) * 60000L))
      rows.toDF("k", "ts").coalesce(1).write.mode("append").parquet(src)
    }

    val stream = spark.readStream
      .schema("k STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts", "30 minutes")
    val filled = graft.streaming.GapFillStream(stream, "k", "ts", 3600L,
      idleTimeoutBuckets = 4L)
    val t0 = System.nanoTime()
    val q = filled.writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    println(f"[probe] keys=$keys, $batches batches, wall ${wall}%.1f s")
    println("[probe] batch | input | batch_ms | state rows")
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators.map(so => s"${so.operatorName}=${so.numRowsTotal}")
      println(f"[probe] ${p.batchId}%5d | ${p.numInputRows}%6d | ${p.batchDuration}%8d | " +
        st.mkString(" "))
    }
    spark.stop()
  }
}

/**
 * State probe for graft.streaming.TopKStream: the Scaladoc bounds state
 * by OPEN windows (one map per un-closed window), evicted at close —
 * run at two token cardinalities and watch state rows track open
 * windows (1-2 here), not tokens seen or stream length.
 *
 * With a shard count > 1 the same probe demonstrates the throughput
 * fix: state rows = open_windows × shards (each carrying a disjoint
 * token slice), so the hot window spreads across `shards` tasks
 * instead of funnelling through one. `approx` mode probes the CMS +
 * capped-candidate state and its amortized eviction latency at high
 * cardinality.
 *
 * Usage: `sbt "runMain graft.TopKProbe <tokens> [shards] [exact|approx]"`.
 */
object TopKProbe {
  def main(args: Array[String]): Unit = {
    val tokens = args.headOption.map(_.toInt).getOrElse(5000)
    val shards = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val mode = args.drop(2).headOption.getOrElse("exact")
    val batches = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_topkprobe")
      .toFile.getAbsolutePath
    val src = s"$root/src"
    val rnd = new scala.util.Random(13)
    // each batch spans one hour; every batch closes the previous window
    (0 until batches).foreach { b =>
      val rows = (0 until 20000).map { _ =>
        (s"tok${rnd.nextInt(tokens)}",
          new Timestamp(1704100000000L + b * 3600000L + rnd.nextInt(3600000)))
      }
      rows.toDF("token", "ts").coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream
      .schema("token STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts", "5 minutes")
    val trending =
      if (mode == "approx")
        graft.streaming.TopKStream.approx(stream, "ts", "token", 3600L, 10,
          w = 1024, cap = 256, shards = shards)
      else
        graft.streaming.TopKStream(stream, "ts", "token", 3600L, 10, shards = shards)
    val t0 = System.nanoTime()
    val q = trending.writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[probe] distinct tokens=$tokens, shards=$shards, mode=$mode, " +
      f"$batches hourly batches, wall ${wall}%.1f s")
    println("[probe] batch | input | batch_ms | state rows (open windows x shards)")
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators.map(so => s"${so.operatorName}=${so.numRowsTotal}")
      println(f"[probe] ${p.batchId}%5d | ${p.numInputRows}%6d | ${p.batchDuration}%8d | " +
        st.mkString(" "))
    }
    spark.stop()
  }
}

/**
 * State probe for graft.streaming.DistinctStream: dedup state should
 * hold one row per distinct (window, id) pair in OPEN windows (evicted
 * at close) and the agg one row per open window — i.e. state tracks
 * per-window CARDINALITY, not event count or history length. Run at
 * two cardinalities and watch the dedup operator's rows scale with
 * distinct ids while staying flat across batches.
 *
 * Usage: `sbt "runMain graft.DistinctProbe 500 [exact|approx]"`
 * (distinct ids; 5 hourly AvailableNow batches of 20k
 * heavily-duplicated events). `approx` runs
 * [[graft.streaming.DistinctStream.approxStream]] — expect ONE state
 * row (sketch) per open window regardless of cardinality, vs the
 * exact form's one dedup row per distinct (window, id) pair.
 */
object DistinctProbe {
  def main(args: Array[String]): Unit = {
    val ids = args.headOption.map(_.toInt).getOrElse(500)
    val approx = args.lift(1).contains("approx")
    val batches = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_distprobe")
      .toFile.getAbsolutePath
    val src = s"$root/src"
    val rnd = new scala.util.Random(29)
    (0 until batches).foreach { b =>
      val rows = (0 until 20000).map { _ =>
        (s"u${rnd.nextInt(ids)}",
          new Timestamp(1704100000000L + b * 3600000L + rnd.nextInt(3600000)))
      }
      rows.toDF("user", "ts").coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream
      .schema("user STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts", "5 minutes")
    val out =
      if (approx) graft.streaming.DistinctStream.approxStream(stream, "ts", "user", 3600L)
      else graft.streaming.DistinctStream.stream(stream, "ts", "user", 3600L)
    val q = out.writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    println(s"[probe] distinct ids=$ids, $batches hourly batches of 20k events, " +
      s"mode=${if (approx) "approx" else "exact"}")
    println("[probe] batch | input | batch_ms | state rows per operator")
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators.map(so => s"${so.operatorName}=${so.numRowsTotal}")
      println(f"[probe] ${p.batchId}%5d | ${p.numInputRows}%6d | ${p.batchDuration}%8d | " +
        st.mkString(" "))
    }
    spark.stop()
  }
}
