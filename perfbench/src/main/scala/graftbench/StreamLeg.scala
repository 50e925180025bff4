package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.api.{Env, Event}
import graft.streaming.StreamJoins

final case class Rec(userId: Long, eventId: Long, cents: Long)
final case class Agg(userId: Long, n: Long, cents: Long, minId: Long)
final case class KeyCount(eventId: Long, n: Long)

/**
 * stream-replay: three streaming pipelines replay the generated files one
 * file per micro-batch (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`),
 * each closed loop, one pipeline after another:
 *
 *  - `sessions`: facade `keyBy(user).window(30 min).aggregate` (t9 twin);
 *  - `keyed`: facade `keyBy(user).processState`, a running count (t6 twin);
 *  - `join`: `StreamJoins.follows`, views then clicks within 10 min (t20
 *    twin).
 *
 * Every pass checks each pipeline's output against the same code run as a
 * batch job over the same files, leaving out the sentinel's own rows (the
 * last file, whose only purpose is to push the watermark past every open
 * session, so its own session never closes).
 */
object StreamLeg {
  val WatermarkDelay = "10 minutes" // gen.py keeps all disorder within half of it
  val SessionGap: java.time.Duration = java.time.Duration.ofMinutes(30)
  val Horizon = "10 minutes"
  val Pipelines = Seq("sessions", "keyed", "join")
  /** timed micro-batches needed (one pass gives 3 × 11) */
  val MinBatches = 30
  val WarmFiles = 1
  private val Schema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  def frame(spark: SparkSession, dir: String, streaming: Boolean): DataFrame =
    if (streaming)
      spark.readStream.schema(Schema).option("maxFilesPerTrigger", "1").parquet(dir)
    else spark.read.schema(Schema).parquet(dir)

  private def events(df: DataFrame): Dataset[Event[Rec]] = {
    import df.sparkSession.implicits._
    df.select(col("ts"), col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long"))
      .as[(Timestamp, Long, Long, Long)]
      .map { case (ts, u, id, c) => Event(ts, Some(ts), Rec(u, id, c)) }
  }

  /** The pipeline `p` over `df`, streaming or batch alike. */
  def pipeline(spark: SparkSession, p: String, df: DataFrame): DataFrame = {
    import spark.implicits._
    lazy val g = Env(spark).fromDataset(events(df)).withWatermark(WatermarkDelay)
    p match {
      case "sessions" =>
        g.keyBy(_.value.userId).window(SessionGap)
          .aggregate(r => Agg(r.userId, 1L, r.cents, r.eventId))((a, b) =>
            Agg(a.userId, a.n + b.n, a.cents + b.cents, math.min(a.minId, b.minId)))
          .ds.select(col("value.userId").as("user_id"), col("value.n").as("n"),
            col("value.cents").as("cents"), col("value.minId").as("first_id"),
            col("eventTime").as("last_ts"))
      case "keyed" =>
        g.keyBy(_.value.userId).processState((_: Long) => 0L) { (_, e, n) =>
          (n + 1, Seq(e.withValue(KeyCount(e.value.eventId, n))))
        }.ds.select(col("value.eventId").as("event_id"), col("value.n").as("key_count"))
      case "join" =>
        val s = df.withWatermark("ts", WatermarkDelay)
        StreamJoins.follows(s.filter(col("event_type") === "view"),
            s.filter(col("event_type") === "click"), "user_id", "ts", "event_id", Horizon)
          .select("user_id", "a_id", "b_id")
    }
  }

  /** Rows as sorted strings, without any row the sentinel produced. */
  private def canonical(p: String, rows: Seq[Row], sentinel: Long): Seq[String] =
    rows.filter { r =>
      p match {
        case "sessions" => r.getLong(3) < sentinel
        case "keyed" => r.getLong(0) < sentinel
        case "join" => r.getLong(1) < sentinel && r.getLong(2) < sentinel
      }
    }.map(_.toString).sorted

  final case class Run(pipeline: String, status: String, wallMs: Double, rows: Seq[String],
                       progress: Seq[StreamingQueryProgress], ckptBytes: Long, err: String)

  def run(cfg: Config, res: Result): Unit = {
    var spark = Main.session(cfg, cfg.cores)
    val tasks = new TaskListener
    spark.sparkContext.addSparkListener(tasks)
    var progress = new ProgressListener
    spark.streams.addListener(progress)
    val tracer = new Tracer(cfg.trace)

    // the batch results the streams must equal; computed on first use,
    // after the timed window
    lazy val expected = Pipelines.map { p =>
      p -> canonical(p, pipeline(spark, p, frame(spark, cfg.stream, streaming = false))
        .collect().toSeq, cfg.sentinel)
    }.toMap
    lazy val nEvents = frame(spark, cfg.stream, streaming = false).count()

    /** Runs pipeline `p` over the files in `input` to completion. */
    def runPipeline(p: String, name: String, input: String, ckpt: String): Run = {
      val t0 = System.nanoTime()
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val sink = mutable.ArrayBuffer.empty[Row]
      val collect: (DataFrame, Long) => Unit = (df, _) => {
        val rows = df.collect()
        sink.synchronized(sink ++= rows)
      }
      val (st, _, err) = Ops.run(spark, name, math.min(60.0, cfg.remaining)) {
        q = pipeline(spark, p, frame(spark, input, streaming = true))
          .writeStream.queryName(name).outputMode("append").foreachBatch(collect)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val wall = (System.nanoTime() - t0) / 1e6
      if (q != null && q.isActive) q.stop()
      val prog = if (q == null) Nil else progress.of(q.runId.toString)
      val rows = if (st == "ok") canonical(p, sink.synchronized(sink.toSeq), cfg.sentinel) else Nil
      Run(p, st, wall, rows, prog, du(new File(ckpt)), err)
    }

    /** Marks a run wrong if its output differs from the batch result (with
      * `check`) or the watermark dropped a row, and records its operations:
      * one per micro-batch, or one for a run that failed. */
    def settle(phase: String, runs: Seq[Run], check: Boolean): Seq[Run] = runs.map { r0 =>
      val dropped = r0.progress.exists(_.stateOperators.exists(_.numRowsDroppedByWatermark > 0))
      val r = if (r0.status == "ok" && ((check && r0.rows != expected(r0.pipeline)) || dropped))
        r0.copy(status = "wrong") else r0
      if (r.status == "failed" || r.status == "timeout" || r.progress.isEmpty)
        res.ops += ((phase, r.pipeline, r.status, r.wallMs))
      else r.progress.foreach(b => res.ops += ((phase, r.pipeline, r.status, b.batchDuration.toDouble)))
      if (r.err.nonEmpty) res.errors += s"$phase ${r.pipeline}: ${r.err}"
      if (r.status == "wrong") res.errors += s"$phase ${r.pipeline}: output differs from batch"
      r
    }

    /** One pass: the three pipelines over `input`, one after another. */
    def pass(phase: String, idx: Int, input: String = cfg.stream): (Double, Seq[Run]) = {
      val t0 = System.nanoTime()
      val runs = Pipelines.map { p =>
        val name = s"${p}_${phase}_$idx"
        val r = runPipeline(p, name, input, s"${cfg.work}/ckpt/$name")
        deleteTree(new File(s"${cfg.work}/ckpt/$name"))
        r
      }
      ((System.nanoTime() - t0) / 1e9, runs)
    }

    def window(phase: String): Seq[(Double, Seq[Run])] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[(Double, Seq[Run])]
      var i = 1
      def batches = out.map(_._2.map(_.progress.count(_.batchId > 0)).sum).sum
      // a pass that fails makes no batches: stop once no time is left
      while (out.isEmpty || ((System.nanoTime() - t0) / 1e9 < cfg.seconds || batches < MinBatches)
          && cfg.remaining > 0) {
        out += pass(phase, i)
        i += 1
      }
      out.toSeq.map { case (wall, runs) => (wall, settle(phase, runs, check = true)) }
    }

    // warm-up: the same three pipelines over a short prefix of the files
    // (plus the sentinel), so every code path runs before timing starts
    val files = new File(cfg.stream).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val warmInput = s"${cfg.work}/warm-input"
    land(files.take(WarmFiles) :+ files.last, warmInput)
    settle("warm", pass("warm", 0, warmInput)._2, check = false)
    val setupJvm = cfg.sinceLaunch
    val timed = window("timed")

    val walls = timed.map(_._1)
    val runs = timed.flatMap(_._2)
    // each query's first batch is left out: it pays the query's start-up
    val batchMs = runs.flatMap(_.progress.filter(_.batchId > 0).map(_.batchDuration.toDouble))
    res.values ++= Seq(
      "wall_s" -> Stats.median(walls),
      "pass_walls" -> walls,
      "query_p50_ms" -> Stats.median(runs.map(_.wallMs)),
      "events_per_s" -> walls.size * Pipelines.size * nEvents / walls.sum,
      "batch_p50_ms" -> Stats.pct(batchMs, 0.5),
      "batch_p80_ms" -> Stats.pct(batchMs, 0.8),
      "batch_samples" -> batchMs.size)

    if (cfg.trace) {
      val traced = window("traced")
      val tracedRuns = traced.flatMap(_._2)
      tracedRuns.zipWithIndex.foreach { case (r, i) => spans(tracer, s"${r.pipeline}-$i", r) }
      Pipelines.foreach { p =>
        res.layers ++= streamLayers(p, tracedRuns.filter(_.pipeline == p), traced.size)
      }
      if (cfg.remaining > BatchLeg.ExtraLegSeconds)
        res.layers("state.sessions.restart_ms") = restartLeg(spark, cfg, res,
          expected("sessions"), runPipeline _)
      else res.errors += "restart leg skipped: too little time left"
      // single-core baseline: the warm-up replay, warm, on all cores and on
      // local[1] (a full pass on one core would not fit the run's time)
      val scaling = cfg.remaining > BatchLeg.ExtraLegSeconds
      if (!scaling) res.errors += "scaling leg skipped: too little time left"
      val localN = if (scaling) {
        val (wall, runs) = pass("localN", 0, warmInput)
        settle("localN", runs, check = false)
        wall
      } else 0.0
      res.layers ++= Layers.overhead(Stats.median(walls), Stats.median(traced.map(_._1)))
      res.layers ++= Layers.selfTimes(tracer)
      spark.stop() // drains the listener bus
      val isTraced = (g: String) => tracedRuns.exists(_.progress.exists(_.runId.toString == g))
      res.layers ++= Layers.tasks(tasks.sum(isTraced), traced.size, traced.map(_._1).sum,
        cfg.cores, tasks.worstSkew(isTraced, cfg.cores))
      if (scaling) {
        spark = Main.session(cfg, 1)
        progress = new ProgressListener
        spark.streams.addListener(progress)
        pass("local1", 0, warmInput) // cold start of the new context
        val (local1, local1Runs) = pass("local1", 1, warmInput)
        settle("local1", local1Runs, check = false)
        res.layers("scaling.local1_wall_s") = local1
        res.layers("scaling.speedup") = local1 / localN
      }
      Files.writeString(Paths.get(cfg.work, "spans.json"), tracer.json)
    }
    spark.stop()
    res.values("setup_jvm_s") = setupJvm
  }

  /** Spans for one pipeline run: the run itself, each micro-batch, and the
    * micro-batch phases Spark reports, laid end to end in the order it
    * runs them. */
  private def spans(tracer: Tracer, trace: String, r: Run): Unit = {
    if (r.progress.isEmpty) return
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ns(ms: Long) = ms * 1000000L + offset
    val first = Instant.parse(r.progress.head.timestamp).toEpochMilli
    val last = r.progress.last
    val root = tracer.record(trace, "pipeline", "graft.api", 0L, ns(first),
      ns(Instant.parse(last.timestamp).toEpochMilli + last.batchDuration))
    r.progress.foreach { b =>
      val start = Instant.parse(b.timestamp).toEpochMilli
      val id = tracer.record(trace, s"batch-${b.batchId}", "graft.streaming", root,
        ns(start), ns(start + b.batchDuration))
      var t = ns(start)
      Seq("latestOffset" -> "spark.offsets", "walCommit" -> "spark.offsets",
        "getBatch" -> "spark.source", "queryPlanning" -> "spark.plan",
        "addBatch" -> "spark.exec", "commitOffsets" -> "spark.offsets").foreach { case (k, layer) =>
        Option(b.durationMs.get(k)).map(_.longValue).filter(_ > 0).foreach { ms =>
          tracer.record(trace, k, layer, id, t, t + ms * 1000000L)
          t += ms * 1000000L
        }
      }
    }
  }

  private def streamLayers(p: String, runs: Seq[Run], passes: Int): Seq[(String, Double)] = {
    val batches = runs.flatMap(_.progress.filter(_.batchId > 0))
    def phase(k: String) = Stats.median(batches.map(b =>
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val lag = batches.flatMap { b =>
      for { mx <- Option(b.eventTime.get("max")); wm <- Option(b.eventTime.get("watermark")) }
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
    }
    val ops = runs.flatMap(_.progress.flatMap(_.stateOperators))
    val n = math.max(1, passes).toDouble
    Seq(
      s"stream.$p.latest_offset_ms" -> phase("latestOffset"),
      s"stream.$p.get_batch_ms" -> phase("getBatch"),
      s"stream.$p.planning_ms" -> phase("queryPlanning"),
      s"stream.$p.add_batch_ms" -> phase("addBatch"),
      s"stream.$p.wal_commit_ms" -> phase("walCommit"),
      s"stream.$p.commit_offsets_ms" -> phase("commitOffsets"),
      s"stream.$p.watermark_lag_ms" -> Stats.median(lag),
      s"state.$p.rows_total_peak" -> runs.map(_.progress.map(
        _.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)).maxOption.getOrElse(0L).toDouble,
      s"state.$p.rows_updated" -> ops.map(_.numRowsUpdated).sum / n,
      s"state.$p.rows_removed" -> ops.map(_.numRowsRemoved).sum / n,
      s"state.$p.memory_bytes_peak" -> ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble,
      s"state.$p.commit_ms" -> ops.map(_.commitTimeMs).sum / n,
      s"state.$p.dropped_late_rows" -> ops.map(_.numRowsDroppedByWatermark).sum / n,
      s"state.$p.checkpoint_bytes" -> Stats.median(runs.map(_.ckptBytes.toDouble)))
  }

  /**
   * Restart leg: the sessions pipeline sees only the first half of the
   * files, stops with sessions still open, and restarts from its checkpoint
   * once the rest have landed. Its two outputs together must equal the
   * uninterrupted result. Returns the restarted query's time to its first
   * completed micro-batch, in ms.
   */
  private def restartLeg(spark: SparkSession, cfg: Config, res: Result, expected: Seq[String],
                         runPipeline: (String, String, String, String) => Run): Double = {
    val files = new File(cfg.stream).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val input = s"${cfg.work}/restart-input"
    val ckpt = s"${cfg.work}/ckpt/restart"
    val (firstHalf, rest) = files.splitAt(files.length / 2)
    land(firstHalf.toSeq, input)
    val before = runPipeline("sessions", "restart_a", input, ckpt)
    land(rest.toSeq, input)
    val t0 = System.currentTimeMillis()
    val after = runPipeline("sessions", "restart_b", input, ckpt)
    val status = Seq(before.status, after.status).find(_ != "ok")
      .getOrElse(if ((before.rows ++ after.rows).sorted == expected) "ok" else "wrong")
    res.ops += (("restart", "sessions", status, before.wallMs + after.wallMs))
    if (status != "ok")
      res.errors += s"restart sessions: $status ${before.err} ${after.err}".trim
    deleteTree(new File(ckpt))
    deleteTree(new File(input))
    after.progress.headOption
      .map(b => (Instant.parse(b.timestamp).toEpochMilli + b.batchDuration - t0).toDouble)
      .getOrElse(0.0)
  }

  /** Copies `files` into `dir`, keeping their modification times (the
    * file source replays in that order). */
  def land(files: Seq[File], dir: String): Unit = {
    val d = new File(dir)
    d.mkdirs()
    files.foreach(f => Files.copy(f.toPath, d.toPath.resolve(f.getName),
      StandardCopyOption.COPY_ATTRIBUTES))
  }

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
