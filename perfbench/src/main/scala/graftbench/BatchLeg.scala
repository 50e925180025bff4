package graftbench

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/**
 * batch-mix: declared queries from `SparkEntry.queries`, one at a time,
 * closed loop.
 *
 *  1. check pass: every query's rows go to `<work>/check/<query>` as
 *     parquet, compared with its DuckDB oracle by run.py (untimed);
 *  2. two more warm-up passes (JIT still shortens each of the first
 *     passes, so timing starts at the fourth);
 *  3. timed window: whole passes, each in a seeded order, until `seconds`
 *     have elapsed; results go to the `noop` sink, as in the program's own
 *     `Bench`;
 *  4. traced run only: the same window again with spans around build
 *     (`QueryDef.build`), plan (`queryExecution.executedPlan`) and execute,
 *     then the expression microbenchmarks.
 */
object BatchLeg {
  /** Per-operation cap; clamped to the time left before the hard limit. */
  val OpCapSeconds = 30.0
  val WarmPasses = 2
  /** a traced run's extra legs only start with this much time left */
  val ExtraLegSeconds = 30.0

  def run(cfg: Config, res: Result): Unit = {
    val spark = Main.session(cfg, cfg.cores)
    val tasks = new TaskListener
    spark.sparkContext.addSparkListener(tasks)
    val plans = new PlanCapture
    if (cfg.trace) spark.listenerManager.register(plans)
    val tracer = new Tracer(cfg.trace)
    val builds = SparkEntry.queries
    val missing = cfg.queries.filterNot(builds.contains)
    require(missing.isEmpty, s"not declared: ${missing.mkString(",")}")

    def cap = math.min(OpCapSeconds, cfg.remaining)

    /** Drops what the previous query cached or checkpointed (as `Bench`
      * does), after noting how much of it there was. */
    val materialized = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, rdds, bytes)
    def clear(phase: String): Unit = {
      val info = spark.sparkContext.getRDDStorageInfo
      materialized += ((phase, info.length.toLong, info.map(i => i.memSize + i.diskSize).sum))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    def build(q: String): DataFrame = {
      if (cfg.inject.get("throw").contains(q)) sys.error(s"injected failure in $q")
      builds(q)(spark, cfg.tables)
    }

    // 1. check pass
    cfg.queries.foreach { q =>
      val (st, dt, err) = Ops.run(spark, s"check-$q", cap) {
        spark.sparkContext.setJobGroup(s"check|x|$q", q)
        val df = build(q)
        val out = if (cfg.inject.get("wrong").contains(q)) df.union(df.limit(1)) else df
        out.coalesce(1).write.mode("overwrite").parquet(s"${cfg.work}/check/$q")
      }
      res.ops += (("check", q, st, dt * 1000))
      if (err.nonEmpty) res.errors += s"check $q: $err"
      clear("check")
    }
    // oracle SQL for run.py's DuckDB compare (after the check pass, so an
    // oracle that restates what the run learned sees it)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.work, "oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter(kv => cfg.queries.contains(kv._1))))

    val opTimes = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Double)]]
    def tracedRun(q: String, op: String): Unit = {
      val sc = spark.sparkContext
      tracer.span(op, "query", "bench", 0L) { root =>
        sc.setJobGroup(s"traced|b|$op", q)
        val df = tracer.span(op, "build", "graft.queries", root)(_ => build(q))
        sc.setJobGroup(s"traced|p|$op", q)
        tracer.span(op, "plan", "spark.plan", root)(_ => df.queryExecution.executedPlan)
        sc.setJobGroup(s"traced|x|$op", q)
        plans.expect()
        tracer.span(op, "exec", "spark.exec", root) { _ =>
          df.write.format("noop").mode("overwrite").save()
        }
        plans.take().foreach { qe =>
          val ops = PlanMetrics.operatorMs(qe.executedPlan)
            .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(3)
          opTimes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) ++= ops
        }
      }
    }

    /** One pass over `qs` in a seeded order; returns the pass wall time. */
    def pass(phase: String, idx: Int, traced: Boolean): Double = {
      val order = new scala.util.Random(cfg.seed * 7919 + idx).shuffle(cfg.queries)
      val t0 = System.nanoTime()
      order.foreach { q =>
        val op = s"$phase-$idx-$q"
        val (st, dt, err) = Ops.run(spark, op, cap) {
          if (traced) tracedRun(q, op) else {
            spark.sparkContext.setJobGroup(s"$phase|x|$op", q)
            build(q).write.format("noop").mode("overwrite").save()
          }
        }
        res.ops += ((phase, q, st, dt * 1000))
        if (err.nonEmpty) res.errors += s"$phase $q: $err"
        clear(phase)
      }
      (System.nanoTime() - t0) / 1e9
    }

    // 2. warm-up
    (1 to WarmPasses).foreach(pass("warm", _, traced = false))
    val setupJvm = cfg.sinceLaunch

    // 3. timed window
    def window(phase: String, traced: Boolean): Seq[Double] = {
      val t0 = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      var i = 1
      while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
        walls += pass(phase, i, traced)
        i += 1
      }
      walls.toSeq
    }
    val timedStart = System.nanoTime()
    val walls = window("timed", traced = false)
    val timedSec = (System.nanoTime() - timedStart) / 1e9

    val tracedWalls =
      if (cfg.trace) window("traced", traced = true) else Nil
    if (cfg.trace && cfg.remaining > ExtraLegSeconds) Micro.run(spark, cfg, res)
    else if (cfg.trace) res.errors += "microbenchmarks skipped: too little time left"

    spark.stop() // drains the listener bus
    val timedOk = res.ops.filter(o => o._1 == "timed" && o._3 == "ok")
    val lat = timedOk.map(_._4).toSeq
    val perQuery = timedOk.groupBy(_._2).values.map(xs => Stats.median(xs.map(_._4).toSeq)).toSeq
    val timedTasks = tasks.sum(_.startsWith("timed|"))
    res.values ++= Seq(
      "setup_jvm_s" -> setupJvm,
      "wall_s" -> Stats.median(walls),
      "pass_walls" -> walls,
      "query_p50_ms" -> Stats.median(perQuery),
      "events_per_s" -> timedTasks.inputRecords / timedSec,
      "batch_p50_ms" -> Stats.pct(lat, 0.5),
      "batch_p80_ms" -> Stats.pct(lat, 0.8),
      "batch_samples" -> lat.size)

    if (cfg.trace) {
      val isTraced = (g: String) => g.startsWith("traced|")
      val tt = tasks.sum(isTraced)
      val spans = tracer.all
      def spanMs(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
      val nTraced = math.max(1, tracedWalls.size)
      val mat = materialized.filter(_._1 == "traced")
      res.layers ++= Seq(
        "queries.build_ms" -> spanMs("build") / nTraced,
        "queries.build_jobs" -> tasks.sum(_.startsWith("traced|b|")).jobs.toDouble / nTraced,
        "plan.plan_ms" -> spanMs("plan") / nTraced,
        "exec.exec_ms" -> spanMs("exec") / nTraced) ++
        Layers.tasks(tt, nTraced, tracedWalls.sum, cfg.cores, tasks.worstSkew(isTraced, cfg.cores)) ++ Seq(
        "operators.materialized_rdds" -> mat.map(_._2).sum.toDouble / nTraced,
        "operators.materialized_bytes" -> mat.map(_._3).sum.toDouble / nTraced) ++
        Layers.operators(opTimes.values.flatten.toSeq, nTraced) ++
        Layers.selfTimes(tracer) ++
        Layers.overhead(Stats.median(walls), Stats.median(tracedWalls))
      val decoders = cfg.queries.filter(Layers.Decoders.contains)
      decoders.foreach { q =>
        val ms = spans.filter(s => s.name == "exec" && s.trace.endsWith(s"-$q"))
          .map(s => (s.end - s.start) / 1e6)
        res.layers(s"decode.${Layers.short(q)}.exec_ms") = Stats.median(ms)
      }
      res.values("top_ops") = opTimes.map { case (q, xs) =>
        q -> xs.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(3)
          .map { case (n, ms) => Map("op" -> n, "ms" -> ms / nTraced) } }.toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.work, "spans.json"), tracer.json)
    }
  }
}

/** Hands the executed plan of each traced `noop` write to the thread that
  * ran it (listener calls arrive asynchronously, in order). */
final class PlanCapture extends QueryExecutionListener {
  private val q = new LinkedBlockingQueue[QueryExecution]()
  def expect(): Unit = q.clear()
  def take(): Option[QueryExecution] = {
    val deadline = System.nanoTime() + 2_000_000_000L
    var out: Option[QueryExecution] = None
    while (out.isEmpty && System.nanoTime() < deadline) {
      val qe = q.poll(50, TimeUnit.MILLISECONDS)
      if (qe != null && qe.executedPlan.toString.contains("NoopWrite")) out = Some(qe)
    }
    out
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    q.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
