package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Spans of one query run or one micro-batch share a
  * `trace` id; `parent` is 0 for a root. Times are nanoseconds on the
  * driver's monotonic clock. */
final case class Span(id: Long, trace: String, name: String, layer: String,
                      parent: Long, start: Long, end: Long)

/** In-memory span store, written out once at the end of a traced run. With
  * tracing off every call just runs its body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](trace: String, name: String, layer: String, parent: Long)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, trace, name, layer, parent, t0, System.nanoTime()))
    }

  /** A span measured elsewhere (a micro-batch from its progress report). */
  def record(trace: String, name: String, layer: String, parent: Long,
             start: Long, end: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, trace, name, layer, parent, start, end))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time per layer in ms: each span's duration minus the part of
    * it that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => math.max(0L, math.min(c.end, s.end) - math.max(c.start, s.start))).sum
        math.max(0L, s.end - s.start - covered)
      }.sum / 1e6
    }
  }

  def json: String = all.map { s =>
    Json.obj("id" -> s.id, "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)
  }.mkString("[\n", ",\n", "\n]")
}

/** Task-level totals for one set of job groups. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill, inputBytes,
      inputRecords, peakExecMem = 0L
}

/**
 * SparkListener that files every task's metrics under the job group of the
 * job that ran it. The benchmark names its groups `<phase>|<kind>|<op>`
 * (kind `b` build, `p` plan, `x` execute); a streaming query's jobs carry
 * its run id as their group. Read it only after `SparkContext.stop()`,
 * which drains the listener bus.
 */
final class TaskListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  /** per stage: (group, task durations ms) */
  private val stageTasks = mutable.Map.empty[Int, (String, mutable.ArrayBuffer[Long])]
  private val totals = mutable.Map.empty[String, TaskTotals]

  private def tot(g: String) = totals.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    tot(g).jobs += 1
    tot(g).stages += e.stageIds.size
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val t = tot(g)
    t.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, (g, mutable.ArrayBuffer.empty[Long]))._2 +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Totals over every group the predicate selects. */
  def sum(select: String => Boolean): TaskTotals = synchronized {
    val out = new TaskTotals
    totals.iterator.filter(kv => select(kv._1)).foreach { case (_, t) =>
      out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
      out.runMs += t.runMs; out.cpuNs += t.cpuNs; out.gcMs += t.gcMs
      out.shuffleWrite += t.shuffleWrite; out.shuffleRead += t.shuffleRead
      out.fetchWaitMs += t.fetchWaitMs; out.spill += t.spill
      out.inputBytes += t.inputBytes; out.inputRecords += t.inputRecords
      out.peakExecMem = math.max(out.peakExecMem, t.peakExecMem)
    }
    out
  }

  /** max / median task time of the most skewed stage with at least
    * `minTasks` tasks among the selected groups (1.0 if none). */
  def worstSkew(select: String => Boolean, minTasks: Int): Double = synchronized {
    val ratios = stageTasks.values.collect {
      case (g, ds) if select(g) && ds.size >= minTasks =>
        val sorted = ds.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Micro-batch progress of the streaming queries, by run id. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val done = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()

  private def latch(runId: String) =
    done.computeIfAbsent(runId, _ => new java.util.concurrent.CountDownLatch(1))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    latch(e.runId.toString).countDown()

  /** Every progress report of one run, waiting until its termination
    * event (delivered after all its progress) has arrived. */
  def of(runId: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    latch(runId).await(30, java.util.concurrent.TimeUnit.SECONDS)
    progress.asScala.iterator.map(_.progress).filter(_.runId.toString == runId)
      .toSeq.sortBy(_.batchId)
  }
}

/** Physical-operator time from the SQL metrics of an executed plan. */
object PlanMetrics {
  /** (operator name, ms) for every node of the final (post-AQE) plan that
    * reports a timing metric; code-generation stages are left out, since
    * their time is the sum of the operators inside them. */
  def operatorMs(plan: SparkPlan): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => walk(w.child)
      case n =>
        val ms = n.metrics.values.collect {
          case m if m.metricType == "timing" => m.value.toDouble
          case m if m.metricType == "nsTiming" => m.value / 1e6
        }.sum
        if (ms > 0) out += ((n.nodeName, ms))
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
