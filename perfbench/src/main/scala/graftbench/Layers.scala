package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NfcNormalizeExpr, RollingHashExpr, ShinglesExpr, VectorFunctions}
import graft.sources.Tables

/** Per-layer metric names and how they are derived from the listeners and
  * spans. Values are per timed pass unless the name says otherwise. */
object Layers {
  /** The container decoder round-trips among the batch queries. */
  val Decoders = Seq("l135_wet_ingest", "l136_pdf_encrypted_roundtrip", "l145_tar_ingest")

  def short(q: String): String = q.takeWhile(_ != '_')

  def tasks(t: TaskTotals, passes: Int, wallSec: Double, cores: Int,
            skew: Double): Seq[(String, Double)] = {
    val n = passes.toDouble
    Seq(
      "sched.jobs" -> t.jobs / n,
      "sched.stages" -> t.stages / n,
      "sched.tasks" -> t.tasks / n,
      "sched.busy_ratio" -> (if (wallSec > 0) t.runMs / 1000.0 / (wallSec * cores) else 0.0),
      "exec.task_ms" -> t.runMs / n,
      "exec.task_cpu_ms" -> t.cpuNs / 1e6 / n,
      "exec.gc_ms" -> t.gcMs / n,
      "shuffle.write_bytes" -> t.shuffleWrite / n,
      "shuffle.read_bytes" -> t.shuffleRead / n,
      "shuffle.fetch_wait_ms" -> t.fetchWaitMs / n,
      "shuffle.task_skew" -> skew,
      "shuffle.spill_bytes" -> t.spill / n,
      "shuffle.peak_exec_mem_bytes" -> t.peakExecMem.toDouble,
      "sources.input_bytes" -> t.inputBytes / n,
      "sources.input_records" -> t.inputRecords / n)
  }

  /** Physical-operator families, matched on the plan node name. */
  private val OpFamilies: Seq[(String, String => Boolean)] = Seq(
    "aggregate" -> (_.contains("Aggregate")),
    "sort" -> (_ == "Sort"),
    "exchange" -> (_ == "Exchange"),
    "broadcast" -> (_.startsWith("Broadcast")),
    "join" -> (n => n.contains("Join") && !n.startsWith("Broadcast")),
    "scan" -> (_.startsWith("Scan")))

  /** SQL-metric time per operator family, from each query's top three
    * operators. */
  def operators(top: Seq[(String, Double)], passes: Int): Seq[(String, Double)] = {
    val fam = top.map { case (name, ms) =>
      OpFamilies.find(_._2(name)).map(_._1).getOrElse("other") -> ms }
    (OpFamilies.map(_._1) :+ "other").map { f =>
      s"op.$f.ms" -> fam.filter(_._1 == f).map(_._2).sum / passes }
  }

  val SelfLayers = Seq("bench", "graft.queries", "spark.plan", "spark.exec", "graft.api",
    "graft.streaming", "spark.source", "spark.offsets")

  def selfTimes(tracer: Tracer): Seq[(String, Double)] = {
    val m = tracer.selfMsByLayer
    SelfLayers.map(l => s"self.$l.ms" -> m.getOrElse(l, 0.0))
  }

  def overhead(untraced: Double, traced: Double): Seq[(String, Double)] = Seq(
    "trace.untraced_wall_s" -> untraced,
    "trace.traced_wall_s" -> traced,
    "trace.overhead_s" -> (traced - untraced))
}

/**
 * Standalone microbenchmarks of the native expressions in `graft.functions`:
 * each runs over `Rows` rows that cycle through the `documents` texts or the
 * `embeddings` vectors (a literal array indexed by row id, so no cache or
 * scan is timed), and reports its query's time minus that of the same
 * query with a trivial expression, per row.
 */
object Micro {
  val Rows = 200000L
  val Reps = 3

  def run(spark: SparkSession, cfg: Config, res: Result): Unit = {
    def cycle(values: Array[_], name: String): DataFrame =
      spark.range(Rows).select(element_at(typedLit(values),
        (col("id") % values.length + 1).cast("int")).as(name))
    val text = cycle(Tables.documents(spark, cfg.tables).select("text").collect()
      .map(_.getString(0)), "text")
    val emb = cycle(Tables.embeddings(spark, cfg.tables).select("embedding").collect()
      .map(_.getSeq[Double](0).toArray), "embedding")
    def ms(df: DataFrame, c: Column): Double = {
      // a fresh plan each time: an adaptive plan run a second time reuses
      // its shuffle output and skips the stage that evaluates `c`
      def q = df.select(sum(c))
      q.collect() // compile once
      Stats.median((1 to Reps).map { _ =>
        val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0).toDouble })
    }
    val textBase = ms(text, length(col("text")))
    val embBase = ms(emb, size(col("embedding")))
    def report(name: String, t: Double, base: Double): Unit =
      res.layers(s"fn.$name.ns_per_row") = math.max(0.0, t - base) / Rows
    report("rolling_hash", ms(text, RollingHashExpr(col("text")) % 1000), textBase)
    report("shingles", ms(text, size(ShinglesExpr(col("text"), 3))), textBase)
    report("nfc", ms(text, length(NfcNormalizeExpr(col("text")))), textBase)
    report("dot", ms(emb, VectorFunctions.dot(col("embedding"), col("embedding"))), embBase)
  }
}
