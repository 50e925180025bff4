package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side, started by `perfbench/run.py` with
 * `key=value` arguments. It runs one workload on the inputs run.py
 * generated, writes `result.json` (and `spans.json` when traced) into the
 * work directory and exits; run.py checks batch outputs against DuckDB and
 * prints the final result line.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cfg = Config(kv, t0)
    val res = new Result
    cfg.workload match {
      case "stream-replay" => StreamLeg.run(cfg, res)
      case "batch-mix" => BatchLeg.run(cfg, res)
      case other => sys.error(s"unknown workload $other")
    }
    res.values("peak_rss_mb") = peakRssMb
    Files.writeString(Paths.get(cfg.work, "result.json"), res.json, StandardCharsets.UTF_8)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A session configured like the program's own entry points (local
    * mode, one shuffle partition per core, UTC), with every scratch
    * directory under the work directory. */
  def session(cfg: Config, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${cfg.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Config(kv: Map[String, String], startNs: Long) {
  val workload: String = kv("workload")
  val seed: Long = kv("seed").toLong
  val seconds: Double = kv("seconds").toDouble
  val trace: Boolean = kv("trace") == "1"
  val work: String = kv("work")
  val tables: String = kv.getOrElse("tables", "")
  val stream: String = kv.getOrElse("stream", "")
  val sentinel: Long = kv.getOrElse("sentinel", "0").toLong
  val queries: Seq[String] = kv.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty)
  val cores: Int = kv("cores").toInt
  /** seconds after JVM start by which every operation must have ended */
  val hardSeconds: Double = kv("hard").toDouble
  /** self-check only: `wrong=<query>` / `throw=<query>` */
  val inject: Map[String, String] = kv.getOrElse("inject", "").split(",").toSeq
    .filter(_.contains(":")).map { s => val i = s.indexOf(':'); s.take(i) -> s.drop(i + 1) }.toMap

  /** wall-clock ms at which run.py launched this JVM */
  val launchedMs: Long = kv("launched").toLong

  def elapsed: Double = (System.nanoTime() - startNs) / 1e9
  /** seconds since run.py launched this JVM, JVM start-up included */
  def sinceLaunch: Double = (System.currentTimeMillis() - launchedMs) / 1000.0
  def remaining: Double = hardSeconds - elapsed
}

/** What the JVM hands back to run.py. */
final class Result {
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** (phase, operation, status, ms) — status ok|failed|timeout|skipped|wrong */
  val ops = mutable.ArrayBuffer.empty[(String, String, String, Double)]
  val errors = mutable.ArrayBuffer.empty[String]

  def json: String = Json.obj(
    "values" -> values.toMap,
    "layers" -> layers.toMap,
    "ops" -> ops.map { case (p, o, s, ms) =>
      Map("phase" -> p, "op" -> o, "status" -> s, "ms" -> ms) }.toSeq,
    "errors" -> errors.toSeq)
}

/** Runs one operation on a worker thread under a wall-clock cap, the way
  * the program's own `Bench` does: past the cap its jobs are cancelled and
  * the operation counts as timed out. */
object Ops {
  private val zombies = mutable.Set.empty[String]

  /** (status, seconds, error message). */
  def run(spark: SparkSession, tag: String, capSec: Double)(body: => Unit)
      : (String, Double, String) = {
    if (capSec <= 0) return ("skipped", 0.0, "no time left")
    val sc = spark.sparkContext
    zombies.foreach(t => sc.cancelJobsWithTag(t))
    @volatile var err: String = null
    val done = new CountDownLatch(1)
    val worker = new Thread(() => {
      try {
        sc.addJobTag(tag)
        body
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      finally done.countDown()
    }, tag)
    worker.setDaemon(true)
    val t0 = System.nanoTime()
    worker.start()
    val finished = done.await(math.max(1L, (capSec * 1000).toLong), TimeUnit.MILLISECONDS)
    val dt = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      sc.cancelJobsWithTag(tag)
      worker.interrupt()
      if (!done.await(2000, TimeUnit.MILLISECONDS)) zombies += tag
      ("timeout", dt, s"over the ${capSec}s cap")
    } else if (err != null) ("failed", dt, err)
    else ("ok", dt, "")
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Minimal JSON writer for the result files. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
