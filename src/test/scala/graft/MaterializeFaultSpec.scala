package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/**
 * Executor loss in the middle of connected components. One JVM holds one
 * `SparkContext` and [[TestSpark]] owns this one, so the cluster run
 * happens in a child JVM ([[MaterializeFaultChild]]) on
 * `local-cluster[2,1,1024]`: two executor processes of 1 core and 1 GB.
 * The child loses executor "0" after the 3rd job of the run ends and
 * reports the labels, when the loss was seen, and what the same call does
 * with no checkpoint directory.
 */
class MaterializeFaultSpec extends AnyFunSuite {

  test("connected components survive the loss of an executor mid-loop") {
    val local = Dedup.connectedComponents(MaterializeFaultChild.fixture(TestSpark.spark))
    val expected = MaterializeFaultChild.labels(local)
    assert(expected.values.toSet == Set(1L, 101L), "fixture: two components")

    val t0 = System.nanoTime()
    val out = runChild()
    info(f"child JVM ran ${(System.nanoTime() - t0) / 1e9}%.1f s")
    def field(k: String): Option[String] = out.collectFirst {
      case l if l.startsWith(s"$k ") => l.stripPrefix(s"$k ")
    }
    assert(field("ERROR").isEmpty, s"cluster run failed: ${field("ERROR").getOrElse("")}")
    val got = field("LABELS").map(_.split(",").map { kv =>
      val Array(k, v) = kv.split(":"); k.toLong -> v.toLong
    }.toMap)
    assert(got.contains(expected), s"labels after the loss: ${out.mkString("\n")}")
    val removedAt = field("REMOVED_AT_JOB").fold(-1)(_.toInt)
    val loopJobs = field("LOOP_JOBS").fold(-1)(_.toInt)
    assert(removedAt >= 0, "the listener never saw executor 0 removed")
    assert(removedAt < loopJobs,
      s"executor 0 was removed after job $removedAt, but the loop ended at job $loopJobs")
    val failFast = field("NO_DIR").getOrElse("")
    assert(failFast.contains("Dedup.connectedComponents") && failFast.contains("setCheckpointDir"),
      s"with no checkpoint directory: $failFast")
  }

  /** Run the child to completion and return its `FAULT`-tagged lines
    * (untagged). The child, and any executor it left, is gone on return. */
  private def runChild(): Seq[String] = {
    val javaBin = new File(sys.props("java.home"), "bin/java").getPath
    val cp = sys.props("java.class.path")
    val in = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = in.zipWithIndex.flatMap {
      case ("--add-opens", i) if i + 1 < in.size => Seq("--add-opens", in(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    // stdout carries the report, stderr Spark's log: two files, so a log
    // line never splits a report line
    val out = Files.createTempFile("materialize-fault", ".out").toFile
    val log = Files.createTempFile("materialize-fault", ".log").toFile
    val pb = new ProcessBuilder(
      (Seq(javaBin, "-Xmx1g") ++ opens ++
        Seq("-cp", cp, MaterializeFaultChild.getClass.getName.stripSuffix("$"))).asJava)
      .redirectOutput(out)
      .redirectError(log)
    // what bin/load-spark-env.sh sets for spark-submit: the worker builds
    // each executor's launch command from them. Spark's home is the
    // distribution whose jars/ holds spark-core.
    val sparkHome = sys.env.getOrElse("SPARK_HOME", new File(
      classOf[SparkContext].getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParentFile.getParentFile.getPath)
    pb.environment().put("SPARK_HOME", sparkHome)
    pb.environment().put("SPARK_SCALA_VERSION",
      scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
    val proc = pb.start()
    try {
      if (!proc.waitFor(10, TimeUnit.MINUTES)) fail("child JVM did not finish in 10 minutes")
      val tagged = Files.readAllLines(out.toPath).asScala.toSeq
        .filter(_.startsWith("FAULT ")).map(_.stripPrefix("FAULT "))
      assert(tagged.nonEmpty, s"child JVM exited ${proc.exitValue()}: " +
        Files.readAllLines(log.toPath).asScala.takeRight(40).mkString("\n"))
      tagged
    } finally {
      val descendants = proc.descendants().iterator().asScala.toSeq
      proc.destroy()
      if (!proc.waitFor(20, TimeUnit.SECONDS)) proc.destroyForcibly()
      descendants.foreach(_.destroyForcibly())
      out.delete()
      log.delete()
    }
  }
}

/** The child side of [[MaterializeFaultSpec]]: prints `FAULT <key> <value>`
  * lines on stdout. Keys: `NO_DIR` (the message of the call with no
  * checkpoint directory, or `none`), `LABELS` (id:cluster,...),
  * `REMOVED_AT_JOB` / `LOOP_JOBS` (how many jobs had ended when executor
  * 0's removal was seen, and when the loop returned), `ERROR`. */
object MaterializeFaultChild {

  /** Two 40-node chains, 1..40 and 101..140, as (a_id, b_id) pairs. */
  def fixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ((1L until 40L).map(i => (i, i + 1)) ++ (101L until 140L).map(i => (i, i + 1)))
      .toDF("a_id", "b_id")
  }

  def labels(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def main(args: Array[String]): Unit = {
    val cp = sys.props("java.class.path")
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    def say(k: String, v: Any): Unit = println(s"FAULT $k $v")
    val ckDir = Files.createTempDirectory("materialize-fault-ck").toFile
    try {
      // both executors registered (plus the driver) before any task runs
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(2)
      while (sc.getExecutorMemoryStatus.size < 3 && System.nanoTime() < deadline) Thread.sleep(100)
      val pairs = fixture(spark)

      say("NO_DIR", try { Dedup.connectedComponents(pairs); "none" }
        catch { case e: Exception => e.getMessage })

      sc.setCheckpointDir(ckDir.getAbsolutePath)
      val jobs = new AtomicInteger(0)
      val removedAt = new AtomicInteger(-1)
      sc.addSparkListener(new SparkListener {
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (jobs.incrementAndGet() == 3)
            new Thread(() => sc.killExecutor("0")).start()
        override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
          if (e.executorId == "0") removedAt.compareAndSet(-1, jobs.get)
      })
      try {
        val cc = Dedup.connectedComponents(pairs)
        val loopJobs = jobs.get
        val got = labels(cc)
        say("LABELS", got.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(","))
        if (removedAt.get >= 0) say("REMOVED_AT_JOB", removedAt.get)
        say("LOOP_JOBS", loopJobs)
      } catch {
        case e: Exception => say("ERROR", s"${e.getClass.getName}: ${e.getMessage}".replace('\n', ' '))
      }
    } finally {
      spark.stop()
      def rm(f: File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(ckDir)
    }
  }
}
