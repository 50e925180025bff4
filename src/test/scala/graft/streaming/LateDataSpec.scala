package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.api.{Env, Event}

/**
 * Late-data semantics: the reference has NO late-data handling — an
 * event arriving after its session closed silently opens a new session
 * (SURVEY.md §2.2). Spark's watermark is strictly stronger: events older
 * than the watermark are DROPPED before the stateful operator, so a
 * closed session can never be contradicted. This spec pins that
 * difference as the documented, intended behavior.
 */
class LateDataSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(v: Long, t: String) = Event.at(v, Timestamp.valueOf(t))

  test("an event behind the watermark is dropped, not re-sessionized") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_ => "k")
      .window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)

    val query = sessions.ds.writeStream
      .format("memory").queryName("late_sess").outputMode("append").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00"))
      query.processAllAvailable()
      // advance the watermark to 14:00 and close the first session
      input.addData(ev(10, "2024-01-01 14:00:00"))
      query.processAllAvailable()
      input.addData(ev(20, "2024-01-01 15:00:00"))
      query.processAllAvailable()
      // 10:05 is far behind the 15:00 watermark → dropped
      input.addData(ev(99, "2024-01-01 10:05:00"))
      input.addData(ev(30, "2024-01-01 16:00:00"))
      query.processAllAvailable()
      input.addData(ev(40, "2024-01-01 17:00:00"))
      query.processAllAvailable()

      val fired = spark.table("late_sess").as[Event[Long]].collect().toSeq
      // the 10:00 session fired with only value 1; 99 appears nowhere
      assert(fired.map(_.value).count(_ == 1L) == 1)
      assert(!fired.exists(e => e.value == 99L || e.value == 100L), s"got $fired")
    } finally query.stop()
  }

  private def hour(h: Long, m: Long = 0) = new Timestamp((h * 3600 + m * 60) * 1000L)

  test("a late row is counted as dropped by the watermark and leaves the state unchanged") {
    // top-k on the watermark kernel: the straggler for the closed hour 10
    // never reaches the operator, so it cannot revive the window
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val query = TopKStream(input.toDF().toDF("ts", "token").withWatermark("ts", "0 seconds"),
        "ts", "token", 3600L, 2)
      .writeStream.format("memory").queryName("late_topk").outputMode("append").start()
    try {
      input.addData((hour(10, 1), "a"), (hour(10, 2), "b"))
      query.processAllAvailable()
      input.addData((hour(12, 0), "z")) // the watermark closes hour 10
      query.processAllAvailable()
      val before = query.lastProgress.stateOperators.head
      val emitted = spark.table("late_topk").count()
      input.addData((hour(10, 30), "c"))
      query.processAllAvailable()
      val p = query.lastProgress
      val op = p.stateOperators.head
      assert(p.numInputRows == 1L)
      assert(op.numRowsDroppedByWatermark == 1L)
      assert(op.numRowsTotal == before.numRowsTotal && op.numRowsUpdated == 0L)
      assert(spark.table("late_topk").count() == emitted)
    } finally query.stop()
  }

  test("a row with a null event time is dropped by top-k, approximate top-k and gap fill") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((hour(10, 1), "a"), (hour(10, 2), "b"), (hour(10, 3), "a"), (hour(11, 5), "c"))
    val operators = Seq[(String, DataFrame => DataFrame)](
      "topk" -> (TopKStream(_, "ts", "token", 3600L, 2)),
      "approx" -> (TopKStream.approx(_, "ts", "token", 3600L, 2)),
      "gapfill" -> (GapFillStream(_, "token", "ts", 3600L)))
    def run(name: String, op: DataFrame => DataFrame, batch: Seq[(Timestamp, String)]): Set[String] = {
      val input = MemoryStream[(Timestamp, String)]
      val query = op(input.toDF().toDF("ts", "token").withWatermark("ts", "0 seconds"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData(batch); query.processAllAvailable()
        input.addData((hour(20), "z")); query.processAllAvailable()
        input.addData((hour(21), "z")); query.processAllAvailable()
        spark.table(name).collect().map(_.toString).toSet
      } finally query.stop()
    }
    operators.foreach { case (name, op) =>
      val withNull = run(s"null_ts_$name", op, rows :+ ((null, "n")))
      assert(withNull.nonEmpty && withNull == run(s"no_null_ts_$name", op, rows), name)
    }
  }
}
