package graft.examples

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.api.{Env, Event}

/**
 * Usage example: incremental session aggregation over a stream. Feeds
 * three micro-batches; the 12:00-12:05 session fires only once the
 * watermark (carried forward by later batches) passes last+gap — the
 * reference's trigger semantics (/root/reference/src/lib.rs:1320-1344)
 * running on Structured Streaming state + timeouts.
 */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession(4)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ev(v: Long, t: String) = Event.at(v, Timestamp.valueOf(t))

    val input = MemoryStream[Event[Long]]
    val sessions = Env(spark).fromDataset(input.toDS())
      .withWatermark("0 seconds")
      .keyBy(_ => "user")
      .window(Duration.ofMinutes(10))
      .aggregate(identity[Long])(_ + _)

    val query = sessions.ds.writeStream
      .format("memory").queryName("demo").outputMode("append").start()

    input.addData(ev(1, "2009-10-11 12:00:00"), ev(2, "2009-10-11 12:05:00"))
    query.processAllAvailable()
    println(s"[streaming-demo] after batch 1 (watermark behind): " +
      s"${spark.table("demo").count()} sessions fired")

    input.addData(ev(10, "2009-10-11 14:00:00"))
    query.processAllAvailable()
    input.addData(ev(20, "2009-10-11 15:00:00"))
    query.processAllAvailable()
    println(s"[streaming-demo] after watermark passes 12:05+10m:")
    spark.table("demo").as[Event[Long]].collect().foreach(e =>
      println(s"[streaming-demo]   session ending ${e.eventTime.get}: sum=${e.value}"))

    query.stop()
    spark.stop()
  }
}
