package graft.examples

import java.time.Duration

import org.apache.spark.sql.functions._
import graft.api.{Env, Event}
import graft.sources.Tables

/**
 * Usage example: the T12 end-to-end slice (filter clicks → key by user →
 * 30-min session windows → count per session) written against the typed
 * facade instead of the relational path. Run with
 * `sbt "runMain graft.examples.FacadeDemo"`; the session count must equal
 * the declared query t12_e2e's row count on the same data.
 */
object FacadeDemo {

  final case class Click(userId: Long, eventId: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.localSession(8)
    import spark.implicits._

    // shape the events table into Event[Click]
    val events = Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .as[(java.sql.Timestamp, Long, Long, String)]
      .map { case (ts, uid, eid, typ) =>
        (Event(ts, Some(ts), Click(uid, eid)), typ)
      }

    val stream = Env(spark).fromDataset(
      events.filter(_._2 == "click").map(_._1))

    val sessions = stream
      .keyBy(_.value.userId)
      .window(Duration.ofMinutes(30))
      .aggregate(_ => 1L)(_ + _)

    val out = sessions.collectEvents()
    println(s"[facade-demo] click sessions: ${out.size}")
    out.take(5).foreach(e =>
      println(s"[facade-demo]   session ending ${e.eventTime.get}: n_clicks=${e.value}"))
    spark.stop()
  }
}
