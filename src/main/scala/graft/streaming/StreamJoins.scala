package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DayTimeIntervalType, StructField, StructType}

/**
 * Stream-stream joins — a capability entirely absent from the reference
 * (its DSL is a single chain; two streams cannot be combined at all,
 * /root/reference/src/lib.rs has no join surface — SURVEY.md §2.2).
 *
 * The interval joins (`follows*`) on two streams run as ONE keyed
 * operator, as Flink runs an interval join: both sides are unioned,
 * shuffled once on the equi-key, and a `flatMapGroupsWithState` keeps
 * per key a left and a right buffer in one state store — distributed by
 * key and horizon-bounded (rows that can no longer match are evicted as
 * the watermark passes), the shape that survives an unbounded stream.
 * Spark's stream-stream join keeps four stores per partition instead,
 * and their checkpoint commits dominated each micro-batch (SCALE.md).
 */
object StreamJoins {

  /**
   * Pairs (a, b) with equal `keyCol` where `a_ts < b_ts <= a_ts +
   * horizon` — the streaming twin of
   * [[graft.operators.RangeJoin.follows]], same output schema
   * (keyCol, a_id, a_ts, b_id, b_ts), proven row-identical to it in
   * StreamStreamJoinSpec.
   *
   * Streaming use (both inputs streaming): both must carry
   * `withWatermark` on `tsCol` BEFORE this call, and `horizon` must be a
   * day-time interval. A row at or behind the watermark is dropped as
   * late (counted in `numRowsDroppedByWatermark`). A left row stays
   * buffered until the watermark passes a_ts + horizon, a right row
   * until it reaches b_ts: after that nothing it could match can still
   * arrive. A touched key's buffers are rewritten whole each batch.
   *
   * Batch use (either input a batch frame): a declarative join on the
   * same predicate, but prefer RangeJoin.follows — its time-bucketed
   * equi-join bounds candidate pairs by events-per-horizon, where this
   * raw predicate form materializes per-key cross products before the
   * time filter. The streaming operator has no such hazard: each row
   * meets only the other side's buffer, already pruned to the horizon.
   */
  def follows(left: DataFrame, right: DataFrame, keyCol: String,
              tsCol: String, idCol: String, horizon: String): DataFrame =
    join(left, right, keyCol, tsCol, idCol, horizon, "inner")

  /**
   * Left-outer [[follows]]: every left row appears — paired with each
   * right match in `(a_ts, a_ts + horizon]`, or once with null
   * b_id/b_ts if nothing matched. The "which views never converted"
   * question, which the inner join silently drops.
   *
   * Streaming: an unmatched left row is emitted null-padded when it is
   * evicted, once the watermark passes a_ts + horizon (before that a
   * match could still arrive) — so unmatched results trail the event by
   * horizon + delay, and a final micro-batch may be needed to flush the
   * tail (StreamStreamJoinSpec pushes a sentinel event for exactly
   * this). A row with a null key or null `tsCol` can match nothing and
   * is emitted null-padded at once. Same state bound as the inner form.
   *
   * Batch: same predicate, same per-key-cross-product caveat as
   * [[follows]] — at scale compose RangeJoin.follows with an anti-join
   * union instead (the t21 declared plan does; proven identical there).
   */
  def followsLeftOuter(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, idCol: String, horizon: String): DataFrame =
    join(left, right, keyCol, tsCol, idCol, horizon, "left_outer")

  /**
   * Full-outer [[follows]], completing the t20/t21 family: matched
   * pairs, plus each unmatched left row null-padded on the right, plus
   * each unmatched right row null-padded on the left — attribution
   * COMPLETENESS ("every view and every click accounted for exactly
   * once or as a pair"). `keyCol` coalesces across sides, so it is
   * non-null on every output row whose input key was non-null.
   *
   * Streaming: an unmatched row is emitted null-padded when it is
   * evicted — a left row once the watermark passes a_ts + horizon, a
   * right row once it reaches b_ts (a click can match only views before
   * it, and any such view arriving now is behind the watermark); rows
   * with a null key or null `tsCol` at once. Same horizon-bounded state
   * as the inner form, same sentinel-flush caveat as
   * [[followsLeftOuter]]. Batch: prefer the t24 declared composition
   * (bucketed inner + two anti-join unions).
   */
  def followsFullOuter(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, idCol: String, horizon: String): DataFrame =
    join(left, right, keyCol, tsCol, idCol, horizon, "full_outer")

  /**
   * SCD-2 temporal enrichment: each event joins the dimension VERSION
   * valid at its event time (`key` equal and `from ≤ ts < to`) — the
   * "which price/segment/config applied when this happened" join that
   * a plain key join silently gets wrong the moment a dimension
   * changes. With explicit validity intervals this is STATELESS — an
   * equi-join on the key plus a range filter, so it broadcasts on a
   * stream exactly like a static enrichment (no watermark on the
   * dimension side, no join state); versions are non-overlapping per
   * key, so each event matches at most one row. The interval-free
   * variant (derive validity from effective-dates only) is batch
   * [[graft.operators.AsOfJoin.lastValueAsOf]] (r8). `how` = "inner"
   * drops events predating every version; "left_outer" keeps them
   * null-padded.
   */
  def enrichAsOf(events: DataFrame, dim: DataFrame, eventKey: String,
                 tsCol: String, dimKey: String, fromCol: String,
                 toCol: String, how: String = "inner"): DataFrame =
    events.join(broadcast(dim),
      events(eventKey) === dim(dimKey) &&
        events(tsCol) >= dim(fromCol) && events(tsCol) < dim(toCol),
      how)

  private def join(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, horizon: String, how: String): DataFrame =
    if (left.isStreaming && right.isStreaming)
      intervalJoin(left, right, keyCol, tsCol, idCol, horizonMicros(horizon), how)
    else {
      val a = left.select(col(keyCol), col(tsCol).as("a_ts"), col(idCol).as("a_id"))
      val b = right.select(col(keyCol).as("__bk"), col(tsCol).as("b_ts"),
        col(idCol).as("b_id"))
      a.join(b,
          col(keyCol) === col("__bk") &&
            col("b_ts") > col("a_ts") &&
            col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizon"),
          how)
        .select((if (how == "full_outer") coalesce(col(keyCol), col("__bk")) else col(keyCol))
          .as(keyCol), col("a_id"), col("a_ts"), col("b_id"), col("b_ts"))
    }

  private def horizonMicros(horizon: String): Long =
    CatalystSqlParser.parseExpression(s"INTERVAL $horizon") match {
      case Literal(us: Long, _: DayTimeIntervalType) => us
      case _ => throw new IllegalArgumentException(s"horizon must be a day-time interval: $horizon")
    }

  /** A buffered row: event time in µs, timestamp and id as given, paired yet. */
  private[streaming] final class Pending(val us: Long, val ts: Any, val id: Any, var matched: Boolean)

  /** Per-key join state: the rows of each side that can still match. */
  private[streaming] final case class Buffers(left: Array[Pending], right: Array[Pending])

  /** The streaming form: one shuffle on the key, one state store, on the
    * [[WatermarkKernel]]. */
  private def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
                           idCol: String, h: Long, how: String): DataFrame = {
    val (outerLeft, outerRight) = (how != "inner", how == "full_outer")
    val key = left.schema(keyCol)
    val (aTs, bTs) = (left.schema(tsCol), right.schema(tsCol))
    val (aId, bId) = (left.schema(idCol), right.schema(idCol))
    // each side fills its own id column and a typed null in the other's,
    // so both id types survive the union; `ts` keeps the watermark tag
    val rows = left.select(col(keyCol).as("k"), col(tsCol).as("ts"), col(idCol).as("a_id"),
        lit(null).cast(bId.dataType).as("b_id"), lit(true).as("is_left"))
      .unionByName(right.select(col(keyCol).cast(key.dataType).as("k"), col(tsCol).as("ts"),
        lit(null).cast(aId.dataType).as("a_id"), col(idCol).as("b_id"), lit(false).as("is_left")))
    implicit val outEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, key.dataType, key.nullable || outerRight),
      StructField("a_id", aId.dataType, aId.nullable || outerRight),
      StructField("a_ts", aTs.dataType, aTs.nullable || outerRight),
      StructField("b_id", bId.dataType, bId.nullable || outerLeft),
      StructField("b_ts", bTs.dataType, bTs.nullable || outerLeft))))
    val join = Interval(h, outerLeft, outerRight)
    WatermarkKernel(rows.groupBy(col("k"))
        .as[Row, Row](Encoders.row(StructType(Seq(rows.schema("k")))), Encoders.row(rows.schema)))(
      (k: Row, st: Option[Buffers], it: Iterator[Row]) => join.absorb(k.get(0), st, it),
      (k: Row, s: Buffers, wm: Long) => join.release(k.get(0), s, wm),
      (_: Row, s: Buffers) => join.nextClose(s))
  }

  /** The interval join's kernel functions: horizon `h` µs, null-padding
    * unmatched rows on the outer sides. */
  private[streaming] final case class Interval(h: Long, outerLeft: Boolean, outerRight: Boolean) {

    private def lonely(kv: Any, isLeft: Boolean, p: Pending): Option[Row] =
      if (isLeft && outerLeft) Some(Row(kv, p.id, p.ts, null, null))
      else if (!isLeft && outerRight) Some(Row(kv, null, null, p.id, p.ts))
      else None

    /** Pair the new rows with each other and with the stored buffers,
      * then buffer them; a row with a null key or time matches nothing
      * and is out at once. */
    def absorb(kv: Any, st: Option[Buffers], it: Iterator[Row]): (Option[Buffers], Iterator[Row]) = {
      val out = ArrayBuffer.empty[Row]
      val prev = st.getOrElse(Buffers(Array.empty, Array.empty))
      val (newL, newR) = (ArrayBuffer.empty[Pending], ArrayBuffer.empty[Pending])
      it.foreach { r =>
        val isLeft = r.getBoolean(4)
        val ts = r.get(1)
        val p = new Pending(if (ts == null) 0L else DateTimeUtils.anyToMicros(ts), ts,
          r.get(if (isLeft) 2 else 3), false)
        if (kv == null || ts == null) out ++= lonely(kv, isLeft, p)
        else (if (isLeft) newL else newR) += p
      }
      def pair(a: Pending, b: Pending): Unit =
        if (a.us < b.us && b.us <= a.us + h) {
          a.matched = true
          b.matched = true
          out += Row(kv, a.id, a.ts, b.id, b.ts)
        }
      // new right × (stored + new) left, then new left × stored right
      for (b <- newR; a <- prev.left.iterator ++ newL) pair(a, b)
      for (a <- newL; b <- prev.right) pair(a, b)
      (Some(Buffers(prev.left ++ newL, prev.right ++ newR)), out.iterator)
    }

    /** Evict a left row once the watermark passes a_ts + horizon, a right
      * row once it reaches b_ts; an unmatched evicted row is null-padded
      * on its outer side. */
    def release(kv: Any, s: Buffers, wmMs: Long): (Option[Buffers], Iterator[Row]) = {
      val (keepL, dropL) = s.left.partition(_.us + h >= wmMs * 1000L)
      val (keepR, dropR) = s.right.partition(_.us > wmMs * 1000L)
      val out = dropL.iterator.filterNot(_.matched).flatMap(lonely(kv, isLeft = true, _)) ++
        dropR.iterator.filterNot(_.matched).flatMap(lonely(kv, isLeft = false, _))
      (if (keepL.isEmpty && keepR.isEmpty) None else Some(Buffers(keepL, keepR)), out)
    }

    /** The first watermark (ms) at which [[release]] evicts a row. */
    def nextClose(s: Buffers): Long =
      (s.left.iterator.map(p => Math.floorDiv(p.us + h, 1000L)) ++
        s.right.iterator.map(p => Math.floorDiv(p.us - 1L, 1000L))).minOption
        .fold(Long.MaxValue)(_ + 1L)
  }
}
