package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * In-horizon streaming near-duplicate detection: the stateful per-band
 * stages behind `Dedup.nearDupKeptStreamStateful`. Closes the scope gap
 * of the anti-join-only path (`Dedup.nearDupKeptStream`): two NEAR-dups
 * (shared LSH band, different full signature) arriving within one
 * horizon — even in the SAME micro-batch — now resolve to
 * first-arrival-wins, the scalable form of the reference's keyed-state
 * pattern (/root/reference/src/lib.rs:323-361).
 *
 * Two keyed stateful stages, both shuffling on narrow string keys
 * (never on document text), downstream of an exact-dup
 * `dropDuplicatesWithinWatermark` on the full signature (which is what
 * lets RESOLVE hold zero state — a signature reaches it at most once
 * in-horizon):
 *
 *  - CLAIM, keyed on `(band_idx | band_hash)`: the first arrival
 *    (event-time order, full-signature tiebreak) becomes the band's
 *    owner; every row reports whether its document is that owner.
 *    Ownership lasts `horizonMs` of EVENT time after the owner's own
 *    event time — enforced lazily on access (exact, independent of
 *    batch boundaries) and dropped from the store on the
 *    [[WatermarkKernel]] once the watermark passes the horizon's end.
 *    Ownership persisting across batches means a near-dup of ANY
 *    in-horizon predecessor loses its shared band — including
 *    predecessors that were themselves dropped, the same transitive
 *    (connected-component) semantics as the batch cascade's cluster
 *    collapse.
 *  - RESOLVE, keyed on the full signature: a document's band rows all
 *    land in one invocation (they derive from one input row, and the
 *    upstream exact-dedup guarantees one doc per signature in-horizon);
 *    emit the payload iff every band row won its claim. No state.
 *
 * State is bounded: the exact-dedup stage holds one row per in-horizon
 * signature (watermark-evicted by Spark), CLAIM one (owner, eventTime)
 * pair per distinct in-horizon band hash (watermark-evicted), RESOLVE
 * nothing. At 100 TB ingest rates state scales with the horizon's
 * distinct-band cardinality, not the corpus — the corpus lives in the
 * static `seenBands` side. Per-invocation memory is bounded by one
 * key's rows within one micro-batch (exact duplicates already collapsed
 * upstream); a pathological near-identical flood concentrating on one
 * band key is bounded by micro-batch sizing (`maxFilesPerTrigger` /
 * `maxOffsetsPerTrigger`), the standard knob for every keyed stateful
 * operator.
 */
object NearDupState {

  private def claimOutSchema(payload: StructType) = StructType(Seq(
    StructField("sigfull", StringType, nullable = false),
    StructField("ord", LongType, nullable = true),
    StructField("winner", BooleanType, nullable = false),
    StructField("payload", payload, nullable = false)))

  /** Claim decision: given the stored owner and this batch's rows, sorted
    * by (ord, sig), compute winner flags and the new owner. Ownership
    * expires `horizonMs` after the OWNER's event time (micros), so a doc
    * arriving past that is a new owner, not a loser — exact horizon
    * semantics regardless of when [[release]] drops the record. */
  private def claim(rows: Seq[Row], own0: Option[(String, Long)], horizonMs: Long,
                    outSchema: StructType): (Seq[Row], Option[(String, Long)]) = {
    var own = own0
    val out = rows.sortBy(r => (r.getLong(2), r.getString(1))).map { r =>
      val sig = r.getString(1)
      val ord = r.getLong(2)
      if (own.forall(o => ord - o._2 > horizonMs * 1000L)) own = Some((sig, ord))
      new GenericRowWithSchema(
        Array[Any](sig, ord, own.get._1 == sig, r.getStruct(3)), outSchema): Row
    }
    (out, own)
  }

  /** Drop the owner once no row still to come (event time past the
    * watermark) falls within its horizon. */
  private[streaming] def release(own: (String, Long), wmMs: Long,
                                 horizonMs: Long): Option[(String, Long)] =
    if (own._2 + horizonMs * 1000L <= wmMs * 1000L) None else Some(own)

  /** The first watermark (ms) at which [[release]] drops the owner. */
  private[streaming] def nextClose(own: (String, Long), horizonMs: Long): Long =
    Math.floorDiv(own._2 - 1L, 1000L) + 1L + horizonMs

  /**
   * Wire the stages onto a pre-banded, already exact-deduped frame.
   * `banded` must carry `__sigfull` plus `__band0..__band{bands-1}`
   * (nullable), a LongType `__ord` event-time surrogate in MICROS, and
   * the original payload columns `payloadCols`; its plan must declare a
   * watermark (the claim stage's timers are event-time driven).
   */
  def apply(banded: DataFrame, payloadCols: Seq[String], tsCol: String,
            bands: Int, horizonMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val payloadSchema = StructType(
      banded.schema.fields.filter(f => payloadCols.contains(f.name)))
    // one claim row per non-null band; short docs (all bands null) get a
    // single pseudo-band keyed on their own raw-content signature, so
    // they dedup exactly among themselves (and only themselves)
    val bandKeys = (0 until bands).map(b =>
      when(col(s"__band$b").isNotNull, concat(lit(s"$b|"), col(s"__band$b"))))
    val keys = array_compact(array(bandKeys: _*))
    val rows = banded.select(
      explode(when(size(keys) > 0, keys)
        .otherwise(array(concat(lit("raw|"), col("__sigfull"))))).as("__bkey"),
      col("__sigfull"),
      col("__ord"),
      struct(payloadCols.map(col): _*).as("__p"),
      col(tsCol)) // top-level, for the watermark (see WatermarkKernel)

    val horizon = horizonMs // local copy: keep `this` out of the closures
    val claimSchema = claimOutSchema(payloadSchema)
    val outEnc = Encoders.row(payloadSchema)
    implicit val strEnc = Encoders.STRING
    implicit val claimEnc = Encoders.row(claimSchema)
    // CLAIM: first-arrival-wins per band key; the record is dropped once
    // the watermark passes its horizon
    val claimed = WatermarkKernel(rows.groupByKey((r: Row) => r.getString(0)))(
      (_: String, own: Option[(String, Long)], it: Iterator[Row]) => {
        val (out, after) = claim(it.toSeq, own, horizon, claimSchema)
        (after, out.iterator)
      },
      (_: String, own: (String, Long), wm: Long) => (release(own, wm, horizon), Iterator.empty[Row]),
      (_: String, own: (String, Long)) => nextClose(own, horizon))
    // RESOLVE holds no state — the stateful-operator form is only the
    // legal way to group a streaming doc's band rows back together
    claimed.groupByKey((r: Row) => r.getString(0))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Row], gs: GroupState[Boolean]) => resolve(it)
      }(Encoders.scalaBoolean, outEnc)
  }

  /** Emit the payload once iff every band row won its claim. */
  private def resolve(rows: Iterator[Row]): Iterator[Row] = {
    val rs = rows.toSeq
    if (rs.forall(_.getBoolean(2))) Iterator.single(rs.head.getStruct(3)) else Iterator.empty
  }
}
