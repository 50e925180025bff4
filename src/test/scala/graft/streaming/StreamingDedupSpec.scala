package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.TestSpark
import graft.operators.Dedup

/** Streaming exact dedup (`Dedup.exactKeptStream`): duplicate content is
  * suppressed across micro-batches with state bounded by the watermark —
  * the continuous-ingestion form of the corpus dedup cascade's first
  * stage. */
class StreamingDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exactKeptStream suppresses duplicate content across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDS().toDF("ts", "text").withWatermark("ts", "1 hour")
    val out = Dedup.exactKeptStream(df, "text")
    val q = out.writeStream.format("memory").queryName("s_dedup")
      .outputMode("append").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), "aaa"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "bbb"))
      q.processAllAvailable()
      // "aaa" again in a later batch: must be dropped by store state
      input.addData((Timestamp.valueOf("2024-01-01 10:02:00"), "aaa"),
        (Timestamp.valueOf("2024-01-01 10:03:00"), "ccc"))
      q.processAllAvailable()
      val texts = spark.table("s_dedup").select("text").as[String].collect().toSeq.sorted
      assert(texts == Seq("aaa", "bbb", "ccc"))
    } finally q.stop()
  }

  test("withBandColumns matches the batch lshBands pipeline value-for-value") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away home"),
      (2L, "completely different text about spark structured streaming state stores"),
      (3L, "xy")) // too short to shingle → null bands
      .toDF("doc_id", "text")
    val batch = Dedup.lshBands(Dedup.minhashSignatures(docs, "text", "doc_id"), "doc_id")
      .as[(Long, Int, String)].collect().toSet
    val narrow = Dedup.withBandColumns(docs, "text")
      .collect().flatMap { r =>
        (0 until 4).flatMap { b =>
          Option(r.getAs[String](s"__band$b")).map(h => (r.getAs[Long]("doc_id"), b, h))
        }
      }.toSet
    assert(narrow == batch, s"narrow $narrow\nbatch $batch")
    assert(!narrow.exists(_._1 == 3L)) // short doc has no bands either way
  }

  test("nearDupKeptStream drops a planted near-dup arriving in a later batch") {
    implicit val sqlCtx = spark.sqlContext
    val corpusA = "the quick brown fox jumps over the lazy dog and then runs away home tonight"
    // near-dup of A: one word changed at the end — shares most shingles
    val nearA = "the quick brown fox jumps over the lazy dog and then runs away home yesterday"
    val fresh = "spark structured streaming keeps per key state in a rocksdb backed store"
    val corpus = Seq((100L, corpusA),
      (101L, "a totally unrelated second corpus document about parquet column pruning rules"))
      .toDF("doc_id", "text")
    // sanity: the batch pipeline itself calls (A, nearA) a candidate pair —
    // so the streaming path MUST catch it via the shared band
    val cand = Dedup.minhashCandidatePairs(
        corpus.union(Seq((200L, nearA)).toDF("doc_id", "text")), "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((100L, 200L)), s"planted pair not a candidate: $cand")

    val seen = Dedup.lshBands(Dedup.minhashSignatures(corpus, "text", "doc_id"), "doc_id")
      .select("band_idx", "band_hash").localCheckpoint()
    val input = MemoryStream[(Timestamp, String)]
    val stream = input.toDS().toDF("ts", "text").withWatermark("ts", "1 hour")
    val out = Dedup.nearDupKeptStream(stream, "text", seen)
    val q = out.writeStream.format("memory").queryName("s_neardup")
      .outputMode("append").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), fresh))
      q.processAllAvailable()
      // later batch: near-dup of corpus doc A → dropped (band match in
      // seenBands); exact repeat of `fresh` → dropped (full-sig state);
      // a genuinely new doc → kept
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), nearA),
        (Timestamp.valueOf("2024-01-01 10:06:00"), fresh),
        (Timestamp.valueOf("2024-01-01 10:07:00"),
          "another new document mentioning broadcast joins and shuffle partitions today"))
      q.processAllAvailable()
      val texts = spark.table("s_neardup").select("text").as[String].collect().toSeq
      assert(texts.count(_ == fresh) == 1, s"got $texts")
      assert(!texts.contains(nearA), s"near-dup survived: $texts")
      assert(texts.exists(_.startsWith("another new document")), s"got $texts")
      assert(texts.size == 2, s"got $texts")
    } finally q.stop()
  }

  /** In-horizon scenario: two near-dups of each other in the SAME batch
    * (only the event-time-first survives), a third near-dup in a LATER
    * batch (band state persists), an exact repeat (subsumed dedup),
    * genuinely new docs (kept), and a near-dup arriving past the
    * event-time horizon (kept — ownership expired). */
  test("nearDupKeptStreamStateful resolves same-batch near-dups first-arrival-wins (fmgws)") {
    implicit val sqlCtx = spark.sqlContext
    val x = "winnowing fingerprints select the minimum hash inside each sliding window position"
    val x2 = "winnowing fingerprints select the minimum hash inside each sliding window frame"
    val x3 = "winnowing fingerprints select the minimum hash inside each sliding window offset"
    val x4 = "winnowing fingerprints select the minimum hash inside each sliding window region"
    val fresh = "spark structured streaming keeps per key state in a rocksdb backed store"
    val fresh2 = "another new document mentioning broadcast joins and shuffle partitions today"
    val pusher = "completely separate pusher document advancing the watermark beyond the horizon boundary"
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy dog and then runs away home tonight"),
      (101L, "a totally unrelated second corpus document about parquet column pruning rules"))
      .toDF("doc_id", "text")
    // sanity: the batch pipeline calls (x, x2/x3/x4) candidate pairs, and
    // nothing planted is a candidate of the corpus or the fillers — the
    // planted dups exercise ONLY the in-horizon stateful stage
    val cand = Dedup.minhashCandidatePairs(
        corpus.union(Seq((1L, x), (2L, x2), (3L, x3), (4L, x4),
          (10L, fresh), (12L, fresh2), (20L, pusher)).toDF("doc_id", "text")),
        "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (1L, 4L)).subsetOf(cand), s"not candidates: $cand")
    assert(cand.forall { case (a, b) => a <= 4 && b <= 4 }, s"unplanned collision: $cand")

    val seen = Dedup.lshBands(Dedup.minhashSignatures(corpus, "text", "doc_id"), "doc_id")
      .select("band_idx", "band_hash").localCheckpoint()
    val input = MemoryStream[(Timestamp, Long, String)]
    val qn = "s_inh"
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try TestSpark.withChainCheckOff {
      val stream = input.toDS().toDF("ts", "doc_id", "text").withWatermark("ts", "1 hour")
      val out = Dedup.nearDupKeptStreamStateful(stream, "text", "ts", seen)
      q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      // batch 1: x and its near-dup x2 TOGETHER — first-arrival (x) wins
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, x),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, x2),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 10L, fresh))
      q.processAllAvailable()
      // batch 2: x3 (near-dup of x, cross-batch, in-horizon), exact
      // repeat of fresh, and a genuinely new doc
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 3L, x3),
        (Timestamp.valueOf("2024-01-01 10:06:00"), 11L, fresh),
        (Timestamp.valueOf("2024-01-01 10:07:00"), 12L, fresh2))
      q.processAllAvailable()
      // batch 3: push the watermark past x's ownership horizon (10:00 +
      // 1 h); batch 4: x4 is a near-dup of x but arrives PAST the
      // horizon — ownership expired, so it is admitted
      input.addData((Timestamp.valueOf("2024-01-01 12:30:00"), 20L, pusher))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 12:31:00"), 4L, x4))
      q.processAllAvailable()
      val kept = spark.table(qn).select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L, 10L, 12L, 20L), s"kept $kept")
    } finally if (q != null) q.stop()
  }

  /** The chain's late-row argument: a doc behind the watermark is dropped
    * once, by the first stateful stage, and the event-time claim stage
    * after it drops nothing that stage kept, so the admitted rows are
    * those of the same run without the late doc. */
  test("nearDupKeptStreamStateful drops a late doc once and admits what the run without it admits") {
    implicit val sqlCtx = spark.sqlContext
    val seen = Seq((0, "none")).toDF("band_idx", "band_hash")
    val late = (Timestamp.valueOf("2024-01-01 10:05:00"), 99L,
      "a late arriving document about checkpoint renames on local disks")
    val batches = Seq(
      Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
          "winnowing fingerprints select the minimum hash inside each sliding window position"),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 10L,
          "spark structured streaming keeps per key state in a rocksdb backed store")),
      Seq((Timestamp.valueOf("2024-01-01 10:40:00"), 12L,
        "another new document mentioning broadcast joins and shuffle partitions today")),
      // watermark 10:30 here: 10:05 is behind it
      Seq((Timestamp.valueOf("2024-01-01 10:45:00"), 13L,
        "a third fresh document on parquet column pruning and predicate pushdown")),
      Seq((Timestamp.valueOf("2024-01-01 11:30:00"), 14L,
        "completely separate closing document advancing the watermark once more")))
    def run(name: String, withLate: Boolean): (Set[(Timestamp, Long, String)], Long) = {
      val input = MemoryStream[(Timestamp, Long, String)]
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try TestSpark.withChainCheckOff {
        val stream = input.toDS().toDF("ts", "doc_id", "text").withWatermark("ts", "10 minutes")
        q = Dedup.nearDupKeptStreamStateful(stream, "text", "ts", seen)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        batches.zipWithIndex.foreach { case (b, i) =>
          input.addData(if (withLate && i == 2) b :+ late else b)
          q.processAllAvailable()
        }
        val kept = spark.table(name).as[(Timestamp, Long, String)].collect().toSet
        (kept, q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
      } finally if (q != null) q.stop()
    }
    val (plain, plainDropped) = run("s_late_plain", withLate = false)
    val (withLate, lateDropped) = run("s_late_with", withLate = true)
    assert(plain.map(_._2) == Set(1L, 10L, 12L, 13L, 14L), s"plain: $plain")
    assert(plainDropped == 0L)
    assert(lateDropped == 1L, s"late rows dropped across all stages: $lateDropped")
    assert(withLate == plain, s"with the late doc: $withLate")
  }

  test("nearDupKeptStreamStateful fails fast when the chain check is still enabled") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val stream = input.toDS().toDF("ts", "text").withWatermark("ts", "1 hour")
    val seen = Seq((0, "x")).toDF("band_idx", "band_hash")
    val e = intercept[IllegalStateException] {
      Dedup.nearDupKeptStreamStateful(stream, "text", "ts", seen)
    }
    assert(e.getMessage.contains("checkCorrectness"))
  }

  test("nearDupAdmitAndAppend blocks a batch-N admit's near-dup in batch N+2, no manual snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val y = "column pruning pushes the projection down into the parquet reader footer metadata"
    val y2 = "column pruning pushes the projection down into the parquet reader footer statistics"
    val y3 = "column pruning pushes the projection down into the parquet reader footer checksum"
    val filler = "broadcast hash joins ship the small side to every executor core once"
    val filler2 = "adaptive query execution replans shuffle partitions from runtime row counts"
    // sanity: (y, y2) and (y, y3) are candidate pairs; the fillers are not
    val cand = Dedup.minhashCandidatePairs(
        Seq((1L, y), (2L, y2), (3L, y3), (11L, filler), (12L, filler2))
          .toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L)).subsetOf(cand) && cand.forall(_._2 <= 3), s"cand: $cand")

    val dir = java.nio.file.Files.createTempDirectory("graft_bands").toString + "/bands"
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = input.toDS().toDF("ts", "doc_id", "text").writeStream
      .foreachBatch(Dedup.nearDupAdmitAndAppend("text", "ts", dir,
        (df, _) => admitted.synchronized {
          admitted ++= df.select("doc_id").as[Long].collect()
        }))
      .start()
    try {
      // batch 1: y admitted, its same-batch near-dup y2 dropped in-batch,
      // a short (unshingleable) doc admitted via its raw signature
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, y),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, y2),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 20L, "tiny doc"))
      q.processAllAvailable()
      // batch 2 (N+1): unrelated — its only job is to sit between admit
      // and probe so the probe genuinely tests PERSISTED bands
      input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 11L, filler))
      q.processAllAvailable()
      // batch 3 (N+2): near-dup of y blocked by batch 1's appended bands;
      // exact repeat of the short doc blocked by its appended raw
      // signature; a different short doc and a new doc admitted
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:10:00"), 3L, y3),
        (Timestamp.valueOf("2024-01-01 10:11:00"), 21L, "tiny doc"),
        (Timestamp.valueOf("2024-01-01 10:12:00"), 22L, "ok then"),
        (Timestamp.valueOf("2024-01-01 10:13:00"), 12L, filler2))
      q.processAllAvailable()
      assert(admitted.toSet == Set(1L, 20L, 11L, 22L, 12L), s"admitted $admitted")
    } finally q.stop()
  }

  /** The streaming stateful path over ONE micro-batch (empty seen
    * corpus, event-time order aligned with doc-id order) must keep
    * exactly the documents the oracle-certified batch operator keeps —
    * the cross-check that ties the streaming claim/resolve semantics to
    * l46's engine-independent ground truth. */
  test("single-batch stateful stream keeps exactly what bandClaimKept keeps (fmgws)") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(80)
    // planted near-dups of real docs (distinct full signatures, so the
    // arbitrary-copy choice of exact dedup can't make the sets diverge)
    val planted = base.limit(8)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" trailer")).as("text"))
    val docs = base.unionByName(planted).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batchKept = Dedup.bandClaimKept(
        docs.toSeq.toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet

    val emptyBands = Seq.empty[(Int, String)].toDF("band_idx", "band_hash")
    val qn = "s_parity"
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try TestSpark.withChainCheckOff {
      val input = MemoryStream[(Timestamp, Long, String)]
      val stream = input.toDS().toDF("ts", "doc_id", "text").withWatermark("ts", "1 hour")
      val out = Dedup.nearDupKeptStreamStateful(stream, "text", "ts", emptyBands)
      q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      // event time strictly increasing with doc_id → first-arrival order
      // equals the batch operator's min-id order
      input.addData(docs.sortBy(_._1).map { case (id, t) =>
        (new Timestamp(1704100000000L + id), id, t) }.toSeq: _*)
      q.processAllAvailable()
      val streamKept = spark.table(qn).select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKept,
        s"stream-only ${streamKept -- batchKept}, batch-only ${batchKept -- streamKept}")
      assert(batchKept.size < docs.length, "fixture planted no drops — parity vacuous")
    } finally if (q != null) q.stop()
  }

  test("nearDupAdmitAndAppend replay after a sink failure re-delivers, never loses") {
    // foreachBatch is at-least-once: if the sink throws, the batch is
    // replayed. The body must deliver BEFORE appending bands — with the
    // append first, the replayed batch would collide with its OWN bands
    // and the sink would silently lose every document of the batch.
    val dir = java.nio.file.Files.createTempDirectory("graft_bands_rp").toString + "/bands"
    var attempts = 0
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val body = Dedup.nearDupAdmitAndAppend("text", "ts", dir, (df, _) => {
      attempts += 1
      val ids = df.select("doc_id").as[Long].collect().toSet
      if (attempts == 1) throw new RuntimeException("sink down")
      delivered += ids
    })
    val batch = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "delivery ordering matters when the bands table doubles as replay state"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L,
        "a second unrelated document about checkpoint commit protocols downstream"))
      .toDF("ts", "doc_id", "text")
    intercept[RuntimeException] { body(batch, 0L) }
    body(batch, 0L) // replay of the same batch
    assert(delivered.toSeq == Seq(Set(1L, 2L)), s"replay lost documents: $delivered")
  }

  test("nearDupAdmitAndAppend replay of a COMMITTED batch is a no-op (single delivery)") {
    // restart-before-checkpoint-commit: foreachBatch re-runs a batch whose
    // previous attempt fully completed. The _committed marker must no-op
    // the replay — the sink sees the batch exactly once — while a NEW
    // batchId still processes normally.
    val dir = java.nio.file.Files.createTempDirectory("graft_bands_eo").toString + "/bands"
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val body = Dedup.nearDupAdmitAndAppend("text", "ts", dir, (df, bid) =>
      delivered += ((bid, df.select("doc_id").as[Long].collect().toSet)))
    val batch0 = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "exactly once delivery needs a committed batch marker beside the bands"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L,
        "a second unrelated document about replay windows in the commit protocol"))
      .toDF("ts", "doc_id", "text")
    body(batch0, 0L)
    body(batch0, 0L) // replay of the committed batch: must not re-deliver
    assert(delivered.toSeq == Seq((0L, Set(1L, 2L))),
      s"committed replay re-delivered: $delivered")
    val batch1 = Seq((Timestamp.valueOf("2024-01-01 10:05:00"), 3L,
      "a fresh batch id after the replay still flows through to the sink"))
      .toDF("ts", "doc_id", "text")
    body(batch1, 1L)
    assert(delivered.toSeq == Seq((0L, Set(1L, 2L)), (1L, Set(3L))),
      s"fresh batch blocked: $delivered")
  }

  test("compactBands rewrites the table distinct without changing anti-join results") {
    // simulate crash-window replays: append the same admitted bands twice,
    // then compact — row count collapses to the distinct set, every
    // downstream anti join keeps the identical documents, and the
    // _committed markers survive the swap
    val dir = java.nio.file.Files.createTempDirectory("graft_bands_cp").toString + "/bands"
    val admitted = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "the compaction rewrite must be invisible to every anti join downstream"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L,
        "a second admitted document with entirely different shingle content"))
      .toDF("ts", "doc_id", "text")
    Dedup.nearDupAdmitAndAppend("text", "ts", dir, (_, _) => ())(admitted, 0L)
    // a replayed append (no marker check in a raw re-append): duplicates
    val n0 = spark.read.parquet(dir).count()
    spark.read.parquet(dir).localCheckpoint().write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == n0 * 2)
    // read-only probe: the same per-band anti joins the maintenance loop
    // runs, with no append side effect, so before/after see one table
    val probe = Seq(
      (Timestamp.valueOf("2024-01-01 10:10:00"), 10L,
        "the compaction rewrite must be invisible to every anti join downstream"),
      (Timestamp.valueOf("2024-01-01 10:11:00"), 11L, "a genuinely novel document"))
      .toDF("ts", "doc_id", "text")
    def keptIds(): Set[Long] =
      Dedup.nearDupKeptStream(probe, "text", spark.read.parquet(dir))
        .select("doc_id").as[Long].collect().toSet
    val before = keptIds()
    Dedup.compactBands(spark, dir)
    assert(spark.read.parquet(dir).count() == n0,
      "compaction did not collapse the duplicated table to the distinct set")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_committed/batch-0")),
      "commit markers lost in compaction")
    val after = keptIds()
    assert(before == after && before == Set(11L),
      s"anti-join results changed: before=$before after=$after")
  }

  test("exactKeptStream on a batch frame degenerates to exact dedup") {
    val df = Seq("a", "a", "b").toDF("text")
    assert(Dedup.exactKeptStream(df, "text").count() == 2)
  }

  test("bloomContamination probes a STREAMING corpus against a static benchmark") {
    // the bloom build and exact shingle set live on the static bench
    // side; the corpus side is a stream — probe filter + stream-static
    // LeftSemi join + running per-doc counts in complete mode
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    val bench = Seq((1000L, "quick brown fox jumps high")).toDF("doc_id", "text")
    val out = Dedup.bloomContamination(docs, bench, "text", "doc_id")
    val q = out.writeStream.format("memory").queryName("s_bloom")
      .outputMode("complete").start()
    try {
      input.addData((1L, "the quick brown fox jumps high today"),
        (2L, "nothing shared at all here"))
      q.processAllAvailable()
      input.addData((3L, "quick brown fox jumps"))
      q.processAllAvailable()
      val rows = spark.table("s_bloom").as[(Long, Long)].collect().toMap
      // doc 1 shares 3 of the bench's 3-grams, doc 3 shares 2, doc 2 none
      assert(rows == Map(1L -> 3L, 3L -> 2L))
    } finally q.stop()
  }
}
