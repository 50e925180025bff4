package graft.examples

import java.sql.Timestamp

/**
 * Usage example: the composed streaming near-dup pipeline
 * (`Dedup.nearDupPipeline`) — file-stream ingest → in-horizon claim
 * state → bands-table admit-and-append → sink — run twice over a growing
 * source directory with one checkpoint, the way a production ingest
 * restarts. Run 2's near-duplicate of a run-1 admit is dropped by the
 * RECOVERED claim state / refreshed bands snapshot; its fresh document
 * flows through. See StreamingDedupE2eSpec for the asserted version.
 */
object DedupStreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession(4)
    // the pipeline chains stateful operators — see
    // Dedup.nearDupKeptStreamStateful's Scaladoc for why this is safe
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_dedup_demo")
      .toFile.getAbsolutePath
    val src = s"$root/src"

    def ingest(rows: (String, Long, String)*): Unit =
      rows.toSeq.map { case (ts, id, text) => (Timestamp.valueOf(ts), id, text) }
        .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)

    def runOnce(tag: String): Unit = {
      val stream = spark.readStream
        .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
        .parquet(src)
        .withWatermark("ts", "1 hour")
      val q = graft.operators.Dedup.nearDupPipeline(
        stream, "text", "ts", s"$root/bands", s"$root/ckpt",
        (admitted, batchId) => {
          val ids = admitted.select("doc_id").as[Long].collect().sorted
          if (ids.nonEmpty)
            println(s"[dedup-demo] $tag batch $batchId admitted: ${ids.mkString(", ")}")
        })
      q.awaitTermination()
    }

    ingest(
      ("2024-01-01 10:00:00", 1L,
        "minhash signatures compress shingle sets into short comparable sketches for retrieval"),
      ("2024-01-01 10:01:00", 2L,
        "minhash signatures compress shingle sets into today comparable sketches for retrieval"),
      ("2024-01-01 10:02:00", 3L,
        "an entirely unrelated document about broadcast joins and partition pruning"))
    runOnce("run 1") // expect: 1 and 3 (2 is a same-batch near-dup of 1)

    ingest(
      ("2024-01-01 10:10:00", 4L,
        "minhash signatures compress shingle sets into short comparable sketches for archival"),
      ("2024-01-01 10:11:00", 5L,
        "a genuinely fresh document mentioning watermarks and event time timers"))
    runOnce("run 2") // expect: 5 only (4 near-dups the already-admitted 1)

    println(s"[dedup-demo] bands table rows: " +
      s"${spark.read.parquet(s"$root/bands").count()} (state lives in the table, not the driver)")
    spark.stop()
  }
}
