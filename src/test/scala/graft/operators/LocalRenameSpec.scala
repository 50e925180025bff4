package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The rename-based writers on the session's default `file:` file system.
  * Service loading can bind `file:` to a file system whose `rename`
  * returns false instead of replacing its target (Hive's
  * `ProxyLocalFileSystem` ships with Spark's jars), so each writer is run
  * twice over the same location and must read back the second content. */
class LocalRenameSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private def scratch(): String = Files.createTempDirectory("graft_rename").toString

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fsName(path: String): String = fs(path).getClass.getName

  test("parquet overwrite replaces the first content") {
    val dir = s"${scratch()}/t"
    Seq(1L, 2L, 3L).toDF("x").write.parquet(dir)
    Seq(4L, 5L).toDF("x").write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).as[Long].collect().toSet == Set(4L, 5L), fsName(dir))
  }

  test("writeBucketed twice: the second content reads back") {
    val table = "rename_audit_bucketed"
    try {
      Bucketing.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table, "k", 2)
      Bucketing.writeBucketed(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v"), table, "k", 2)
      assert(Bucketing.read(spark, table).as[(Long, String)].collect().toSet ==
        Set((3L, "c"), (4L, "d"), (5L, "e")))
    } finally Bucketing.dropTable(spark, table)
  }

  test("compactBands twice: the second content reads back with every marker") {
    val base = scratch()
    val bands = s"$base/bands"
    def append(rows: Seq[(Int, String)], batch: Long): Unit = {
      val df = rows.toDF("band_idx", "band_hash")
      df.write.mode("append").parquet(bands)
      df.write.mode("append").parquet(bands) // a replayed append
      fs(bands).create(new Path(s"$bands/_committed/batch-$batch"), true).close()
    }
    def content(): Seq[(Int, String)] =
      spark.read.parquet(bands).as[(Int, String)].collect().toSeq.sorted

    append(Seq(0 -> "h0", 1 -> "h1"), 0L)
    Dedup.compactBands(spark, bands)
    assert(content() == Seq(0 -> "h0", 1 -> "h1"), fsName(bands))
    append(Seq(0 -> "h2", 2 -> "h3"), 1L)
    Dedup.compactBands(spark, bands)
    assert(content() == Seq(0 -> "h0", 0 -> "h2", 1 -> "h1", 2 -> "h3"), fsName(bands))
    Seq(0L, 1L).foreach(b => assert(fs(bands).exists(new Path(s"$bands/_committed/batch-$b")),
      s"marker batch-$b lost on ${fsName(bands)}"))
    assert(!fs(bands).exists(new Path(s"${bands}_precompact")) &&
      !fs(bands).exists(new Path(s"${bands}_compacting")), "swap debris left behind")
  }
}
