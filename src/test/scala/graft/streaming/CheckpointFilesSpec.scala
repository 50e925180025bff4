package graft.streaming

import java.net.URI
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.api.{Env, Event}
import graft.operators.Dedup

/** A local file system under a scheme of its own, so the non-`file`
  * branch of [[CheckpointFiles]] is exercised without a network. */
class TestSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftck:///")
  override def getScheme: String = "graftck"
}

/** The same scheme for `FileContext`, which is what makes Spark's default
  * manager pick its `FileContext` form for it. */
class TestSchemeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new TestSchemeFs, conf, "graftck", false)

/**
 * Which checkpoint file manager graft's stateful streaming queries get:
 * Spark's `FileSystem` one on local paths, Spark's own pick on any other
 * scheme, installed by every stateful streaming builder on its session
 * unless the session names a manager already.
 */
class CheckpointFilesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val Key = CheckpointFiles.Key

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_ckfiles").toFile.getAbsolutePath

  private def delegateOf(path: Path, conf: Configuration): Class[_] = {
    val m = new CheckpointFiles(path, conf)
    try m.delegate.getClass finally m.close()
  }

  /** Hadoop conf as a query sees it, with `extra` set. */
  private def hadoopConf(extra: (String, String)*): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set(Key, classOf[CheckpointFiles].getName)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A session that starts with no manager of its own. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    assert(s.conf.getOption(Key).isEmpty)
    s
  }

  private def kernelOn(ds: Dataset[(Long, Timestamp)]): Dataset[Long] = {
    val session = ds.sparkSession
    import session.implicits._
    WatermarkKernel(ds.groupByKey(_._1))(
      (_: Long, s: Option[List[Long]], rows: Iterator[(Long, Timestamp)]) =>
        (Some(s.getOrElse(Nil) ++ rows.map(_._1)), Iterator.empty[Long]),
      (_: Long, s: List[Long], _: Long) => (Some(s), Iterator.empty[Long]),
      (_: Long, _: List[Long]) => Long.MaxValue)
  }

  private def kernelOnStream(s: SparkSession): Dataset[Long] = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    kernelOn(MemoryStream[(Long, Timestamp)].toDS().withWatermark("_2", "1 minute"))
  }

  test("a file: path and a bare local path get Spark's FileSystem manager") {
    val dir = tmp()
    assert(delegateOf(new Path(s"file://$dir"), hadoopConf()) ==
      classOf[FileSystemBasedCheckpointFileManager])
    assert(delegateOf(new Path(dir), hadoopConf()) == classOf[FileSystemBasedCheckpointFileManager])
    // the path Spark itself takes: reflection on the key, then our delegate
    val viaSpark = CheckpointFileManager.create(new Path(dir), hadoopConf())
    assert(viaSpark.isInstanceOf[CheckpointFiles])
    assert(viaSpark.isLocal)
  }

  test("any other scheme gets exactly what Spark picks with the key unset") {
    val dir = tmp()
    val path = new Path(s"graftck://$dir")
    def sparkDefault(conf: Configuration): Class[_] = {
      val c = new Configuration(conf)
      c.unset(Key)
      CheckpointFileManager.create(path, c).getClass
    }
    // FileSystem only: Spark falls back to its FileSystem manager
    val fsOnly = hadoopConf("fs.graftck.impl" -> classOf[TestSchemeFs].getName,
      "fs.graftck.impl.disable.cache" -> "true")
    assert(delegateOf(path, fsOnly) == sparkDefault(fsOnly))
    // with a FileContext binding too, Spark (and so graft) uses FileContext
    val withFc = hadoopConf("fs.graftck.impl" -> classOf[TestSchemeFs].getName,
      "fs.graftck.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.graftck.impl" -> classOf[TestSchemeAfs].getName)
    assert(sparkDefault(withFc) == classOf[FileContextBasedCheckpointFileManager])
    assert(delegateOf(path, withFc) == classOf[FileContextBasedCheckpointFileManager])
  }

  test("a kernel operator on a stream installs the manager; on a batch frame it does not") {
    val batchSession = freshSession()
    import batchSession.implicits._
    kernelOn(Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"))).toDS()
      .withWatermark("_2", "1 minute"))
    assert(batchSession.conf.getOption(Key).isEmpty)

    val streamSession = freshSession()
    kernelOnStream(streamSession)
    assert(streamSession.conf.getOption(Key).contains(classOf[CheckpointFiles].getName))
    val m = CheckpointFileManager.create(new Path(tmp()), streamSession.sessionState.newHadoopConf())
    assert(m.asInstanceOf[CheckpointFiles].delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("every stateful streaming builder outside the kernel installs the manager") {
    val builders: Seq[(String, SparkSession => Unit)] = Seq(
      "per-batch keyed processState" -> { s =>
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        Env(s).fromDataset(MemoryStream[Event[Long]].toDS()).keyBy(_.value)
          .processState((_: Long) => 0L)((_, e, n) => (n + 1, Seq(e)))
      },
      "DistinctStream.stream" -> { s => DistinctStream.stream(docs(s), "ts", "text", 60) },
      "DistinctStream.approxStream" -> { s => DistinctStream.approxStream(docs(s), "ts", "text", 60) },
      "Dedup.exactKeptStream" -> { s => Dedup.exactKeptStream(docs(s), "text") },
      "Dedup.nearDupKeptStream" -> { s =>
        import s.implicits._
        Dedup.nearDupKeptStream(docs(s), "text", Seq((0, "none")).toDF("band_idx", "band_hash"))
      })
    builders.foreach { case (name, build) =>
      val s = freshSession()
      build(s)
      assert(s.conf.getOption(Key).contains(classOf[CheckpointFiles].getName), name)
    }
  }

  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    MemoryStream[(Timestamp, String)].toDF().toDF("ts", "text").withWatermark("ts", "1 hour")
  }

  test("a manager the user set before composing is left as it was") {
    val s = freshSession()
    val mine = classOf[FileContextBasedCheckpointFileManager].getName
    s.conf.set(Key, mine)
    kernelOnStream(s)
    assert(s.conf.get(Key) == mine)
  }

  test("withGlobalStateSession's clone carries the manager") {
    val s = freshSession()
    kernelOnStream(s)
    assert(Env.withGlobalStateSession(s)(_.conf.getOption(Key)) ==
      Some(classOf[CheckpointFiles].getName))
  }
}
