package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
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

  private val Uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r

  /** Every file and directory under `root`: relative path (a temp file's
    * UUID masked), mode (with the bits above `0777`) and, for a file, its
    * bytes. */
  private def tree(root: String): Seq[(String, Int, Seq[Byte])] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      val bytes = if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq
      (Uuid.replaceAllIn(base.relativize(p).toString, "<uuid>"), mode(p.toString), bytes)
    }.toSeq.sortBy(_._1) finally walk.close()
  }

  /** The mode bits of `path`, the sticky bit included (NIO's POSIX view
    * has only the nine `rwx` bits). */
  private def mode(path: String): Int =
    Files.getAttribute(Paths.get(path), "unix:mode").asInstanceOf[Int] & oct("7777")

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  /** Commits a checkpoint-like tree through `m`: an explicit `mkdirs`, a
    * create, an overwrite, a non-overwriting create into a missing
    * directory, and a refused overwrite. */
  private def commitTree(m: CheckpointFileManager, root: String): Unit = {
    def write(rel: String, text: String, overwrite: Boolean): Unit = {
      val out = m.createAtomic(new Path(root, rel), overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    m.mkdirs(new Path(root, "state/0/0"))
    write("state/0/0/1.delta", "first", overwrite = true)
    write("state/0/0/1.delta", "second, longer", overwrite = true)
    write("offsets/0", "v1\n{}", overwrite = false)
    intercept[Exception](write("offsets/0", "again", overwrite = false))
  }

  for (umask <- Seq(None, Some("027"))) {
    test(s"the file: manager commits the files and modes Spark's FileSystem manager does " +
        s"(umask ${umask.getOrElse("default")})") {
      val extra = umask.map("fs.permissions.umask-mode" -> _).toSeq
      val (stock, ours) = (tmp(), tmp())
      // Hadoop's own local file system, uncached so that it reads this umask.
      // (With hive-exec on the class path, service loading binds `file:` to
      // Hive's ProxyLocalFileSystem, whose rename never replaces a file.)
      val stockConf = hadoopConf(extra ++ Seq("fs.file.impl" -> classOf[LocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true"): _*)
      val sm = new FileSystemBasedCheckpointFileManager(new Path(stock), stockConf)
      val om = new CheckpointFiles(new Path(ours), hadoopConf(extra: _*))
      try { commitTree(sm, stock); commitTree(om, ours) } finally om.close()
      val expected = tree(stock)
      assert(expected.map(_._1).contains("state/0/0/.1.delta.crc"))
      assert(expected.map(_._1).contains("offsets/.0.crc"))
      assert(expected.collect { case ("state/0/0/1.delta", _, b) => new String(b.toArray, UTF_8) } ==
        Seq("second, longer"))
      val (file, dir) = if (umask.isEmpty) (oct("644"), oct("755")) else (oct("640"), oct("750"))
      assert(expected.collect { case (p, m, _) if p.endsWith("delta") => m } == Seq(file))
      assert(expected.collect { case (p, m, _) if p == "state/0/0" => m } == Seq(dir))
      assert(tree(ours) == expected)
    }
  }

  test("the file: delegate writes through the chmod-free file system; the session's does not") {
    val dir = tmp()
    val m = new CheckpointFiles(new Path(dir), hadoopConf())
    val fsField = classOf[FileSystemBasedCheckpointFileManager].getDeclaredField("fs")
    fsField.setAccessible(true)
    val fs = try fsField.get(m.delegate).asInstanceOf[FileSystem] finally m.close()
    assert(fs.isInstanceOf[ChmodFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ChmodFreeRawLocalFileSystem])
    assert(!new Path(dir).getFileSystem(hadoopConf()).isInstanceOf[ChmodFreeLocalFileSystem])
  }

  test("all 512 nine-bit modes set through the chmod-free file system read back unchanged") {
    val fs = new ChmodFreeRawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val file = new Path(tmp(), "f")
    fs.create(file).close()
    val dir = new Path(tmp(), "d")
    assert(fs.mkdirs(dir))
    for (m <- 0 until 512; p <- Seq(file, dir)) {
      fs.setPermission(p, new FsPermission(m.toShort))
      assert(mode(p.toUri.getPath) == m, f"$p%s: set $m%04o")
    }
  }

  test("a sticky-bit mode takes Hadoop's own setPermission") {
    val fs = new ChmodFreeRawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = new Path(tmp(), "sticky")
    assert(fs.mkdirs(dir))
    fs.setPermission(dir, new FsPermission(oct("1755").toShort)) // NIO cannot set the sticky bit
    assert(mode(dir.toUri.getPath) == oct("1755"))
    fs.setPermission(dir, new FsPermission(oct("755").toShort)) // back through NIO
    assert(mode(dir.toUri.getPath) == oct("755"))
  }
}
