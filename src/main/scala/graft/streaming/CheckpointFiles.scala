package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/**
 * The checkpoint file manager of graft's stateful streaming queries:
 * Spark's `FileSystemBasedCheckpointFileManager` on a local (`file:`)
 * checkpoint location, and exactly the manager Spark would pick
 * (`CheckpointFileManager.create` with the class key unset) on every
 * other scheme, so HDFS and object stores are untouched.
 *
 * Why local only: without the native Hadoop library, Spark's default
 * manager (`FileContext` over `LocalFs`) forks a `readlink` for every
 * commit rename (`AbstractFileSystem.renameInternal` reads both ends'
 * link status). Those forks, not rows, were most of a stateful
 * micro-batch's fixed cost; the `FileSystem` manager renames without
 * them.
 *
 * Modes without `chmod`: Hadoop's local file system creates every file
 * (data and `.crc`) and every directory with an explicit mode, and
 * without the native library it sets that mode by forking `chmod`. The
 * `file:` delegate therefore opens its file system from a copy of the
 * query's Hadoop conf that maps `file:` to [[ChmodFreeLocalFileSystem]]
 * (uncached, so the session's own `file:` file system, parquet I/O and
 * shuffle are untouched). It is Hadoop's checksummed `LocalFileSystem`,
 * with the same `.crc` files, over a raw file system that applies the
 * same nine mode bits with `Files.setPosixFilePermissions`, and falls
 * back to Hadoop's own `setPermission` for a mode NIO cannot express
 * (sticky bit) or a file store without POSIX attributes (SCALE.md "The
 * per-batch fixed cost is checkpoint file commits"). It also fixes which
 * rename a commit gets: with hive-exec on the class path (as in Spark's
 * distribution), service loading binds `file:` to Hive's
 * `ProxyLocalFileSystem`, whose rename returns false instead of replacing
 * an existing file, and Spark's `FileSystem` manager then keeps the old
 * file without an error when overwriting was allowed. Hadoop's
 * `LocalFileSystem` renames with `rename(2)`, replacing the target.
 *
 * Why it is safe on `file:`: both managers write a temp file and rename
 * it over the target, and both honour `overwriteIfPossible = false` by
 * checking that the target is absent before the rename. The rename here
 * is `RawLocalFileSystem.rename`, i.e. `File.renameTo`, i.e. POSIX
 * `rename(2)`, which replaces the target atomically within one file
 * system. `FileContext`'s overwriting rename instead deletes the target
 * and then renames (`AbstractFileSystem.renameInternal(src, dst, true)`),
 * so this path is at least as atomic for the state store's delta and
 * snapshot files and for the offset, commit and source logs. The files
 * written and their names are the same, so a checkpoint moves freely
 * between the two managers (StateRecoverySpec restarts one across them).
 *
 * Spark builds the manager by reflection from
 * `spark.sql.streaming.checkpointFileManagerClass`, which
 * [[CheckpointFiles.install]] sets when the session has no value of its
 * own.
 */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).getUri.getScheme == "file")
      new FileSystemBasedCheckpointFileManager(path, CheckpointFiles.chmodFree(conf))
    else {
      val sparkDefault = new Configuration(conf)
      sparkDefault.unset(CheckpointFiles.Key)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

private[graft] object CheckpointFiles {

  /** Spark's own (internal) key; `CheckpointFileManager.create` reads it
    * from the query's Hadoop conf, which carries the session's SQL conf. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** A copy of `conf` whose `file:` scheme opens a fresh
    * [[ChmodFreeLocalFileSystem]]. */
  private def chmodFree(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[ChmodFreeLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** On a streaming `ds`, make [[CheckpointFiles]] its session's checkpoint
    * file manager unless the session already names one: an explicit
    * choice always wins. Called wherever graft composes a stateful
    * operator. */
  def install(ds: Dataset[_]): Unit = {
    val conf = ds.sparkSession.conf
    if (ds.isStreaming && conf.getOption(Key).isEmpty) conf.set(Key, classOf[CheckpointFiles].getName)
  }
}

/** Hadoop's raw local file system, except that [[setPermission]] sets the
  * nine `rwx` bits through java.nio instead of forking `chmod`. A mode
  * with more bits (the sticky bit) or a file store without POSIX
  * attributes takes Hadoop's own path. */
private[streaming] class ChmodFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // a bit above 0777
    else {
      // `PosixFilePermission` lists owner read (0400) down to others execute (0001)
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** Hadoop's checksummed local file system (same data and `.crc` files)
  * over [[ChmodFreeRawLocalFileSystem]]; [[CheckpointFiles]] opens it for
  * `file:` checkpoint locations. */
private[streaming] class ChmodFreeLocalFileSystem extends LocalFileSystem(new ChmodFreeRawLocalFileSystem)
