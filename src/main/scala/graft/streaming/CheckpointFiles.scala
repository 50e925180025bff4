package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, PathFilter}
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
 * them. Hadoop's `RawLocalFileSystem` still forks `chmod` for each file
 * it creates, under either manager (SCALE.md "The per-batch fixed cost
 * is checkpoint file commits").
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
      new FileSystemBasedCheckpointFileManager(path, conf)
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

  /** On a streaming `ds`, make [[CheckpointFiles]] its session's checkpoint
    * file manager unless the session already names one: an explicit
    * choice always wins. Called wherever graft composes a stateful
    * operator. */
  def install(ds: Dataset[_]): Unit = {
    val conf = ds.sparkSession.conf
    if (ds.isStreaming && conf.getOption(Key).isEmpty) conf.set(Key, classOf[CheckpointFiles].getName)
  }
}
