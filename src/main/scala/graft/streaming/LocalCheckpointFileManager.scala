package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint files (offset and commit logs, state-store deltas
  * and snapshots, RocksDB checkpoint files) on a local filesystem go
  * through Hadoop's `FileSystem` API; every other scheme keeps Spark's
  * default manager.
  *
  * Spark's default on `file:` is the `FileContext` manager. Each of its
  * renames stats both paths through `RawLocalFileSystem`'s link-aware
  * status call, and that forks a `readlink` process (Hadoop 3.4). From a
  * JDK 17 JVM with a 3 GB heap on a 4-vCPU VM one rename costs 26-28 ms
  * that way and 0.2 ms through `FileSystem`. A micro-batch renames one
  * offset file, one commit file and one delta per state partition. (The
  * `chmod` fork that each created file also paid is gone at the
  * filesystem: [[NioLocalFileSystem]] sets modes without a process.)
  *
  * Semantics on `file:` are unchanged: with `overwriteIfPossible = false`
  * both managers check that the target is absent before `rename(2)` and
  * raise `FileAlreadyExistsException` if it is not, with `true` they
  * replace it, and `cancel()` deletes the temp file. Both write a Hadoop `.crc`
  * beside each file through the checksummed local filesystem, so
  * checkpoints written before the switch read back unchanged. HDFS, object
  * stores and every other scheme get exactly what
  * `CheckpointFileManager.create` returns without this class configured.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).isInstanceOf[LocalFileSystem])
      new LocalCheckpointFileManager.Overwriting(path, conf)
    else {
      val sparkDefault = new Configuration(conf)
      sparkDefault.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** The Spark conf that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's `FileSystem` manager, with an overwriting rename that replaces
    * the target as the `FileContext` manager's does (delete, then rename).
    * Hive's `ProxyLocalFileSystem` takes the `file:` scheme whenever
    * hive-exec is on the classpath, as in Spark's own distribution, and
    * refuses to rename onto an existing file; Spark's manager would then
    * keep the old file and leave the temp file behind. State-store deltas
    * and snapshots are written with `overwriteIfPossible = true`.
    * [[NioLocalFileSystem]] replaces the target on its own, but a session
    * not built by [[graft.GraftSession.local]] (one [[graft.GraftSession.tune]]
    * was handed) keeps Hive's class for `file:`.
    */
  private final class Overwriting(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
