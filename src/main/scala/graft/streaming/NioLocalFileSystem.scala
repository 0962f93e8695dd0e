package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every [[graft.GraftSession.local]] session:
  * Hadoop's checksummed `LocalFileSystem` over a raw local filesystem that
  * sets file modes through `java.nio` instead of a process.
  *
  * Spark does not ship Hadoop's native library, so the stock
  * `RawLocalFileSystem.setPermission` forks `chmod`, and every checksummed
  * create calls it twice (the file and its `.crc`), as does each directory
  * `mkdirs` makes. In a JDK 17 JVM with a 3 GB heap limit on a 4-vCPU VM a
  * one-byte checksummed create costs 4.0-4.8 ms that way and 0.13-0.24 ms
  * here (rounds of 200). Every local write pays it: checkpoint offset and
  * commit logs, state-store deltas, snapshots and checksum files, RocksDB
  * checkpoint files, and each parquet part file and `_SUCCESS` marker of a
  * table write.
  *
  * Everything else is Hadoop's own: the `.crc` siblings and their
  * read-back check, the umask (`fs.permissions.umask-mode`) applied to
  * each new file and directory, and a `rename(2)` that replaces an
  * existing target. Hive's `ProxyLocalFileSystem`, which takes `file:`
  * through the service loader whenever hive-exec is on the classpath (as
  * in Spark's distribution), refuses to rename onto an existing file; this
  * class replaces it through `spark.hadoop.fs.file.impl`.
  *
  * Hadoop caches one `FileSystem` instance per scheme, authority and user,
  * and the cache ignores the conf: a `file:` instance created in this JVM
  * before the session (a `FileSystem.get` or `Path.getFileSystem` against a
  * conf without `fs.file.impl`) keeps its class for the life of the JVM,
  * and the session then writes through it, forks included. Build the
  * session before touching local paths through Hadoop.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with `setPermission` through the `unix:mode`
    * attribute of `java.nio`, which takes every bit `FsPermission` carries,
    * the sticky bit included. Like `chmod`, it follows symlinks and raises
    * an `IOException` on a missing path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Integer.valueOf(permission.toShort & 0xfff))
  }
}
