package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.model.KRecord
import graft.streaming.{LocalCheckpointFileManager, StatefulOps}

/** The checkpoint file manager [[GraftSession.tune]] installs: which
  * manager each scheme gets, the same atomic-write behaviour as Spark's
  * `FileContext` manager on a local dir, and a restart onto a checkpoint
  * that Spark's default manager wrote.
  */
class CheckpointFileManagerSpec extends SparkSpec {

  private def withTempDir[A](prefix: String)(body: java.io.File => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally FileUtils.deleteQuietly(dir)
  }

  test("a tuned session writes local checkpoints through FileSystem and keeps Spark's default elsewhere") {
    withTempDir("graft_cfm_pick") { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val local = CheckpointFileManager.create(new Path(dir.toURI), conf)
      assert(local.isInstanceOf[LocalCheckpointFileManager])
      assert(local.asInstanceOf[LocalCheckpointFileManager].delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
      // viewfs: a non-local scheme that needs no cluster, mounted here onto
      // the temp dir. Spark's default for it is the FileContext manager.
      conf.set("fs.viewfs.mounttable.graftckpt.link./ckpt", dir.toURI.toString)
      val remote = new Path("viewfs://graftckpt/ckpt")
      val sparkConf = new Configuration(conf)
      sparkConf.unset(LocalCheckpointFileManager.ConfKey)
      val sparkDefault = CheckpointFileManager.create(remote, sparkConf)
      assert(sparkDefault.isInstanceOf[FileContextBasedCheckpointFileManager])
      val picked = CheckpointFileManager.create(remote, conf)
      assert(picked.isInstanceOf[LocalCheckpointFileManager])
      assert(picked.asInstanceOf[LocalCheckpointFileManager].delegate.getClass == sparkDefault.getClass)
    }
  }

  test("createAtomic, overwrite and cancel behave as on Spark's FileContext manager") {
    def scenario(manager: (Path, Configuration) => CheckpointFileManager): Seq[Any] =
      withTempDir("graft_cfm_sem") { dir =>
        val root = new Path(dir.toURI)
        val m = manager(root, spark.sessionState.newHadoopConf())
        val p = new Path(root, "kept")
        def write(overwrite: Boolean, body: String): Unit = {
          val out = m.createAtomic(p, overwrite)
          out.write(body.getBytes(UTF_8))
          out.close()
        }
        def read(): String = {
          val in = m.open(p)
          try new String(in.readAllBytes(), UTF_8) finally in.close()
        }
        write(overwrite = false, "old")
        intercept[FileAlreadyExistsException](write(overwrite = false, "new"))
        val kept = read()
        write(overwrite = true, "new")
        val replaced = read()
        val q = new Path(root, "cancelled")
        val out = m.createAtomic(q, overwriteIfPossible = false)
        out.write("gone".getBytes(UTF_8))
        out.cancel()
        // every file on disk that names q, hidden temp and checksum files included
        val qLeft = dir.list().filter(_.contains(q.getName)).toSeq
        val listed = m.list(root).map(_.getPath.getName.replaceAll("[0-9a-f-]{36}", "<uuid>")).sorted.toSeq
        assert(kept == "old")
        assert(replaced == "new")
        assert(!m.exists(q) && qLeft.isEmpty, qLeft)
        Seq(kept, replaced, qLeft, listed)
      }
    val expected = scenario(new FileContextBasedCheckpointFileManager(_, _))
    assert(scenario(new LocalCheckpointFileManager(_, _)) == expected)
    // Hive's file: filesystem refuses to rename onto a file; the manager's
    // overwriting rename still replaces it
    assert(scenario { (p, conf) =>
      onProxy.foreach { case (k, v) => conf.set(k, v) }
      val m = new LocalCheckpointFileManager(p, conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
      m
    } == expected)
  }

  /** Hadoop confs that put Hive's `ProxyLocalFileSystem` on `file:`; the
    * cache would hand back the session's instance, so it is bypassed.
    */
  private val onProxy = Map(
    "fs.file.impl" -> "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem",
    "fs.file.impl.disable.cache" -> "true")

  /** Runs a changelog join for two AvailableNow batches with `old` set on
    * the session (`None` unsets a key), then restarts it on the same
    * checkpoint with the tuned session's confs and returns every emitted
    * (batch, left, right). `writtenBy` checks the checkpoint's writer while
    * `old` holds.
    */
  private def restartRows(old: Map[String, Option[String]])(writtenBy: java.io.File => Unit)
      : Seq[(Long, Option[String], Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tuned = old.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val probes = MemoryStream[KRecord[Int, String]]
    val table = MemoryStream[KRecord[Int, String]]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StatefulOps.JoinEmit[Int, String, String])]()
    withTempDir("graft_cfm_restart") { dir =>
      def run(): Unit = {
        val q = StatefulOps.streamTableJoinChangelog(probes.toDS(), table.toDS(), StatefulOps.LeftJoin)
          .writeStream.outputMode("update")
          .option("checkpointLocation", dir.getAbsolutePath)
          .foreachBatch { (b: Dataset[StatefulOps.JoinEmit[Int, String, String]], id: Long) =>
            b.collect().foreach(e => emitted.add(id -> e))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      try {
        old.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        table.addData(KRecord.of(1, "t1", 1L), KRecord.of(2, "t2", 2L))
        probes.addData(KRecord.of(1, "p1", 3L))
        run()
        table.addData(KRecord.of(2, "t2b", 4L))
        probes.addData(KRecord.of(2, "p2", 5L))
        run()
        writtenBy(dir)
      } finally tuned.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      probes.addData(KRecord.of(1, "p3", 6L), KRecord.of(2, "p4", 7L))
      assert(manager(dir).isInstanceOf[LocalCheckpointFileManager])
      run()
    }
    emitted.asScala.toSeq.map { case (id, e) => (id, e.left, e.right) }.sortBy(t => (t._1, t._2))
  }

  private def manager(dir: java.io.File): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toURI), spark.sessionState.newHadoopConf())

  // resumed at batch 2, not replayed from batch 0: each probe once, and the
  // post-restart probes join table values written before the restart
  private val resumed = Seq(
    (0L, Some("p1"), Some("t1")),
    (1L, Some("p2"), Some("t2b")),
    (2L, Some("p3"), Some("t1")),
    (2L, Some("p4"), Some("t2b")))

  test("a changelog join restarts on a checkpoint Spark's default manager wrote") {
    val rows = restartRows(Map(LocalCheckpointFileManager.ConfKey -> None)) { dir =>
      assert(manager(dir).isInstanceOf[FileContextBasedCheckpointFileManager])
    }
    assert(rows == resumed)
  }

  test("a changelog join restarts on a checkpoint Hive's ProxyLocalFileSystem wrote") {
    // the file: filesystem of a session before NioLocalFileSystem, and of one
    // not built by GraftSession.local; the tuned manager keeps the FileSystem
    // path on it
    val rows = restartRows(onProxy.map { case (k, v) => k -> Some(v) }) { dir =>
      val conf = spark.sessionState.newHadoopConf()
      assert(new Path(dir.toURI).getFileSystem(conf).getClass.getName == onProxy("fs.file.impl"))
      assert(manager(dir).asInstanceOf[LocalCheckpointFileManager].delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
    }
    assert(rows == resumed)
  }
}
