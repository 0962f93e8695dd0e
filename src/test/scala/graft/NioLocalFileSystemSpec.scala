package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.ext.Similarity
import graft.model.KRecord
import graft.streaming.{NioLocalFileSystem, StatefulOps}

/** The `file:` filesystem [[GraftSession.local]] registers: it is the
  * session's, it writes the modes and `.crc` siblings that Hadoop's stock
  * local filesystem writes, and a micro-batch commit or a vector-index
  * append starts no `chmod` process.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def withTempDir[A](prefix: String)(body: java.io.File => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally FileUtils.deleteQuietly(dir)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  /** The process commands `body` started in this JVM, from a JFR recording
    * of `jdk.ProcessStart` around it.
    */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  test("the session's file: filesystem is NioLocalFileSystem") {
    withTempDir("graft_nfs_pick") { dir =>
      val fs = new Path(dir.toURI).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .isInstanceOf[NioLocalFileSystem])
    }
  }

  test("files, directories, .crc siblings and a 1777 mode come out as on Hadoop's local filesystem") {
    def scenario(fs: LocalFileSystem): Seq[Any] = withTempDir("graft_nfs_modes") { dir =>
      val conf = new Configuration(false)
      conf.set("fs.permissions.umask-mode", "022")
      fs.initialize(URI.create("file:///"), conf)
      try {
        val root = new Path(dir.toURI)
        val nested = new Path(root, "a/b")
        assert(fs.mkdirs(nested))
        val file = new Path(nested, "part-0")
        val out = fs.create(file)
        out.write("kept".getBytes(UTF_8))
        out.close()
        val dst = new Path(nested, "renamed")
        val prior = fs.create(dst)
        prior.write("replaced".getBytes(UTF_8))
        prior.close()
        assert(fs.rename(file, dst), "rename must replace an existing target")
        val in = fs.open(dst)
        val back = try new String(in.readAllBytes(), UTF_8) finally in.close()
        val sticky = new Path(root, "shared")
        assert(fs.mkdirs(sticky))
        fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
        val d = dir.toPath
        val files = Seq("a", "a/b", "a/b/renamed", "a/b/.renamed.crc", "shared")
        val modes = files.map(f => f -> Integer.toOctalString(mode(d.resolve(f))))
        val left = Files.list(d.resolve("a/b")).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
        Seq(back, modes, left)
      } finally fs.close()
    }
    val got = scenario(new NioLocalFileSystem)
    assert(got == Seq("kept",
      Seq("a" -> "755", "a/b" -> "755", "a/b/renamed" -> "644", "a/b/.renamed.crc" -> "644",
        "shared" -> "1777"),
      Seq(".renamed.crc", "renamed")))
    assert(got == scenario(new LocalFileSystem(new RawLocalFileSystem)))
  }

  test("a changelog micro-batch on a file: checkpoint and an ivfPqAppend start no chmod process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the probe itself sees a fork: Hadoop's stock raw filesystem shells out
    withTempDir("graft_nfs_probe") { dir =>
      val stock = new RawLocalFileSystem
      stock.initialize(URI.create("file:///"), new Configuration(false))
      val seen = processesStartedBy(
        stock.setPermission(new Path(dir.toURI), new FsPermission("755")))
      assert(seen.exists(_.contains("chmod")), seen)
    }
    val emb = sources.Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.IvfPqIndex("tnfs_assign", "tnfs_cb", "tnfs_pq", numBuckets = 4)
    val tables = Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable)
    tables.foreach(dropTableHard)
    try withTempDir("graft_nfs_ckpt") { dir =>
      Similarity.ivfPqBuild(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        idx, nClusters = 4, m = 4, ksub = 8, iters = 1)
      val probes = MemoryStream[KRecord[Int, String]]
      val table = MemoryStream[KRecord[Int, String]]
      table.addData(KRecord.of(1, "t1", 1L))
      probes.addData(KRecord.of(1, "p1", 2L), KRecord.of(2, "p2", 3L))
      val rows = new java.util.concurrent.atomic.AtomicLong()
      val started = processesStartedBy {
        StatefulOps.streamTableJoinChangelog(probes.toDS(), table.toDS(), StatefulOps.LeftJoin)
          .writeStream.outputMode("update")
          .option("checkpointLocation", dir.getAbsolutePath)
          .foreachBatch { (b: Dataset[StatefulOps.JoinEmit[Int, String, String]], _: Long) =>
            rows.addAndGet(b.count()); ()
          }
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        Similarity.ivfPqAppend(emb.filter(col("vec_id") >= 300), "vec_id", "embedding", idx)
      }
      assert(rows.get == 2)
      assert(new java.io.File(dir, "commits/0").isFile)
      assert(!started.exists(_.contains("chmod")), started)
    } finally tables.foreach(dropTableHard)
  }
}
