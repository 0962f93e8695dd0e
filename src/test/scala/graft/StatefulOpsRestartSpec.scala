package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.KRecord
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{JoinEmit, LeftJoin}

/** A case-class key: the typed grouping stored it as its field `id`. */
final case class RestartKey(id: Long)

/** Cross-version restarts: a checkpoint written by the typed grouping
  * ([[StatefulOpsReference]]: `SideRec` maps, `groupByKey(_.key)`)
  * restarts on [[StatefulOps]]' key-column grouping. Spark refuses a state
  * key schema whose nullability differs from the stored one
  * (`STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE`), and rows after the restart
  * must be computed from the state written before it.
  */
class StatefulOpsRestartSpec extends SparkSpec {

  private def withTempDir(prefix: String)(body: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Start `ds` on `ckpt`, collecting every emitted row into `out`. */
  private def start[T](ds: Dataset[T], ckpt: String, out: ConcurrentLinkedQueue[T],
                       trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    ds.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[T], _: Long) => b.collect().foreach(out.add) }
      .trigger(trigger).start()

  test("the grouping columns carry the typed grouping's state key schema, in type and nullability") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.MapGroupsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.{col, concat, lit, struct, when}
    object Plans extends AdaptiveSparkPlanHelper
    // (type, nullable) of the keyed operator's grouping attributes: the
    // state key schema, which Spark compares without the column names
    def keySchema(ds: Dataset[_]) = Plans.collect(ds.queryExecution.executedPlan) {
      case m: MapGroupsExec => m.groupingAttributes.map(a => (a.dataType, a.nullable))
    }
    def log(key: Column) = spark.range(0, 4)
      .select(key.as("key"), lit("v").as("value"), col("id").as("eventTime"))
    val nullableId = when(col("id") > -1, col("id"))
    val inputs: Seq[(String, Dataset[_], Dataset[_])] = {
      def both[K: org.apache.spark.sql.Encoder](name: String, key: Column)(
          implicit ec: org.apache.spark.sql.Encoder[StatefulOps.Cell[String]],
          er: org.apache.spark.sql.Encoder[KRecord[K, String]]) = {
        val ds = log(key).as[KRecord[K, String]]
        (name, StatefulOps.latestByKey(ds), StatefulOpsReference.latestByKey(ds))
      }
      Seq(both[Long]("Long key", col("id")),
        both[Long]("nullable Long key", nullableId),
        both[String]("non-nullable String key", concat(lit("k"), col("id"))),
        both[RestartKey]("case-class key", struct(col("id").as("id"))),
        both[RestartKey]("nullable case-class key", struct(nullableId.as("id"))))
    }
    inputs.foreach { case (name, ops, ref) =>
      assert(keySchema(ops) == keySchema(ref) && keySchema(ref).nonEmpty,
        s"$name: ${keySchema(ops)} vs the typed grouping's ${keySchema(ref)}")
    }
  }

  test("streamTableJoinChangelog restarts on a Long key read nullable from a parquet file source") {
    import spark.implicits._
    withTempDir("graft_restart_stj") { root =>
      val (probes, table, ckpt) = (s"$root/probes", s"$root/table", s"$root/ckpt")
      def stream[V](dir: String, valueType: String) =
        spark.readStream.schema(s"key BIGINT, value $valueType, eventTime BIGINT").parquet(dir)
      val out = new ConcurrentLinkedQueue[JoinEmit[Long, String, Long]]()
      def drain(ds: Dataset[JoinEmit[Long, String, Long]]): Unit =
        start(ds, ckpt, out, Trigger.AvailableNow()).awaitTermination()

      Seq((1L, 100L, 1L), (2L, 200L, 2L), (3L, 300L, 3L)).toDF("key", "value", "eventTime")
        .write.parquet(table)
      Seq((1L, "a", 10L)).toDF("key", "value", "eventTime").write.parquet(probes)
      val left = stream(probes, "STRING").as[KRecord[Long, String]]
      val right = stream(table, "BIGINT").as[KRecord[Long, Long]]
      assert(left.schema("key").nullable, "a file source's key column is nullable")
      drain(StatefulOpsReference.streamTableJoinChangelog(left, right, LeftJoin))
      assert(out.asScala.map(e => (e.key, e.left, e.right)).toSeq == Seq((1L, Some("a"), Some(100L))))

      // probes only: every hit comes from the table state written before
      out.clear()
      Seq((2L, "b", 20L), (3L, "c", 21L), (4L, "d", 22L)).toDF("key", "value", "eventTime")
        .write.mode("append").parquet(probes)
      drain(StatefulOps.streamTableJoinChangelog(left, right, LeftJoin))
      assert(out.asScala.map(e => (e.key, e.left, e.right)).toSet == Set(
        (2L, Some("b"), Some(200L)), (3L, Some("c"), Some(300L)), (4L, Some("d"), None)))
    }
  }

  test("latestByKey restarts on a case-class key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_restart_lww") { root =>
      val input = MemoryStream[KRecord[RestartKey, String]]
      val out = new ConcurrentLinkedQueue[KRecord[RestartKey, String]]()
      val ckpt = s"$root/ckpt"
      val q1 = start(StatefulOpsReference.latestByKey(input.toDS()), ckpt, out)
      try {
        input.addData(KRecord.of(RestartKey(1), "a", 10L), KRecord.of(RestartKey(2), "b", 10L))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(out.size == 2)

      out.clear()
      val q2 = start(StatefulOps.latestByKey(input.toDS()), ckpt, out)
      try {
        // key 1: the stored t=10 cell outranks t=5; key 2: a delete of a
        // stored key is accepted (on an absent key it would be dropped)
        input.addData(KRecord.of(RestartKey(1), "old", 5L),
          KRecord[RestartKey, String](RestartKey(2), None, 20L), KRecord.of(RestartKey(3), "c", 1L))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(out.asScala.toSet == Set(
        KRecord[RestartKey, String](RestartKey(2), None, 20L), KRecord.of(RestartKey(3), "c", 1L)))
    }
  }

  test("windowedLatestByKey (EventTimeTimeout) restarts with its cells and their deadlines") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_restart_win") { root =>
      val input = MemoryStream[KRecord[Int, String]]
      val out = new ConcurrentLinkedQueue[KRecord[Int, String]]()
      val ckpt = s"$root/ckpt"
      val q1 = start(StatefulOpsReference.windowedLatestByKey(input.toDS(), 100L, "1 second"), ckpt, out)
      try {
        input.addData(KRecord.of(1, "a", 5000L), KRecord.of(2, "b", 5000L))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(out.size == 2)

      out.clear()
      val q2 = start(StatefulOps.windowedLatestByKey(input.toDS(), 100L, "1 second"), ckpt, out)
      try {
        // t=4500 is not late (watermark 4000) but the stored t=5000 cell wins
        input.addData(KRecord.of(2, "stale", 4500L))
        q2.processAllAvailable()
        // the watermark passes 8000: both stored keys' deadlines (5100) expire
        input.addData(KRecord.of(3, "c", 9000L))
        q2.processAllAvailable()
        input.addData(KRecord.of(4, "d", 9001L))
        q2.processAllAvailable()
      } finally q2.stop()
      val rows = out.asScala.toSeq
      assert(!rows.exists(_.value.contains("stale")), rows)
      assert(rows.contains(KRecord[Int, String](1, None, 8000L)) &&
        rows.contains(KRecord[Int, String](2, None, 8000L)), s"expiry tombstones: $rows")
    }
  }
}
