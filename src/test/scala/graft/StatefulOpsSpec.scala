package graft

import graft.model.KRecord
import graft.streaming.StatefulOps

/** Batch-mode execution of the keyed-state operators (Spark runs
  * flatMapGroupsWithState on batch Datasets with the same per-group
  * semantics, minus timeouts) against reference golden sequences.
  */
class StatefulOpsSpec extends SparkSpec {

  test("streaming ktable emits accepted changes only (ktable.h + mem_store rules, test8 fixture)") {
    import spark.implicits._
    val recs = Seq[KRecord[Int, String]](
      KRecord(42, None, 1L), KRecord.of(42, "A", 3L), KRecord.of(42, "B", 5L),
      KRecord(42, None, 7L), KRecord.of(42, "C", 9L), KRecord(42, None, 12L),
      KRecord.of(42, "D", 15L))
    val out = StatefulOps.latestByKey(spark.createDataset(recs))
      .collect().sortBy(_.eventTime).toSeq
    // the t=1 tombstone hits an absent key: not stored, not emitted
    assert(out == Seq(
      KRecord.of(42, "A", 3L), KRecord.of(42, "B", 5L), KRecord[Int, String](42, None, 7L),
      KRecord.of(42, "C", 9L), KRecord[Int, String](42, None, 12L), KRecord.of(42, "D", 15L)))
  }

  test("within a batch, events apply in event-time order (the reference's event-clock drain)") {
    import spark.implicits._
    // arrival order new-then-old; the event clock still processes t=5 first,
    // so both are accepted in time order and the final state is "new"
    val recs = Seq(KRecord.of(1, "new", 10L), KRecord.of(1, "old", 5L))
    val out = StatefulOps.latestByKey(spark.createDataset(recs)).collect().toSeq
    assert(out == Seq(KRecord.of(1, "old", 5L), KRecord.of(1, "new", 10L)))
  }

  test("streaming rate limiter matches the batch replay golden (test3_mem_token_bucket)") {
    import spark.implicits._
    val t0 = 1700000000000L
    val recs = Seq(
      KRecord.of(2, "a", t0), KRecord.of(2, "b", t0 + 10),
      KRecord.of(2, "c", t0 + 20), KRecord.of(2, "d", t0 + 101))
    val out = StatefulOps.rateLimiter(spark.createDataset(recs), capacity = 2, ageTimeMs = 100)
      .collect().sortBy(_.eventTime).flatMap(_.value).toSeq
    assert(out == Seq("a", "b", "d"))
  }

  // ---- test8_join.cpp golden fixture (FIXTURES.md §1) ----------------------
  // STREAM_1 (left):  1:null, 3:A, 5:B, 7:null, 9:C, 12:null, 15:D
  // STREAM_2 (right): 2:null, 4:a, 6:b, 8:null, 10:c, 11:null, 13:null, 14:d

  private def stream1 = Seq[KRecord[Int, String]](
    KRecord(42, None, 1L), KRecord.of(42, "A", 3L), KRecord.of(42, "B", 5L),
    KRecord(42, None, 7L), KRecord.of(42, "C", 9L), KRecord(42, None, 12L),
    KRecord.of(42, "D", 15L))

  private def stream2 = Seq[KRecord[Int, String]](
    KRecord(42, None, 2L), KRecord.of(42, "a", 4L), KRecord.of(42, "b", 6L),
    KRecord(42, None, 8L), KRecord.of(42, "c", 10L), KRecord(42, None, 11L),
    KRecord(42, None, 13L), KRecord.of(42, "d", 14L))

  private def emits(out: Seq[StatefulOps.JoinEmit[Int, String, String]]) =
    out.sortBy(_.eventTime).map(e =>
      if (e.tombstone) (e.eventTime, None) else (e.eventTime, Some((e.left, e.right))))

  test("ktable_left_join emits the exact test8_join.cpp sequence (join.h:212-311)") {
    import spark.implicits._
    val out = StatefulOps.tableTableJoinChangelog(
      spark.createDataset(stream1), spark.createDataset(stream2), StatefulOps.LeftJoin)
      .collect().toSeq
    assert(emits(out) == Seq(
      1L -> None, 2L -> None,
      3L -> Some((Some("A"), None)), 4L -> Some((Some("A"), Some("a"))),
      5L -> Some((Some("B"), Some("a"))), 6L -> Some((Some("B"), Some("b"))),
      7L -> None, 8L -> None,
      9L -> Some((Some("C"), None)), 10L -> Some((Some("C"), Some("c"))),
      11L -> Some((Some("C"), None)),
      12L -> None, 13L -> None, 14L -> None,
      15L -> Some((Some("D"), Some("d")))))
  }

  test("ktable_inner_join emits the exact test8_join.cpp sequence (join.h:314-406)") {
    import spark.implicits._
    val out = StatefulOps.tableTableJoinChangelog(
      spark.createDataset(stream1), spark.createDataset(stream2), StatefulOps.InnerJoin)
      .collect().toSeq
    assert(emits(out) == Seq(
      1L -> None, 2L -> None, 3L -> None,
      4L -> Some((Some("A"), Some("a"))),
      5L -> Some((Some("B"), Some("a"))), 6L -> Some((Some("B"), Some("b"))),
      7L -> None, 8L -> None, 9L -> None,
      10L -> Some((Some("C"), Some("c"))),
      11L -> None, 12L -> None, 13L -> None, 14L -> None,
      15L -> Some((Some("D"), Some("d")))))
  }

  test("ktable_outer_join emits the exact test8_join.cpp sequence (join.h:408-508)") {
    import spark.implicits._
    val out = StatefulOps.tableTableJoinChangelog(
      spark.createDataset(stream1), spark.createDataset(stream2), StatefulOps.OuterJoin)
      .collect().toSeq
    assert(emits(out) == Seq(
      1L -> None, 2L -> None,
      3L -> Some((Some("A"), None)), 4L -> Some((Some("A"), Some("a"))),
      5L -> Some((Some("B"), Some("a"))), 6L -> Some((Some("B"), Some("b"))),
      7L -> Some((None, Some("b"))), 8L -> None,
      9L -> Some((Some("C"), None)), 10L -> Some((Some("C"), Some("c"))),
      11L -> Some((Some("C"), None)),
      12L -> None, 13L -> None,
      14L -> Some((None, Some("d"))), 15L -> Some((Some("D"), Some("d")))))
  }

  test("kstream_left_join and kstream_inner_join emit the test8 sequences (join.h:28-209)") {
    import spark.implicits._
    val left = StatefulOps.streamTableJoinChangelog(
      spark.createDataset(stream1), spark.createDataset(stream2), StatefulOps.LeftJoin)
      .collect().toSeq
    assert(emits(left) == Seq(
      3L -> Some((Some("A"), None)), 5L -> Some((Some("B"), Some("a"))),
      9L -> Some((Some("C"), None)), 15L -> Some((Some("D"), Some("d")))))
    val inner = StatefulOps.streamTableJoinChangelog(
      spark.createDataset(stream1), spark.createDataset(stream2), StatefulOps.InnerJoin)
      .collect().toSeq
    assert(emits(inner) == Seq(
      5L -> Some((Some("B"), Some("a"))), 15L -> Some((Some("D"), Some("d")))))
  }

  test("keyed operators group by the key column: no per-row object round trip before the shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    object Plans extends AdaptiveSparkPlanHelper
    // column-built inputs: the source itself holds no typed operator
    def log(valueCol: org.apache.spark.sql.Column) = spark.range(0, 40)
      .select((col("id") % 5).as("key"), valueCol.as("value"), col("id").as("eventTime"))
    val strs = log(col("id").cast("string")).as[KRecord[Long, String]]
    val longs = log(col("id")).as[KRecord[Long, Long]]
    val ops: Seq[(String, Dataset[_])] = Seq(
      "latestByKey" -> StatefulOps.latestByKey(strs),
      "windowedLatestByKey" -> StatefulOps.windowedLatestByKey(strs, 1000L),
      "counterByKey" -> StatefulOps.counterByKey(longs),
      "rateLimiter" -> StatefulOps.rateLimiter(strs, 2L, 10L),
      "rateLimiter (GC)" -> StatefulOps.rateLimiter(strs, 2L, 10L, Some("1 second")),
      "delay" -> StatefulOps.delay(strs, 10L),
      "punctuatedCount" -> StatefulOps.punctuatedCount(longs, 10L),
      "tableTableJoinChangelog" -> StatefulOps.tableTableJoinChangelog(strs, longs, StatefulOps.OuterJoin),
      "streamTableJoinChangelog" -> StatefulOps.streamTableJoinChangelog(strs, longs, StatefulOps.LeftJoin))
    def names(p: SparkPlan): Seq[String] = Plans.collect(p) { case n => n.nodeName }
    ops.foreach { case (name, ds) =>
      ds.collect() // AQE's final plan
      val plan = ds.queryExecution.executedPlan
      val typed = names(plan).filter(n => n.startsWith("AppendColumns") || n == "MapElements")
      assert(typed.isEmpty, s"$name runs $typed:\n$plan")
      val exchanges = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, s"$name has no shuffle:\n$plan")
      if (name.endsWith("JoinChangelog"))
        exchanges.foreach(e => assert(!names(e).contains("DeserializeToObject"),
          s"$name deserializes below its exchange:\n$plan"))
    }
  }

  test("the opt-in maxSliceRows guard turns a hot-key trigger surge into a named error, not an OOM") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def withCap[A](v: Option[String])(f: => A): A = {
      val k = StatefulOps.MaxSliceRowsConf
      val saved = spark.conf.getOption(k)
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      try f finally { spark.conf.unset(k); saved.foreach(spark.conf.set(k, _)) }
    }
    // a key-churn STREAM into the guard: one hot key floods a single
    // micro-batch past the cap — the query fails with the conf name and
    // the key, never an executor OOM
    withCap(Some("8")) {
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KRecord[Int, String]]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_guard").toFile.getAbsolutePath
      src.addData((1 to 9).map(i => KRecord.of(7, s"v$i", i.toLong)): _*)
      val q = StatefulOps.latestByKey(src.toDS())
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
      val msg = e.getCause.getMessage + e.getMessage
      assert(msg.contains(StatefulOps.MaxSliceRowsConf) && msg.contains("'7'"), msg)
    }
    // at the cap (not past it): the stream completes
    withCap(Some("8")) {
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KRecord[Int, String]]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_guard2").toFile.getAbsolutePath
      src.addData((1 to 8).map(i => KRecord.of(7, s"v$i", i.toLong)): _*)
      val q = StatefulOps.latestByKey(src.toDS())
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // unarmed (default): the same surge just processes
    val out = StatefulOps.latestByKey(
      (1 to 100).map(i => KRecord.of(7, s"v$i", i.toLong)).toDS()).collect()
    assert(out.length == 100)
    // malformed / non-positive values fail at CONSTRUCTION, loudly
    withCap(Some("0")) {
      val e = intercept[IllegalArgumentException](
        StatefulOps.latestByKey(Seq(KRecord.of(1, "v", 1L)).toDS()))
      assert(e.getMessage.contains("positive"))
    }
    withCap(Some("many")) {
      val e = intercept[IllegalArgumentException](
        StatefulOps.latestByKey(Seq(KRecord.of(1, "v", 1L)).toDS()))
      assert(e.getMessage.contains("many"))
    }
  }

  test("changelog join state persists across micro-batches (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KRecord[Int, String]]
    val r = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KRecord[Int, String]]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttj").toFile.getAbsolutePath
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[StatefulOps.JoinEmit[Int, String, String]]()
    // start the query only after each chunk's data is staged on BOTH sides:
    // a live ProcessingTime(0) trigger could otherwise consume one side's
    // addData before the other's lands, changing the interleaving
    def runChunk(): Unit = {
      val q = StatefulOps.tableTableJoinChangelog(l.toDS(), r.toDS(), StatefulOps.LeftJoin)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StatefulOps.JoinEmit[Int, String, String]], _: Long) =>
          b.collect().foreach(emitted.add)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    l.addData(stream1.take(3): _*); r.addData(stream2.take(2): _*) // ts 1..5
    runChunk()
    l.addData(stream1.drop(3): _*); r.addData(stream2.drop(2): _*) // ts 6..15
    runChunk()
    val out = scala.jdk.CollectionConverters.CollectionHasAsScala(emitted).asScala.toSeq
    // same final sequence as the single-batch run (split point between ts5/ts6)
    assert(emits(out) == Seq(
      1L -> None, 2L -> None,
      3L -> Some((Some("A"), None)), 4L -> Some((Some("A"), Some("a"))),
      5L -> Some((Some("B"), Some("a"))), 6L -> Some((Some("B"), Some("b"))),
      7L -> None, 8L -> None,
      9L -> Some((Some("C"), None)), 10L -> Some((Some("C"), Some("c"))),
      11L -> Some((Some("C"), None)),
      12L -> None, 13L -> None, 14L -> None,
      15L -> Some((Some("D"), Some("d")))))
  }
}

/** The reference's store unit tests transcribed against the streaming
  * operators: tests/test2_mem_counter_store.cpp and
  * tests/test2_mem_windowed_store.cpp assertion sequences.
  */
class StoreSemanticsSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.Trigger
  import graft.model.KRecord
  import graft.streaming.StatefulOps

  test("counter store: test2_mem_counter_store.cpp sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1000L
    val input = MemoryStream[KRecord[Int, Long]]
    val q = StatefulOps.counterByKey(input.toDS())
      .writeStream.format("memory").queryName("ctr_out").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def state(): Map[Int, (Option[Long], Long)] = {
        // last emission per key (memory sink preserves arrival order) =
        // current store content
        val rows = spark.table("ctr_out").as[KRecord[Int, Long]].collect()
        rows.zipWithIndex.groupBy(_._1.key).map { case (k, rs) =>
          val last = rs.maxBy(_._2)._1
          k -> (last.value, last.eventTime)
        }
      }
      // insert 3
      input.addData(KRecord.of(0, 1L, t0), KRecord.of(1, 1L, t0), KRecord.of(2, 1L, t0))
      q.processAllAvailable()
      // update existing key with new value → sum 2, ts t0+10
      input.addData(KRecord.of(2, 1L, t0 + 10))
      q.processAllAvailable()
      assert(state()(2) == (Some(2L), t0 + 10))
      // old-timestamp add accepted (aggregation), keeps biggest timestamp
      input.addData(KRecord.of(2, 2L, t0))
      q.processAllAvailable()
      assert(state()(2) == (Some(4L), t0 + 10))
      // negative add
      input.addData(KRecord.of(0, -2L, t0))
      q.processAllAvailable()
      assert(state()(0) == (Some(-1L), t0))
      // delete with too-old timestamp: forbidden (no emission, sum stays)
      input.addData(KRecord[Int, Long](2, None, t0))
      q.processAllAvailable()
      assert(state()(2) == (Some(4L), t0 + 10))
      // delete with new timestamp: erases (tombstone emitted)
      input.addData(KRecord[Int, Long](2, None, t0 + 30))
      q.processAllAvailable()
      assert(state()(2) == (None, t0 + 30))
    } finally q.stop()
  }

  test("windowed store: test2_mem_windowed_store.cpp update/delete sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 10000L
    val input = MemoryStream[KRecord[Int, String]]
    // 100ms slots × 10 slots = 1000ms retention (the reference's config);
    // a generous watermark delay keeps the sequence's out-of-order rows
    // from being dropped as late (the reference store test has no
    // watermark — GC-on-watermark is pinned by the expiry golden instead)
    val q = StatefulOps.windowedLatestByKey(input.toDS(), retentionMs = 1000L,
      watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(KRecord.of(0, "value0", t0), KRecord.of(1, "value1", t0 + 200),
        KRecord.of(2, "value2", t0 + 400))
      q.processAllAvailable()
      // same-timestamp update accepted (>= rule)
      input.addData(KRecord.of(2, "value2updated", t0 + 400))
      q.processAllAvailable()
      // older update skipped; older delete skipped
      input.addData(KRecord.of(2, "to_old", t0 + 200), KRecord[Int, String](2, None, t0))
      q.processAllAvailable()
      val rows = spark.table("win_out").as[KRecord[Int, String]].collect().toSeq
      assert(rows.contains(KRecord.of(2, "value2updated", t0 + 400)))
      assert(!rows.exists(_.value.contains("to_old")))
      assert(!rows.exists(r => r.key == 2 && r.value.isEmpty)) // old delete not emitted
      // newer delete erases and emits the tombstone
      input.addData(KRecord[Int, String](2, None, t0 + 700))
      q.processAllAvailable()
      val rows2 = spark.table("win_out").as[KRecord[Int, String]].collect().toSeq
      assert(rows2.contains(KRecord[Int, String](2, None, t0 + 700)))
      // erased entry: a later out-of-order upsert is accepted again
      input.addData(KRecord.of(2, "resurrected", t0 + 500))
      q.processAllAvailable()
      val rows3 = spark.table("win_out").as[KRecord[Int, String]].collect().toSeq
      assert(rows3.contains(KRecord.of(2, "resurrected", t0 + 500)))
    } finally q.stop()
  }

  test("windowed store survives an accepted out-of-order row whose deadline trails the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KRecord[Int, String]]
    // Spark's two-watermark split: input rows are late-filtered with the
    // PREVIOUS batch's watermark while GroupState carries the eviction
    // watermark. With a generous lateness allowance, an accepted
    // out-of-order row can have eventTime + retentionMs BEHIND the
    // eviction watermark — an unclamped setTimeoutTimestamp then throws
    // IllegalArgumentException and KILLS the query.
    // without this, Spark inserts a no-data batch after batch 1 that
    // advances the LATE-EVENTS watermark too, and the staged out-of-order
    // row is dropped before it can exercise the clamp
    val prevNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = StatefulOps.windowedLatestByKey(input.toDS(), retentionMs = 100L,
      watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("win_clamp_out").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(KRecord.of(1, "new", 1000000L)) // eviction wm -> ~400000
      q.processAllAvailable()
      // t=100: passes the (lagging) late-events filter, but
      // 100 + 100 << the eviction watermark — must clamp, not crash
      input.addData(KRecord.of(2, "old", 100L))
      q.processAllAvailable()
      assert(q.isActive, "the out-of-order deadline must clamp, not kill the query")
      val rows = spark.table("win_clamp_out").as[KRecord[Int, String]].collect().toSeq
      assert(rows.contains(KRecord.of(2, "old", 100L)),
        s"the accepted out-of-order row must be emitted: $rows")
    } finally {
      q.stop()
      prevNoData match {
        case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  test("stateful ops honor the batch contract: delay / punctuatedCount / windowed on a plain Dataset") {
    import spark.implicits._
    // the analyzer eliminates the watermark node for non-streaming plans,
    // so an unguarded getCurrentWatermarkMs throws on the first group —
    // the header's "all of these also run on a batch Dataset" promise
    val batch = Seq(
      KRecord.of(1, "a", 1000L), KRecord.of(1, "b", 2000L),
      KRecord.of(2, "c", 1500L)).toDS()
    // batch = the stream has ended: every delay has elapsed
    val released = StatefulOps.delay(batch, delayMs = 5000L).collect().toSeq
    assert(released.sortBy(r => (r.key, r.eventTime)) ==
      Seq(KRecord.of(1, "a", 1000L), KRecord.of(1, "b", 2000L), KRecord.of(2, "c", 1500L)))
    intercept[IllegalArgumentException](StatefulOps.delay(batch, delayMs = -1L))
    val counts = Seq(KRecord.of(1, 1L, 1000L), KRecord.of(1, 1L, 2000L)).toDS()
    // must run (not throw); emission cadence in batch follows the
    // in-group boundary rule only
    StatefulOps.punctuatedCount(counts, punctuateIntervalMs = 500L).collect()
    StatefulOps.windowedLatestByKey(batch, retentionMs = 1000L).collect()
  }

  test("rate limiter GC variant expires idle buckets exactly; default keeps them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KRecord[Int, String]]
    val q = StatefulOps.rateLimiter(input.toDS(), capacity = 1L,
        ageTimeMs = 1000L, gcWatermarkDelay = Some("0 seconds"))
      .writeStream.format("memory").queryName("rl_gc_out").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(KRecord.of(1, "a1", 1000L), KRecord.of(1, "a2", 1001L))
      q.processAllAvailable()
      // capacity 1: a1 admitted, a2 denied
      assert(spark.table("rl_gc_out").as[KRecord[Int, String]].collect()
        .map(_.value.get).toSet == Set("a1"))
      // advance the watermark far past tstamp + ageTimeMs: the bucket
      // times out and is REMOVED (exact: any acceptable later event gets
      // a full refill, which equals fresh state)
      input.addData(KRecord.of(2, "b1", 100000L))
      q.processAllAvailable()
      input.addData(KRecord.of(2, "b2", 200000L)) // trigger the timeout sweep
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // key 1's bucket expired; keys 2 (and nothing else) remain
      assert(stateRows <= 1, s"idle bucket must be GC'd, state holds $stateRows rows")
      // the re-arriving key admits with a fresh full bucket
      input.addData(KRecord.of(1, "a3", 300000L))
      q.processAllAvailable()
      assert(spark.table("rl_gc_out").as[KRecord[Int, String]].collect()
        .exists(_.value.contains("a3")))
    } finally q.stop()
  }
}
