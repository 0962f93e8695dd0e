package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.ElasticsearchSink
import graft.sources.{AvroFiles, Tables}

/** Avro container-file round-trips (avro_file_source.h / avro_file_sink.h)
  * and the Elasticsearch bulk sink's payload + metrics semantics.
  */
class FileFormatsSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def exceptionChain(e: Throwable): List[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toList

  test("avro write/read round-trips all generic_avro types incl. nulls and nesting") {
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("flag", BooleanType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("f", FloatType, nullable = false),
      StructField("d", DoubleType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("raw", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = true),
      StructField("attrs", MapType(StringType, LongType, valueContainsNull = false), nullable = true),
      StructField("nested", StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", StringType, nullable = true))), nullable = true)))
    val rows = Seq(
      Row(1L, true, 42, 1.5f, 2.5, "hi", Array[Byte](1, 2, 3),
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
        Seq("x", "y"), Map("k" -> 9L), Row(7L, "inner")),
      Row(2L, false, null, -0.5f, 0.0, null, null, null, null, null, null))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
    val dir = tmpDir("avro_rt") + "/out"
    AvroFiles.write(df, dir)
    val back = AvroFiles.read(spark, dir)
    assert(back.schema == st)
    val got = back.collect().sortBy(_.getLong(0))
    assert(got.length == 2)
    assert(got(0).getAs[java.sql.Timestamp]("ts") == rows.head.getAs[java.sql.Timestamp](7))
    assert(got(0).getAs[Array[Byte]]("raw").toSeq == Seq[Byte](1, 2, 3))
    assert(got(0).getAs[Row]("nested") == Row(7L, "inner"))
    assert(got(0).getAs[Map[String, Long]]("attrs") == Map("k" -> 9L))
    assert(got(1).isNullAt(2) && got(1).isNullAt(5) && got(1).isNullAt(10))
  }

  test("avro round-trip preserves a real driver table (events)") {
    val events = Tables.load(spark, sf(), "events")
    val dir = tmpDir("avro_events") + "/out"
    AvroFiles.write(events, dir)
    val back = AvroFiles.read(spark, dir)
    assert(back.count() == events.count())
    val a = events.agg(sum(unix_millis(col("ts"))), sum("value")).head()
    val b = back.agg(sum(unix_millis(col("ts"))), sum("value")).head()
    assert(a == b)
  }

  test("windowed avro sink rotates one directory per event-time window (avro_file_sink.h:58-96)") {
    val events = Tables.load(spark, sf(), "events").limit(200)
    val root = tmpDir("avro_win") + "/out"
    val dayMs = 86400000L
    AvroFiles.writeWindowed(events, "ts", dayMs, root)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("window_start=")))
    // every row lands in the directory of its own window
    val total = dirs.map { d =>
      val w = d.stripPrefix("window_start=").toLong
      val part = AvroFiles.read(spark, s"$root/$d")
      val times = part.select(unix_millis(col("ts"))).collect().map(_.getLong(0))
      assert(times.forall(t => (t / dayMs) * dayMs == w), s"stray event time in $d")
      times.length
    }.sum
    assert(total == 200)
  }

  test("readSchema opens the windowed sink's own layout; NULL event times fail by name") {
    val events = Tables.load(spark, sf(), "events").limit(20)
    val root = tmpDir("avro_win_schema") + "/out"
    AvroFiles.writeWindowed(events, "ts", 86400000L, root)
    // the .avro files live one level down (window_start=<ms>/part-*.avro):
    // the library's read path must consume what its own sink writes
    // (previously: a bare "empty.minBy" UnsupportedOperationException)
    val schema = AvroFiles.readSchema(spark, root)
    assert(schema.getFields.size() == events.schema.size)
    // an empty directory still errors intelligibly
    val empty = tmpDir("avro_empty")
    val e = intercept[IllegalArgumentException](AvroFiles.readSchema(spark, empty))
    assert(e.getMessage.contains("no .avro container files"), e.getMessage)
    // one NULL event time must name the column, not NPE anonymously on an
    // executor after the full shuffle ran
    val withNull = events.withColumn("ts",
      when(col("event_id") % 5 === 0, lit(null).cast("timestamp")).otherwise(col("ts")))
    val err = intercept[org.apache.spark.SparkException](
      AvroFiles.writeWindowed(withNull, "ts", 86400000L, tmpDir("avro_null") + "/out"))
    val root2 = Option(err.getCause).map(_.toString).getOrElse("") + err.getMessage
    assert(root2.contains("NULL event time") || err.toString.contains("NULL event time"),
      s"expected the named error, got: $err")
  }

  test("read() consumes the windowed sink's nested layout and glob paths whole") {
    val events = Tables.load(spark, sf(), "events").limit(50)
    val root = tmpDir("avro_win_read") + "/out"
    AvroFiles.writeWindowed(events, "ts", 86400000L, root)
    // whole-root read: window_start=* subdirectories are recursed, not
    // listed as zero-length inputs the record reader dies opening
    assert(AvroFiles.read(spark, root).count() == 50)
    // the glob form kafka2avro documents for readers: readSchema must
    // glob-expand instead of getFileStatus-ing the literal '*'
    assert(AvroFiles.readSchema(spark, s"$root/window_start=*")
      .getFields.size() == events.schema.size)
    assert(AvroFiles.read(spark, s"$root/window_start=*").count() == 50)
    // a LITERAL path containing glob metacharacters still resolves (the
    // '[' would otherwise be parsed as a character class matching nothing)
    val lit = tmpDir("avro_lit") + "/run[2024]"
    AvroFiles.write(Tables.load(spark, sf(), "nation").limit(3), lit)
    assert(AvroFiles.readSchema(spark, lit).getFields.size() > 0)
  }

  test("writeWindowed guards __w, salts map-typed rows, and round-trips dates") {
    import spark.implicits._
    // a user '__w' column would be silently overwritten and the positional
    // window lookup would read past the row end
    val clash = Seq((1L, 2L)).toDF("__w", "ts")
    val e = intercept[IllegalArgumentException](
      AvroFiles.writeWindowed(clash, "ts", 1000L, tmpDir("avro_wclash") + "/o"))
    assert(e.getMessage.contains("__w"), e.getMessage)
    // a map column (supported by the writer) must not break the
    // filesPerWindow > 1 salt: xxhash64 rejects MapType
    val withMap = Seq(
      (new java.sql.Timestamp(1000L), Map("a" -> 1L)),
      (new java.sql.Timestamp(2000L), Map("b" -> 2L)))
      .toDF("ts", "m")
    val mroot = tmpDir("avro_wmap") + "/out"
    AvroFiles.writeWindowed(withMap, "ts", 86400000L, mroot, filesPerWindow = 2)
    val back = AvroFiles.read(spark, mroot)
    assert(back.count() == 2)
    assert(back.selectExpr("m['a']", "m['b']").collect()
      .flatMap(r => Seq(Option(r.get(0)), Option(r.get(1)))).flatten.toSet == Set(1L, 2L))
    // DateType round-trips: avro logical date <-> java.sql.Date
    val d = java.sql.Date.valueOf("2024-02-29")
    val dates = Seq((1L, d)).toDF("id", "day")
    val droot = tmpDir("avro_dates") + "/out"
    AvroFiles.write(dates, droot)
    val dback = AvroFiles.read(spark, droot).collect()
    assert(dback.head.getDate(1) == d, dback.toSeq.toString)
  }

  test("csv2avro survives inferred date columns") {
    val dir = java.nio.file.Files.createTempDirectory("csv2avro_date").toString
    val csv = new java.io.File(dir, "in.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("d,n")
    w.println("2024-01-01,1")
    w.println("2024-01-02,2")
    w.close()
    // CSV inference yields DateType — previously an
    // UnsupportedOperationException out of toAvroSchema
    graft.tools.Pipelines.csv2avro(spark, csv.getAbsolutePath, s"$dir/out")
    val back = graft.sources.AvroFiles.read(spark, s"$dir/out")
    assert(back.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(back.select("d").collect().map(_.getDate(0).toString).sorted.toSeq ==
      Seq("2024-01-01", "2024-01-02"))
  }

  test("paceBatches rejects a non-positive rate instead of sleeping ~forever") {
    // messagesPerSec = 0 used to coerce to 1 msg/s: a 10k-row batch would
    // park the driver for ~10,000 s with no error
    import graft.streaming.Throttle
    val e = intercept[IllegalArgumentException](
      Throttle.paceBatches(_ => (), messagesPerSec = 0L))
    assert(e.getMessage.contains("positive"), e.getMessage)
    intercept[IllegalArgumentException](Throttle.paceBatches(_ => (), -5L))
  }

  test("windowed avro sink's job count is O(1) in the window count (salted hot windows)") {
    // the per-window job loop it replaced serialized n_windows + 1 jobs — a
    // ~9k sequential-job driver loop for a year of hour windows at 100 TB.
    // AQE runs the repartition shuffle and the write as separate jobs, so
    // the constant is ~3; the assertion is that it stays far below the
    // window count, i.e. does not scale with it.
    val hourMs = 3600000L
    val events = Tables.load(spark, sf(), "events").limit(2000)
    val expected = events.count()
    val root = tmpDir("avro_win_1job") + "/out"
    val sc = spark.sparkContext
    sc.setJobGroup("avro_win_1job", "windowed write job count")
    try AvroFiles.writeWindowed(events, "ts", hourMs, root, filesPerWindow = 2)
    finally sc.clearJobGroup()
    // the status store is fed by an async listener: poll until it has seen
    // at least one job of the group and the count stays stable
    var jobs = Array.empty[Int]
    val deadline = System.nanoTime() + 5000000000L
    while ((jobs.isEmpty || jobs.length !=
        sc.statusTracker.getJobIdsForGroup("avro_win_1job").length) &&
        System.nanoTime() < deadline) {
      jobs = sc.statusTracker.getJobIdsForGroup("avro_win_1job")
      Thread.sleep(100)
    }
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length > 10, s"expected many hour windows, saw ${dirs.length}")
    assert(jobs.length <= 4,
      s"write ran ${jobs.length} jobs for ${dirs.length} windows — job count must not scale with windows")
    assert(dirs.forall(_.startsWith("window_start=")))
    val total = dirs.map { d =>
      val w = d.stripPrefix("window_start=").toLong
      val part = AvroFiles.read(spark, s"$root/$d")
      val times = part.select(unix_millis(col("ts"))).collect().map(_.getLong(0))
      assert(times.forall(t => (t / hourMs) * hourMs == w), s"stray event time in $d")
      times.length
    }.sum
    assert(total == expected)
  }

  test("windowed avro sink appends later runs into an existing root (periodic batch job)") {
    import spark.implicits._
    val dayMs = 86400000L
    val root = tmpDir("avro_win_append") + "/out"
    def mk(rows: (Long, String)*) = rows.toSeq.toDF("ms", "payload")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    AvroFiles.writeWindowed(mk((dayMs * 10 + 1, "a")), "ts", dayMs, root)
    // second run: same window gets more rows (job-unique file names), and a
    // new window appears — must not FileAlreadyExistsException on the root
    AvroFiles.writeWindowed(mk((dayMs * 10 + 2, "b"), (dayMs * 11 + 1, "c")), "ts", dayMs, root)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq(s"window_start=${dayMs * 10}", s"window_start=${dayMs * 11}"))
    assert(AvroFiles.read(spark, s"$root/window_start=${dayMs * 10}").count() == 2)
    assert(AvroFiles.read(spark, s"$root/window_start=${dayMs * 11}").count() == 1)
  }

  test("parquet windowed file sink writes one partition dir per window (Sinks.windowedFiles)") {
    val events = Tables.load(spark, sf(), "events").limit(100)
    val root = tmpDir("pq_win") + "/out"
    graft.sinks.Sinks.windowedFiles(events, "ts", 86400000L, root)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("window_start=")))
    val back = spark.read.parquet(root)
    assert(back.count() == 100)
    // partition pruning works on the window dir: one window reads < everything
    val one = back.filter(col("window_start") === back.select(min("window_start")).head().get(0))
    assert(one.count() > 0 && one.count() < 100)
  }

  test("visitor performs side effects per record (visitor.h:9-71)") {
    val acc = spark.sparkContext.longAccumulator("visited")
    graft.api.GStream(Tables.load(spark, sf(), "nation")).visit(_ => acc.add(1))
    assert(acc.value == 25)
  }

  test("observe metrics report processed counts (metrics.h:71-147 parity)") {
    import graft.metrics.Metrics
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = Metrics.observe(input.toDS().toDF("n"), "stage1")
      .writeStream.format("memory").queryName("obs_out").outputMode("append").start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4, 5)
      q.processAllAvailable()
      val progress = q.recentProgress
      val observed = progress.flatMap(p => Option(p.observedMetrics.get("stage1")))
        .map(_.getLong(0)).sum
      assert(observed == 5, s"observed=$observed")
      // the session's collector folds progress events, which the listener
      // bus delivers asynchronously after processAllAvailable returns:
      // wait for the second batch's event
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.{Seconds, Span}
      eventually(timeout(Span(10, Seconds))) {
        assert(ProbeTiming.queries(spark).get("obs_out").map(_("rows")).contains(5L))
        assert(ProbeTiming.observations(spark).get("stage1").map(_("processed_count")).contains(5L))
      }
    } finally q.stop()
  }

  test("observe lag accepts both event-time conventions; pushgateway encodes the job path") {
    import graft.metrics.Metrics
    import spark.implicits._
    // epoch-millis LONG is the library's own KRecord convention — observe
    // must branch on type like GStream.delay, not throw at plan time
    val longTs = Seq((1, 1700000000000L)).toDF("n", "eventTime")
    val obs1 = Metrics.observe(longTs, "lag_long", Some("eventTime"))
    assert(obs1.count() == 1)
    val tsTs = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("n", "eventTime")
    assert(Metrics.observe(tsTs, "lag_ts", Some("eventTime")).count() == 1)
    val e = intercept[IllegalArgumentException](
      Metrics.observe(longTs.withColumn("eventTime", col("eventTime").cast("string")),
        "lag_bad", Some("eventTime")))
    assert(e.getMessage.contains("TIMESTAMP or integral"), e.getMessage)
    // job names outside the simple-token set use the gateway's @base64
    // path convention: a raw "a b" threw in URI.create per push and a raw
    // "a/b" silently posted as job "a" with a dangling label segment
    import graft.metrics.Metrics.Pushgateway
    assert(Pushgateway.jobPath("curation_run-1") == "job/curation_run-1")
    val b64 = Pushgateway.jobPath("curation run/2")
    assert(b64.startsWith("job@base64/"), b64)
    assert(new String(java.util.Base64.getUrlDecoder.decode(
      b64.stripPrefix("job@base64/")), "UTF-8") == "curation run/2")
    assert(Pushgateway.jobPath("") .startsWith("job@base64/"))
  }

  test("influx escaping: a newline in a tag or string field cannot split the chunk") {
    import graft.sinks.InfluxSink
    import spark.implicits._
    val df = Seq(("e\nu", "a\nb\rc", 1700000000000000000L)).toDF("region", "msg", "ts_ns")
    val line = df.select(InfluxSink.lineProtocol(df, "cpu",
      tags = Seq("region" -> col("region")),
      fields = Seq("msg" -> col("msg")),
      timeNs = col("ts_ns")).as("line")).as[String].collect().head
    // ONE physical line: a raw newline terminates a line-protocol point,
    // so one bad value would 400 the whole <=1000-line POST
    assert(!line.contains("\n") && !line.contains("\r"), line)
    // tags: \n/\r have no spec escape — mapped to an ESCAPED space
    // (lossy, chunk-safe; an unescaped space would terminate the tag set)
    assert(line.startsWith("cpu,region=e\\ u "), line)
    // string fields: kept losslessly as the 2-char escapes \n / \r
    assert(line.contains("msg=\"a\\nb\\rc\""), line)
    // a literal backslash-n in the INPUT stays distinguishable (doubles to
    // \\n) from a real newline (escapes to \n)
    val df2 = Seq(("x", "a\\nb", 1L)).toDF("region", "msg", "ts_ns")
    val line2 = df2.select(InfluxSink.lineProtocol(df2, "cpu",
      tags = Seq("region" -> col("region")),
      fields = Seq("msg" -> col("msg")),
      timeNs = col("ts_ns")).as("line")).as[String].collect().head
    assert(line2.contains("msg=\"a\\\\nb\""), line2)
  }

  test("influx sink renders line protocol and batches posts (influx_sink.h:10-53)") {
    import graft.sinks.InfluxSink
    import spark.implicits._
    val df = Seq((1L, "eu", 0.5, 1700000000000000000L), (2L, "us", 0.7, 1700000000001000000L))
      .toDF("id", "region", "load", "ts_ns")
    val lines = df.select(InfluxSink.lineProtocol(df, "cpu",
      tags = Seq("region" -> col("region")),
      fields = Seq("load" -> col("load"), "id" -> col("id")),
      timeNs = col("ts_ns")).as("line"))
    val rendered = lines.as[String].collect().sorted
    // integer fields carry the line-protocol `i` suffix; doubles are bare
    assert(rendered.head == "cpu,region=eu load=0.5,id=1i 1700000000000000000")
    assert(rendered(1) == "cpu,region=us load=0.7,id=2i 1700000000001000000")
    val s = InfluxSink.write(lines, _ => 204)
    assert(s == graft.sinks.ElasticsearchSink.Stats(2, 0, 0))
    val s2 = InfluxSink.write(lines, _ => 500)
    assert(s2 == graft.sinks.ElasticsearchSink.Stats(0, 0, 2))

    // tag escaping, string-field quoting+escaping, and null-field omission
    val df2 = Seq(("us west,1", Some("o\"k"), 0.5, 1L), ("eu", None, 1.5, 2L))
      .toDF("region", "status", "load", "ts_ns")
    val tagged = df2.select(InfluxSink.lineProtocol(df2, "cpu",
      Seq("region" -> col("region")),
      Seq("status" -> col("status"), "load" -> col("load")), col("ts_ns")).as("line"))
    val out = tagged.as[String].collect().sorted
    assert(out.contains("cpu,region=us\\ west\\,1 status=\"o\\\"k\",load=0.5 1"), out.mkString("|"))
    assert(out.contains("cpu,region=eu load=1.5 2"), out.mkString("|")) // null field omitted

    // an all-null-fields row renders a null line: counted as a client error
    // in the SAME pass that posts the valid lines (no second action)
    val df3 = Seq((Option(0.5), 1L), (Option.empty[Double], 2L)).toDF("load", "ts_ns")
    val lines3 = df3.select(InfluxSink.lineProtocol(df3, "m", Seq.empty,
      Seq("load" -> col("load")), col("ts_ns")).as("line"))
    val s3 = InfluxSink.write(lines3, _ => 204)
    assert(s3 == graft.sinks.ElasticsearchSink.Stats(1, 1, 0))
  }

  test("streaming windowed file sink appends one partition dir per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val root = tmpDir("pq_win_stream")
    val df = input.toDF().toDF("ms", "payload")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val q = graft.sinks.Sinks.windowedFileStream(df, "ts", 86400000L,
        s"$root/out", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    input.addData((86400000L * 100 + 5, "a"), (86400000L * 100 + 9, "b"), (86400000L * 101 + 1, "c"))
    val run = q.start(); run.awaitTermination()
    val dirs = new java.io.File(s"$root/out").listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("window_start=")).sorted
    assert(dirs.length == 2, dirs.mkString(","))
    val back = spark.read.parquet(s"$root/out")
    assert(back.count() == 3)
  }

  test("kafka source start positions map to the reference's offset modes (kafka_source.h:106-131)") {
    import graft.sources.KafkaSource
    assert(KafkaSource.Beginning.options == Map("startingOffsets" -> "earliest"))
    assert(KafkaSource.End.options == Map("startingOffsets" -> "latest"))
    assert(KafkaSource.Stored.options.isEmpty) // offsets come from the checkpoint
    assert(KafkaSource.AtTimestamp(1234L).options == Map("startingTimestamp" -> "1234"))
  }

  test("ES bulk payload: index + delete actions, id from key, metrics by status class") {
    import spark.implicits._
    val batch = Seq(
      (1L, Some("alpha"), 10L),
      (2L, Some("beta"), 20L),
      (3L, None, 30L) // tombstone → delete
    ).toDF("k", "payload", "v")

    val cmds = ElasticsearchSink.bulkCommands(batch, "idx", "k", Some("payload"))
      .as[String].collect().sorted
    assert(cmds.exists(c => c.startsWith("{\"index\":{\"_index\":\"idx\",\"_id\":\"1\"}}\n")
      && c.contains("\"payload\":\"alpha\"") && c.contains("\"v\":10")))
    assert(cmds.contains("{\"delete\":{\"_index\":\"idx\",\"_id\":\"3\"}}"))

    // fake transports: every chunk succeeds / 4xx / 5xx
    import ElasticsearchSink.HttpResult
    val s1 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"),
      _ => HttpResult(200), maxDocsPerBulk = 2)
    assert(s1 == ElasticsearchSink.Stats(3, 0, 0))
    val s2 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), _ => HttpResult(404))
    assert(s2 == ElasticsearchSink.Stats(0, 3, 0))
    val s3 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), _ => HttpResult(503))
    assert(s3 == ElasticsearchSink.Stats(0, 0, 3))

    // chunking: maxDocsPerBulk=1 → one POST per doc, all still counted
    val s4 = ElasticsearchSink.write(batch.repartition(1), "idx", "k", Some("payload"),
      p => { assert(p.endsWith("\n") && !p.dropRight(1).isEmpty); HttpResult(200) },
      maxDocsPerBulk = 1)
    assert(s4.ok == 3)

    // ids with JSON metacharacters stay valid (escaped by to_json)
    val weird = Seq(("a\"b\\c", Some("x"), 1L)).toDF("k", "payload", "v")
    val wc = ElasticsearchSink.bulkCommands(weird, "idx", "k", Some("payload"))
      .as[String].collect().head
    assert(wc.startsWith("{\"index\":{\"_index\":\"idx\",\"_id\":\"a\\\"b\\\\c\"}}\n"), wc)

    // a NULL id raises: to_json would drop the field and ES would
    // auto-generate an id, silently breaking idempotent upsert/delete
    val nullId = Seq((Option.empty[String], Option("x"), 1L)).toDF("k", "payload", "v")
    val e = intercept[Exception](ElasticsearchSink
      .bulkCommands(nullId, "idx", "k", Some("payload")).as[String].collect())
    assert(exceptionChain(e).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL k")), s"got: ${e.getMessage}")

    // ES reports per-item failures INSIDE a 200 answer ("errors":true) —
    // a status-only count would book failed docs as ok (silent data loss)
    val itemBody =
      """{"took":5,"errors":true,"items":[
        |{"index":{"_index":"idx","_id":"1","status":201}},
        |{"index":{"_index":"idx","_id":"2","status":429}},
        |{"index":{"_index":"idx","_id":"3","status":400}}]}""".stripMargin
    // 400 is a permanent client error; 429 (es_rejected_execution) is the
    // transient rejection, classified with 5xx so the retry loop sees it
    assert(ElasticsearchSink.bulkItemErrors(itemBody) == (1L, 1L))
    val sItems = ElasticsearchSink.write(batch.repartition(1), "idx", "k", Some("payload"),
      _ => HttpResult(200, itemBody), maxDocsPerBulk = 10)
    assert(sItems == ElasticsearchSink.Stats(1, 1, 1),
      s"per-item failures must not count as ok: $sItems")
    // a 5xx ITEM (es_rejected_execution) in a 2xx answer retries the whole
    // chunk — idempotent _id actions make the replay safe
    val rejected =
      """{"errors":true,"items":[{"index":{"_id":"1","status":503}}]}"""
    var calls = 0
    val sRetry = ElasticsearchSink.write(batch.repartition(1), "idx", "k", Some("payload"),
      { _ => calls += 1; if (calls < 2) HttpResult(200, rejected)
             else HttpResult(200, """{"errors":false,"items":[]}""") },
      maxDocsPerBulk = 10, maxRetries = 2, backoffMs = 1)
    assert(sRetry == ElasticsearchSink.Stats(3, 0, 0, retries = 1), s"$sRetry")
    // no-errors fast path parses nothing
    assert(ElasticsearchSink.bulkItemErrors("""{"took":1,"errors":false}""") == (0L, 0L))
  }

  test("ES sink bounded 5xx retry with backoff against a loopback server (elasticsearch_producer.h:17-120)") {
    import spark.implicits._
    // 0 = fail twice then succeed; any other value = always answer that status
    val forced = new java.util.concurrent.atomic.AtomicInteger(0)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", { ex =>
      val n = attempts.incrementAndGet()
      ex.getRequestBody.readAllBytes()
      val status = if (forced.get() != 0) forced.get() else if (n <= 2) 503 else 200
      ex.sendResponseHeaders(status, -1); ex.close()
    })
    server.start()
    try {
      val batch = Seq((1L, Some("a"), 1L), (2L, Some("b"), 2L)).toDF("k", "payload", "v")
        .repartition(1) // one chunk → deterministic retry sequence
      val transport = ElasticsearchSink.httpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}")

      // transient 5xx: two retries, then the chunk lands as a success
      val s = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), transport,
        maxDocsPerBulk = 10, maxRetries = 3, backoffMs = 1)
      assert(s == ElasticsearchSink.Stats(2, 0, 0, retries = 2))
      assert(attempts.get() == 3)

      // permanent 5xx: the retry loop is BOUNDED — maxRetries attempts, then
      // the chunk counts as server errors
      forced.set(503); attempts.set(0)
      val s2 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), transport,
        maxDocsPerBulk = 10, maxRetries = 2, backoffMs = 1)
      assert(s2 == ElasticsearchSink.Stats(0, 0, 2, retries = 2))
      assert(attempts.get() == 3) // 1 initial + 2 retries

      // 4xx is never retried — the payload will not get better
      forced.set(404); attempts.set(0)
      val s3 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), transport,
        maxDocsPerBulk = 10, maxRetries = 3, backoffMs = 1)
      assert(s3 == ElasticsearchSink.Stats(0, 2, 0, retries = 0))
      assert(attempts.get() == 1)

      // transport-level failure (connection refused) rides the same bounded
      // retry loop as a 5xx instead of failing the Spark task
      val dead = ElasticsearchSink.httpTransport("http://127.0.0.1:1")
      val s4 = ElasticsearchSink.write(batch, "idx", "k", Some("payload"), dead,
        maxDocsPerBulk = 10, maxRetries = 1, backoffMs = 1)
      assert(s4 == ElasticsearchSink.Stats(0, 0, 2, retries = 1))
    } finally server.stop(0)
  }
}

/** tools/csv2avro parity: header CSV → avro container files with the
  * reference's column-name normalization.
  */
class PipelinesSpec extends SparkSpec {
  test("csv2avro normalizes headers and round-trips values") {
    assert(graft.tools.Pipelines.normalizeName("First Name") == "first_name")
    assert(graft.tools.Pipelines.normalizeName("Price ($)") == "price_")
    assert(graft.tools.Pipelines.normalizeName("OK_col9") == "ok_col9")
    // avro name legality: ASCII only, no leading digit, never empty
    assert(graft.tools.Pipelines.normalizeName("Café") == "caf")
    assert(graft.tools.Pipelines.normalizeName("9code") == "_9code")
    assert(graft.tools.Pipelines.normalizeName("€€") == "_")

    val dir = java.nio.file.Files.createTempDirectory("csv2avro").toString
    val csv = new java.io.File(dir, "in.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("First Name,Age,City Code")
    w.println("ada,36,LDN")
    w.println("grace,45,NYC")
    w.close()

    graft.tools.Pipelines.csv2avro(spark, csv.getAbsolutePath, s"$dir/out")
    val back = graft.sources.AvroFiles.read(spark, s"$dir/out")
    assert(back.columns.toSeq == Seq("first_name", "age", "city_code"))
    val rows = back.orderBy("first_name").collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getString(2))).toSeq
    assert(rows == Seq(("ada", "36", "LDN"), ("grace", "45", "NYC")))
  }
}

/** Pushgateway reporter: reference metric naming in the text exposition
  * format, POSTed to the job path — checked against a loopback gateway —
  * and the push of everything the session's collector holds.
  */
class PushgatewaySpec extends SparkSpec {
  import graft.metrics.Metrics.Pushgateway

  test("push renders query, observation and stage series from the collector") {
    import spark.implicits._
    val id = System.nanoTime()
    val (tag, query, obs) = (s"push_stage_$id", s"push_query_$id", s"push_obs_$id")
    spark // the session must be active before the tagged call
    ProbeTiming(tag)(spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect())
    val dir = Queries.scratchDir("graft_push").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, ts), (2L, ts), (3L, ts)).toDF("n", "ts").write.parquet(s"$dir/in")
    val stream = spark.readStream.schema("n LONG, ts TIMESTAMP").parquet(s"$dir/in")
    val q = graft.metrics.Metrics.observe(stream, obs, Some("ts")).writeStream
      .format("noop").queryName(query).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.awaitTermination()
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    eventually(timeout(Span(10, Seconds)))(assert(ProbeTiming.queries(spark).contains(query)))
    ProbeTiming.awaitQuiet(spark)
    var payload = ""
    assert(Pushgateway.push(spark, p => { payload = p; 202 }) == 202)
    val lines = payload.linesIterator.toSeq
    assert(lines.contains(s"""kspp_processed{mtype="counter",unit="msg",query="$query"} 3"""), payload)
    assert(lines.contains(s"""kspp_processed{mtype="counter",unit="msg",observation="$obs"} 3"""), payload)
    assert(lines.exists(_.startsWith(s"""kspp_lag{mtype="gauge",unit="ms",observation="$obs"} """)), payload)
    val shuffle = lines.find(_.startsWith(
      s"""kspp_stage_shuffle_write{mtype="counter",unit="bytes",stage="$tag"} """))
    assert(shuffle.exists(_.split(' ').last.toLong > 0), payload)
  }

  test("render uses the reference naming: kspp_ prefix, mtype/unit labels") {
    val text = Pushgateway.render(Seq(
      Pushgateway.Metric("processed", "counter", "msg", Map("topic" -> "events"), 42.0),
      Pushgateway.Metric("lag", "gauge", "ms", Map("partition" -> "0"), 12.5)))
    assert(text ==
      "kspp_processed{mtype=\"counter\",unit=\"msg\",topic=\"events\"} 42\n" +
      "kspp_lag{mtype=\"gauge\",unit=\"ms\",partition=\"0\"} 12.5\n")
  }

  test("render speaks the exposition grammar: Inf/NaN spellings, invalid names raise") {
    // Java's Double.toString(∞) is "Infinity" — the gateway's float parser
    // rejects it and 400s the WHOLE push; the format's own spellings work
    val text = Pushgateway.render(Seq(
      Pushgateway.Metric("lag", "gauge", "ms", Map.empty, Double.PositiveInfinity),
      Pushgateway.Metric("skew", "gauge", "ms", Map.empty, Double.NegativeInfinity),
      Pushgateway.Metric("ratio", "gauge", "x", Map.empty, Double.NaN)))
    assert(text ==
      "kspp_lag{mtype=\"gauge\",unit=\"ms\"} +Inf\n" +
      "kspp_skew{mtype=\"gauge\",unit=\"ms\"} -Inf\n" +
      "kspp_ratio{mtype=\"gauge\",unit=\"x\"} NaN\n")
    // invalid metric/label NAMES 400 the whole push at the gateway — raise
    // at render time naming the offender (label VALUES stay free-form)
    val e1 = intercept[IllegalArgumentException](Pushgateway.render(Seq(
      Pushgateway.Metric("bad name", "counter", "msg", Map.empty, 1.0))))
    assert(e1.getMessage.contains("bad name"))
    val e2 = intercept[IllegalArgumentException](Pushgateway.render(Seq(
      Pushgateway.Metric("ok", "counter", "msg", Map("bad-key" -> "v"), 1.0))))
    assert(e2.getMessage.contains("bad-key"))
    // recording-rule colons are legal in METRIC names, not label names;
    // free-form label values pass untouched
    val ok = Pushgateway.render(Seq(
      Pushgateway.Metric("job:rate", "gauge", "x", Map("q" -> "has spaces/and:colons"), 1.0)))
    assert(ok.contains("kspp_job:rate{"))
    assert(ok.contains("q=\"has spaces/and:colons\""))
  }

  test("httpTransport posts to /metrics/job/<job> with the exposition payload") {
    val received = new java.util.concurrent.atomic.AtomicReference[(String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", { ex =>
      received.set((ex.getRequestURI.getPath,
        new String(ex.getRequestBody.readAllBytes(), "UTF-8")))
      ex.sendResponseHeaders(200, 0); ex.close()
    })
    server.start()
    try {
      val transport = Pushgateway.httpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}", job = "graft_test")
      val status = transport(Pushgateway.render(Seq(
        Pushgateway.Metric("processed", "counter", "msg", Map.empty, 7.0))))
      assert(status == 200)
      val (path, body) = received.get()
      assert(path == "/metrics/job/graft_test")
      assert(body == "kspp_processed{mtype=\"counter\",unit=\"msg\"} 7\n")
    } finally server.stop(0)
  }
}
