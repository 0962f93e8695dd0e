package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.model.KRecord
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.JoinEmit

/** One generated changelog record: a probe event (`probe`, value = a unique
  * probe id, None = a null probe) or a table event (value = an id that
  * encodes its key, None = a tombstone).
  */
final case class ChangeRec(key: Long, value: Option[Long], eventTime: Long, probe: Boolean)

/** kspp's example2-join topology: a keyed probe stream left-joined against
  * a changelog table, `StatefulOps.streamTableJoinChangelog(events,
  * tableLog, LeftJoin)`, fed from one `MemoryStream`.
  *
  * Phase 1 is open loop: a generator thread adds one chunk every
  * [[PeriodMs]] whatever the engine does, and each chunk's latency runs
  * from its due time to the commit of the micro-batch that reads it.
  * Phase 2 is closed loop: it drains pre-generated backlogs of
  * [[BacklogEvents]] events, one at a time.
  */
final class ChangelogStream extends Workload {
  import ChangelogStream._

  private var spark: SparkSession = _
  /** Output-check results of the timed regions so far. */
  private val verdicts = mutable.ArrayBuffer.empty[(String, Option[String])]
  private var queries = 0
  private var chunks: Array[Array[ChangeRec]] = _
  private var backlogs: Array[Array[ChangeRec]] = _
  private var warm: Array[Array[ChangeRec]] = _
  private var warmChunks: Array[Array[ChangeRec]] = _

  val opSpans = Set("streaming.batch")

  def setup(ctx: Ctx): Seq[(String, Any)] = {
    spark = ctx.spark
    val g = new Generator(ctx.rng(1))
    val nChunks = math.ceil(ctx.seconds * 1000 / PeriodMs).toInt
    chunks = Array.fill(nChunks)(g.batch(ChunkEvents))
    backlogs = Array.fill(Drains)(g.batch(BacklogEvents))
    warmChunks = Array.fill(math.ceil(WarmSeconds * 1000 / PeriodMs).toInt)(g.batch(ChunkEvents))
    warm = Array.fill(3)(g.batch(ChunkEvents * 20)) :+ g.batch(BacklogEvents)
    Seq("keys" -> Keys, "zipf_s" -> ZipfS, "top_key_share" -> g.zipf.topShare,
      "tombstone_share" -> g.tombstoneShare, "out_of_order_share" -> g.lateShare,
      "null_probe_share" -> g.nullProbeShare, "probe_to_table" -> g.probeToTable,
      "chunk_events" -> ChunkEvents, "rate_eps" -> ChunkEvents * 1000.0 / PeriodMs,
      "open_loop_chunks" -> nChunks, "warm_open_loop_s" -> WarmSeconds,
      "backlog_events" -> BacklogEvents, "drains" -> Drains)
  }

  private final case class Running(stream: MemoryStream[ChangeRec], query: StreamingQuery,
                                   sink: ConcurrentHashMap[Long, Array[JoinEmit[Long, Long, Long]]],
                                   log: ProgressLog) {
    /** Stops the query and returns every progress report it made. */
    def stop(): Seq[StreamingQueryProgress] = {
      query.stop()
      try {
        if (!log.terminated.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("no termination event within 60 s")
        log.reports.asScala.toSeq
      } finally spark.streams.removeListener(log)
    }
  }

  /** Starts the join on a fresh source and checkpoint; the sink keeps each
    * batch's emissions by batch id, so a replayed batch is counted once.
    */
  private def start(ctx: Ctx, name: String, partitions: Option[Int], tr: Tracer,
                    span: String = "streaming.query"): Running = {
    val session = spark; import session.implicits._
    val ms = MemoryStream[ChangeRec](spark, partitions.getOrElse(spark.sparkContext.defaultParallelism))
    val all = ms.toDS()
    def side(probe: Boolean): Dataset[KRecord[Long, Long]] =
      all.filter(col("probe") === probe).select("key", "value", "eventTime").as[KRecord[Long, Long]]
    val joined = StatefulOps.streamTableJoinChangelog(side(probe = true), side(probe = false),
      StatefulOps.LeftJoin)
    val seen = new ConcurrentHashMap[Long, Array[JoinEmit[Long, Long, Long]]]()
    val q = tr.span(span) {
      joined.writeStream.outputMode("update")
        .option("checkpointLocation", ctx.dir(s"ckpt_${name}_$queries").toString)
        .foreachBatch { (ds: Dataset[JoinEmit[Long, Long, Long]], id: Long) =>
          seen.put(id, ds.collect())
          ()
        }.start()
    }
    queries += 1
    // registered before any data is added, so it sees every batch
    val log = new ProgressLog(q.runId)
    spark.streams.addListener(log)
    Running(ms, q, seen, log)
  }

  /** Open loop: one generator thread adds chunk i at `i * PeriodMs` after
    * the start, whatever the engine does. Returns each chunk's end offset,
    * due time (epoch ms) and the generator's lateness (ms).
    */
  private def openLoop(r: Running, cs: Array[Array[ChangeRec]]): (Array[Long], Array[Long], Array[Double]) = {
    val offsets = new Array[Long](cs.length)
    val dueMs = new Array[Long](cs.length)
    val lateMs = new Array[Double](cs.length)
    val t0Ns = System.nanoTime(); val t0Ms = System.currentTimeMillis()
    val gen = new Thread(() => {
      var i = 0
      while (i < cs.length) {
        val dueNs = t0Ns + (i * PeriodMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        lateMs(i) = (now - dueNs) / 1e6
        dueMs(i) = t0Ms + (i * PeriodMs).toLong
        offsets(i) = r.stream.addData(cs(i).toSeq).json().toLong
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    (offsets, dueMs, lateMs)
  }

  def measure(ctx: Ctx, tr: Tracer): Measured = {
    val failures = mutable.ArrayBuffer.empty[String]
    val r = start(ctx, "timed", None, tr)
    // warm-up on the same query, untimed: small batches, an open-loop
    // phase at the timed rate (first region only: it warms the JVM, not
    // the query), then one backlog
    warm.init.foreach { c => r.stream.addData(c.toSeq); r.query.processAllAvailable() }
    if (queries == 1) openLoop(r, warmChunks)
    r.stream.addData(warm.last.toSeq); r.query.processAllAvailable()
    r.sink.clear()

    // phase 1: open loop
    ctx.timedStart()
    val (offsets, dueMs, lateMs) = openLoop(r, chunks)
    Main.attempt(failures, "open-loop catch-up")(r.query.processAllAvailable())

    // phase 2: closed-loop drains of fixed backlogs
    val drainEps = backlogs.toSeq.flatMap { b =>
      val t = System.nanoTime()
      if (Main.attempt(failures, "drain") { r.stream.addData(b.toSeq); r.query.processAllAvailable() })
        Some(b.length / ((System.nanoTime() - t) / 1e9))
      else None
    }
    r.query.exception.foreach(e => failures += s"stream: ${Main.describe(e)}")
    val progress = r.stop()
    // checked as soon as the region ends, so its emissions need not be kept
    verdicts ++= checkRegion(s"region ${verdicts.size / 2}", r.sink.values.asScala.flatten.toSeq,
      (chunks ++ backlogs).iterator.flatten.filter(_.probe).flatMap(_.value).toSet)
    r.sink.clear()

    // each chunk's latency: its due time to the commit of the first batch
    // whose end offset covers it
    val commits = progress.filter(_.numInputRows > 0).flatMap { p =>
      val end = Option(p.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      end.map(e => (e, startMs + p.durationMs.get("triggerExecution").longValue, startMs))
    }.sortBy(_._1)
    val latencies = chunks.indices.flatMap { i =>
      commits.find(_._1 >= offsets(i)).map { case (_, c, _) => (c - dueMs(i)).toDouble }
    }
    if (latencies.size < chunks.length) failures += s"latency: ${chunks.length - latencies.size} chunks without a committed batch"
    // open-loop rows added but not yet read when each batch committed
    val backlog = commits.map { case (end, c, _) =>
      chunks.indices.count(i => offsets(i) > end && dueMs(i) <= c) * ChunkEvents
    }
    commits.foreach { case (end, c, st) => tr.record("streaming.batch", end, st, c) }
    val oneTask = if (tr.enabled) drainOneTask(ctx, tr) else 0.0
    Measured(latencies, Stats.median(drainEps), commits.size.toLong + drainEps.size, failures.toSeq,
      Map("backlog_rows" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "gen_late_ms" -> lateMs.max, "drain_1task_eps" -> oneTask,
        "drain_eps_runs" -> drainEps.size.toDouble))
  }

  /** The single-thread baseline: the drain phase again on a one-partition
    * source and a one-partition state store, so every stage runs one task.
    */
  private def drainOneTask(ctx: Ctx, tr: Tracer): Double = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val r = try start(ctx, "onetask", Some(1), tr, span = "baseline.drain_1task")
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try {
      r.stream.addData(warm(1).toSeq); r.query.processAllAvailable()
      val eps = backlogs.toSeq.map { b =>
        val t = System.nanoTime()
        r.stream.addData(b.toSeq); r.query.processAllAvailable()
        b.length / ((System.nanoTime() - t) / 1e9)
      }
      Stats.median(eps)
    } finally r.stop()
  }

  def check(ctx: Ctx): Seq[(String, Option[String])] = verdicts.toSeq

  /** Every non-null probe is emitted exactly once and every joined table
    * value belongs to the probe's key.
    */
  private def checkRegion(region: String, rows: Seq[JoinEmit[Long, Long, Long]],
                         expected: Set[Long]): Seq[(String, Option[String])] = {
    val counts = mutable.HashMap.empty[Long, Int]
    rows.foreach(e => e.left.foreach(v => counts(v) = counts.getOrElse(v, 0) + 1))
    val missing = expected.count(p => !counts.contains(p))
    val dup = counts.count(_._2 > 1)
    val stray = counts.keys.count(p => !expected.contains(p))
    val nullEmits = rows.count(_.left.isEmpty)
    val wrongKey = rows.count(e => e.right.exists(v => v / ValueScale != e.key))
    Seq(
      s"$region: probes emitted exactly once" -> Option.when(missing + dup + stray + nullEmits > 0)(
        s"$missing missing, $dup duplicated, $stray unexpected, $nullEmits null-probe emissions " +
          s"of ${expected.size} probes"),
      s"$region: table values belong to their key" -> Option.when(wrongKey > 0)(
        s"$wrongKey of ${rows.size} emissions carry another key's table value"))
  }
}

object ChangelogStream {
  /** Every progress report of one query run. `recentProgress` keeps only
    * the last 100, fewer than a run makes.
    */
  private final class ProgressLog(runId: UUID) extends StreamingQueryListener {
    val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    /** Released by the run's termination event, which the listener bus
      * delivers after all of its progress reports.
      */
    val terminated = new CountDownLatch(1)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.runId == runId) reports.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.runId == runId) terminated.countDown()
  }

  val Keys = 50000
  val ZipfS = 1.1
  val PeriodMs = 5.0
  /** Length of the untimed open-loop warm-up, so the JIT has settled. */
  val WarmSeconds = 10.0
  val ChunkEvents = 25
  val BacklogEvents = 50000
  val Drains = 5
  val TombstoneShare = 0.05
  val OutOfOrderShare = 0.10
  val NullProbeShare = 0.02
  /** Table values are `key * ValueScale + n`, so a value names its key. */
  val ValueScale = 1000000L

  private final class Tally { var events, tombstones, late, nullProbes, probes, table = 0L }

  /** Keyed changelog events: Zipf keys, 3 probes per table event, ~5 %
    * table tombstones, ~10 % event times pushed back out of order.
    */
  final class Generator(r: Rng) {
    val zipf = new Zipf(Keys, ZipfS)
    private val t = new Tally
    private var clock = 1700000000000L
    private var probeId = 0L
    def batch(n: Int): Array[ChangeRec] = Array.fill(n) {
      val key = zipf.sample(r).toLong
      clock += 1
      val late = r.nextDouble() < OutOfOrderShare
      val et = if (late) clock - 1 - r.nextInt(5000) else clock
      val probe = r.nextInt(4) != 0
      t.events += 1
      if (late) t.late += 1
      if (probe) {
        t.probes += 1
        probeId += 1
        if (r.nextDouble() < NullProbeShare) { t.nullProbes += 1; ChangeRec(key, None, et, probe = true) }
        else ChangeRec(key, Some(probeId), et, probe = true)
      } else {
        t.table += 1
        if (r.nextDouble() < TombstoneShare) { t.tombstones += 1; ChangeRec(key, None, et, probe = false) }
        else ChangeRec(key, Some(key * ValueScale + r.nextInt(ValueScale.toInt)), et, probe = false)
      }
    }
    private def ratio(a: Long, b: Long): Double = a.toDouble / math.max(1L, b)
    def tombstoneShare: Double = ratio(t.tombstones, t.table)
    def nullProbeShare: Double = ratio(t.nullProbes, t.probes)
    def lateShare: Double = ratio(t.late, t.events)
    def probeToTable: Double = ratio(t.probes, t.table)
  }
}
