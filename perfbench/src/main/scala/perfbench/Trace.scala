package perfbench

import java.lang.{Long => JLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call into a layer's public function. */
final case class Span(id: Long, name: String, parent: Long, opId: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Counters folded from listener events for one span (or for untagged work). */
final class Acc {
  val jobs, stages, tasks, gcMs, shuffleWrite, spill, inputRows, inputBytes, planMs = new LongAdder
  private def all = Seq(jobs, stages, tasks, gcMs, shuffleWrite, spill, inputRows, inputBytes, planMs)
  def addTo(other: Acc): Unit = all.zip(other.all).foreach { case (a, b) => b.add(a.sum) }
}

/** Spans around the benchmark's own calls into the engine, plus the
  * listeners that attribute Spark's work to them.
  *
  * Before each call [[span]] sets the local property [[SpanProp]] on the
  * calling thread; every job that call submits carries it in
  * `SparkListenerJobStart.properties` (streaming micro-batch threads
  * inherit it from the thread that started the query). Jobs the library
  * submits from its own pooled threads carry no property; since the
  * benchmark runs one client, [[finish]] attributes each of them to the
  * innermost span open at its submission time, and counts them apart.
  * Jobs that fall in no span stay `untagged`, never dropped. Spans and
  * counters stay in memory and are written out when the run ends. A
  * disabled tracer registers nothing and only runs the bodies.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val accs = new ConcurrentHashMap[JLong, Acc]()
  private val stageKey = new ConcurrentHashMap[Integer, JLong]()
  private val execKey = new ConcurrentHashMap[JLong, JLong]()
  /** Untagged work awaiting window attribution: accumulator key -> time (ms). */
  private val pending = new ConcurrentHashMap[JLong, JLong]()
  private val nextPending = new AtomicLong(Untagged)
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobsStarted, jobsEnded = new AtomicLong(0)
  private val lastEventNs = new AtomicLong(System.nanoTime())
  @volatile private var storagePeak = 0L
  @volatile private var cachingPeak = 0
  private var windowJobs, untaggedJobs = 0L

  private def acc(key: Long): Acc = accs.computeIfAbsent(key, _ => new Acc)

  /** A fresh accumulator for untagged work done at `timeMs`. */
  private def pendingKey(timeMs: Long): Long = {
    val k = nextPending.decrementAndGet()
    pending.put(k, timeMs)
    k
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs.set(System.nanoTime())
      jobsStarted.incrementAndGet()
      val props = Option(e.properties)
      val key: Long = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .getOrElse(pendingKey(e.time))
      val a = acc(key)
      a.jobs.increment()
      a.stages.add(e.stageInfos.size)
      e.stageInfos.foreach(si => stageKey.put(si.stageId, key))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(ex => execKey.putIfAbsent(ex.toLong, key))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      val a = acc(Option(stageKey.get(e.stageId)).map(_.longValue).getOrElse(Untagged))
      a.tasks.increment()
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) taskIntervals.add((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.gcMs.add(m.jvmGCTime)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputRows.add(m.inputMetrics.recordsRead)
        a.inputBytes.add(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def fold(qe: QueryExecution, durationNs: Long): Unit = {
      lastEventNs.set(System.nanoTime())
      val ms = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      val key: Long = Option(execKey.get(qe.id)).map(_.longValue)
        .getOrElse(pendingKey(System.currentTimeMillis() - durationNs / 2000000))
      acc(key).planMs.add(ms)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = fold(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = fold(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventNs.set(System.nanoTime())
      progress.add(e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Runs `body` as one call into layer function `name`. */
  def span[A](name: String, opId: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      val id = nextId.incrementAndGet()
      sc.setLocalProperty(SpanProp, id.toString)
      val s = System.nanoTime(); val sMs = System.currentTimeMillis()
      try body
      finally {
        val e = System.nanoTime(); val eMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanProp, prev)
        spans.synchronized {
          spans += Span(id, name, Option(prev).map(_.toLong).getOrElse(0L), opId, s, e, sMs, eMs)
        }
        sampleStorage()
      }
    }

  /** Records a span whose bounds were observed after the fact (a streaming
    * micro-batch, from its progress report).
    */
  def record(name: String, opId: Long, startMs: Long, endMs: Long): Unit = if (enabled) spans.synchronized {
    spans += Span(nextId.incrementAndGet(), name, Recorded, opId, startMs * 1000000L, endMs * 1000000L,
      startMs, endMs)
  }

  private def sampleStorage(): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    storagePeak = math.max(storagePeak, used)
    cachingPeak = math.max(cachingPeak, graft.Caching.registered(spark))
  }

  /** Waits until every submitted job has ended and the listener buses have
    * been quiet for a moment, detaches the listeners, then attributes the
    * untagged work by time window.
    */
  def finish(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobsEnded.get < jobsStarted.get || System.nanoTime() - lastEventNs.get < 500000000L))
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val called = allSpans.filter(_.parent != Recorded)
    pending.asScala.foreach { case (k, t) =>
      val a = accs.remove(k)
      if (a != null) {
        val open = called.filter(s => s.startMs <= t && t <= s.endMs)
        val target = if (open.isEmpty) Untagged else open.maxBy(_.startNs).id
        a.addTo(acc(target))
        val jobs = a.jobs.sum
        if (target == Untagged) untaggedJobs += jobs else windowJobs += jobs
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toList
  def accOf(span: Long): Option[Acc] = Option(accs.get(span))
  def storagePeakBytes: Long = storagePeak
  def cachingRegisteredPeak: Int = cachingPeak
  def totalJobs: Long = accs.values.asScala.map(_.jobs.sum).sum
  /** Jobs attributed by time window, and jobs left untagged. */
  def windowTaggedJobs: Long = windowJobs
  def untaggedJobCount: Long = untaggedJobs

  /** Descendants of `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = allSpans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  /** Wall time of `s` during which no task of any job ran. */
  def driverOnlyMs(s: Span): Double = {
    val ivs = taskIntervals.asScala.iterator
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.wallMs - covered)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val Untagged = -1L
  /** `parent` of spans recorded after the fact, which own no untagged work. */
  val Recorded = -2L
}
