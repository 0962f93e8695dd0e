package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.{SparkContext, SparkFirehoseListener}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Always-on stage-cost attribution for the library's named stages.
  *
  * `ProbeTiming(name)(body)` sets the SparkContext local property
  * [[StageProp]] to `name` while `body` runs and restores the previous
  * value after, so every job `body` submits carries the tag. Local
  * properties are inherited by threads created while they are set, so
  * jobs that `body` submits from [[graft.ext.ConcurrentActions]] threads
  * land on the same tag. A nested tag takes its own jobs; the outer tag's
  * wall time includes the inner one's. With no active session the body
  * runs untagged.
  *
  * One Spark listener per SparkContext, registered by
  * [[GraftSession.tune]] or else on the first tagged call, folds each
  * tag's jobs and task metrics; [[costs]] reads the running
  * totals, named as in [[Fields]]. A stage takes the tag of the job that
  * submits it, and its stage→tag entry lives from submission to
  * completion, so a long-running stream keeps bounded memory. A task that
  * ends after its stage completed (a killed speculative copy) is not
  * counted.
  *
  * The same listener folds streaming progress, which Spark posts on the
  * same bus: per query, input rows and micro-batches ([[queries]]); per
  * [[graft.metrics.Metrics.observe]] name, the summed `processed_count`
  * and the latest `max_lag_ms` ([[observations]]). A session that
  * [[GraftSession.tune]] set up counts every query from its first batch.
  * [[graft.metrics.Metrics.Pushgateway.push]] exports all three views.
  *
  * Listener events arrive asynchronously: a reader that needs a tag's job
  * and task counts complete calls [[awaitQuiet]] first, or wraps the work
  * in [[measure]]. Wall times are recorded on the calling thread and are
  * complete when `body` returns.
  */
object ProbeTiming {
  val StageProp = "graft.stage"

  /** Per tag: driver wall time of its bodies, the jobs they submitted, and
    * those jobs' tasks, executor run and GC time, shuffle bytes and memory +
    * disk spill bytes. Each name maps to its unit.
    */
  val Fields: ListMap[String, String] = ListMap("wall_ns" -> "ns", "jobs" -> "jobs", "tasks" -> "tasks",
    "run_ms" -> "ms", "gc_ms" -> "ms", "shuffle_read" -> "bytes", "shuffle_write" -> "bytes", "spill" -> "bytes")

  /** A `max_lag_ms` no progress event has reported yet. */
  private val NoLag = Long.MinValue

  private[graft] final class Collector(sc: SparkContext) extends SparkFirehoseListener {
    // per tag its Fields; per query rows and batches; per observation the
    // summed processed_count and the latest max_lag_ms
    val tags, queries, observations = new ConcurrentHashMap[String, AtomicLongArray]()
    val stageTag = new ConcurrentHashMap[Integer, String]()
    val lastEventNs = new AtomicLong(System.nanoTime())

    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(StageProp)))

    /** Adds `values`, in [[Fields]] order, to `tag`'s totals. */
    def add(tag: String, values: Long*): Unit = {
      val a = tags.computeIfAbsent(tag, _ => new AtomicLongArray(Fields.size))
      values.zipWithIndex.foreach { case (v, i) => a.addAndGet(i, v) }
    }

    override def onEvent(event: SparkListenerEvent): Unit = {
      // a running stream posts its own events for as long as it runs: they
      // carry no job cost and do not count as bus activity
      if (!event.isInstanceOf[StreamingQueryListener.Event]) lastEventNs.set(System.nanoTime())
      event match {
        case e: StreamingQueryListener.QueryProgressEvent =>
          val p = e.progress
          val q = queries.computeIfAbsent(Option(p.name).getOrElse(p.id.toString), _ => new AtomicLongArray(2))
          q.addAndGet(0, p.numInputRows)
          q.incrementAndGet(1)
          p.observedMetrics.asScala.foreach { case (name, row) =>
            val fields = row.schema.fieldNames
            if (fields.contains("processed_count")) {
              val o = observations.computeIfAbsent(name, _ => new AtomicLongArray(Array(0L, NoLag)))
              o.addAndGet(0, row.getAs[Long]("processed_count"))
              if (fields.contains("max_lag_ms") && !row.isNullAt(row.fieldIndex("max_lag_ms")))
                o.set(1, row.getAs[Long]("max_lag_ms"))
            }
          }
        case e: SparkListenerJobStart => tagOf(e.properties).foreach(add(_, 0, 1))
        case e: SparkListenerStageSubmitted =>
          tagOf(e.properties).foreach(stageTag.put(e.stageInfo.stageId, _))
        case e: SparkListenerStageCompleted => stageTag.remove(e.stageInfo.stageId)
        case e: SparkListenerTaskEnd => Option(stageTag.get(e.stageId)).foreach { tag =>
          val m = e.taskMetrics
          if (m == null) add(tag, 0, 0, 1)
          else add(tag, 0, 0, 1, m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        case _: SparkListenerApplicationEnd => collectors.remove(sc)
        case _ =>
      }
    }
  }

  private val collectors = new ConcurrentHashMap[SparkContext, Collector]()

  /** `sc`'s collector, registered on first use. */
  private[graft] def collector(sc: SparkContext): Collector =
    collectors.computeIfAbsent(sc, _ => new Collector(sc).tap(sc.addSparkListener))

  def apply[T](name: String)(body: => T): T =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped).fold(body) { sc =>
      val c = collector(sc)
      val prev = sc.getLocalProperty(StageProp)
      sc.setLocalProperty(StageProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        c.add(name, System.nanoTime() - t0)
        sc.setLocalProperty(StageProp, prev)
      }
    }

  /** Every tag's totals on `spark`'s context since its first tagged call,
    * by tag and then by [[Fields]] name, in that order.
    */
  def costs(spark: SparkSession): Map[String, ListMap[String, Long]] =
    read(spark)(_.tags, Fields.keys.toSeq)

  /** `body`'s result and the per-tag counters it moved: every tag whose
    * [[costs]] changed while it ran, by the change. Waits for the bus to go
    * quiet ([[awaitQuiet]]) before reading, so job and task counts are
    * complete for every job `body` ran.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Map[String, ListMap[String, Long]]) = {
    val before = costs(spark)
    val out = body
    awaitQuiet(spark)
    out -> costs(spark).map { case (tag, c) =>
      tag -> c.map { case (k, v) => k -> (v - before.get(tag).fold(0L)(_(k))) }
    }.filter(_._2.values.exists(_ != 0))
  }

  /** Per streaming query name (its id when unnamed): input `rows` and
    * micro-`batches` since the collector was registered.
    */
  def queries(spark: SparkSession): Map[String, ListMap[String, Long]] =
    read(spark)(_.queries, Seq("rows", "batches"))

  /** Per [[graft.metrics.Metrics.observe]] name: the summed
    * `processed_count` and, once a batch has reported one, the latest
    * `max_lag_ms`.
    */
  def observations(spark: SparkSession): Map[String, ListMap[String, Long]] =
    read(spark)(_.observations, Seq("processed_count", "max_lag_ms"))
      .map { case (name, o) => name -> o.filter(_._2 != NoLag) }

  private def read(spark: SparkSession)(of: Collector => ConcurrentHashMap[String, AtomicLongArray],
                                        names: Seq[String]): Map[String, ListMap[String, Long]] =
    Option(collectors.get(spark.sparkContext)).fold(Map.empty[String, ListMap[String, Long]]) {
      of(_).asScala.map { case (k, a) => k -> names.zipWithIndex.map { case (n, i) => n -> a.get(i) }.to(ListMap) }.toMap
    }

  /** Waits, up to 10 s, until no listener event other than a streaming
    * query's own has arrived for half a second. Spark posts a job's end
    * event before the job's caller returns, so once the bus is quiet
    * [[costs]] holds the job and task counts of every job that has returned.
    */
  def awaitQuiet(spark: SparkSession): Unit =
    Option(collectors.get(spark.sparkContext)).foreach { c =>
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() < deadline && System.nanoTime() - c.lastEventNs.get < 500000000L)
        Thread.sleep(50)
    }

  /** Stages currently mapped to a tag (0 once every tagged stage has completed). */
  private[graft] def openStages(spark: SparkSession): Int =
    Option(collectors.get(spark.sparkContext)).fold(0)(_.stageTag.size)
}
