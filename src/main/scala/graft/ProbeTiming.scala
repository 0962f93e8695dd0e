package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.{SparkContext, SparkFirehoseListener}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

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
  * One Spark listener per SparkContext, registered on the first call,
  * folds each tag's jobs and task metrics; [[costs]] reads the running
  * totals, named as in [[Fields]]. A stage takes the tag of the job that
  * submits it, and its stage→tag entry lives from submission to
  * completion, so a long-running stream keeps bounded memory. A task that
  * ends after its stage completed (a killed speculative copy) is not
  * counted.
  *
  * Listener events arrive asynchronously: a reader that needs a tag's job
  * and task counts complete calls [[awaitQuiet]] first. Wall times are
  * recorded on the calling thread and are complete when `body` returns.
  */
object ProbeTiming {
  val StageProp = "graft.stage"

  /** Per tag: driver wall time of its bodies, the jobs they submitted, and
    * those jobs' tasks, executor run and GC time, shuffle bytes and memory +
    * disk spill bytes.
    */
  val Fields: Seq[String] =
    Seq("wall_ns", "jobs", "tasks", "run_ms", "gc_ms", "shuffle_read", "shuffle_write", "spill")

  private final class Collector(sc: SparkContext) extends SparkFirehoseListener {
    val tags = new ConcurrentHashMap[String, AtomicLongArray]()
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
      lastEventNs.set(System.nanoTime())
      event match {
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

  def apply[T](name: String)(body: => T): T =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped).fold(body) { sc =>
      val c = collectors.computeIfAbsent(sc, _ => new Collector(sc).tap(sc.addSparkListener))
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
    Option(collectors.get(spark.sparkContext)).fold(Map.empty[String, ListMap[String, Long]]) {
      _.tags.asScala.map { case (tag, a) => tag -> Fields.indices.map(i => Fields(i) -> a.get(i)).to(ListMap) }.toMap
    }

  /** Waits, up to 10 s, until no listener event has arrived for half a
    * second. Spark posts a job's end event before the job's caller returns,
    * so once the bus is quiet [[costs]] holds the job and task counts of
    * every job that has returned.
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
