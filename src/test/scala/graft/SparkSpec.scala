package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** DROP TABLE plus its warehouse location — a failed previous test run
    * can leave an orphan location dir that blocks the next run's CREATE.
    */
  def dropTableHard(name: String): Unit =
    graft.sinks.Sinks.dropTableAndLocation(spark, name)

  /** `body`'s result and how many Spark jobs it submitted from this thread
    * (and from threads it started). The status store is fed by an
    * asynchronous listener queue, so a marker job in its own group runs
    * after `body`: once the store has seen the marker, it has seen every
    * job submitted before it.
    */
  def jobsRunBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs_${System.nanoTime()}"
    sc.setJobGroup(group, "job count")
    val out = try body finally sc.clearJobGroup()
    val marker = group + "_marker"
    sc.setJobGroup(marker, "listener marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "the status store never saw the marker job")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}

object SparkSpec {
  /** Specs run with codegen fallback off: a generated class that fails to
    * compile fails the spec instead of running the plan interpreted with
    * green results. Production sessions keep Spark's default fallback.
    */
  lazy val session: SparkSession = {
    val s = GraftSession.local("graft-test", "4")
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }
}
