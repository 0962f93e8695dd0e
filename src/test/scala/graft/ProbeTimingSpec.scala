package graft

import org.apache.spark.sql.functions._

/** The always-on [[ProbeTiming]] collector: jobs, tasks and shuffle bytes
  * land on the tag that was set when the job was submitted, and every
  * streaming query's progress lands on its name.
  */
class ProbeTimingSpec extends SparkSpec {

  // ProbeTiming tags through the active session: create it before the
  // first tagged body, which would otherwise run untagged
  override def beforeAll(): Unit = { super.beforeAll(); spark; () }

  /** A tag no other suite in the JVM uses, so its totals are this test's. */
  private def fresh(name: String): String = s"spec_${name}_${System.nanoTime()}"

  private def cost(tag: String): Map[String, Long] = {
    ProbeTiming.awaitQuiet(spark)
    ProbeTiming.costs(spark).getOrElse(tag, Map.empty[String, Long]).withDefaultValue(0L)
  }

  test("a tagged shuffle reports shuffle bytes, a tagged narrow collect none") {
    val (wide, narrow) = (fresh("wide"), fresh("narrow"))
    ProbeTiming(wide)(spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect())
    ProbeTiming(narrow)(spark.range(0, 1000, 1, 4).filter(col("id") % 7 === 0).collect())
    val (w, n) = (cost(wide), cost(narrow))
    assert(w("jobs") >= 1 && w("tasks") >= 1, w)
    assert(w("shuffle_write") > 0 && w("shuffle_read") > 0, w)
    assert(n("jobs") >= 1 && n("tasks") >= 1, n)
    assert(n("shuffle_write") == 0 && n("shuffle_read") == 0, n)
    assert(w("wall_ns") > 0 && n("wall_ns") > 0)
  }

  test("jobs submitted from ConcurrentActions threads land on the caller's tag") {
    val tag = fresh("concurrent")
    val sc = spark.sparkContext
    ProbeTiming(tag)(graft.ext.ConcurrentActions.run(Seq(
      () => { sc.parallelize(1 to 10, 2).count(); () },
      () => { sc.parallelize(1 to 10, 2).count(); () })))
    val c = cost(tag)
    assert(c("jobs") == 2 && c("tasks") == 4, c)
  }

  test("after a nested tag returns, jobs land on the outer tag again") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    val sc = spark.sparkContext
    ProbeTiming(outer) {
      sc.parallelize(1 to 10, 2).count()
      ProbeTiming(inner)(sc.parallelize(1 to 10, 3).count())
      sc.parallelize(1 to 10, 2).count()
    }
    assert(sc.getLocalProperty(ProbeTiming.StageProp) == null)
    val (o, i) = (cost(outer), cost(inner))
    assert(o("jobs") == 2 && o("tasks") == 4, o)
    assert(i("jobs") == 1 && i("tasks") == 3, i)
    assert(o("wall_ns") >= i("wall_ns"))
  }

  test("the stage-to-tag map is empty once the tagged jobs have ended") {
    val tag = fresh("bounded")
    ProbeTiming(tag)((1 to 3).foreach(_ =>
      spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().collect()))
    val c = cost(tag)
    assert(c("jobs") >= 3 && c("tasks") >= 3, c)
    assert(ProbeTiming.openStages(spark) == 0)
  }

  test("a stream's rows and batches reach the collector with no install step") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = fresh("stream")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = input.toDS().writeStream.format("noop").queryName(name).start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4, 5)
      q.processAllAvailable()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.{Seconds, Span}
      eventually(timeout(Span(10, Seconds))) {
        assert(ProbeTiming.queries(spark).get(name).contains(Map("rows" -> 5L, "batches" -> 2L)))
      }
    } finally q.stop()
  }

  test("measure returns within 2 s while a running stream keeps posting events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val posted = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { posted.incrementAndGet(); () }
      override def onQueryIdle(e: QueryIdleEvent): Unit = { posted.incrementAndGet(); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // an idle stream reports every 50 ms instead of every 10 s
    val intervalKey = "spark.sql.streaming.noDataProgressEventInterval"
    spark.conf.set(intervalKey, "50ms")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = try input.toDS().writeStream.format("noop").queryName(fresh("idle")).start()
      finally spark.conf.unset(intervalKey)
    spark.streams.addListener(counter)
    try {
      input.addData(1)
      q.processAllAvailable()
      val tag = fresh("measure")
      val posted0 = posted.get
      val t0 = System.nanoTime()
      val (n, moved) = ProbeTiming.measure(spark)(
        ProbeTiming(tag)(spark.sparkContext.parallelize(1 to 10, 2).count()))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(q.isActive && posted.get > posted0, s"the stream posted ${posted.get - posted0} events")
      assert(secs < 2.0, s"measure took $secs s")
      assert(n == 10 && moved(tag)("jobs") == 1 && moved(tag)("tasks") == 2, moved)
    } finally { spark.streams.removeListener(counter); q.stop() }
  }
}
