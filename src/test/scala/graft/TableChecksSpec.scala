package graft

import org.apache.spark.sql.SparkSession

import graft.ext.{ConcurrentActions, StateLease, TableChecks}

/** The round-11 streaming-overhead machinery has load-bearing semantics of
  * its own: TableChecks trades per-batch crashed-swap scans for per-stream ones
  * (so its memoization rules ARE the safety argument) and ConcurrentActions
  * must never swallow a failure or lose the caller's active session.
  */
class TableChecksSpec extends SparkSpec {

  test("exists memoizes TRUE only: FALSE re-checks until markExists") {
    val t = "tchk_exists"
    dropTableHard(t)
    val c = new TableChecks
    assert(!c.exists(spark, t))
    // a FALSE answer must not stick: the table appearing later (this
    // stream's own first append, recorded via markExists — or the
    // re-check seeing it) must flip the answer
    assert(!c.exists(spark, t))
    import spark.implicits._
    try {
      Seq(1L).toDF("id").write.format("parquet").saveAsTable(t)
      assert(c.exists(spark, t), "re-check must see the new table")
      // TRUE memoizes: a (buggy) external drop is NOT re-noticed — state
      // tables are created once and never dropped mid-stream by contract
      dropTableHard(t)
      assert(c.exists(spark, t), "TRUE answers are memoized for the stream")
      // a fresh instance (new stream / new JVM) re-checks from scratch
      assert(!new TableChecks().exists(spark, t))
    } finally dropTableHard(t)
  }

  test("markExists short-circuits the catalog round-trip") {
    val c = new TableChecks
    val t = "tchk_marked_never_created"
    dropTableHard(t)
    c.markExists(t)
    // no catalog call happens: the memo answers (the increment just
    // created the table itself — asking Derby again is the cost this
    // class exists to remove)
    assert(c.exists(spark, t))
  }

  test("ensureWritable: crashed-swap recovery once per table, lease check every call") {
    val t = "tchk_writable"
    dropTableHard(t); dropTableHard(t + "__compact")
    import spark.implicits._
    try {
      // crashed-swap state: data lives only under __compact
      Seq(1L).toDF("id").write.format("parquet").saveAsTable(t + "__compact")
      val c = new TableChecks
      c.ensureWritable(spark, t)
      assert(spark.catalog.tableExists(t) && !spark.catalog.tableExists(t + "__compact"),
        "first ensureWritable must finish the crashed swap")
      // a lease taken AFTER the first check stops the very next call: the
      // increments' appends are the data, so no batch may pass on the memo
      StateLease.acquire(spark, t, "external compaction")
      try intercept[IllegalStateException](c.ensureWritable(spark, t))
      finally StateLease.release(spark, t)
      // later calls must not re-run the crashed-swap scan: plant a fresh
      // __compact table and confirm it is NOT swapped — proving only the
      // cheap lease probe re-ran
      Seq(2L).toDF("id").write.format("parquet").saveAsTable(t + "__compact")
      (1 to 7).foreach(_ => c.ensureWritable(spark, t))
      assert(spark.catalog.tableExists(t + "__compact"),
        "revalidation must be lease-only — the crashed-swap scan is per-stream")
      dropTableHard(t + "__compact")
      // a FRESH instance (new stream / restarted JVM) re-asserts and must
      // fail loudly while the lease is held
      StateLease.acquire(spark, t, "external compaction")
      try intercept[IllegalStateException](new TableChecks().ensureWritable(spark, t))
      finally StateLease.release(spark, t)
    } finally { dropTableHard(t); dropTableHard(t + "__compact") }
  }

  test("ConcurrentActions runs all actions, propagates the caller's session, rethrows failures") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sessions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    SparkSession.setActiveSession(spark)
    ConcurrentActions.run(Seq(
      () => { ran.add(1); SparkSession.getActiveSession.foreach(s => sessions.add(s.toString)); () },
      () => { ran.add(2); SparkSession.getActiveSession.foreach(s => sessions.add(s.toString)); () },
      () => { ran.add(3); () }))
    assert(ran.size == 3)
    assert(sessions.size == 1, "worker threads must see the caller's active session")
    // one failing action: the others still complete (a replayed batch must
    // not observe a half-run set hidden by an early abort), then rethrow
    val survivors = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[RuntimeException](ConcurrentActions.run(Seq(
      () => { survivors.add(1); () },
      () => throw new RuntimeException("injected"),
      () => { survivors.add(3); () })))
    assert(e.getMessage == "injected")
    assert(survivors.size == 2, "sibling actions must finish before the rethrow")
    // the single-action fast path runs on the caller thread
    val thread = new java.util.concurrent.atomic.AtomicReference[Thread]()
    ConcurrentActions.run(Seq(() => { thread.set(Thread.currentThread()); () }))
    assert(thread.get() eq Thread.currentThread())
    // TWO failures: one is thrown, the other arrives as suppressed — a
    // replayed batch where both writes failed must not debug on half the
    // evidence
    val e2 = intercept[RuntimeException](ConcurrentActions.run(Seq(
      () => throw new RuntimeException("first"),
      () => throw new RuntimeException("second"))))
    val msgs = (e2.getMessage +: e2.getSuppressed.map(_.getMessage).toSeq).toSet
    assert(msgs == Set("first", "second"),
      s"both concurrent failures must surface: $msgs")
  }
}
