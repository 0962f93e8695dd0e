package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced region. Every workload reports every
  * metric; a layer the workload never calls reads 0. "Per call" divides by
  * the workload's operations (the spans named in `Workload.opSpans`).
  */
object Layers {

  def metrics(tr: Tracer, opNames: Set[String], m: Measured, gcMs: Long, cpuS: Double,
              overhead: Double): Seq[(String, (Double, String))] = {
    val spans = tr.allSpans
    val ops = spans.filter(s => opNames.contains(s.name))
    val n = math.max(1, ops.size).toDouble
    // counters of the operations and the streaming query that runs them;
    // set-up, warm-up and baseline spans are attributed but not counted
    val accs = spans.filter(s => opNames(s.name) || s.name == "streaming.query")
      .flatMap(tr.subtree).distinct.flatMap(s => tr.accOf(s.id))
    def sum(f: Acc => Long): Double = accs.map(f).sum.toDouble
    def named(name: String) = spans.filter(_.name == name)
    /** Per call of the spans named `prefix...`, with their descendants. */
    def under(prefix: String)(f: Acc => Long): Double = {
      val ss = spans.filter(_.name.startsWith(prefix))
      if (ss.isEmpty) 0.0
      else ss.flatMap(tr.subtree).distinct.flatMap(s => tr.accOf(s.id)).map(f).sum.toDouble / ss.size
    }
    def medWallS(name: String): Double = {
      val ss = named(name)
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.wallMs / 1000))
    }
    val prog = tr.progresses.filter(_.numInputRows > 0)
    def progMed(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (prog.isEmpty) 0.0 else Stats.median(prog.map(f))
    def dur(key: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(
        p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      p.stateOperators.map(f).sum
    val lastState = tr.progresses.filter(_.stateOperators.nonEmpty).lastOption
    val planMs = sum(_.planMs.sum) / n
    val tagged = tr.totalJobs - tr.untaggedJobCount
    val x = m.extras.withDefaultValue(0.0)

    Seq(
      "GraftSession.plan_ms" -> (planMs, "ms"),
      "GraftSession.jobs" -> (sum(_.jobs.sum) / n, "count"),
      "GraftSession.stages" -> (sum(_.stages.sum) / n, "count"),
      "GraftSession.tasks" -> (sum(_.tasks.sum) / n, "count"),
      "GraftSession.driver_ms" -> (ops.map(tr.driverOnlyMs).sum / n, "ms"),
      "sources.input_rows" -> ((sum(_.inputRows.sum) + tr.progresses.map(_.numInputRows).sum) / n, "count"),
      "sources.input_bytes" -> (sum(_.inputBytes.sum) / n, "bytes"),
      "sources.latest_offset_ms" -> (progMed(dur("latestOffset")), "ms"),
      "sources.get_batch_ms" -> (progMed(dur("getBatch")), "ms"),
      "streaming.add_batch_ms" -> (progMed(dur("addBatch")), "ms"),
      "streaming.wal_commit_ms" -> (progMed(dur("walCommit")), "ms"),
      "streaming.query_planning_ms" -> (progMed(dur("queryPlanning")), "ms"),
      "streaming.state_rows" -> (lastState.map(state(_.numRowsTotal.toDouble)).getOrElse(0.0), "count"),
      "streaming.state_mem_bytes" -> (lastState.map(state(_.memoryUsedBytes.toDouble)).getOrElse(0.0), "bytes"),
      "streaming.state_commit_ms" -> (progMed(state(_.commitTimeMs.toDouble)), "ms"),
      "streaming.state_update_ms" -> (progMed(state(_.allUpdatesTimeMs.toDouble)), "ms"),
      "streaming.rows_per_batch" -> (progMed(_.numInputRows.toDouble), "count"),
      "streaming.backlog_rows" -> (x("backlog_rows"), "count"),
      "streaming.gen_late_ms" -> (x("gen_late_ms"), "ms"),
      "streaming.drain_1task_eps" -> (x("drain_1task_eps"), "1/s"),
      "ops.exec_ms" -> (math.max(0.0, ops.map(_.wallMs).sum / n - planMs), "ms"),
      "ops.shuffle_write_bytes" -> (sum(_.shuffleWrite.sum) / n, "bytes"),
      "ops.spill_bytes" -> (sum(_.spill.sum) / n, "bytes"),
      "ext.curation.increment_s" -> (medWallS("ext.curation.increment"), "s"),
      "ext.curation.jobs" -> (under("ext.curation.increment")(_.jobs.sum), "count"),
      "ext.curation.shuffle_bytes" -> (under("ext.curation.increment")(_.shuffleWrite.sum), "bytes"),
      "ext.curation.spill_bytes" -> (under("ext.curation.increment")(_.spill.sum), "bytes"),
      "ext.curation.gc_ms" -> (under("ext.curation.increment")(_.gcMs.sum), "ms"),
      "ext.curation.state_bytes" -> (x("curation_state_bytes"), "bytes"),
      "ext.curation.state_files" -> (x("curation_state_files"), "count"),
      "ext.curation.holdout_s" -> (medWallS("ext.curation.holdout"), "s"),
      "ext.vector.append_s" -> (medWallS("ext.vector.append"), "s"),
      "ext.vector.compact_s" -> (medWallS("ext.vector.compact"), "s"),
      "ext.vector.query_s" -> (medWallS("ext.vector.query"), "s"),
      "ext.vector.jobs" -> (under("ext.vector.")(_.jobs.sum), "count"),
      "ext.vector.shuffle_bytes" -> (under("ext.vector.")(_.shuffleWrite.sum), "bytes"),
      "ext.vector.index_bytes" -> (x("vector_index_bytes"), "bytes"),
      "ext.vector.index_files" -> (x("vector_index_files"), "count"),
      "ext.vector.recall_at10" -> (x("recall_at10"), "share"),
      "Caching.storage_peak_bytes" -> (tr.storagePeakBytes.toDouble, "bytes"),
      "Caching.registered" -> (tr.cachingRegisteredPeak.toDouble, "count"),
      "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
      "jvm.cpu_s" -> (cpuS, "s"),
      "trace.jobs" -> (tr.totalJobs.toDouble, "count"),
      "trace.window_tagged_jobs" -> (tr.windowTaggedJobs.toDouble, "count"),
      "trace.untagged_jobs" -> (tr.untaggedJobCount.toDouble, "count"),
      "trace.tagged_job_share" -> (if (tr.totalJobs == 0) 1.0 else tagged.toDouble / tr.totalJobs, "share"),
      "trace.overhead_share" -> (overhead, "share"))
  }
}
