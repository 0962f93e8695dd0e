package graft.ext

import org.apache.spark.sql.SparkSession

/** Per-stream memo of the state-table maintenance checks every increment
  * entry point runs ([[StateLease.assertFree]], [[Dedup.finishCrashedSwap]],
  * `tableExists`).
  *
  * Before round 11 each micro-batch re-ran all of them — ~10 metastore/
  * filesystem round-trips per increment that answer the same question the
  * previous batch already answered. A fresh instance per STREAM (what
  * [[CurationPipeline.runStream]], [[Dedup.minHashLshStream]] etc. create at
  * stream open) runs each check once and memoizes:
  *
  *  - `ensureWritable` runs the FULL check (lease free + no crashed
  *    compaction swap) once per table per stream, then RE-validates the
  *    lease — one filesystem existence probe, the cheap half — on every
  *    call. The crashed-swap scan is genuinely a stream-open concern (a
  *    swap crashed before this stream started; a compaction crashing
  *    MID-stream strands its lease, which the revalidation catches), but
  *    the lease is not: the increments' appends ARE the data, so an
  *    out-of-process compaction acquiring the lease mid-stream must stop
  *    the very next increment. The in-process `compactEvery` hooks acquire
  *    and release the lease themselves between batches, so a revalidation
  *    after one passes — no invalidation handshake needed. A new JVM makes
  *    a new instance, so crash recovery (`finishCrashedSwap`) still runs
  *    on restart.
  *  - `exists` memoizes TRUE only (state tables are created once and never
  *    dropped mid-stream; FALSE re-checks until the first append creates
  *    the table, which the increment records via `markExists`).
  *
  * The default argument on every increment entry point is a FRESH instance,
  * so a standalone (non-stream) increment call behaves exactly as before.
  */
final class TableChecks(val cacheRegistryMapping: Boolean = false) {
  // tables whose full check has run; the lease re-checks on every call
  private val checked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val known = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // ---- cross-increment registry-mapping cache (opt-in, streams only) ----
  //
  // [[Dedup.clusterIncrement]]'s per-batch cc_init re-read of the registry
  // latest-per-doc subtree was 1.4-1.5 s of every increment's wall time (r12
  // probe) that re-answers what the previous increment already knew. With
  // `cacheRegistryMapping = true` (set by the STREAM entry points, which
  // guarantee sequential batch ids on one instance), the increment keeps the
  // full latest (doc_id, cluster_id) mapping as materialized, lineage-
  // truncated blocks and maintains it incrementally from each batch's own
  // new assignments — no table read after the first batch. `validFor` is the
  // ONE batch id allowed to consume the entry: a replayed or skipped batch
  // misses and falls back to the table read (which is always correct), so
  // the cache can never serve a mapping containing the replaying batch's
  // own half-committed rows.
  private var regMapping: Option[(Long, org.apache.spark.sql.DataFrame, () => Unit)] = None

  /** The cached full latest mapping, iff valid for exactly `batchId`. */
  def registryMapping(batchId: Long): Option[org.apache.spark.sql.DataFrame] =
    synchronized { regMapping.collect { case (v, df, _) if v == batchId => df } }

  /** Swap in a new mapping valid for batch `validFor` with its block
    * releaser, freeing the old entry.
    */
  def setRegistryMapping(validFor: Long, df: org.apache.spark.sql.DataFrame,
                         free: () => Unit): Unit =
    synchronized {
      regMapping.foreach(_._3())
      regMapping = Some((validFor, df, free))
    }

  /** Drop the cache (compaction rewrote the tables the lineage reads; or
    * session-level cleanup via [[graft.Caching]]). Idempotent.
    */
  def invalidateRegistryMapping(): Unit = synchronized {
    regMapping.foreach(_._3())
    regMapping = None
  }

  private val releaseHooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** True when no hook is currently armed — gates the session-release
    * cleanup registration so a long stream keeps AT MOST ONE live hook,
    * not one per batch. The hook must call [[rearmReleaseHook]] when it
    * fires: `Caching.release` CONSUMES registered cleanups, so without
    * re-arming, every mapping cached after a mid-stream release would
    * leak its blocks for the session's lifetime.
    */
  def markReleaseHooked(): Boolean = releaseHooked.compareAndSet(false, true)

  /** The armed hook ran (and was consumed by the release) — allow the next
    * [[setRegistryMapping]] to register a fresh one.
    */
  def rearmReleaseHook(): Unit = releaseHooked.set(false)

  /** Full check (lease free + crashed swap finished) on first call per
    * table; lease-only revalidation on every call after.
    */
  def ensureWritable(spark: SparkSession, table: String): Unit = {
    StateLease.assertFree(spark, table)
    if (!checked.contains(table)) {
      Dedup.finishCrashedSwap(spark, table)
      checked.add(table)
    }
    ()
  }

  /** Memoized `tableExists` — caches TRUE only. */
  def exists(spark: SparkSession, table: String): Boolean =
    known.contains(table) || {
      val e = spark.catalog.tableExists(table)
      if (e) known.add(table)
      e
    }

  /** Record that an append/overwrite just created `table`. */
  def markExists(table: String): Unit = { known.add(table); () }
}

object TableChecks {

  /** The `foreachBatch` wiring of every streaming increment entry point:
    * `increment(batch, id, checks)` on each micro-batch with one `checks`
    * memo for the whole stream, then `compact(spark, id)` after every
    * `compactEvery`-th batch (never after batch 0; 0 = the caller manages
    * compaction).
    */
  private[graft] def foreachBatch(input: org.apache.spark.sql.DataFrame, compactEvery: Int,
                                  checks: TableChecks = new TableChecks)(
      increment: (org.apache.spark.sql.DataFrame, Long, TableChecks) => Unit)(
      compact: (SparkSession, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    input.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        increment(batch.toDF(), id, checks)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0) compact(batch.sparkSession, id)
    }
}

/** Shared input guards for the operator layer — ONE copy of each check so
  * the allowlists and remediation wording cannot drift between operators.
  */
private[graft] object Guards {

  /** A non-integral id silently casts to NULL under non-ANSI SQL (or hashes
    * to one constant bucket), corrupting instead of failing — every
    * operator that long-casts or hashes an id calls this first.
    */
  def requireIntegralId(df: org.apache.spark.sql.DataFrame, idCol: String,
                        context: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$context needs integral ids; '$idCol' is $dt — map ids to longs " +
        "(dictionary join / dense rank) first")
  }

  /** A NULL id is poison for every groupBy-then-join-back and anti-join
    * operator: NULL groups aggregate fine but NULL = NULL never matches, so
    * the row's true result is silently discarded (mis-scored docs) or the
    * row silently ESCAPES a drop decision (a contaminated NULL-id train doc
    * passing decontamination). Raise per row instead (the Sampling/Sketches
    * round-12 stance) — use as the id projection inside the operator.
    */
  def idOrRaise(df: org.apache.spark.sql.DataFrame, idCol: String,
                context: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    when(col(idCol).isNull, raise_error(lit(
      s"$context: NULL $idCol — null ids cannot be matched back through " +
        "joins; drop or re-key null-id rows first")).cast(df.schema(idCol).dataType))
      .otherwise(col(idCol))
  }
}

/** Driver-side fan-out of independent actions (writes to DISTINCT targets
  * whose plans read only already-materialized inputs — persisted batch
  * subtrees or files written before the call). Spark's scheduler runs jobs
  * from concurrent driver threads freely; on a micro-batch this converts a
  * sum of per-action fixed costs into their max. Any failure rethrows after
  * all actions finish (a replayed batch must not observe a half-run set
  * that a swallowed error hid).
  */
private[graft] object ConcurrentActions {

  /** Start ONE action on its own daemon thread and return its join: the
    * join blocks until the action finished and rethrows its failure. For
    * overlapping a single independent write with driver-side compute that
    * runs BETWEEN two points (start where its inputs are defined, join
    * before anything it must not run concurrently with — e.g. another
    * saveAsTable). The caller owns calling the join on EVERY path,
    * including failure paths: an unjoined thread writing a state table
    * could still be running when a failed batch replays, racing the
    * replay's own write to the same table.
    */
  def startOne(action: () => Unit): () => Unit = {
    val active = SparkSession.getActiveSession
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() => {
      active.foreach(SparkSession.setActiveSession)
      try action() catch { case e: Throwable => err.set(e) }
    })
    t.setDaemon(true)
    t.start()
    () => {
      t.join()
      val e = err.get()
      if (e != null) throw e
    }
  }

  def run(actions: Seq[() => Unit]): Unit = {
    // a fresh thread has no thread-local active session; propagate the
    // caller's so any code consulting SparkSession.getActiveSession (conf
    // resolution, codegen artifacts) sees the right one
    val active = SparkSession.getActiveSession
    if (actions.lengthCompare(1) <= 0) actions.foreach(_.apply())
    else {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = actions.map { a =>
        val t = new Thread(() => {
          active.foreach(SparkSession.setActiveSession)
          try a() catch { case e: Throwable => errs.add(e) }
        })
        t.setDaemon(true)
        t.start()
        t
      }
      threads.foreach(_.join())
      if (!errs.isEmpty) {
        // rethrow the first failure with every OTHER concurrent failure
        // attached as suppressed — when two writes fail together the
        // second may be the root cause, and dropping it debugs a replayed
        // batch with half the evidence
        val it = errs.iterator()
        val first = it.next()
        while (it.hasNext) first.addSuppressed(it.next())
        throw first
      }
    }
  }
}
