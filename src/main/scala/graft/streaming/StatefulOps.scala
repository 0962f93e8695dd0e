package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.functions.GraftFunctions
import graft.model.KRecord

/** The reference's stateful operators with kspp-exact semantics, built on
  * Structured Streaming's keyed state (`flatMapGroupsWithState`). These are
  * the pieces Spark's built-ins genuinely can't express:
  *
  *  - event-time LWW upsert with tombstone deletes (mem_store.h:64-83 —
  *    `dropDuplicates` keeps first-seen, kspp keeps max-event-time);
  *  - expiry tombstones when windowed state is GC'd
  *    (mem_windowed_store.h:89-101);
  *  - per-key token buckets (mem_token_bucket_store.h:24-57);
  *  - delayed release (delay.h:36-53);
  *  - punctuate-interval snapshot emission for counters (count.h:92-101).
  *
  * State lives in Spark's state store (RocksDB-backed in production via
  * `spark.sql.streaming.stateStore.providerClass`), partitioned by key —
  * the direct analog of the reference's per-partition state stores, but
  * rescalable and checkpointed.
  *
  * Every operator groups by the record's `key` column through one helper,
  * [[byKey]], not by a typed `groupByKey(_.key)`: no row is deserialized
  * to read its key and no key is copied into each shuffled row, and the
  * two changelog joins build their [[SideRec]] union from column
  * expressions ([[sides]]). The state key schema is the one `groupByKey`
  * wrote, in type and nullability (only a flat key's column name changed,
  * `value` → `key`), so checkpoints written before this grouping restart
  * on it with the same hash partitioning.
  *
  * All of these also run on a *batch* Dataset (Spark executes
  * flatMapGroupsWithState in batch mode with per-group iterators), which is
  * how the golden tests drive them deterministically.
  *
  * Memory contract at scale: each operator sorts ONE KEY's slice of ONE
  * micro-batch by event time (`it.toSeq.sortBy`), so a key's per-trigger
  * arrivals must fit in executor memory — bounded by trigger sizing, never
  * by the stream's lifetime (cross-batch state is one Cell/Bucket/Counter
  * per key). The reference holds the same slice in its per-partition event
  * queue (event_consumer.h); a pathologically hot key is capacity-planned
  * the same way there. The contract is ENFORCEABLE (round 15): arm the
  * opt-in session conf `spark.graft.streaming.maxSliceRows` and a key
  * whose single-trigger slice exceeds it raises a named error instead of
  * driving the executor into an opaque OOM — see [[maxSliceRows]].
  */
object StatefulOps {

  /** Session conf arming the per-(key, trigger) buffered-row guard. */
  val MaxSliceRowsConf = "spark.graft.streaming.maxSliceRows"

  /** The ONE reader of the OPT-IN [[MaxSliceRowsConf]] guard: the
    * per-(key, trigger) buffer the header's memory contract describes,
    * and the same bound on the per-id set merge of the streaming MinHash
    * verify ([[graft.ext.Dedup]]) and the exact-dedup group of
    * [[graft.ext.CurationPipeline.streamIncrement]]. Read once at operator
    * CONSTRUCTION (driver side — executors cannot consult the session) and
    * captured in the closure or plan; absent conf = unarmed (None). A
    * malformed or non-positive value raises naming the conf — a guard
    * that silently disarmed is worse than none.
    */
  private[graft] def maxSliceRows(spark: SparkSession): Option[Int] =
    spark.conf.getOption(MaxSliceRowsConf).map { v =>
      val n = v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$MaxSliceRowsConf must be a positive int, got '$v'"))
      require(n > 0, s"$MaxSliceRowsConf must be positive, got $n")
      n
    }

  /** Buffer one key's trigger slice under the opt-in cap: the 100x-keys
    * surge degrades to a stream failure NAMING the key, the cap, and the
    * remediations, at the moment the cap is crossed (nothing larger is
    * ever materialized).
    */
  private def bufferSlice[T](key: Any, it: Iterator[T], capOpt: Option[Int]): Seq[T] =
    capOpt.fold(it.toSeq) { cap =>
      val buf = new scala.collection.mutable.ArrayBuffer[T]()
      while (it.hasNext) {
        buf += it.next()
        if (buf.length > cap)
          throw new IllegalStateException(
            s"graft.streaming: key '$key' received more than $cap rows in one " +
              s"trigger ($MaxSliceRowsConf) — the per-key slice sorts in " +
              "executor memory (StatefulOps memory contract); shrink the " +
              "trigger (interval / maxOffsetsPerTrigger) or raise the cap")
      }
      buf.toSeq
    }

  /** The ONE grouping of every operator below: `ds` grouped by its `key`
    * column, the column form of `groupByKey(_.key)`, whose `AppendColumns`
    * deserializes every row to call `_.key` and copies the key into each
    * shuffled row.
    *
    * State key schema contract: the grouping columns are the columns that
    * `AppendColumns` wrote, in type and nullability, so a checkpoint
    * written by the typed form restarts here with the same hash
    * partitioning (Spark's state schema check ignores column names, not
    * nullability). A flat key groups by `key` itself (the typed form named
    * it `value`); a case-class key by its top-level fields, named as the
    * encoder names them. A field the encoder declares non-nullable but the
    * input carries nullable (every file source's `key`, and the fields of
    * a struct column) is wrapped in `AssertNotNull`, the encoder's own
    * check; a non-nullable input for a nullable field (a `String` key
    * computed by `concat`) in `KnownNullable`.
    */
  private def byKey[K, T](ds: Dataset[T])(
      implicit ek: Encoder[K], et: Encoder[T]): KeyValueGroupedDataset[K, T] = {
    GraftFunctions.register(ds.sparkSession)
    val enc = encoderFor(ek)
    val in = ds.schema("key")
    // the encoder's nullability, whichever way the input's differs from it
    def fit(c: Column, nullable: Boolean, target: Boolean): Column =
      if (nullable == target) c
      else call_function(if (target) "graft_known_nullable" else "graft_assert_not_null", c)
    val cols =
      if (enc.isSerializedAsStructForTopLevel) {
        val fields = in.dataType.asInstanceOf[StructType]
        enc.schema.fields.toSeq.map { f =>
          fit(col("key").getField(f.name), in.nullable || fields(f.name).nullable, f.nullable).as(f.name)
        }
      } else if (in.nullable == enc.schema.head.nullable) {
        // a bare `key` stays unaliased: the analyzer's redundant-alias rule
        // rejects a no-op `key AS key` under a union of two sources
        Seq(col("key"))
      } else Seq(fit(col("key"), in.nullable, enc.schema.head.nullable).as("key"))
    ds.groupBy(cols: _*).as[K, T]
  }

  /** Stored cell of the LWW table. */
  final case class Cell[V](value: Option[V], eventTime: Long)

  /** Current event-time watermark, or None on a BATCH execution: the
    * analyzer eliminates the watermark node for non-streaming plans
    * (EliminateEventTimeWatermark), so batch GroupState has no watermark
    * and getCurrentWatermarkMs throws — which would break the file
    * header's "all of these also run on a batch Dataset" contract.
    */
  private[graft] def watermarkOpt(state: GroupState[_]): Option[Long] =
    try Some(state.getCurrentWatermarkMs())
    catch { case _: UnsupportedOperationException => None }

  /** ONE copy of mem_store::_insert (mem_store.h:64-83): absent+tombstone
    * stays absent (not accepted); stored strictly newer skips; tombstone
    * erases (accepted); else upserts (accepted). Returns (new cell,
    * accepted) — every LWW site (latestByKey, windowedLatestByKey, the
    * join stores) applies THIS rule, so the semantics cannot drift between
    * copies.
    */
  private[graft] def lwwInsert[V](cell: Option[Cell[V]], value: Option[V],
                           eventTime: Long): (Option[Cell[V]], Boolean) =
    cell match {
      case Some(c) if c.eventTime > eventTime => (cell, false)
      case _ =>
        if (value.isDefined) (Some(Cell(value, eventTime)), true)
        else (None, cell.isDefined)
    }

  /** Streaming ktable (processors/ktable.h + mem_store LWW rules): the
    * changelog of the materialized latest-by-key table. Emits every
    * *accepted* state change — upserts as records, accepted deletes as
    * tombstones; stale updates (stored event time strictly newer) are
    * silently dropped, exactly as `mem_store::_insert` skips them.
    *
    * Within a micro-batch, records are applied in event-time order (ties:
    * arrival order is not defined across partitions, so callers needing
    * total determinism must disambiguate event times upstream — the
    * reference has the same constraint via its 1 ms event clock).
    */
  def latestByKey[K, V](ds: Dataset[KRecord[K, V]])(
      implicit ek: Encoder[K], ec: Encoder[Cell[V]], er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] = {
    val cap = maxSliceRows(ds.sparkSession)
    byKey[K, KRecord[K, V]](ds)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[KRecord[K, V]], state: GroupState[Cell[V]]) =>
          var cell = state.getOption
          val out = Vector.newBuilder[KRecord[K, V]]
          bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { rec =>
            // the shared mem_store insert rule: an accepted delete ERASES
            // the entry (no tombstone kept, so a later out-of-order upsert
            // is accepted again); accepted changes forward downstream
            val (next, accepted) = lwwInsert(cell, rec.value, rec.eventTime)
            cell = next
            if (accepted) out += rec
          }
          cell match {
            case Some(c)                => state.update(c)
            case None if state.exists   => state.remove()
            case None                   =>
          }
          out.result().iterator
      }
  }

  /** A KRecord plus the TimestampType view of its event time; the `wm`
    * column must stay in the grouped Dataset's output for Spark's
    * UnsupportedOperationChecker to accept EventTimeTimeout.
    */
  final case class WRec[K, V](key: K, value: Option[V], eventTime: Long, wm: java.sql.Timestamp)

  /** Attach a watermark on the record's event time. `delay` is the
    * out-of-orderness bound — the analog of the reference topology's
    * `min_buffering_ms` (src/topology.cpp:236-253).
    */
  private def watermarked[K, V](ds: Dataset[KRecord[K, V]], delay: String)(
      implicit ew: Encoder[WRec[K, V]]): Dataset[WRec[K, V]] = {
    import org.apache.spark.sql.functions._
    ds.withColumn("wm", timestamp_millis(col("eventTime")))
      .withWatermark("wm", delay)
      .as[WRec[K, V]]
  }

  /** Windowed table with expiry tombstones (mem_windowed_store.h:89-101 +
    * ktable windowed variant): keeps each key's latest record while it is
    * younger than `retentionMs` of event time; when the watermark passes a
    * key's retention horizon the key is dropped AND a tombstone is emitted
    * downstream — the reference's tombstone-on-GC contract.
    */
  def windowedLatestByKey[K, V](ds: Dataset[KRecord[K, V]], retentionMs: Long,
                                watermarkDelay: String = "0 seconds")(
      implicit ek: Encoder[K], ec: Encoder[Cell[V]], ew: Encoder[WRec[K, V]],
      er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] = {
    require(retentionMs > 0,
      s"windowedLatestByKey: retentionMs must be positive, got $retentionMs")
    val cap = maxSliceRows(ds.sparkSession)
    byKey[K, WRec[K, V]](watermarked(ds, watermarkDelay))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: K, it: Iterator[WRec[K, V]], state: GroupState[Cell[V]]) =>
          if (state.hasTimedOut) {
            val ts = state.getCurrentWatermarkMs()
            state.remove()
            Iterator.single(KRecord[K, V](key, None, ts)) // GC tombstone
          } else {
            var cell = state.getOption
            val out = Vector.newBuilder[KRecord[K, V]]
            bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { rec =>
              // the shared mem_store rule (an accepted delete erases the
              // slot entry, mem_windowed_store.h:159-164 bucket erase)
              val (next, accepted) = lwwInsert(cell, rec.value, rec.eventTime)
              cell = next
              if (accepted) out += KRecord(rec.key, rec.value, rec.eventTime)
            }
            cell match {
              case Some(c) =>
                state.update(c)
                // clamp past the EVICTION watermark (the punctuatedCount
                // stance): Spark's two-watermark split filters late input
                // with the PREVIOUS batch's watermark, so an accepted
                // out-of-order row can put eventTime + retentionMs behind
                // the eviction watermark — setTimeoutTimestamp then throws
                // and kills the query (mutation-verified: the spec fails
                // with Spark's own IllegalArgumentException without this).
                // Batch runs have no watermark (and no timeouts): the
                // deadline is then just the raw value.
                state.setTimeoutTimestamp(math.max(c.eventTime + retentionMs,
                  watermarkOpt(state).map(_ + 1L).getOrElse(Long.MinValue)))
              case None if state.exists => state.remove()
              case None =>
            }
            out.result().iterator
          }
      }
  }

  /** Per-key additive counter state. */
  final case class CounterCell(sum: Long, ts: Long)

  /** Streaming counter store (state_stores/mem_counter_store.h:63-88,
    * pinned by tests/test2_mem_counter_store.cpp): additive merge that
    * accepts out-of-order values (negative values subtract), result
    * timestamp = max of the contributing timestamps; a tombstone is
    * ignored when the stored timestamp is strictly newer, otherwise it
    * erases the counter. Emits the updated (key, sum) record per accepted
    * change, update-mode style.
    */
  def counterByKey[K](ds: Dataset[KRecord[K, Long]])(
      implicit ek: Encoder[K], ec: Encoder[CounterCell],
      er: Encoder[KRecord[K, Long]]): Dataset[KRecord[K, Long]] = {
    val cap = maxSliceRows(ds.sparkSession)
    byKey[K, KRecord[K, Long]](ds)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[KRecord[K, Long]], state: GroupState[CounterCell]) =>
          var cur = state.getOption
          val out = Vector.newBuilder[KRecord[K, Long]]
          bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { rec =>
            (cur, rec.value) match {
              case (None, Some(v)) =>
                cur = Some(CounterCell(v, rec.eventTime))
                out += KRecord(key, Some(v), rec.eventTime)
              case (None, None) => // delete of absent key: ignored
              case (Some(c), Some(v)) => // aggregation accepts old timestamps
                cur = Some(CounterCell(c.sum + v, math.max(c.ts, rec.eventTime)))
                out += KRecord(key, Some(c.sum + v), math.max(c.ts, rec.eventTime))
              case (Some(c), None) =>
                if (c.ts > rec.eventTime) () // newer value wins: delete forbidden
                else {
                  cur = None
                  out += KRecord[K, Long](key, None, rec.eventTime)
                }
            }
          }
          cur match {
            case Some(c)              => state.update(c)
            case None if state.exists => state.remove()
            case None                 =>
          }
          out.result().iterator
      }
  }

  /** Per-key token bucket state. */
  final case class Bucket(tokens: Long, tstamp: Long)

  /** Streaming rate_limiter (processors/rate_limiter.h:12-87): admits or
    * drops each record through its key's token bucket, with the exact
    * integer aging rule of mem_token_bucket_store (see ops.RateLimit for the
    * math). Rejected records are dropped, as in the reference (which counts
    * them in a metric; count the difference via `observe` upstream).
    */
  def rateLimiter[K, V](ds: Dataset[KRecord[K, V]], capacity: Long, ageTimeMs: Long,
                        gcWatermarkDelay: Option[String] = None)(
      implicit ek: Encoder[K], eb: Encoder[Bucket], ew: Encoder[WRec[K, V]],
      er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] = {
    // the batch twin (RateLimit.replay) guards these too: ageTimeMs=0 is a
    // per-record executor-side divide-by-zero, capacity=0 silently admits
    // nothing — both should fail at construction, not mid-stream
    require(capacity > 0 && ageTimeMs > 0,
      s"rateLimiter: capacity and ageTimeMs must be positive, got capacity=$capacity ageTimeMs=$ageTimeMs")
    // deterministic intra-timestamp order (RateLimit.replay's tieBreakCols
    // stance): event-time ties break on a CONTENT rendering of the value,
    // so a micro-batch RETRY admits the same records the first attempt
    // emitted to a non-transactional sink. String.valueOf would render an
    // Array[Byte] payload (the Kafka/Kinesis/MQTT value type here) — or a
    // tuple/case-class value EMBEDDING one — via identity hashCode,
    // different per attempt, re-introducing the nondeterminism;
    // RateLimit.deepRender recurses arrays/Products/Options by content.
    // Records identical in (eventTime, rendered value) are interchangeable.
    // (A val lambda, NOT a nested def: a def lifts to a method on this
    // non-serializable object and the stateful closure would drag
    // StatefulOps$ into the task; the lambda's static call on the
    // serializing-by-MODULE$ RateLimit object captures nothing.)
    val render: Option[V] => String = v => graft.ops.RateLimit.deepRender(v)
    val cap = maxSliceRows(ds.sparkSession)
    val admit: (K, Iterator[KRecord[K, V]], GroupState[Bucket]) => Iterator[KRecord[K, V]] = (key, it, state) => {
      var b = state.getOption.getOrElse(Bucket(capacity, 0L))
      val out = Vector.newBuilder[KRecord[K, V]]
      bufferSlice(key, it, cap).sortBy(r => (r.eventTime, render(r.value))).foreach { rec =>
        val delta = graft.ops.RateLimit.refillTokens(
          rec.eventTime - b.tstamp, capacity, ageTimeMs)
        if (delta > 0) b = Bucket(math.min(capacity, b.tokens + delta), rec.eventTime)
        if (b.tokens > 0) { b = b.copy(tokens = b.tokens - 1); out += rec }
      }
      state.update(b)
      // with GC enabled, expire the bucket one full refill period past its
      // last refill: the watermark then guarantees every still-acceptable
      // event has eventTime > tstamp + ageTimeMs, whose refill fills the
      // bucket COMPLETELY — and a full bucket is byte-for-byte fresh
      // state, so the removal is exact, not approximate (clamped past the
      // eviction watermark, the windowedLatestByKey stance)
      if (gcWatermarkDelay.isDefined)
        state.setTimeoutTimestamp(math.max(b.tstamp + ageTimeMs,
          watermarkOpt(state).map(_ + 1L).getOrElse(Long.MinValue)))
      out.result().iterator
    }
    gcWatermarkDelay match {
      // default: NO watermark, every out-of-order event is processed —
      // but per-key Bucket state then lives for the stream's lifetime
      // (bounded key spaces only; per-session/request keys need the GC
      // variant)
      case None =>
        byKey[K, KRecord[K, V]](ds)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (key: K, it: Iterator[KRecord[K, V]], state: GroupState[Bucket]) =>
              admit(key, it, state)
          }
      // GC variant: a watermark (dropping events later than the delay)
      // buys exact idle-state expiry — churning key spaces stay bounded
      case Some(d) =>
        byKey[K, WRec[K, V]](watermarked(ds, d))
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            (key: K, it: Iterator[WRec[K, V]], state: GroupState[Bucket]) =>
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else admit(key, it.map(r => KRecord(r.key, r.value, r.eventTime)), state)
          }
    }
  }

  /** Held row for the delay operator. */
  final case class Held[K, V](rows: Seq[KRecord[K, V]])

  /** Streaming delay (processors/delay.h:36-53): a record becomes visible
    * once `eventTime + delayMs <= watermark` — the watermark plays the
    * reference's event-time tick.
    */
  def delay[K, V](ds: Dataset[KRecord[K, V]], delayMs: Long,
                  watermarkDelay: String = "0 seconds")(
      implicit ek: Encoder[K], eh: Encoder[Held[K, V]], ew: Encoder[WRec[K, V]],
      er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] = {
    // a negative delay silently releases records BEFORE their event time —
    // the fail-loud stance every sibling op applies to its knobs
    require(delayMs >= 0, s"delay: delayMs must be non-negative, got $delayMs")
    val cap = maxSliceRows(ds.sparkSession)
    byKey[K, WRec[K, V]](watermarked(ds, watermarkDelay))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: K, it: Iterator[WRec[K, V]], state: GroupState[Held[K, V]]) =>
          // batch = the stream has ended: every delay has elapsed, so the
          // effective watermark is +inf and all records release (the file
          // header's batch contract — getCurrentWatermarkMs throws there)
          val wm = watermarkOpt(state).getOrElse(Long.MaxValue)
          val incoming = state.getOption.map(_.rows).getOrElse(Nil) ++
            bufferSlice(key, it, cap).map(r => KRecord(r.key, r.value, r.eventTime))
          val (ready, held) = incoming.partition(_.eventTime + delayMs <= wm)
          if (held.nonEmpty) {
            state.update(Held(held))
            state.setTimeoutTimestamp(held.map(_.eventTime).min + delayMs)
          } else if (state.exists) {
            state.remove()
          }
          ready.sortBy(_.eventTime).iterator
      }
  }

  // ------------------------------------------------------ changelog joins

  sealed trait JoinType extends Serializable
  case object LeftJoin extends JoinType
  case object InnerJoin extends JoinType
  case object OuterJoin extends JoinType

  /** Both sides' LWW cells for one key. */
  final case class JoinState[L, R](left: Option[Cell[L]], right: Option[Cell[R]])

  /** Tagged union of the two input changelogs. */
  final case class SideRec[K, L, R](key: K, leftValue: Option[L], rightValue: Option[R],
                                    isLeft: Boolean, eventTime: Long)

  /** The [[SideRec]] union of two changelogs, built from column
    * expressions. Both sides are fitted to the SideRec schema by name
    * (`Dataset.to`, which also matches nested struct fields by name), with
    * every field relaxed to nullable: `to` refuses a nullable input for a
    * non-nullable target, and [[byKey]] restores the key's nullability.
    */
  private def sides[K, L, R](left: Dataset[KRecord[K, L]], right: Dataset[KRecord[K, R]])(
      implicit es: Encoder[SideRec[K, L, R]]): Dataset[SideRec[K, L, R]] = {
    def relaxed(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxed(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(relaxed(a.elementType), containsNull = true)
      case m: MapType => MapType(relaxed(m.keyType), relaxed(m.valueType), valueContainsNull = true)
      case other => other
    }
    val schema = relaxed(es.schema).asInstanceOf[StructType]
    def side(log: Dataset[_], isLeft: Boolean): DataFrame = {
      val (l, r) = if (isLeft) (col("value"), lit(null)) else (lit(null), col("value"))
      log.select(col("key"), l.as("leftValue"), r.as("rightValue"), lit(isLeft).as("isLeft"),
        col("eventTime")).to(schema)
    }
    side(left, isLeft = true).union(side(right, isLeft = false)).as[SideRec[K, L, R]]
  }

  /** One join emission: `tombstone = true` means the reference emitted a
    * null-valued record (retraction); otherwise `left`/`right` carry the
    * joined sides per the join type's contract.
    */
  final case class JoinEmit[K, L, R](key: K, left: Option[L], right: Option[R],
                                     eventTime: Long, tombstone: Boolean)

  /** mem_store::_insert for the join stores — the shared [[lwwInsert]]
    * rule, cell-only view.
    */
  private def insertCell[V](cell: Option[Cell[V]], value: Option[V], ts: Long): Option[Cell[V]] =
    lwwInsert(cell, value, ts)._1

  /** Streaming ktable×ktable join (join.h:212-508), update-mode changelog:
    * every event from either side's changelog drives an emission (the
    * reference's ktable forwards each event downstream unconditionally,
    * ktable.h:66-72, while its store applies the LWW/tombstone rules) —
    * probe both stores at current state, then:
    *
    *  - [[LeftJoin]]: left present → (left, right?); else tombstone
    *    (join.h:290-294);
    *  - [[InnerJoin]]: both present → (left, right); else tombstone
    *    (join.h:385-389);
    *  - [[OuterJoin]]: either present → (left?, right?); else tombstone
    *    (join.h:487-491).
    *
    * Golden sequences: tests/test8_join.cpp:193-360. Within a micro-batch
    * events apply in event-time order across both sides (the reference's
    * shared event clock); cross-batch order is arrival order, as in Kafka.
    * Both changelogs meet in one [[sides]] union grouped by [[byKey]].
    */
  def tableTableJoinChangelog[K, L, R](
      leftLog: Dataset[KRecord[K, L]], rightLog: Dataset[KRecord[K, R]], joinType: JoinType)(
      implicit ek: Encoder[K], es: Encoder[SideRec[K, L, R]], ej: Encoder[JoinState[L, R]],
      eo: Encoder[JoinEmit[K, L, R]]): Dataset[JoinEmit[K, L, R]] = {
    val cap = maxSliceRows(leftLog.sparkSession)
    byKey[K, SideRec[K, L, R]](sides(leftLog, rightLog))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[SideRec[K, L, R]], state: GroupState[JoinState[L, R]]) =>
          var s = state.getOption.getOrElse(JoinState[L, R](None, None))
          val out = Vector.newBuilder[JoinEmit[K, L, R]]
          bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { ev =>
            s =
              if (ev.isLeft) s.copy(left = insertCell(s.left, ev.leftValue, ev.eventTime))
              else s.copy(right = insertCell(s.right, ev.rightValue, ev.eventTime))
            val l = s.left.flatMap(_.value)
            val r = s.right.flatMap(_.value)
            val emit = joinType match {
              case LeftJoin =>
                if (l.isDefined) JoinEmit(key, l, r, ev.eventTime, tombstone = false)
                else JoinEmit[K, L, R](key, None, None, ev.eventTime, tombstone = true)
              case InnerJoin =>
                if (l.isDefined && r.isDefined) JoinEmit(key, l, r, ev.eventTime, tombstone = false)
                else JoinEmit[K, L, R](key, None, None, ev.eventTime, tombstone = true)
              case OuterJoin =>
                if (l.isDefined || r.isDefined) JoinEmit(key, l, r, ev.eventTime, tombstone = false)
                else JoinEmit[K, L, R](key, None, None, ev.eventTime, tombstone = true)
            }
            out += emit
          }
          // both cells erased (tombstoned): drop the state entry entirely —
          // insertCell keeps no LWW timestamp after an erase (mem_store.h
          // erases on delete), so an empty JoinState carries no information
          // and a churning key space would otherwise grow the store forever
          if (s.left.isEmpty && s.right.isEmpty) {
            if (state.exists) state.remove()
          } else state.update(s)
          out.result().iterator
      }
  }

  /** Streaming kstream×ktable join (join.h:28-209): the right changelog
    * builds the LWW table; each *left stream* event (null-valued ones
    * dropped, join.h:89) probes it at current state. [[LeftJoin]] emits
    * (left, right?) always; [[InnerJoin]] emits only on a non-null probe hit
    * (misses are dropped silently, join.h:177-186 — no tombstone). Golden:
    * tests/test8_join.cpp:120-190.
    * The stream and the table changelog meet in one [[sides]] union grouped
    * by [[byKey]], as kspp probes a per-partition store by the record's key.
    */
  def streamTableJoinChangelog[K, L, R](
      stream: Dataset[KRecord[K, L]], rightLog: Dataset[KRecord[K, R]], joinType: JoinType)(
      implicit ek: Encoder[K], es: Encoder[SideRec[K, L, R]], ej: Encoder[JoinState[L, R]],
      eo: Encoder[JoinEmit[K, L, R]]): Dataset[JoinEmit[K, L, R]] = {
    require(joinType != OuterJoin, "kstream joins are left or inner (join.h:28-209)")
    val cap = maxSliceRows(stream.sparkSession)
    byKey[K, SideRec[K, L, R]](sides(stream, rightLog))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[SideRec[K, L, R]], state: GroupState[JoinState[L, R]]) =>
          var s = state.getOption.getOrElse(JoinState[L, R](None, None))
          val out = Vector.newBuilder[JoinEmit[K, L, R]]
          bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { ev =>
            if (!ev.isLeft) {
              s = s.copy(right = insertCell(s.right, ev.rightValue, ev.eventTime))
            } else if (ev.leftValue.isDefined) { // null left events are skipped
              val r = s.right.flatMap(_.value)
              joinType match {
                case InnerJoin =>
                  if (r.isDefined) out += JoinEmit(key, ev.leftValue, r, ev.eventTime, tombstone = false)
                case _ =>
                  out += JoinEmit(key, ev.leftValue, r, ev.eventTime, tombstone = false)
              }
            }
          }
          // only the right (table) cell ever holds data here — the left
          // side is a stream probe, never stored; drop the entry when the
          // table side erases, for the same unbounded-growth reason as the
          // table-table join above
          if (s.right.isEmpty) {
            if (state.exists) state.remove()
          } else state.update(s)
          out.result().iterator
      }
  }

  /** Counter snapshot cell. `dirty` = aggregated-but-not-yet-punctuated,
    * the reference's `dirty_` flag (count.h:67,96-101).
    */
  final case class Counter(count: Long, nextPunctuate: Long, dirty: Boolean)

  /** Punctuated count_by_key (processors/count.h:51-101): counts occurrences
    * per key and punctuates on the reference's exact cadence — when an event
    * arrives past the deadline, the snapshot is emitted *before* the event
    * is applied, stamped with the old deadline, only if the count changed
    * since the last punctuate (`dirty_`), and the next deadline becomes
    * `event_time + interval`. The reference punctuates all keys on one
    * global event clock; here each key additionally gets a watermark timeout
    * so keys that stop receiving data still flush their last dirty snapshot
    * when the global event clock (watermark) passes their deadline.
    */
  def punctuatedCount[K](ds: Dataset[KRecord[K, Long]], punctuateIntervalMs: Long,
                         watermarkDelay: String = "0 seconds")(
      implicit ek: Encoder[K], ec: Encoder[Counter], ew: Encoder[WRec[K, Long]],
      er: Encoder[KRecord[K, Long]]): Dataset[KRecord[K, Long]] = {
    require(punctuateIntervalMs > 0,
      s"punctuatedCount: punctuateIntervalMs must be positive, got $punctuateIntervalMs")
    val cap = maxSliceRows(ds.sparkSession)
    byKey[K, WRec[K, Long]](watermarked(ds, watermarkDelay))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: K, it: Iterator[WRec[K, Long]], state: GroupState[Counter]) =>
          // batch runs have no watermark and no timeouts: wm only feeds the
          // defensive clamp below, where MinValue leaves deadlines raw
          val wm = watermarkOpt(state).getOrElse(Long.MinValue)
          if (state.hasTimedOut) {
            val c = state.get
            if (c.dirty) {
              // the event clock passed the deadline with no new data for this
              // key: flush the snapshot (stamped with the deadline) and re-arm
              // strictly beyond the watermark — count.h's next = now + interval
              state.update(Counter(c.count, wm + punctuateIntervalMs, dirty = false))
              state.setTimeoutTimestamp(wm + punctuateIntervalMs)
              Iterator.single(KRecord.of(key, c.count, c.nextPunctuate))
            } else Iterator.empty // nothing changed since last punctuate; quiesce
          } else {
            // nextPunctuate = MinValue marks "no deadline yet": the first event
            // trips the boundary check with dirty=false (no emission) and seeds
            // the deadline, exactly like the reference's zero-initialized
            // next_punctuate_ on the first event
            var c = state.getOption.getOrElse(Counter(0L, Long.MinValue, dirty = false))
            val out = Vector.newBuilder[KRecord[K, Long]]
            bufferSlice(key, it, cap).sortBy(_.eventTime).foreach { rec =>
              if (c.nextPunctuate < rec.eventTime) {
                if (c.dirty) out += KRecord.of(key, c.count, c.nextPunctuate)
                c = Counter(c.count, rec.eventTime + punctuateIntervalMs, dirty = false)
              }
              c = Counter(c.count + 1, c.nextPunctuate, dirty = true)
            }
            state.update(c)
            // deadlines normally lead the watermark; clamp defensively — a
            // timestamp <= watermark is rejected by Spark
            if (c.dirty) state.setTimeoutTimestamp(math.max(c.nextPunctuate, wm + 1))
            out.result().iterator
          }
      }
  }
}
