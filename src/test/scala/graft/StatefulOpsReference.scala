package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.KRecord
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{Cell, JoinEmit, JoinState, JoinType, InnerJoin, SideRec, WRec}

/** The keyed operators' typed grouping, kept as the reference for the
  * cross-version restart specs: the changelog join tags its two inputs with
  * typed `SideRec` maps, and every operator groups with `groupByKey(_.key)`,
  * whose `AppendColumns` names the state key schema. Checkpoints written
  * here must restart on [[StatefulOps]], which groups by the `key` column.
  *
  * The state, the output and the per-key rules are StatefulOps' own (the
  * same state classes and the shared `lwwInsert`); only the grouping
  * differs. No `maxSliceRows` guard: the specs stay far below any cap.
  */
object StatefulOpsReference {

  def latestByKey[K, V](ds: Dataset[KRecord[K, V]])(
      implicit ek: Encoder[K], ec: Encoder[Cell[V]], er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] =
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: K, it: Iterator[KRecord[K, V]], state: GroupState[Cell[V]]) =>
          var cell = state.getOption
          val out = it.toSeq.sortBy(_.eventTime).filter { rec =>
            val (next, accepted) = StatefulOps.lwwInsert(cell, rec.value, rec.eventTime)
            cell = next
            accepted
          }
          cell.fold(if (state.exists) state.remove())(state.update)
          out.iterator
      }

  def windowedLatestByKey[K, V](ds: Dataset[KRecord[K, V]], retentionMs: Long, watermarkDelay: String)(
      implicit ek: Encoder[K], ec: Encoder[Cell[V]], ew: Encoder[WRec[K, V]],
      er: Encoder[KRecord[K, V]]): Dataset[KRecord[K, V]] =
    ds.withColumn("wm", timestamp_millis(col("eventTime"))).withWatermark("wm", watermarkDelay)
      .as[WRec[K, V]].groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: K, it: Iterator[WRec[K, V]], state: GroupState[Cell[V]]) =>
          if (state.hasTimedOut) {
            val ts = state.getCurrentWatermarkMs()
            state.remove()
            Iterator.single(KRecord[K, V](key, None, ts))
          } else {
            var cell = state.getOption
            val out = it.toSeq.sortBy(_.eventTime).filter { rec =>
              val (next, accepted) = StatefulOps.lwwInsert(cell, rec.value, rec.eventTime)
              cell = next
              accepted
            }.map(r => KRecord(r.key, r.value, r.eventTime))
            cell match {
              case Some(c) =>
                state.update(c)
                state.setTimeoutTimestamp(math.max(c.eventTime + retentionMs,
                  StatefulOps.watermarkOpt(state).map(_ + 1L).getOrElse(Long.MinValue)))
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
      }

  def streamTableJoinChangelog[K, L, R](
      stream: Dataset[KRecord[K, L]], rightLog: Dataset[KRecord[K, R]], joinType: JoinType)(
      implicit ek: Encoder[K], es: Encoder[SideRec[K, L, R]], ej: Encoder[JoinState[L, R]],
      eo: Encoder[JoinEmit[K, L, R]]): Dataset[JoinEmit[K, L, R]] =
    stream.map(r => SideRec[K, L, R](r.key, r.value, None, isLeft = true, r.eventTime))
      .union(rightLog.map(r => SideRec[K, L, R](r.key, None, r.value, isLeft = false, r.eventTime)))
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[SideRec[K, L, R]], state: GroupState[JoinState[L, R]]) =>
          var s = state.getOption.getOrElse(JoinState[L, R](None, None))
          val out = Vector.newBuilder[JoinEmit[K, L, R]]
          it.toSeq.sortBy(_.eventTime).foreach { ev =>
            if (!ev.isLeft)
              s = s.copy(right = StatefulOps.lwwInsert(s.right, ev.rightValue, ev.eventTime)._1)
            else if (ev.leftValue.isDefined) {
              val r = s.right.flatMap(_.value)
              if (joinType != InnerJoin || r.isDefined)
                out += JoinEmit(key, ev.leftValue, r, ev.eventTime, tombstone = false)
            }
          }
          if (s.right.isEmpty) { if (state.exists) state.remove() } else state.update(s)
          out.result().iterator
      }
}
