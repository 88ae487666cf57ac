package graft.streaming

import graft.core.{Flags, StabilizationConf}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One observation entering the stabilization state machine. */
final case class StabEvent(datastreamId: Long, iotId: Long, tUs: Long, result: Double)

/** Cross-batch per-stream state: the running cumsum and the two ffill
  * anchors of the gaps-and-islands formulation (`ops.Stabilization`).
  * Longs only — flat, columnar-state-friendly.
  */
final case class StabState(anyRow: Boolean, lastTUs: Long, cumUs: Long,
                           hasUp: Boolean, lastUpCumUs: Long,
                           lastOutageCumUs: Long)

final case class StabFlagged(datastreamId: Long, iotId: Long, tUs: Long,
                             timeDownUs: Long, hasTimeDown: Boolean,
                             timeUpSinceUs: Long, stabFlag: Byte)

/** W5/O2 — the stabilization state machine as TRUE streaming state
  * (`flatMapGroupsWithState`), complementing the incremental runner
  * (`IncrementalQc`, which runs `QcMain.runFrom` per micro-batch).
  *
  * Why both exist: the incremental runner's stabilization pass sees only
  * its micro-batch, so it has `dt_stabilization` of history only when
  * the producer re-delivers that overlap — cheap, stateless, and exactly
  * the reference's cron shape (`qc_historical.sh`), but an outage LONGER
  * than the re-delivered overlap is invisible to it. This operator carries the
  * running cumsum and the last-up / last-outage anchors in keyed state,
  * so downtime accounting is exact across micro-batches with NO
  * re-read, arbitrarily long outages included. Per-batch rows are
  * sorted by (event-time, id); state is O(1) per stream — at 100 TB the
  * state store holds ~60 tiny rows, and each micro-batch shuffles only
  * itself (hash by stream key).
  *
  * Emits the same flag semantics as the batch operator (verified
  * equivalent in `StatefulStabilizationSpec`): BAD while
  * `time_up_since < dt_stabilization` after any long outage (stream
  * start counts as one), NO_QUALITY_CONTROL otherwise.
  */
object StatefulStabilization {

  /** The per-group transition function (shared by stream and tests). */
  def step(conf: Map[Long, StabilizationConf])(
      key: Long, rows: Iterator[StabEvent],
      state: GroupState[StabState]): Iterator[StabFlagged] = {
    conf.get(key) match {
      case None => Iterator.empty // unconfigured stream: no opinion
      case Some(c) =>
        val maxDownUs = c.maxAllowedDowntimeSec * 1000000L
        val stabUs = c.dtStabilizationSec * 1000000L
        var st = state.getOption.getOrElse(
          StabState(anyRow = false, 0L, 0L, hasUp = false, 0L, 0L))
        // rows sort within the batch; a row older than already-processed
        // state would drive the cumsum BACKWARDS and silently corrupt all
        // later downtime accounting — drop it, exactly what a watermark
        // would do (the lookback-overlap runner is the late-data path)
        val out = rows.toArray.sortBy(r => (r.tUs, r.iotId))
          .filter(r => !st.anyRow || r.tUs >= st.lastTUs)
          .map { r =>
          val within = r.result > c.rangeMin && r.result < c.rangeMax
          val isFirst = !st.anyRow
          val cum = if (isFirst) 0L else st.cumUs + (r.tUs - st.lastTUs)
          val hasUp = st.hasUp || within
          val lastUp = if (within) cum else st.lastUpCumUs
          // time since the last in-limits row; undefined until one is seen
          val timeDown = if (hasUp) cum - lastUp else -1L
          // long-outage marker: stream START, never-up, or downtime over max
          val marker = isFirst || !hasUp || timeDown > maxDownUs
          val lastOutage = if (marker) cum else st.lastOutageCumUs
          val timeUpSince = cum - lastOutage
          val flag = if (timeUpSince < stabUs) Flags.Bad else Flags.NoQc
          st = StabState(anyRow = true, r.tUs, cum, hasUp, lastUp, lastOutage)
          StabFlagged(key, r.iotId, r.tUs, timeDown, hasUp, timeUpSince, flag)
        }
        state.update(st)
        out.iterator
    }
  }

  def apply(events: Dataset[StabEvent],
            conf: Map[Long, StabilizationConf]): Dataset[StabFlagged] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.datastreamId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step(conf))
  }
}
