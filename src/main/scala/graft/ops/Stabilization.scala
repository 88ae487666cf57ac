package graft.ops

import graft.core.{Flags, Frames, Obs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W5 — sensor-stabilization state machine (reference `limit_value_fctn`,
  * `src/main.py:158-192`, pinned `tests/test_qc.py:542-601`; config
  * `dt_stabilization: 20min`, `max_allowed_downtime: 15min`).
  *
  * Per independent stream, time-ordered:
  *  - WITHIN_LIMITS = result > min AND result < max  (strict)
  *  - dt            = Δtime to the previous row; cumsum = running Σdt
  *  - time_down     = time since the last in-limits row
  *  - a row is a *long-outage marker* when time_down > max_allowed_downtime;
  *    the start of the stream counts as an outage (a sensor warming up) —
  *    this reproduces the pinned 5-row vector
  *    [F,T,T,T,T] → [BAD,BAD,NQC,NQC,NQC] (max_down=1h, dt_stab=2h)
  *  - time_up_since = time since the last long-outage marker
  *  - flag BAD while time_up_since < dt_stabilization, else NO_QUALITY_CONTROL.
  *
  * The reference runs this as a per-group pandas apply (`src/main.py:426-441`);
  * here it is classic gaps-and-islands with window functions only — one
  * shuffle by stream, no UDAF, whole-stage codegen throughout.
  */
object Stabilization {

  /** Adds: within_limits, dt_sec, cum_sec, time_down_sec, time_up_since_sec,
    * block_id, stab_flag.
    */
  def apply(df: DataFrame,
            result: Column, timeSec: Column,
            rangeMin: Column, rangeMax: Column,
            maxAllowedDowntimeSec: Column, dtStabilizationSec: Column,
            partCols: Seq[String] = Seq(Obs.DatastreamId),
            timeCol: String = Obs.Time): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(timeCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)

    // one projection per window-dependency level: a level starts where
    // a window reads an earlier window's result
    val d1 = Frames.withColumns(df, Seq(
      "within_limits" -> (result > rangeMin && result < rangeMax),
      "dt_sec" -> (timeSec - lag(timeSec, 1).over(w))))
    val d2 = d1.withColumn("cum_sec", coalesce(sum(col("dt_sec")).over(wRun), lit(0.0)))

    // time since last in-limits row: cum - ffill(cum where within); null
    // while no in-limits row has been seen yet (down since data start).
    // ffill of a monotonically-nondecreasing series == running max — written
    // as `max(when(...))` so the exact same formula is plain ANSI SQL.
    val d3 = d2.withColumn("last_up_cum",
      max(when(col("within_limits"), col("cum_sec"))).over(wRun))

    // long-outage markers; the first row of each stream is one by fiat
    val timeDown = col("cum_sec") - col("last_up_cum")
    val d4 = Frames.withColumns(d3, Seq(
      "time_down_sec" -> timeDown,
      "outage_marker" -> (timeDown > maxAllowedDowntimeSec ||
        timeDown.isNull || lag(timeSec, 1).over(w).isNull)))
    val d5 = d4.withColumn("last_outage_cum",
      max(when(col("outage_marker"), col("cum_sec"))).over(wRun))

    // consecutive-run ids (reference `block_id = (WITHIN != lag(WITHIN)).cumsum()`)
    val changed = (col("within_limits") =!=
      lag(col("within_limits"), 1).over(w)).cast("long")
    val timeUpSince = col("cum_sec") - col("last_outage_cum")
    Frames.withColumns(d5, Seq(
        "time_up_since_sec" -> timeUpSince,
        "block_id" -> coalesce(sum(coalesce(changed, lit(1L))).over(wRun), lit(0L)),
        "stab_flag" -> when(timeUpSince < dtStabilizationSec, lit(Flags.Bad))
          .otherwise(lit(Flags.NoQc)).cast("tinyint")),
      drop = Seq("last_up_cum", "last_outage_cum", "outage_marker"))
  }
}
