package graft

import graft.core.StabilizationConf
import graft.ops.Stabilization
import graft.streaming.{StabEvent, StatefulStabilization}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming state machine must agree with the batch gaps-and-islands
  * operator row for row — including when the stream delivers the data
  * split across micro-batches at an outage boundary (the case the
  * lookback-overlap runner cannot see: outage longer than the lookback).
  */
class StatefulStabilizationSpec extends SparkSpec {
  import spark.implicits._

  // stream 7: up, then an OBSERVED extended outage (out-of-limits rows
  // whose time_down exceeds max 1 h — reference semantics: a silent data
  // gap is not an outage, only observed downtime is,
  // src/main.py:165-173), warm-up rows inside dt_stabilization (2 h),
  // then stabilized. stream 8 unconfigured.
  private val events = Seq(
    StabEvent(7L, 1L, hours(0.0), 10.0), // within → stream-start warm-up marker
    StabEvent(7L, 2L, hours(0.5), 11.0), // within, 0.5 h after start → BAD
    StabEvent(7L, 3L, hours(1.0), 99.0), // out, time_down 0.5 h < max → no marker
    StabEvent(7L, 4L, hours(2.5), 99.0), // out, time_down 2 h > max → outage marker
    StabEvent(7L, 5L, hours(3.0), 12.0), // recovery, 0.5 h after marker → BAD
    StabEvent(7L, 6L, hours(4.0), 12.5), // 1.5 h after marker → still BAD
    StabEvent(7L, 7L, hours(6.0), 13.0), // 3.5 h after marker → stabilized
    StabEvent(8L, 70L, hours(0.0), 1.0))
  private val conf = Map(7L -> StabilizationConf(7L, 0.0, 20.0,
    dtStabilizationSec = 7200L, maxAllowedDowntimeSec = 3600L))

  private def hours(h: Double): Long = (h * 3600 * 1e6).toLong

  private def batchFlags: Map[Long, Byte] = {
    val df = events.filter(_.datastreamId == 7L).toDF()
    Stabilization(df, col("result"), col("tUs").cast("double"),
      lit(0.0), lit(20.0),
      maxAllowedDowntimeSec = lit(3600.0 * 1e6), dtStabilizationSec = lit(7200.0 * 1e6),
      partCols = Seq("datastreamId"), timeCol = "tUs")
      .select(col("iotId"), col("stab_flag"))
      .collect().map(r => r.getLong(0) -> r.getByte(1)).toMap
  }

  /** The state machine over `mem`, run by `steps`: its sink's rows. */
  private def streamed(steps: MemoryStream[StabEvent] => Seq[() => Any]): Array[Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StabEvent]
    runMemorySink(StatefulStabilization(mem.toDS(), conf))(steps(mem): _*)
  }

  test("streaming state machine == batch operator, split across micro-batches") {
    val expected = batchFlags
    assert(expected.values.toSet == Set(graft.core.Flags.Bad, graft.core.Flags.NoQc))

    // split exactly across the outage marker: state must carry the
    // cumsum and the last-outage anchor between micro-batches
    val got = streamed(twoBatches(_, events, 4))
      .map(r => r.getAs[Long]("iotId") -> r.getAs[Byte]("stabFlag")).toMap
    assert(got.keySet == expected.keySet, s"rows: got=${got.keySet} want=${expected.keySet}")
    expected.foreach { case (id, f) =>
      assert(got(id) == f, s"iot $id: stream=${got(id)} batch=$f")
    }
    // unconfigured stream emits nothing
    assert(!got.contains(7000L))
  }

  test("late rows older than processed state are dropped, not applied backwards") {
    val stream7 = events.filter(_.datastreamId == 7L)
    val got = streamed(mem => Seq(
      () => mem.addData(stream7.take(4)),
      // a late row BEFORE the already-processed 2.5 h mark must not
      // regress the cumsum (it would corrupt all later accounting)
      () => mem.addData(Seq(StabEvent(7L, 99L, hours(1.5), 10.0)) ++ stream7.drop(4))))
      .map(_.getAs[Long]("iotId")).toSet
    assert(!got.contains(99L), "late row should be dropped")
    assert(got.contains(7L), "in-order rows after the late one still process")
  }

  test("warm-up flags: stream start and post-outage rows BAD, stabilized rows NQC") {
    val f = batchFlags
    assert(f(1L) == graft.core.Flags.Bad)  // stream-start warm-up
    assert(f(2L) == graft.core.Flags.Bad)  // 0.5 h < 2 h stabilization
    assert(f(5L) == graft.core.Flags.Bad)  // recovery 0.5 h after outage marker
    assert(f(6L) == graft.core.Flags.Bad)  // 1.5 h after marker, still warming
    assert(f(7L) == graft.core.Flags.NoQc) // 3.5 h after marker: stabilized
  }
}
