package graft

import graft.core.Flags
import graft.ops.{Geo, QcCheck}
import org.apache.spark.sql.functions._

/** F1/F2/F4 — the check combinator (reference `QCFlagConfig` /
  * `get_qc_flag_from_bool`, pinned `tests/test_qc.py:186-254`, 658-668)
  * and the region checks G1/G2 (pinned `tests/test_qc.py:62-68,179-215`).
  */
class QcCheckSpec extends SparkSpec {
  import spark.implicits._

  test("bool->flag mapping: onTrue / onFalse / onNan (test_qc.py:186-254)") {
    val df = Seq(Some(true), Some(false), None).toDF("b")
    val c = QcCheck("t", $"b", Flags.Bad,
      onFalse = Some(Flags.Good), onNan = Some(Flags.ProbablyGood))
    val got = df.select(c.flagCol.as("f")).collect().map(_.getByte(0)).toSeq
    assert(got == Seq(Flags.Bad, Flags.Good, Flags.ProbablyGood))
  }

  test("onFalse=None leaves false rows without an opinion (null)") {
    val df = Seq(Some(true), Some(false)).toDF("b")
    val c = QcCheck("t", $"b", Flags.Bad)
    val got = df.select(c.flagCol.as("f")).collect()
    assert(got(0).getByte(0) == Flags.Bad && got(1).isNullAt(0))
  }

  test("merge is worst-wins (src/main.py:573-575)") {
    val df = Seq((Flags.ProbablyBad, true), (Flags.Bad, false)).toDF("flag", "b")
    val worst = QcCheck("t", $"b", Flags.Good, onFalse = Some(Flags.Good))
    val m = df.select(worst.mergedInto($"flag".cast("tinyint")).as("w")).collect()
    assert(m.map(_.getByte(0)).toSeq == Seq(Flags.ProbablyBad, Flags.Bad))
  }

  test("out-of-range: (2.0, 9.2) over [0, 2.345, 4.69, 7.035, 9.38] => [T,F,F,F,T] (658-668)") {
    val df = Seq(0.0, 2.345, 4.69, 7.035, 9.38).toDF("x")
    val got = df.select(QcCheck.outOfRange($"x", lit(2.0), lit(9.2)).as("b"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, false, false, false, true))
  }

  test("boundary values are in-range (strict within, src/main.py:158-192)") {
    val df = Seq(2.0, 9.2).toDF("x")
    val got = df.select(QcCheck.outOfRange($"x", lit(2.0), lit(9.2)).as("b"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(false, false))
  }

  test("null bounds => null verdict => onNan path (QC_global fill, src/main.py:506)") {
    val df = Seq((1.0, None: Option[Double]), (1.0, Some(0.5))).toDF("x", "lo")
    val got = df.select(QcCheck.outOfRange($"x", $"lo", lit(2.0)).as("b")).collect()
    assert(got(0).isNullAt(0) && !got(1).getBoolean(0))
  }

  test("region checks: MAINLAND => BAD, null => PROBABLY_GOOD (62-68,179-215)") {
    val df = Seq(Some("NORTH SEA"), Some("MAINLAND EUROPE"), Some("MAINLAND random"), None)
      .toDF("region")
    val flagged = Seq(Geo.nullRegionCheck($"region"), Geo.mainlandCheck($"region"))
      .foldLeft(df.withColumn("flag", lit(Flags.NoQc).cast("tinyint"))) {
        (d, c) => d.withColumn("flag", c.mergedInto($"flag"))
      }
    val got = flagged.select($"flag").collect().map(_.getByte(0)).toSeq
    assert(got == Seq(Flags.NoQc, Flags.Bad, Flags.Bad, Flags.ProbablyGood))
  }

  test("point-in-polygon: ray casting on a literal polygon") {
    val tri = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 0.0)) // (lat, lon) triangle
    val df = Seq((2.0, 2.0), (6.0, 6.0), (-1.0, 2.0)).toDF("lat", "lon")
    val got = df.select(Geo.pointInPolygon($"lat", $"lon", tri).as("in"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, false, false))
  }
}
