package graft.perfbench

import graft.core.{Canon, Flags, Obs}
import graft.ops.Geo
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class ShipTrackSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fp(seed: Long): Canon.Fingerprint =
    Canon.fingerprint(ShipTrack.generate(seed, streams = 6, seconds = 1800,
      rates = Seq(10, 20, 30)).toDataFrame(spark, 2))

  test("same seed, same observations; another seed, other observations") {
    val a = fp(7L)
    assert(a == fp(7L))
    val b = fp(8L)
    assert(a.rows == b.rows) // the shape is fixed; the content is seeded
    assert(a.fp != b.fp)
  }

  test("the track stays below max_dx_dt and every fault kind is injected") {
    val t = ShipTrack.generate(3L, streams = 6, seconds = 5400, rates = Seq(1, 2, 3))
    val clean = t.faults.filter(_.kind == "gps_jump").map(_.tSec).toSet
    val speeds = (1 until t.seconds).filterNot(s => clean(s) || clean(s - 1)).map { s =>
      Geo.vincentyM(t.lat(s - 1), t.lon(s - 1), t.lat(s), t.lon(s))
    }
    assert(speeds.max < ShipTrack.MaxDxDt)
    assert(t.faults.map(_.kind).toSet ==
      Set("out_of_range", "spike", "gps_jump", "warmup"))
    assert(t.faults.filter(_.kind == "spike").forall(_.expected == Flags.ProbablyBad))
    val df = t.toDataFrame(spark, 2)
    assert(df.count() == t.rows)
    assert(df.select(Obs.IotId).distinct().count() == t.rows)
  }
}
