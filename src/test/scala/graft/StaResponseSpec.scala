package graft

import graft.core.{Flags, Obs}
import graft.pipeline.QcMain
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** S3 — the "sta" source flattens a checked-in captured response
  * (`src/test/resources/sta/response.json`): three datastreams, one with
  * no observations and one with no description; sub-second times;
  * `resultQuality` codes 0-4 and 9, one out of the L20 vocabulary (7) and
  * one absent; a JSON-null `result`; an observation without coordinates.
  * An absent or null field reads as SQL null, as the reference's
  * flattening keeps a missing reading NaN (`response_datastreams_to_df`).
  */
class StaResponseSpec extends SparkSpec {
  import StaResponseSpec.fixture

  private def read(path: String) = spark.read.format("graft.sources.sta").option("path", path).load()

  test("captured response flattens to the rows written out by hand") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val temp = Seq[Any](101L, "Sea water temperature at the hull intake", "degree Celsius",
      11L, "sea_water_temperature", "SBE38")
    val salt = Seq[Any](102L, null, "PSU", 12L, "sea_water_salinity", "SBE45")
    def obs(ds: Seq[Any], id: Long, result: Any, time: String, rank: Any,
            lon: Any, lat: Any, feature: Long): Row =
      Row.fromSeq(ds ++ Seq(id, result, ts(time), rank, lon, lat, feature))
    val expected = Seq(
      obs(temp, 1001L, 12.5, "2024-03-01T00:00:00.250Z", Flags.NoQc, 2.9, 51.2, 5001L),
      obs(temp, 1002L, 12.625, "2024-03-01T00:01:00.5Z", Flags.Good, 2.9001, 51.2001, 5002L),
      obs(temp, 1003L, null, "2024-03-01T00:02:00.123456Z", Flags.ProbablyGood,
        2.9002, 51.2002, 5003L),
      obs(temp, 1004L, 12.75, "2024-03-01T00:03:00Z", Flags.ProbablyBad, 2.9003, 51.2003, 5004L),
      obs(temp, 1005L, 12.875, "2024-03-01T00:04:00.001Z", Flags.Bad, 2.9004, 51.2004, 5005L),
      obs(salt, 2001L, 34.5, "2024-03-01T00:00:30Z", Flags.Missing, 2.9, 51.2, 5011L),
      obs(salt, 2002L, 34.25, "2024-03-01T00:01:30.75Z", null, 2.9001, 51.2001, 5012L),
      obs(salt, 2003L, 34.0, "2024-03-01T00:02:30Z", null, 2.9002, 51.2002, 5013L),
      obs(salt, 2004L, 34.125, "2024-03-01T00:03:30Z", Flags.Good, null, null, 5014L))
    val df = read(fixture)
    assert(df.schema == graft.sources.sta.StaSource.flatSchema)
    assert(df.orderBy(col(Obs.IotId)).collect().toSeq == expected)
    assert(df.filter(col(Obs.DatastreamId).isin(102L, 103L)).count() == 4)
  }

  test("a null result is no reading: the range check does not flag it BAD") {
    // both ranges exclude 0.0, the value a null result would read as
    val cfg = QcMain.Config(rangeBounds = Map(101L -> (10.0, 15.0), 102L -> (30.0, 40.0)))
    val (flagged, _) = QcMain.runFrom(spark, read(fixture), cfg)
    try {
      val flags = flagged.select(col(Obs.IotId), col("flag")).collect()
        .map(r => r.getLong(0) -> r.getByte(1)).toMap
      assert(flags.size == 9)
      assert(flags(1003L) != Flags.Bad, s"flags: $flags")
    } finally flagged.unpersist()
  }

  test("an absent phenomenonTime or id reads as null; pushed filters drop it") {
    val f = java.nio.file.Files.createTempFile("sta_absent", ".json")
    java.nio.file.Files.writeString(f,
      """{"Datastreams":[{"Observations":[
        |{"@iot.id":1,"result":1.5,"phenomenonTime":"2024-03-01T00:00:00Z"},
        |{"@iot.id":2,"result":2.5}]}]}""".stripMargin)
    val df = read(f.toString)
    val rows = df.select(col(Obs.IotId), col(Obs.Time), col(Obs.DatastreamId), col(Obs.QcFlag))
      .orderBy(col(Obs.IotId)).collect().toSeq
    assert(rows.map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))) ==
      Seq((1L, false, true, true), (2L, true, true, true)))
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2023-01-01T00:00:00Z"))
    assert(df.filter(col(Obs.Time) > lit(cut)).select(col(Obs.IotId)).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(df.filter(col(Obs.DatastreamId).isin(1L, 2L)).count() == 0)
  }
}

object StaResponseSpec {
  /** The checked-in captured response, from the test classpath. */
  val fixture: String = getClass.getResource("/sta/response.json").getPath
}
