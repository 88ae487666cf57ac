package graft

import graft.core.{Flags, Obs}
import graft.sources.PatchSink
import org.apache.spark.sql.functions._

/** S3 — STA JSON flattening against the reference's own captured fixture
  * (`tests/resources/aums_data_request_response.json`: 9 datastreams,
  * 7751..7851 with 884-1,817 obs each, 7854/7855 empty; shape pinned by
  * `tests/test_other.py:33,50`). S5 — patch-file sink.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = "/root/reference/tests/resources/aums_data_request_response.json"
  private def fixtureExists = new java.io.File(fixture).exists()

  test("flatten reference STA response: all datastreams, empty ones drop") {
    assume(fixtureExists)
    val df = spark.read.format("graft.sources.sta").option("path", fixture).load()
    val perStream = df.groupBy(col(Obs.DatastreamId)).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 9 streams in the fixture; 7854/7855 have no observations => absent
    assert(!perStream.contains(7854L) && !perStream.contains(7855L))
    assert(perStream.keySet == Set(7751L, 7752L, 7769L, 7770L, 7849L, 7850L, 7851L))
    assert(perStream.values.sum > 8000) // ~9k obs total
    perStream.values.foreach(n => assert(n >= 884 && n <= 1817))
  }

  test("flattened schema carries coords, µs time, flag ranks") {
    assume(fixtureExists)
    val df = spark.read.format("graft.sources.sta").option("path", fixture).load()
    assert(df.columns.toSet.contains(Obs.Lat) && df.columns.contains(Obs.Long_))
    // fixture wire code 2 (probably good) maps to rank PROBABLY_GOOD
    val flags = df.select(col(Obs.QcFlag)).distinct().collect().map(_.getByte(0)).toSet
    assert(flags.subsetOf(Set(Flags.NoQc, Flags.Good, Flags.ProbablyGood,
      Flags.ProbablyBad, Flags.Bad, Flags.Missing)))
    // sub-second timestamp precision survives (tests/test_other.py:114)
    val us = df.select((unix_micros(col(Obs.Time)) % 1000000L).as("us")).filter($"us" =!= 0)
    assert(us.count() > 0)
  }

  test("patch sink: (id, L20 wire code) bodies round-trip via JSON file") {
    val flagged = Seq((10L, Flags.Bad), (11L, Flags.ProbablyGood))
      .toDF(Obs.IotId, Obs.QcFlag)
      .withColumn(Obs.QcFlag, col(Obs.QcFlag).cast("tinyint"))
    val out = java.nio.file.Files.createTempDirectory("patch").toString
    PatchSink.writePatchFile(flagged, out)
    val back = spark.read.json(out).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == Seq((10L, 4L), (11L, 2L))) // ranks -> wire codes
  }
}
