package graft

import graft.core.Flags
import graft.ops.Geo
import graft.pipeline.QcMain
import org.apache.spark.sql.functions._

/** §3.1 lifecycle end-to-end on the reference's own captured STA JSON
  * fixture, with the six phase timings (reference `src/main.py:862-868`).
  */
class QcMainSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/resources/aums_data_request_response.json"

  test("full pipeline on the reference fixture: flags, phases, patch file") {
    assume(new java.io.File(fixture).exists())
    val cfg = QcMain.Config(
      rangeBounds = Map(7751L -> (0.0, 20.0), 7770L -> (5.0, 30.0)),
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.0, 52.0, 2.5, 3.5)),
      stabilization = Seq(graft.core.StabilizationConf(7751L, 0.0, 20.0,
        dtStabilizationSec = 1200L, maxAllowedDowntimeSec = 900L)),
      dependents = Seq(graft.core.DependentConf(independentId = 7751L,
        dependentId = 7770L, dtToleranceUs = 500000L,
        secondaryRange = Some((0.0, 25.0)))))
    val out = java.nio.file.Files.createTempDirectory("qc_patch").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (flagged, phases) = QcMain.run(spark, fixture, cfg, patchOut = Some(out))

    // cache lifecycle: run() must release its intermediate stage caches;
    // the single surviving cached frame is the RETURNED one (caller-owned)
    val newlyCached = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(newlyCached.size <= 1,
      s"run() leaked intermediate caches: $newlyCached")

    val hist = flagged.groupBy(col("flag")).count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(hist.values.sum > 8000) // every observation flagged-or-passed
    // count-preserving: spatial-outlier rows must stay in the output
    // (flagged BAD), not be dropped by the kinematics input filter
    val inputRows = graft.sources.StaJson.readResponse(spark, fixture).count()
    assert(hist.values.sum == inputRows,
      s"pipeline dropped rows: in=$inputRows out=${hist.values.sum}")
    assert(hist.keys.exists(_ >= Flags.Good)) // at least some opinions
    // phase timing line is complete and ordered sanely
    assert(phases.totalSec >= phases.totalQcSec && phases.totalQcSec > 0)
    assert(phases.dfConstructionSec > 0 && phases.patchSec > 0)
    // patch file written with wire codes
    val patch = spark.read.json(out)
    assert(patch.count() == hist.values.sum)
    assert(patch.columns.toSet == Set("id", "resultQuality"))

    // releasing the returned frame leaves the session storage-clean
    flagged.unpersist()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
  }

  test("a second same-shaped window reuses every generated class") {
    // one captured response per 15-min window: streams 601 (with a
    // 20-min stabilization lookback), 602 and 603, one row a minute,
    // different values and times in each window
    def window(w: Int): String = {
      val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(900L * w)
      def stream(id: Long, fromMin: Int): String = {
        val obs = (fromMin until 15).map { m =>
          val i = w * 100 + m + 20
          s"""{"@iot.id":${id * 10000 + i},"result":${10.0 + (i * 7 + id) % 13},""" +
          s""""phenomenonTime":"${t0.plusSeconds(60L * m)}","resultQuality":0,""" +
          s""""FeatureOfInterest":{"@iot.id":${id * 10000 + i},"feature":""" +
          s"""{"coordinates":[${2.9 + i * 1e-4},${51.2 + i * 1e-4}]}}}"""
        }
        s"""{"@iot.id":$id,"description":"d","unitOfMeasurement":{"name":"u"},""" +
        s""""ObservedProperty":{"@iot.id":1,"name":"p"},"Sensor":{"name":"s"},""" +
        s""""Observations":[${obs.mkString(",")}]}"""
      }
      val f = java.nio.file.Files.createTempFile(s"qc_window_$w", ".json")
      java.nio.file.Files.writeString(f,
        s"""{"Datastreams":[${stream(601, -20)},${stream(602, 0)},${stream(603, 0)}]}""")
      f.toString
    }
    // literals unlike any other spec's, so the first window's classes
    // are its own and none come from an earlier suite
    val cfg = QcMain.Config(
      rangeBounds = Map(601L -> (3.0, 21.0), 602L -> (4.0, 19.0), 603L -> (6.0, 17.0)),
      gradientBounds = (-0.61, 0.61), zscoreBounds = (-2.7, 2.7),
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.1, 51.4, 2.8, 3.1)),
      stabilization = Seq(graft.core.StabilizationConf(601L, 3.0, 21.0,
        dtStabilizationSec = 1200L, maxAllowedDowntimeSec = 900L)),
      dependents = Seq(graft.core.DependentConf(independentId = 601L,
        dependentId = 602L, dtToleranceUs = 61000000L,
        secondaryRange = Some((4.5, 18.5)))))
    def compiles(w: Int): Long = {
      val c0 = graft.core.Sessions.codegenCompiles
      val (flagged, _) = QcMain.runFrom(spark,
        spark.read.format("graft.sources.sta").option("path", window(w)).load(), cfg)
      assert(flagged.count() == 35 + 15 + 15)
      flagged.unpersist()
      graft.core.Sessions.codegenCompiles - c0
    }
    val first = compiles(0)
    // more classes than Spark's default cache (100) holds: a session
    // capped there recompiles them in every window
    assert(first > 100, s"first window compiled only $first classes")
    assert(compiles(1) == 0)
  }
}
