package graft

import graft.core.Flags
import graft.ops.Geo
import graft.pipeline.{ConfigLoader, QcMain}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
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
    val staRead = spark.read.format("graft.sources.sta").option("path", fixture).load()
    val (flagged, phases) = QcMain.runFrom(spark, staRead, cfg, patchOut = Some(out))

    // cache lifecycle: runFrom() must release its intermediate stage caches;
    // the single surviving cached frame is the RETURNED one (caller-owned)
    val newlyCached = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(newlyCached.size <= 1,
      s"runFrom() leaked intermediate caches: $newlyCached")

    val hist = flagged.groupBy(col("flag")).count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(hist.values.sum > 8000) // every observation flagged-or-passed
    // count-preserving: spatial-outlier rows must stay in the output
    // (flagged BAD), not be dropped by the kinematics input filter
    val inputRows = staRead.count()
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
    // the codegen cache is process-wide, and a suite that read the sta
    // source into runFrom earlier compiled the scan's and the passes'
    // literal-free classes: empty it, so the first window's are its own
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = compiles(0)
    // more classes than Spark's default cache (100) holds: a session
    // capped there recompiles them in every window
    assert(first > 100, s"first window compiled only $first classes")
    assert(compiles(1) == 0)
  }

  /** One 40-minute window of three streams at a one-minute cadence,
    * built in memory, with every edge case the passes have to get right
    * in one place:
    *  - 601 (independent, stabilized): values out of limits for 7 min
    *    (an outage longer than the allowed 5), then a 10-min warm-up;
    *    spatial outliers on two consecutive rows (25, 26);
    *  - 602 (dependent on 601, 20-s tolerance): each row 5 s after its
    *    601 partner, plus one row 30 s from any 601 row (no partner);
    *  - 603: spatial outliers on its first and its last row, two rows at
    *    the same timestamp, a null-lat row, a 560-m jump in one minute
    *    (a velocity fault, not a spatial outlier) and a value spike.
    */
  private def edgeCaseWindow(): (org.apache.spark.sql.DataFrame, QcMain.Config) = {
    import org.apache.spark.sql.Row
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def row(ds: Long, id: Long, sec: Long, v: Double,
            lat: java.lang.Double, lon: Double, feature: Long): Row =
      Row(id, v, java.sql.Timestamp.from(t0.plusSeconds(sec)), Flags.NoQc, ds,
        "p", "u", lon, lat, feature)
    def trackLat(i: Int): Double = 51.2 + i * 8e-4
    def trackLon(i: Int): Double = 2.9 + i * 5e-4
    val s601 = (0 until 40).map { i =>
      val v = if (i >= 10 && i < 17) 25.0 else 10.0 + (i * 7 % 11) * 0.4
      val dLat = if (i == 25 || i == 26) 0.1 else 0.0
      row(601, 6010000L + i, 60L * i, v, trackLat(i) + dLat, trackLon(i), 6010000L + i)
    }
    val s602 = (0 until 40).map { i =>
      row(602, 6020000L + i, 60L * i + 5, 8.0 + (i * 5 % 13) * 0.5,
        trackLat(i), trackLon(i), 6010000L + i)
    } :+ row(602, 6020040L, 60L * 33 + 30, 9.0, trackLat(33), trackLon(33), 6020040L)
    val s603 = (0 until 40).map { i =>
      val sec = if (i == 13) 60L * 12 else 60L * i // rows 12 and 13 share a timestamp
      val v = if (i == 8) 28.0 else 12.0 + (i * 3 % 7) * 0.3
      val lat: java.lang.Double =
        if (i == 0) trackLat(i) + 0.1
        else if (i == 39) trackLat(i) - 0.15
        else if (i == 20) null
        else if (i >= 30) trackLat(i) + 0.005 // the jump at row 30
        else trackLat(i)
      row(603, 6030000L + i, sec, v, lat, trackLon(i), 6030000L + i)
    }
    val rows = s601 ++ s602 ++ s603
    val obs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), graft.core.Obs.schema)
    val cfg = QcMain.Config(
      rangeBounds = Map(601L -> (3.0, 21.0), 602L -> (4.0, 19.0), 603L -> (0.0, 30.0)),
      gradientBounds = (-0.05, 0.05), zscoreBounds = (-2.5, 2.5),
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.1, 51.45, 2.8, 3.1)),
      depthThreshold = 25.0,
      stabilization = Seq(graft.core.StabilizationConf(601L, 3.0, 21.0,
        dtStabilizationSec = 600L, maxAllowedDowntimeSec = 300L)),
      dependents = Seq(graft.core.DependentConf(independentId = 601L,
        dependentId = 602L, dtToleranceUs = 20000000L,
        secondaryRange = Some((4.5, 18.5)))))
    (obs, cfg)
  }


  /** [[edgeCaseWindow]]'s config as a config document: per-stream
    * ranges, global gradient and z-score, a region, a depth threshold,
    * stabilization and a dependent.
    */
  private val edgeCaseDoc =
    """{
      |  "QC": {
      |    "601": {"range": {"min": 3, "max": 21}},
      |    "602": {"range": {"min": 4, "max": 19}},
      |    "603": {"range": {"min": 0, "max": 30}}
      |  },
      |  "QC_global": {"gradient": {"min": -0.05, "max": 0.05},
      |                "zscore": {"min": -2.5, "max": 2.5}},
      |  "QC_stabilization": [
      |    {"datastream": 601, "range": {"min": 3, "max": 21},
      |     "dt_stabilization": "10min", "max_allowed_downtime": "5min"}
      |  ],
      |  "QC_dependent": [
      |    {"independent": 601, "dependent": 602, "dt_tolerance": "20s",
      |     "range": {"min": 4.5, "max": 18.5}}
      |  ],
      |  "location": {
      |    "depth_threshold": 25,
      |    "regions": [{"region": "NORTH SEA", "sub_region": "SOUTHERN BIGHT",
      |                 "lat": {"min": 51.1, "max": 51.45}, "lon": {"min": 2.8, "max": 3.1}}]
      |  }
      |}""".stripMargin

  test("the edge-case window's config document loads to its QcMain.Config") {
    val cfg = edgeCaseWindow()._2
    assert(ConfigLoader.load(edgeCaseDoc).map(_.qc) == Right(cfg))
    // gradient bounds are global only: a per-stream block is an error
    val perStream = edgeCaseDoc.replace(""""601": {"range": {"min": 3, "max": 21}}""",
      """"601": {"range": {"min": 3, "max": 21}, "gradient": {"min": -1, "max": 1}}""")
    val Left(errs) = ConfigLoader.load(perStream): @unchecked
    assert(errs.map(_.path) == Seq("QC.601.gradient"))
    // a listed stream with no range of its own takes QC_global.range
    val globalRange = edgeCaseDoc
      .replace(""""603": {"range": {"min": 0, "max": 30}}""", """"603": {}""")
      .replace(""""QC_global": {""", """"QC_global": {"range": {"min": 0, "max": 30}, """)
    assert(ConfigLoader.load(globalRange).map(_.qc) == Right(cfg))
    // max_dx_dt sets both speed limits; an explicit null max_ddx_dtdt is check off
    val kinematics = edgeCaseDoc.replace(""""depth_threshold": 25,""",
      """"depth_threshold": 25, "time_window": "5min", "max_dx_dt": 5, "max_ddx_dtdt": null,""")
    assert(ConfigLoader.load(kinematics).map(_.qc) == Right(cfg.copy(outlierWindowSec = 300L,
      outlierMaxDxDt = 5.0, maxVelocityMs = Some(5.0), maxAccelerationMs2 = None)))
  }

  test("runFrom's flags, gradients and z-scores on the edge-case window are pinned") {
    val (obs, cfg) = edgeCaseWindow()
    val (flagged, _) = QcMain.runFrom(spark, obs, cfg)
    try {
      val byId = flagged.select(col("iot_id"), col("flag"),
          coalesce(col("is_spatial_outlier"), lit(false)))
        .collect().map(r => r.getLong(0) -> (r.getByte(1), r.getBoolean(2))).toMap
      // the fixture reaches every case it is meant to
      assert(byId.collect { case (id, (_, true)) => id }.toSet ==
        Set(6030000L, 6030039L, 6010025L, 6010026L))
      assert(byId(6020040L)._1 == Flags.Bad) // dependent row with no partner
      assert(byId(6010018L)._1 == Flags.Bad) // stabilization warm-up
      assert(byId(6030030L)._1 == Flags.Bad) // velocity jump
      assert(byId.values.groupBy(_._1).map { case (f, v) => f -> v.size } ==
        Map(Flags.Good -> 56, Flags.ProbablyGood -> 1, Flags.ProbablyBad -> 4, Flags.Bad -> 60))
      assert(flagged.columns.mkString(",") ==
        "iot_id,datastream_id,result,phenomenonTime,qc_rank,observation_type,units," +
        "long,lat,feature_id,t_us,region,elev,qc_flag_feature,flag,median_lat," +
        "median_lon,dist_to_median_m,is_spatial_outlier,qc_range_min,qc_range_max," +
        "gradient,zscore")
      // recorded before the passes were regrouped into fewer projections
      // and the kinematics lost its second branch: the same rows, flags,
      // gradients and z-scores, bit for bit
      assert(graft.core.Canon.fingerprint(
          flagged.select(col("iot_id"), col("flag"), col("gradient"), col("zscore"))) ==
        graft.core.Canon.Fingerprint(121,
          "flag:int,gradient:float,iot_id:int,zscore:float", "6a3624566701ee64"))
    } finally flagged.unpersist()
  }

  test("IncrementalQc sinks the edge-case window with runFrom's pinned flags") {
    val (obs, cfg) = edgeCaseWindow()
    val dir = java.nio.file.Files.createTempDirectory("qc_stream_edge").toString
    obs.coalesce(1).write.mode("overwrite").parquet(dir)
    var batches = 0
    var sunk: Option[graft.core.Canon.Fingerprint] = None
    val q = graft.streaming.IncrementalQc.stream(spark, dir, cfg) { (batch, _) =>
      batches += 1
      // the sink's flag is the hand-off column, qc_rank
      sunk = Some(graft.core.Canon.fingerprint(batch.select(col("iot_id"),
        col(graft.core.Obs.QcFlag).as("flag"), col("gradient"), col("zscore"))))
    }.start()
    q.awaitTermination(120000)
    assert(batches == 1)
    assert(sunk.contains(graft.core.Canon.Fingerprint(121,
      "flag:int,gradient:float,iot_id:int,zscore:float", "6a3624566701ee64")))
  }

  test("the value pass runs each exchange once, the window in few jobs") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    val (obs, cfg) = edgeCaseWindow()
    val metrics = graft.core.ExecMetrics.install(spark.sparkContext)
    val e0 = metrics.snapshot()
    val (flagged, _) = QcMain.runFrom(spark, obs, cfg)
    val jobs = (metrics.snapshot() - e0).jobs
    try {
      object Aqe extends AdaptiveSparkPlanHelper
      // the returned frame's cached plan scans the value pass's cache;
      // that cache's plan is the value pass as it ran
      val flaggedPlan = spark.sharedState.cacheManager
        .lookupCachedData(flagged.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.cachedPlan
      val valuePlans = Aqe.collect(flaggedPlan) { case s: InMemoryTableScanExec => s.relation }
        .map(_.cachedPlan).distinct
      assert(valuePlans.size == 1)
      val exchanges = Aqe.collect(valuePlans.head) {
        case e: Exchange => e: SparkPlan
        case r: ReusedExchangeExec => r.child
      }
      assert(exchanges.nonEmpty)
      val twins = exchanges.groupBy(_.canonicalized).values.filter(_.size > 1)
      assert(twins.isEmpty, s"exchanges planned twice: ${twins.map(_.head.nodeName)}")
      // 20 while the kinematics ran as two branches
      assert(jobs <= 16, s"runFrom ran $jobs jobs")
    } finally flagged.unpersist()
  }
}
