package graft

import graft.core.{ExecMetrics, Obs}
import graft.ops.Geo
import graft.pipeline.QcMain
import org.apache.spark.sql.functions._

/** Full QC-lifecycle bench (round-14 verdict #7): drive
  * [[QcMain.runFrom]] — stabilization → geo → kinematics → value →
  * dependent → patch sink, the reference's complete `src/main.py` §3.1
  * chain — over a scale dir's events, and print the SAME six phase
  * wall-times the reference logs per run (`src/main.py:862-868`:
  * df-construction, region, ranges, total QC, patch, total) as one
  * JSON line, for a line-for-line century comparison in BASELINE.md.
  *
  * `SPARK_GRAFT_CPUS=32 sbt 'runMain graft.QcLifecycle /tmp/graft_sf10b out.json'`
  */
object QcLifecycle {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1) else "qc_lifecycle.json"
    val spark = graft.core.Sessions.local()
    val metrics = ExecMetrics.install(spark.sparkContext)

    val obsIn = Obs.eventsAsObservations(spark, sfDir)
    val cfg = configFor(obsIn)

    val patchDir = java.nio.file.Files
      .createTempDirectory("graft_qc_patch_").toString
    val e0 = metrics.snapshot()
    val t0 = System.nanoTime()
    val c0 = graft.core.Sessions.codegenCompiles
    val (flagged, ph) = QcMain.runFrom(spark, obsIn, cfg,
      patchOut = Some(patchDir))
    val nRows = flagged.count()
    val wallSec = (System.nanoTime() - t0) / 1e9
    // generated classes the run compiled (a static counter: no job)
    val codegenCompiles = graft.core.Sessions.codegenCompiles - c0
    // jobs, stages, tasks, shuffle, spill and executor time of the run
    val exec = metrics.snapshot() - e0
    val hist = flagged.groupBy(col("flag")).count().collect()
      .map(r => s""""${r.getByte(0)}":${r.getLong(1)}""").sorted
      .mkString("{", ",", "}")
    spark.stop()

    def f2(v: Double) = "%.2f".format(v)
    // the reference's phase names, in its log order (src/main.py:862-868)
    val json =
      s"""{"metric":"qc_lifecycle","sf":"$sfDir","rows":$nRows,""" +
      s""""df_construction_sec":${f2(ph.dfConstructionSec)},""" +
      s""""region_sec":${f2(ph.regionSec)},""" +
      s""""ranges_sec":${f2(ph.rangesSec)},""" +
      s""""total_qc_sec":${f2(ph.totalQcSec)},""" +
      s""""patch_sec":${f2(ph.patchSec)},""" +
      s""""total_sec":${f2(ph.totalSec)},""" +
      s""""wall_sec":${f2(wallSec)},"codegen_compiles":$codegenCompiles,""" +
      s""""exec":${exec.json},""" +
      s""""flag_hist":$hist}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(json)
  }

  /** The lifecycle's standard config: per-stream config over every
    * stream present — the shape the reference's ~60-datastream
    * config.yaml takes, derived here so the same command works at any
    * SF. [[StreamBench]]'s `qc` row streams with the same config.
    * perfbench's `Harness.qcLayers` times the cumulative stage
    * prefixes of [[QcMain]] over its own windows.
    */
  private[graft] def configFor(obsIn: org.apache.spark.sql.DataFrame): QcMain.Config = {
    val ids = obsIn.select(col(Obs.DatastreamId)).distinct()
      .collect().map(_.getLong(0)).sorted
    QcMain.Config(
      rangeBounds = ids.map(_ -> (5.0, 50.0)).toMap,
      // the synthetic track (Obs.synthLat/Lon) spans 50.95–51.45 /
      // 2.65–3.15 and FeatureId groups 97 events each ACROSS the whole
      // span, so geo flags fold per-feature: a box smaller than the
      // span, or a depth threshold below the synthetic grid's +19 m
      // peak, would blanket-BAD every feature and measure nothing but
      // the fold. Box covers the span; threshold 25 keeps the depth
      // expression in the plan with a realistic mixed flag histogram.
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT",
        50.9, 51.5, 2.6, 3.2)),
      depthThreshold = 25.0,
      stabilization = ids.take(2).map(id =>
        graft.core.StabilizationConf(id, 5.0, 50.0,
          dtStabilizationSec = 1200L, maxAllowedDowntimeSec = 900L)),
      dependents =
        if (ids.length >= 2)
          Seq(graft.core.DependentConf(independentId = ids(0),
            dependentId = ids(1), dtToleranceUs = 500000L,
            secondaryRange = Some((0.0, 45.0))))
        else Seq.empty)
  }
}
