package graft.pipeline

import graft.core.{Flags, Frames, Obs, QcConfig}
import graft.ops._
import graft.sources.PatchSink
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The full QC pipeline lifecycle (reference `src/main.py` §3.1):
  * fetch/flatten → stabilization → geo pass → kinematics → value pass
  * (range/gradient/z-score) → dependent pass → patch sink; with the
  * reference's six phase wall-times logged (`src/main.py:862-868`:
  * df-construction, region, ranges, total QC, patch, total).
  *
  * Spark shape: one DataFrame lineage, actions only at the sink and the
  * audit counts; independent checks merge worst-wins (associative, so
  * Catalyst may reorder them), while the semantic orderings —
  * z-score over still-good rows, velocity over outlier-free rows —
  * are preserved by a conditional window input and a window partition
  * (SURVEY §7.4.6). Each pass builds its columns with one projection
  * per window-dependency level ([[graft.core.Frames]]).
  */
object QcMain {

  /** The reference's six phase wall-times of one run, in seconds.
    * `regionSec` brackets the geo pass, which runs no action: the passes
    * only build the plan, and their work executes inside the value
    * pass's materializing count, charged to `rangesSec`. So `regionSec`
    * measures plan construction only, until phase time is attributed
    * to the jobs each pass runs (ROADMAP B).
    */
  final case class PhaseTimes(dfConstructionSec: Double, regionSec: Double,
                              rangesSec: Double, totalQcSec: Double,
                              patchSec: Double, totalSec: Double)

  /** The one QC configuration. Each field names its config-document key
    * ([[ConfigLoader]]); an absent key keeps the default.
    */
  final case class Config(
      /** `QC.<id>.range`, else `QC_global.range` for a stream listed under `QC` */
      rangeBounds: Map[Long, (Double, Double)] = Map.empty,
      /** `QC_global.gradient`, one bound for every stream */
      gradientBounds: (Double, Double) = (-1.0, 1.0),
      /** `QC_global.zscore`, one bound for every stream */
      zscoreBounds: (Double, Double) = (-3.0, 3.0),
      /** `QC_global.zscore.time_window`, seconds */
      zscoreWindowSec: Long = 3600L,
      /** `location.time_window`, seconds */
      outlierWindowSec: Long = 600L,
      /** `location.max_dx_dt`, m/s, which also sets [[maxVelocityMs]] */
      outlierMaxDxDt: Double = 6.89,
      /** `location.regions`, first match wins (in place of the reference's SeaVox lookup) */
      regions: Seq[Geo.BoxRegion] = Seq.empty,
      /** `location.depth_threshold`, m */
      depthThreshold: Double = 0.0,
      /** §3.1 step 6 — kinematic limits (reference src/main.py:663-710):
        * `location.max_dx_dt` and `location.max_ddx_dtdt`; None = check off
        */
      maxVelocityMs: Option[Double] = Some(6.89),
      maxAccelerationMs2: Option[Double] = Some(0.15),
      /** §3.1 step 4 — `QC_stabilization` */
      stabilization: Seq[graft.core.StabilizationConf] = Seq.empty,
      /** §3.1 step 8 — `QC_dependent` */
      dependents: Seq[graft.core.DependentConf] = Seq.empty)

  /** §3.1 step 4 — stabilization pass: per configured independent
    * stream, BAD during warm-up after long outages; worst-wins
    * re-merged onto the full frame by observation id (reference
    * src/main.py:409-494). No-op when unconfigured.
    */
  private[graft] def stabPass(spark: SparkSession, obs: DataFrame,
                              cfg: Config): DataFrame =
    if (cfg.stabilization.isEmpty) obs else {
      val stabConf = {
        import spark.implicits._
        cfg.stabilization.map(s => (s.datastreamId, s.rangeMin, s.rangeMax,
          s.maxAllowedDowntimeSec.toDouble * 1e6, s.dtStabilizationSec.toDouble * 1e6))
          .toDF(Obs.DatastreamId, "st_min", "st_max", "st_down_us", "st_stab_us")
      }
      val sub = obs.join(broadcast(stabConf), Seq(Obs.DatastreamId))
      val flaggedSub = Stabilization(sub, col(Obs.Result), col("t_us").cast("double"),
        col("st_min"), col("st_max"), col("st_down_us"), col("st_stab_us"),
        partCols = Seq(Obs.DatastreamId), timeCol = "t_us")
        .select(col(Obs.IotId), col("stab_flag"))
      Frames.withColumns(obs.join(flaggedSub, Seq(Obs.IotId), "left"),
        Seq(Obs.QcFlag -> Flags.worstWins(col(Obs.QcFlag), col("stab_flag"))),
        drop = Seq("stab_flag"))
    }

  /** §3.1 steps 5-7a — geo pass: region classify + null-region/
    * mainland/depth folded per feature, then the spatial outlier
    * window. Geospatial checks flag the FEATURE (the shared geometry
    * entity), and the per-feature flag folds into every observation at
    * that feature (reference src/main.py:587-592,625-630); a window
    * over feature_id expresses the fold with no extra join.
    */
  private[graft] def geoPass(afterStab: DataFrame, cfg: Config): DataFrame = {
    // the per-feature fold reads the region and elevation expressions
    // themselves, so all three columns are one projection
    val region = Geo.classifyRegion(col(Obs.Lat), col(Obs.Long_), cfg.regions)
    val elev = Geo.gridElevation(col(Obs.Lat), col(Obs.Long_))
    val geoChecks = Seq(
      Geo.nullRegionCheck(region),
      Geo.mainlandCheck(region),
      Geo.depthCheck(elev, cfg.depthThreshold))
    val perRowGeoFlag = geoChecks.map(_.flagCol).reduce(Flags.worstWins(_, _))
    val wFeature = Window.partitionBy(col(Obs.FeatureId))
    val withFeature = Frames.withColumns(afterStab, Seq(
      "region" -> region,
      "elev" -> elev,
      Obs.QcFlagFeature -> max(perRowGeoFlag).over(wFeature)))
    val geoFlagged = withFeature
      .withColumn("flag", Flags.worstWins(col(Obs.QcFlag), col(Obs.QcFlagFeature)))
    SpatialOutlier(geoFlagged, col(Obs.Lat), col(Obs.Long_),
      col("t_us"), cfg.outlierWindowSec, cfg.outlierMaxDxDt,
      partCols = Seq(Obs.DatastreamId))
      .withColumn("flag", SpatialOutlier.asCheck().mergedInto(col("flag")))
  }

  /** §3.1 step 6 — kinematics on outlier-free rows (reference
    * src/main.py:654-660): velocity/acceleration limits flag BOTH
    * endpoints of an offending segment (pinned tests/test_qc.py:
    * 395-435). Only the kinematic *inputs* exclude spatial outliers —
    * the outlier rows themselves stay in the frame, already flagged BAD
    * above, and reach the sink (reference keeps them in df_all and
    * patches them, src/main.py:611-660,854-859).
    *
    * One branch: the window partitions by (stream, is-outlier), so the
    * lag/lead of a clean row runs over exactly the stream's clean rows
    * — the sequence a filter to the clean subset would give — and only
    * clean rows take the kinematic flags. The input is already
    * hash-partitioned by stream, which satisfies that clustering: a
    * sort, no exchange, and the upstream is planned and run once.
    */
  private[graft] def kinPass(withOutlier: DataFrame, cfg: Config): DataFrame = {
    val isOut = coalesce(col("is_spatial_outlier"), lit(false))
    val w = Window.partitionBy(col(Obs.DatastreamId), isOut)
      .orderBy(col("t_us"), col(Obs.IotId))
    val kinChecks =
      cfg.maxVelocityMs.map(m => QcCheck("max_velocity",
        WindowKernels.exceedsOnEitherEndpoint(col("velocity_ms"), m, w), Flags.Bad)).toSeq ++
      cfg.maxAccelerationMs2.map(m => QcCheck("max_acceleration",
        WindowKernels.exceedsOnEitherEndpoint(col("acceleration_ms2"), m, w), Flags.Bad)).toSeq
    if (kinChecks.isEmpty) withOutlier else {
      val kin = WindowKernels.velocityAcceleration(withOutlier, w,
        col(Obs.Lat), col(Obs.Long_), col("t_us"))
      val kinFlag = kinChecks.foldLeft(col("flag"))((f, c) => c.mergedInto(f))
      Frames.withColumns(kin, Seq("flag" -> when(!isOut, kinFlag).otherwise(col("flag"))),
        drop = Seq("dt_sec", "velocity_ms", "acceleration_ms2"))
    }
  }

  /** §3.1 step 7b — value pass: range → gradient → z-score on
    * still-good rows. The z-score runs over still-good rows via a
    * conditional window (avg/stddev ignore nulls): same good-rows-only
    * statistics as a filter + join back on iot_id, with zero extra
    * shuffle.
    */
  private[graft] def valuePass(spark: SparkSession, kinematics: DataFrame,
                               cfg: Config): DataFrame = {
    val confDf = {
      import spark.implicits._
      cfg.rangeBounds.toSeq.map { case (ds, (lo, hi)) => (ds, lo, hi) }
        .toDF(Obs.DatastreamId, "qc_range_min", "qc_range_max")
    }
    valueChecks(QcConfig.joinOnto(kinematics, confDf), cfg)
  }

  /** The value pass's checks over a frame that already carries
    * `qc_range_min`/`qc_range_max` and `flag`: range and gradient
    * (`cfg.gradientBounds`), then the z-score (`cfg.zscoreBounds` over
    * `cfg.zscoreWindowSec`) over the rows still at most PROBABLY_GOOD,
    * each merged worst-wins into `flag`. A worse row gets a null z-score
    * input, so its z-score check gives NO_QC and changes nothing.
    */
  private[graft] def valueChecks(withConf: DataFrame, cfg: Config): DataFrame = {
    val w = Window.partitionBy(col(Obs.DatastreamId)).orderBy(col("t_us"), col(Obs.IotId))
    val range = QcCheck("range",
      QcCheck.outOfRange(col(Obs.Result), col("qc_range_min"), col("qc_range_max")),
      Flags.Bad, onFalse = Some(Flags.Good), onNan = Some(Flags.NoQc))
    val gradient = QcCheck("gradient",
      QcCheck.outOfRange(col("gradient"),
        lit(cfg.gradientBounds._1), lit(cfg.gradientBounds._2)),
      Flags.ProbablyBad, onFalse = Some(Flags.Good), onNan = Some(Flags.NoQc))
    val zscore = QcCheck("zscore",
      QcCheck.outOfRange(col("zscore"),
        lit(cfg.zscoreBounds._1), lit(cfg.zscoreBounds._2)),
      Flags.ProbablyBad, onFalse = Some(Flags.Good), onNan = Some(Flags.NoQc))
    // range and gradient merge in one projection after the gradient;
    // the z-score reads the merged flag, so it starts the next level
    val graded = WindowKernels.gradientOnto(withConf, "gradient",
        col(Obs.Result), col("t_us").cast("double") / 1e6, w)
      .withColumn("flag", gradient.mergedInto(range.mergedInto(col("flag"))))
    WindowKernels.zscoreOnto(graded, "zscore",
        when(col("flag") <= Flags.ProbablyGood, col(Obs.Result)),
        col("t_us"), cfg.zscoreWindowSec)
      .withColumn("flag", Flags.worstWins(col("flag"), zscore.flagCol))
  }

  /** §3.1 step 8 — dependent pass: per config entry, as-of propagate
    * the independent's flag and run the secondary value check
    * (reference src/main.py:771-805).
    */
  private[graft] def dependentPass(valueFlagged: DataFrame,
                                   cfg: Config): DataFrame =
    cfg.dependents.foldLeft(valueFlagged) { (d, dep) =>
      val indep = d.filter(col(Obs.DatastreamId) === dep.independentId)
        .select(col(Obs.IotId).as("i_id"), col("t_us").as("i_t_us"),
          col(Obs.Result).as("i_result"), col("flag").as("i_flag"))
      val depRows = d.filter(col(Obs.DatastreamId) === dep.dependentId)
      val matched = AsofJoin.nearest(depRows, indep, Seq.empty,
        leftTimeUs = "t_us", rightTimeUs = "i_t_us", toleranceUs = dep.dtToleranceUs,
        rightCols = Seq("i_id", "i_t_us", "i_result", "i_flag"),
        rightIdCol = Some("i_id"), leftIdCol = Some(Obs.IotId))
      val base = AsofJoin.propagateFlag(col("flag"), col("r_i_flag"), dep.flagWhenMissing)
      val depFlag = dep.secondaryRange match {
        case Some((lo, hi)) => AsofJoin.secondaryValueCheck(base, col("r_i_result"), lo, hi)
        case None => base
      }
      val newDepFlags = matched.select(col(Obs.IotId), depFlag.as("dep_flag"))
      Frames.withColumns(d.join(newDepFlags, Seq(Obs.IotId), "left"),
        Seq("flag" -> coalesce(col("dep_flag"), col("flag"))), drop = Seq("dep_flag"))
    }

  /** The lifecycle over an already-loaded observations frame (the long
    * schema the `graft.sources.sta` source produces from a captured
    * response or a live service); returns the flagged frame and the
    * phase timing line. Source pushdown happens in the PLAN of `obsIn`
    * before this cache materializes it.
    */
  def runFrom(spark: SparkSession, obsIn: DataFrame, cfg: Config,
              patchOut: Option[String] = None): (DataFrame, PhaseTimes) = {
    val t0 = System.nanoTime()
    def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

    // 1. fetch + flatten (df-construction phase)
    val obs = obsIn
      .withColumn("t_us", unix_micros(col(Obs.Time)))
      .cache()
    obs.count() // materialize: the reference times df-construction as a phase
    val tDf = secsSince(t0)

    val afterStab = stabPass(spark, obs, cfg)

    val tRegion0 = System.nanoTime()
    val withOutlier = geoPass(afterStab, cfg)
    val regionSec = secsSince(tRegion0)

    val kinematics = kinPass(withOutlier, cfg)

    // 4. value pass: range → gradient → z-score on still-good rows
    val tRanges0 = System.nanoTime()
    val valueFlagged = valuePass(spark, kinematics, cfg)
    valueFlagged.cache().count() // close the "ranges" phase before dependents
    val rangesSec = secsSince(tRanges0)

    // the dependent pass reads the value cache as a leaf relation: its
    // operations analyze one node, not the value chain three times over
    val flagged = dependentPass(GraftExpressionBridge.cachedLeaf(valueFlagged), cfg).cache()
    flagged.count()
    // flagged is now materialized in its own cache; the intermediate
    // stage caches only existed to build it — release them so a
    // long-lived session (the cron/streaming shape) doesn't accumulate
    // storage. The RETURNED frame stays cached and is caller-owned:
    // unpersist it after its last use (its plan reads the released value
    // cache, which a recompute would fill again).
    obs.unpersist()
    valueFlagged.unpersist()
    val totalQcSec = secsSince(tRegion0)

    // 5. sink
    val tPatch0 = System.nanoTime()
    patchOut.foreach(out => PatchSink.writePatchFile(
      flagged.withColumn(Obs.QcFlag, col("flag")), out))
    val patchSec = secsSince(tPatch0)

    (flagged, PhaseTimes(tDf, regionSec, rangesSec, totalQcSec, patchSec, secsSince(t0)))
  }
}
