package graft.queries

import graft.core.{Flags, Obs, QcConfig}
import graft.ops._
import graft.pipeline.QcMain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's QC operator surface (SURVEY §2) instantiated over the
  * driver's `events` table (events ≡ observations: event_id→iot_id,
  * user_id→datastream_id, value→result, ts→phenomenonTime,
  * event_type→observation_type; coordinates synthesized with exact
  * integer arithmetic so the DuckDB oracle reproduces them bit-for-bit).
  */
object QueriesQcEvents {

  /** Observations frame with exact epoch-µs time key. */
  private def obs(s: SparkSession, dir: String): DataFrame =
    Obs.eventsAsObservations(s, dir)
      .withColumn("t_us", unix_micros(col(Obs.Time)))
      .withColumn("lon", col(Obs.Long_))

  /** Per-stream literal QC bounds; streams ≡4 (mod 5) get null bounds
    * (exercises the flag_on_nan path). Mirrors Q.ConfCte.
    */
  private def conf(s: SparkSession, dir: String): DataFrame =
    Q.table(s, dir, "events").select(col("user_id").as(Obs.DatastreamId)).distinct()
      .withColumn("qc_range_min",
        when(col(Obs.DatastreamId) % 5 === 4, lit(null).cast("double"))
          .otherwise((lit(20) + lit(2) * col(Obs.DatastreamId)).cast("double")))
      .withColumn("qc_range_max",
        when(col(Obs.DatastreamId) % 5 === 4, lit(null).cast("double"))
          .otherwise((lit(150) + col(Obs.DatastreamId)).cast("double")))

  private def rangeFlag(result: Column, lo: Column, hi: Column): Column =
    QcCheck("range", QcCheck.outOfRange(result, lo, hi),
      Flags.Bad, onFalse = Some(Flags.Good), onNan = Some(Flags.NoQc)).flagCol

  /** Time-ordered per-stream window with deterministic tiebreak. */
  private val wStream = Window.partitionBy(col(Obs.DatastreamId))
    .orderBy(col("t_us"), col(Obs.IotId))

  /** Bounds of the declared QC chain ([[qcPipeline]]). */
  private val chainCfg = QcMain.Config(gradientBounds = (-0.04, 0.04),
    zscoreBounds = (-2.5, 2.5), zscoreWindowSec = 21600L)

  /** The canonical QC chain (reference §3.1 step 7: range → gradient →
    * z-score on the rows still at most PROBABLY_GOOD, worst-wins): runs
    * [[QcMain]]'s value checks over the config-joined observations,
    * none flagged yet. Shared by qc_pipeline_flags and SparkEntry.entry.
    */
  def qcPipeline(s: SparkSession, dir: String): DataFrame =
    QcMain.valueChecks(
      QcConfig.joinOnto(obs(s, dir), conf(s, dir)).withColumn("flag", lit(Flags.NoQc)),
      chainCfg)

  private val zScoreSqlCte =
    """grad AS (
      |  SELECT o.*, c.qc_range_min, c.qc_range_max,
      |    CASE WHEN c.qc_range_min IS NULL THEN 0
      |         WHEN o.result < c.qc_range_min OR o.result > c.qc_range_max THEN 4
      |         ELSE 1 END AS flag_range,
      |    GRADIENT_EXPR AS gradient
      |  FROM obs o LEFT JOIN conf c USING (datastream_id)),
      |flagged AS (
      |  SELECT *, greatest(flag_range,
      |    CASE WHEN gradient IS NULL THEN 0
      |         WHEN gradient < -0.04 OR gradient > 0.04 THEN 3
      |         ELSE 1 END) AS flag12
      |  FROM grad),
      |z AS (
      |  SELECT *,
      |    CASE WHEN stddev_samp(zres) OVER wz = 0 THEN NULL
      |         ELSE (zres - avg(zres) OVER wz) / stddev_samp(zres) OVER wz
      |    END AS zscore
      |  FROM (SELECT *, CASE WHEN flag12 <= 2 THEN result END AS zres FROM flagged)
      |  WINDOW wz AS (PARTITION BY datastream_id ORDER BY t_us
      |                RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)),
      |final AS (
      |  SELECT *, greatest(flag12,
      |    CASE WHEN zscore IS NULL THEN 0
      |         WHEN zscore < -2.5 OR zscore > 2.5 THEN 3
      |         ELSE 1 END) AS flag
      |  FROM z)""".stripMargin
      .replace("GRADIENT_EXPR",
        WindowKernels.gradientSql("result", "(t_us / 1000000.0)",
          "PARTITION BY datastream_id ORDER BY t_us, iot_id"))

  /** Each observation's value in integer micro units:
    * `m (iot_id, datastream_id, t_us, v)` over `obs`.
    */
  private val microObsCte =
    """m AS (SELECT iot_id, datastream_id, t_us,
      |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
      |          AS v
      |      FROM obs)""".stripMargin

  /** CUSUM increments against per-stream integer limits — mirrors
    * WindowKernels.cusum: target μ = Σv DIV n, slack = MAD DIV 2, as
    * `name (…, mad, dp, dn)` over [[microObsCte]].
    */
  private def cusumDevCtes(name: String): String =
    s"""a AS (SELECT *, sum(v) OVER (PARTITION BY datastream_id) AS sv,
       |        count(*) OVER (PARTITION BY datastream_id) AS n FROM m),
       |b AS (SELECT *, sv // n AS mu FROM a),
       |c AS (SELECT *, sum(abs(v - mu))
       |          OVER (PARTITION BY datastream_id) // n AS mad FROM b),
       |$name AS (SELECT *, v - mu - mad // 2 AS dp,
       |        mu - v - mad // 2 AS dn FROM c)""".stripMargin

  /** The clamped CUSUM recursion over the increments in `from`, as
    * prefix sum minus running minimum: `q (…, sp, sn)`.
    */
  private def cusumRunCtes(from: String): String =
    s"""p AS (SELECT *, sum(dp) OVER w AS pp, sum(dn) OVER w AS pn
       |      FROM $from WINDOW w AS (PARTITION BY datastream_id
       |        ORDER BY t_us, iot_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |q AS (SELECT *, pp - least(0, min(pp) OVER w) AS sp,
       |        pn - least(0, min(pn) OVER w) AS sn
       |      FROM p WINDOW w AS (PARTITION BY datastream_id
       |        ORDER BY t_us, iot_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin

  /** Inter-observation gaps `d (datastream_id, t_us, dt)` and each
    * stream's modal positive gap as `mode (datastream_id, cadence_us)`
    * (ties toward the smaller gap) — mirrors WindowKernels.gapReport.
    */
  private def cadenceCtes(mode: String): String =
    s"""d AS (SELECT datastream_id, t_us,
       |        t_us - lag(t_us) OVER (PARTITION BY datastream_id
       |          ORDER BY t_us, iot_id) AS dt
       |      FROM obs),
       |h AS (SELECT datastream_id, dt, count(*) AS cnt
       |      FROM d WHERE dt > 0 GROUP BY 1, 2),
       |$mode AS (SELECT datastream_id, dt AS cadence_us FROM (
       |        SELECT datastream_id, dt,
       |          row_number() OVER (PARTITION BY datastream_id
       |            ORDER BY cnt DESC, dt ASC) AS rn
       |        FROM h) t WHERE rn = 1)""".stripMargin

  /** Runs of an unchanged observation_type per stream in time order —
    * mirrors WindowKernels.islands: `i (datastream_id, v, t_us,
    * island_idx)`.
    */
  private val typeIslandCtes =
    """c AS (
      |  SELECT datastream_id, t_us, iot_id, observation_type AS v,
      |    CASE WHEN observation_type IS NOT DISTINCT FROM
      |      lag(observation_type) OVER (PARTITION BY datastream_id
      |        ORDER BY t_us, iot_id) THEN 0 ELSE 1 END AS chg
      |  FROM obs),
      |i AS (
      |  SELECT datastream_id, v, t_us,
      |    CAST(sum(chg) OVER (PARTITION BY datastream_id
      |      ORDER BY t_us, iot_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS island_idx
      |  FROM c)""".stripMargin

  val defs: Seq[QDef] = Seq(

    // P1 — config time-range + datastream-id filter (pushed to the scan
    // as raw-ns integer predicates; see Obs.eventsAsObservationsBetween)
    QDef("p1_time_filter",
      (s, dir) => Obs.eventsAsObservationsBetween(s, dir,
          fromUsExcl = 1704844800000000L,  // 2024-01-10 00:00:00 UTC
          toUsExcl = 1708387200000000L)    // 2024-02-20 00:00:00 UTC
        .filter(col(Obs.DatastreamId).isin(1, 3, 5, 7))
        .withColumn("t_us", unix_micros(col(Obs.Time)))
        .select(col(Obs.IotId), col("t_us"), col(Obs.DatastreamId), col(Obs.Result)),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT iot_id, t_us, datastream_id, result FROM obs
              |WHERE t_us > epoch_us(TIMESTAMP '2024-01-10 00:00:00')
              |  AND t_us < epoch_us(TIMESTAMP '2024-02-20 00:00:00')
              |  AND datastream_id IN (1, 3, 5, 7)""".stripMargin)),

    // P5 — deterministic top-n
    QDef("p5_topn",
      (s, dir) => obs(s, dir)
        .orderBy(col(Obs.Result).desc, col(Obs.IotId).asc)
        .limit(100)
        .select(col(Obs.IotId), col(Obs.Result)),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT iot_id, result FROM obs
              |ORDER BY result DESC, iot_id ASC LIMIT 100""".stripMargin)),

    // S3 — JSON flattening of the props payload
    QDef("s3_flatten_json",
      (s, dir) => Q.table(s, dir, "events")
        .select(col("event_id").as("iot_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k")),
      Some("""SELECT event_id AS iot_id,
             |  CAST(json_extract_string(props, '$.k') AS INT) AS k
             |FROM events""".stripMargin)),

    // W6 — half-to-even time rounding to 1 s + nearness key (exact µs
    // ints; pandas Timestamp.round parity — see WindowKernels.timeRound)
    QDef("w6_time_round",
      (s, dir) => {
        val roundUs = unix_micros(WindowKernels.timeRound(col(Obs.Time), 1L))
        obs(s, dir).select(col(Obs.IotId), roundUs.as("round_us"),
          abs(roundUs - col("t_us")).as("dt_us"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |r AS (
              |  SELECT iot_id, t_us,
              |    CAST(floor(t_us / 1000000.0) AS BIGINT) AS q,
              |    t_us - CAST(floor(t_us / 1000000.0) AS BIGINT) * 1000000 AS rem
              |  FROM obs)
              |SELECT iot_id,
              |  (q + CASE WHEN rem > 500000 THEN 1
              |            WHEN rem < 500000 THEN 0
              |            ELSE q % 2 END) * 1000000 AS round_us,
              |  abs((q + CASE WHEN rem > 500000 THEN 1
              |            WHEN rem < 500000 THEN 0
              |            ELSE q % 2 END) * 1000000 - t_us) AS dt_us
              |FROM r""".stripMargin)),

    // W7 — slinear interpolation/extrapolation (scipy interp1d parity;
    // the reference's gradient-test oracle). Every 7th observation's
    // value is masked, then refilled from its stream's flanking known
    // samples; edge rows extrapolate along the nearest segment.
    QDef("w7_interp",
      (s, dir) => {
        val masked = obs(s, dir).withColumn("v_obs",
          when(col(Obs.IotId) % 7 === 0, lit(null).cast("double"))
            .otherwise(col(Obs.Result)))
        WindowKernels.interpSlinear(masked, "v_filled", col("v_obs"), col("t_us"))
          .filter(col("v_obs").isNull)
          .select(col(Obs.IotId), round(col("v_filled"), 6).as("v_filled"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT iot_id, datastream_id, t_us,
              |        CASE WHEN iot_id % 7 = 0 THEN NULL ELSE result END AS v
              |      FROM obs),
              |k AS (SELECT *, CASE WHEN v IS NULL THEN NULL
              |                ELSE CAST(t_us AS DOUBLE) END AS tk FROM m),
              |f AS (
              |  SELECT iot_id, t_us, v,
              |    nth_value(v, 1 IGNORE NULLS) OVER wd AS p1v,
              |    nth_value(tk, 1 IGNORE NULLS) OVER wd AS p1t,
              |    nth_value(v, 2 IGNORE NULLS) OVER wd AS p2v,
              |    nth_value(tk, 2 IGNORE NULLS) OVER wd AS p2t,
              |    nth_value(v, 1 IGNORE NULLS) OVER wa AS n1v,
              |    nth_value(tk, 1 IGNORE NULLS) OVER wa AS n1t,
              |    nth_value(v, 2 IGNORE NULLS) OVER wa AS n2v,
              |    nth_value(tk, 2 IGNORE NULLS) OVER wa AS n2t
              |  FROM k
              |  WINDOW wa AS (PARTITION BY datastream_id ORDER BY t_us ASC, iot_id ASC
              |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
              |         wd AS (PARTITION BY datastream_id ORDER BY t_us DESC, iot_id DESC
              |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
              |SELECT iot_id,
              |  round(CASE
              |    WHEN p1v IS NOT NULL AND n1v IS NOT NULL THEN
              |      CASE WHEN n1t <> p1t THEN
              |        p1v + (n1v - p1v) * (CAST(t_us AS DOUBLE) - p1t) / (n1t - p1t) END
              |    WHEN p1v IS NULL AND n2v IS NOT NULL THEN
              |      CASE WHEN n2t <> n1t THEN
              |        n1v + (n2v - n1v) * (CAST(t_us AS DOUBLE) - n1t) / (n2t - n1t) END
              |    WHEN n1v IS NULL AND p2v IS NOT NULL THEN
              |      CASE WHEN p1t <> p2t THEN
              |        p2v + (p1v - p2v) * (CAST(t_us AS DOUBLE) - p2t) / (p1t - p2t) END
              |  END, 6) + 0.0e0 AS v_filled
              |FROM f WHERE v IS NULL""".stripMargin)),

    // W9 — dyadic EWMA smoothing (alpha = 1/2, 20-sample truncation):
    // the weighted mean is a ratio of exact int64s over micro-quantized
    // values, so the smoothed series is bit-portable (a pow(0.5, lag)
    // float rendering would flip micro-units in the last ulp). Rides
    // the same per-stream sort as every other kernel; the (t_us,
    // iot_id) order key makes the frame deterministic under time ties.
    QDef("w9_ewma",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        val w = Window.partitionBy(col(Obs.DatastreamId))
          .orderBy(col("t_us"), col(Obs.IotId))
        obs(s, dir).select(col(Obs.IotId),
          WindowKernels.ewmaDyadic(vMicro, w, depth = 20).as("ewma_micro"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT iot_id, datastream_id, t_us,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT) AS v
              |      FROM obs),
              |x AS (SELECT iot_id,
              |        list(v) OVER (PARTITION BY datastream_id
              |          ORDER BY t_us, iot_id
              |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS a
              |      FROM m)
              |SELECT iot_id,
              |  CAST(list_sum(list_transform(range(1, len(a) + 1),
              |       j -> a[j] * (CAST(1 AS BIGINT) << (j - 1)))) AS BIGINT)
              |    // ((CAST(1 AS BIGINT) << len(a)) - 1) AS ewma_micro
              |FROM x""".stripMargin)),

    // W13 — two-sided CUSUM drift monitor (Page 1954): the clamped
    // recursion replayed exactly as prefix-sum-minus-running-min window
    // algebra; target/slack/threshold all integer-derived per stream
    // (mean, mad/2, 10·mad), so the oracle replays the chain bit-exactly.
    QDef("w13_cusum",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.cusum(obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro", Obs.IotId)
      },
      Some(s"""WITH ${Q.ObsCte},
              |$microObsCte,
              |${cusumDevCtes("d")},
              |${cusumRunCtes("d")}
              |SELECT iot_id, datastream_id,
              |  CAST(sp AS BIGINT) AS s_pos_micro,
              |  CAST(sn AS BIGINT) AS s_neg_micro,
              |  (sp > 10 * mad OR sn > 10 * mad) AS alarm
              |FROM q""".stripMargin)),

    // W14 — CUSUM against CONFIGURED control limits (the production
    // form of W13: μ/k/h from a spec sheet, two longs of recursion
    // state, so a stream could carry it).
    QDef("w14_cusum_fixed",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.cusumFixed(obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro", Obs.IotId,
          muMicro = 50000000L, slackMicro = 2000000L, hMicro = 400000000L)
      },
      Some(s"""WITH ${Q.ObsCte},
              |$microObsCte,
              |d AS (SELECT *, v - 50000000 - 2000000 AS dp,
              |        50000000 - v - 2000000 AS dn FROM m),
              |${cusumRunCtes("d")}
              |SELECT iot_id, datastream_id,
              |  CAST(sp AS BIGINT) AS s_pos_micro,
              |  CAST(sn AS BIGINT) AS s_neg_micro,
              |  (sp > 400000000 OR sn > 400000000) AS alarm
              |FROM q""".stripMargin)),

    // W15 — per-stream lag-1..3 autocorrelation (Box-Jenkins ACF
    // diagnostics) in integer micro: μ = Σv DIV n, biased estimator
    // (denominator over all n), HUGEINT≡DECIMAL(38,0) sums. One
    // exchange serves the stat window, the lag window and the final
    // per-stream aggregate.
    QDef("w15_acf",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.acf(obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro", Obs.IotId, maxLag = 3)
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id, t_us, iot_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |a AS (SELECT *, sum(v) OVER (PARTITION BY datastream_id) AS sv,
              |        count(*) OVER (PARTITION BY datastream_id) AS n FROM m),
              |b AS (SELECT datastream_id, t_us, iot_id, v - sv // n AS d
              |      FROM a),
              |c AS (SELECT *, lag(d, 1) OVER w AS dl1,
              |        lag(d, 2) OVER w AS dl2, lag(d, 3) OVER w AS dl3
              |      FROM b WINDOW w AS (PARTITION BY datastream_id
              |        ORDER BY t_us, iot_id)),
              |g AS (SELECT datastream_id,
              |        sum(CAST(d AS HUGEINT) * d) AS den,
              |        sum(CAST(d AS HUGEINT) * dl1) AS num1,
              |        CAST(count(dl1) AS BIGINT) AS np1,
              |        sum(CAST(d AS HUGEINT) * dl2) AS num2,
              |        CAST(count(dl2) AS BIGINT) AS np2,
              |        sum(CAST(d AS HUGEINT) * dl3) AS num3,
              |        CAST(count(dl3) AS BIGINT) AS np3
              |      FROM c GROUP BY 1)
              |SELECT datastream_id, CAST(1 AS BIGINT) AS lag, np1 AS n_pairs,
              |  CAST(num1 * 1000000 // nullif(den, 0) AS BIGINT) AS acf_ppm
              |FROM g
              |UNION ALL
              |SELECT datastream_id, CAST(2 AS BIGINT), np2,
              |  CAST(num2 * 1000000 // nullif(den, 0) AS BIGINT) FROM g
              |UNION ALL
              |SELECT datastream_id, CAST(3 AS BIGINT), np3,
              |  CAST(num3 * 1000000 // nullif(den, 0) AS BIGINT) FROM g""".stripMargin)),

    // W19 — rolling cross-stream correlation: streams pair as (2k,2k+1),
    // observations align on 6-hour buckets (first per bucket — minute
    // buckets never overlap on these sparse ~60-obs/30-day streams), and
    // each aligned row carries the signed r² of the rolling Pearson
    // correlation over the last 8 buckets in ppm — the sqrt-free
    // monotone form (sign + magnitude of r recoverable; threshold
    // r ≥ c ≡ r² ≥ c²). Micro values truncate to centi before the sums
    // so num²·10⁶ stays inside DECIMAL(38,0) ≡ HUGEINT; every division
    // truncates identically on both engines.
    QDef("w19_rolling_corr",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.rollingPairCorr(
          obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro", Obs.IotId,
          bucketUs = 21600000000L, windowRows = 8, minPairs = 4)
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id AS d, t_us // 21600000000 AS bucket,
              |        t_us, iot_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          // 10000 AS v
              |      FROM obs),
              |rep AS (SELECT d, bucket, v FROM (
              |  SELECT d, bucket, v, row_number() OVER (
              |    PARTITION BY d, bucket ORDER BY t_us, iot_id) AS rn
              |  FROM m) t WHERE rn = 1),
              |px AS (SELECT d // 2 AS pair_id, bucket, v AS x
              |       FROM rep WHERE d % 2 = 0),
              |py AS (SELECT d // 2 AS pair_id, bucket, v AS y
              |       FROM rep WHERE d % 2 = 1),
              |g AS (SELECT pair_id, bucket,
              |        count(*) OVER w AS n,
              |        sum(x) OVER w AS sx, sum(y) OVER w AS sy,
              |        sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx,
              |        sum(y*y) OVER w AS syy
              |      FROM px JOIN py USING (pair_id, bucket)
              |      WINDOW w AS (PARTITION BY pair_id ORDER BY bucket
              |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
              |SELECT pair_id, bucket, CAST(n AS BIGINT) AS n_w,
              |  CAST(CASE WHEN n*sxy - sx*sy < 0 THEN
              |      -((CAST(n*sxy - sx*sy AS HUGEINT) * (n*sxy - sx*sy)
              |         * 1000000)
              |        // nullif(CAST(n*sxx - sx*sx AS HUGEINT)
              |                  * (n*syy - sy*sy), 0))
              |    ELSE
              |      (CAST(n*sxy - sx*sy AS HUGEINT) * (n*sxy - sx*sy)
              |         * 1000000)
              |        // nullif(CAST(n*sxx - sx*sx AS HUGEINT)
              |                  * (n*syy - sy*sy), 0)
              |    END AS BIGINT) AS r2_signed_ppm
              |FROM g WHERE n >= 4""".stripMargin)),

    // W20 — hour-of-day seasonal profile + Wang-Hyndman seasonal
    // strength per stream: v = level + seasonal(hod) + residual with
    // truncating integer means; strength = max(0, 1e6 − 1e6·Var(resid)
    // / Var(v − level)) computed division-late in HUGEINT ≡
    // DECIMAL(38,0) (shared n cancels); peak hour by min(struct). One
    // key exchange serves both window layers and the final aggregate.
    QDef("w20_seasonal",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.seasonalStrength(
          obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro")
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id, (t_us // 3600000000) % 24 AS hod,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |x AS (SELECT *,
              |        sum(v) OVER (PARTITION BY datastream_id) AS sv,
              |        count(*) OVER (PARTITION BY datastream_id) AS n,
              |        sum(v) OVER (PARTITION BY datastream_id, hod) AS sh,
              |        count(*) OVER (PARTITION BY datastream_id, hod) AS nh
              |      FROM m),
              |y AS (SELECT datastream_id, hod, v, sv // n AS level,
              |        sh // nh - sv // n AS seasonal,
              |        v - sv // n - (sh // nh - sv // n) AS resid,
              |        v - sv // n AS dev
              |      FROM x),
              |g AS (SELECT datastream_id,
              |        CAST(count(*) AS BIGINT) AS n_obs,
              |        CAST(max(level) AS BIGINT) AS level_micro,
              |        CAST(sum(resid) AS BIGINT) AS sr,
              |        sum(CAST(resid AS HUGEINT) * resid) AS sr2,
              |        CAST(sum(dev) AS BIGINT) AS sd,
              |        sum(CAST(dev AS HUGEINT) * dev) AS sd2,
              |        min({'ns': -seasonal, 'h': hod}) AS pk
              |      FROM y GROUP BY 1),
              |h AS (SELECT datastream_id, n_obs, level_micro,
              |        CAST(n_obs AS HUGEINT) * sr2
              |          - CAST(sr AS HUGEINT) * sr AS vr,
              |        CAST(n_obs AS HUGEINT) * sd2
              |          - CAST(sd AS HUGEINT) * sd AS vsr,
              |        pk
              |      FROM g)
              |SELECT datastream_id, n_obs, level_micro,
              |  CASE WHEN vsr = 0 THEN NULL
              |  ELSE greatest(CAST(0 AS BIGINT),
              |    1000000 - CAST(vr * 1000000 // vsr AS BIGINT))
              |  END AS strength_ppm,
              |  CAST(pk['h'] AS BIGINT) AS peak_hod,
              |  CAST(-pk['ns'] AS BIGINT) AS peak_seasonal_micro
              |FROM h""".stripMargin)),

    // QC capstone — the per-stream HEALTH REPORT an operations page
    // reads: cadence/coverage/gaps (w16) + CUSUM drift alarms (w13) +
    // range violations (f4), joined on the stream key, with one
    // composite verdict. Three per-stream aggregates (each partial-
    // agg'd), then stream-cardinality joins — nothing data-scale
    // after the three first-phase exchanges.
    QDef("qc_health_report",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        val gaps = WindowKernels.gapReport(obs(s, dir),
          Obs.DatastreamId, "t_us", Obs.IotId)
        val alarms = WindowKernels.cusum(
            obs(s, dir).withColumn("v_micro", vMicro),
            Obs.DatastreamId, "t_us", "v_micro", Obs.IotId)
          .groupBy(col(Obs.DatastreamId))
          .agg(sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"))
        val bad = QcConfig.joinOnto(obs(s, dir), conf(s, dir))
          .withColumn("flag",
            rangeFlag(col(Obs.Result), col("qc_range_min"), col("qc_range_max")))
          .groupBy(col(Obs.DatastreamId))
          .agg(sum(when(col("flag") === 4, 1L).otherwise(0L)).as("n_range_bad"))
        gaps.join(alarms, Seq(Obs.DatastreamId))
          .join(bad, Seq(Obs.DatastreamId))
          .select(col(Obs.DatastreamId), col("n_obs"), col("cadence_us"),
            col("n_gaps"), col("coverage_ppm"), col("n_alarms"),
            col("n_range_bad"),
            // verdict gates on drift + range violations; the cadence
            // signals are REPORTED but not gated — on irregular
            // (Poisson-arrival) streams the modal cadence and its
            // coverage/gap counts are fleet properties, not faults
            (col("n_alarms") === 0L &&
              col("n_range_bad") * 4L < col("n_obs")).as("healthy"))
      },
      Some(s"""WITH ${Q.ObsCte}, ${Q.ConfCte},
              |${cadenceCtes("mo")},
              |g AS (SELECT d.datastream_id,
              |        CAST(count(*) AS BIGINT) AS n_obs,
              |        CAST(max(mo.cadence_us) AS BIGINT) AS cadence_us,
              |        CAST(max(t_us) - min(t_us) AS BIGINT) AS span_us,
              |        CAST(sum(CASE WHEN dt > mo.cadence_us * 3 // 2
              |          THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
              |      FROM d LEFT JOIN mo USING (datastream_id) GROUP BY 1),
              |gr AS (SELECT datastream_id, n_obs, cadence_us, n_gaps,
              |         CAST(CASE WHEN cadence_us IS NULL THEN 1000000
              |           ELSE n_obs * 1000000 // (span_us // cadence_us + 1)
              |           END AS BIGINT) AS coverage_ppm
              |       FROM g),
              |$microObsCte,
              |${cusumDevCtes("dd")},
              |${cusumRunCtes("dd")},
              |al AS (SELECT datastream_id,
              |         CAST(sum(CASE WHEN sp > 10 * mad OR sn > 10 * mad
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
              |       FROM q GROUP BY 1),
              |rb AS (SELECT datastream_id,
              |         CAST(sum(CASE WHEN qc_range_min IS NOT NULL
              |             AND (result < qc_range_min OR result > qc_range_max)
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_range_bad
              |       FROM obs LEFT JOIN conf USING (datastream_id)
              |       GROUP BY 1)
              |SELECT gr.datastream_id, gr.n_obs, gr.cadence_us, gr.n_gaps,
              |  gr.coverage_ppm, al.n_alarms, rb.n_range_bad,
              |  (al.n_alarms = 0
              |   AND rb.n_range_bad * 4 < gr.n_obs) AS healthy
              |FROM gr JOIN al USING (datastream_id)
              |JOIN rb USING (datastream_id)""".stripMargin)),

    // W16 — per-stream cadence/gap report: nominal cadence = modal
    // positive inter-observation gap (ties toward the smaller gap),
    // gap violations at dt > 3·cadence DIV 2, coverage vs the points
    // an ideal clock would have produced. Pure integer.
    QDef("w16_gap_report",
      (s, dir) => WindowKernels.gapReport(obs(s, dir),
        Obs.DatastreamId, "t_us", Obs.IotId),
      Some(s"""WITH ${Q.ObsCte},
              |${cadenceCtes("m")},
              |g AS (SELECT d.datastream_id,
              |        CAST(count(*) AS BIGINT) AS n_obs,
              |        CAST(max(m.cadence_us) AS BIGINT) AS cadence_us,
              |        CAST(max(t_us) - min(t_us) AS BIGINT) AS span_us,
              |        CAST(sum(CASE WHEN dt > m.cadence_us * 3 // 2
              |          THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
              |        CAST(max(dt) AS BIGINT) AS max_gap_us
              |      FROM d LEFT JOIN m USING (datastream_id) GROUP BY 1)
              |SELECT datastream_id, n_obs, cadence_us, span_us, n_gaps,
              |  max_gap_us,
              |  CAST(CASE WHEN cadence_us IS NULL THEN 1000000
              |    ELSE n_obs * 1000000 // (span_us // cadence_us + 1) END
              |    AS BIGINT) AS coverage_ppm
              |FROM g""".stripMargin)),

    // W18 — gap events: one row per inter-observation silence wider
    // than the threshold, both bounds.
    QDef("w18_gap_events",
      (s, dir) => WindowKernels.gapEvents(obs(s, dir),
        Obs.DatastreamId, "t_us", Obs.IotId,
        thresholdUs = 100000000000L),
      Some(s"""WITH ${Q.ObsCte},
              |d AS (SELECT datastream_id, t_us,
              |        lag(t_us) OVER (PARTITION BY datastream_id
              |          ORDER BY t_us, iot_id) AS pt
              |      FROM obs)
              |SELECT datastream_id, CAST(pt AS BIGINT) AS gap_start_us,
              |  CAST(t_us AS BIGINT) AS gap_end_us,
              |  CAST(t_us - pt AS BIGINT) AS gap_us
              |FROM d WHERE t_us - pt > 100000000000""".stripMargin)),

    // W17 — dyadic-lag Theil-Sen trend: exact lower-median of integer
    // slopes over row lags 1/2/4/8 — the deterministic pairs-subset
    // form of the robust trend estimator (full Theil-Sen is O(n²)).
    QDef("w17_trend",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        WindowKernels.theilSenTrend(obs(s, dir).withColumn("v_micro", vMicro),
          Obs.DatastreamId, "t_us", "v_micro", Obs.IotId, maxLagExp = 3)
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id, t_us, iot_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |l AS (SELECT *,
              |        lag(v, 1) OVER w AS pv1, lag(t_us, 1) OVER w AS pt1,
              |        lag(v, 2) OVER w AS pv2, lag(t_us, 2) OVER w AS pt2,
              |        lag(v, 4) OVER w AS pv4, lag(t_us, 4) OVER w AS pt4,
              |        lag(v, 8) OVER w AS pv8, lag(t_us, 8) OVER w AS pt8
              |      FROM m WINDOW w AS (PARTITION BY datastream_id
              |        ORDER BY t_us, iot_id)),
              |sl AS (
              |  SELECT datastream_id, iot_id,
              |    (v - pv1) * 1000000 // (t_us - pt1) AS slope
              |  FROM l WHERE pt1 IS NOT NULL AND t_us <> pt1
              |  UNION ALL SELECT datastream_id, iot_id,
              |    (v - pv2) * 1000000 // (t_us - pt2)
              |  FROM l WHERE pt2 IS NOT NULL AND t_us <> pt2
              |  UNION ALL SELECT datastream_id, iot_id,
              |    (v - pv4) * 1000000 // (t_us - pt4)
              |  FROM l WHERE pt4 IS NOT NULL AND t_us <> pt4
              |  UNION ALL SELECT datastream_id, iot_id,
              |    (v - pv8) * 1000000 // (t_us - pt8)
              |  FROM l WHERE pt8 IS NOT NULL AND t_us <> pt8),
              |r AS (SELECT datastream_id, slope,
              |        row_number() OVER (PARTITION BY datastream_id
              |          ORDER BY slope, iot_id) AS rn,
              |        count(*) OVER (PARTITION BY datastream_id) AS n
              |      FROM sl)
              |SELECT datastream_id, CAST(n AS BIGINT) AS n_slopes,
              |  CAST(slope AS BIGINT) AS trend_micro_per_s
              |FROM r WHERE rn = (n + 1) // 2""".stripMargin)),

    // A19 — A/B chi-square readout: variant = datastream parity,
    // category = observation type; per category the 2x2 (variant x
    // this-type-vs-rest) Pearson statistic in micro, per-cell form,
    // fixed integer evaluation order (DECIMAL(38,0) ≡ HUGEINT).
    QDef("a19_chisq",
      (s, dir) => graft.ops.DataQuality.chiSquareAB(obs(s, dir),
        col(Obs.DatastreamId) % 2 === 0, col(Obs.ObservationType)),
      Some(s"""WITH ${Q.ObsCte},
              |cnt AS (SELECT observation_type AS cat,
              |          CASE WHEN datastream_id % 2 = 0 THEN 1 ELSE 0 END AS g,
              |          count(*) AS n
              |        FROM obs GROUP BY 1, 2),
              |tt AS (SELECT
              |    CAST(sum(CASE WHEN g = 0 THEN n ELSE 0 END) AS BIGINT) AS t0,
              |    CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS t1
              |  FROM cnt),
              |bc AS (SELECT cat,
              |    CAST(sum(CASE WHEN g = 0 THEN n ELSE 0 END) AS BIGINT) AS a,
              |    CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS b
              |  FROM cnt GROUP BY 1),
              |x AS (SELECT cat, a, b, t0 - a AS c, t1 - b AS d FROM bc, tt),
              |e AS (SELECT *, CAST(a AS HUGEINT) + b + c + d AS nn FROM x),
              |f AS (SELECT *,
              |    CAST(a+c AS HUGEINT) * (a+b) * 1000000 // nn AS ea,
              |    CAST(b+d AS HUGEINT) * (a+b) * 1000000 // nn AS eb,
              |    CAST(a+c AS HUGEINT) * (c+d) * 1000000 // nn AS ec,
              |    CAST(b+d AS HUGEINT) * (c+d) * 1000000 // nn AS ed
              |  FROM e)
              |SELECT cat, a, b, c, d, CAST((
              |    (CAST(a AS HUGEINT) * 1000000 - ea)
              |      * (CAST(a AS HUGEINT) * 1000000 - ea) // nullif(ea, 0)
              |  + (CAST(b AS HUGEINT) * 1000000 - eb)
              |      * (CAST(b AS HUGEINT) * 1000000 - eb) // nullif(eb, 0)
              |  + (CAST(c AS HUGEINT) * 1000000 - ec)
              |      * (CAST(c AS HUGEINT) * 1000000 - ec) // nullif(ec, 0)
              |  + (CAST(d AS HUGEINT) * 1000000 - ed)
              |      * (CAST(d AS HUGEINT) * 1000000 - ed) // nullif(ed, 0)
              |  ) AS BIGINT) AS chi2_micro
              |FROM f""".stripMargin)),

    // A20 — Benford first-digit audit: digits from the micro
    // quantization's decimal string (integer-to-string is exact in
    // both engines); the expectation log10(1+1/d) derives from the
    // shared Q16 log2 recursion — no libm log10 on either side.
    QDef("a20_benford",
      (s, dir) => graft.ops.DataQuality.benfordAudit(
        obs(s, dir).withColumn("v_micro",
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")),
        col("v_micro")),
      Some(s"""WITH RECURSIVE ${Q.ObsCte},
              |m AS (SELECT CAST(CAST(result AS DECIMAL(25,6)) * 1000000
              |               AS BIGINT) AS v
              |      FROM obs),
              |dg AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
              |         AS digit, CAST(count(*) AS BIGINT) AS n
              |       FROM m WHERE v > 0 GROUP BY 1),
              |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM dg),
              |li AS (SELECT digit, n, digit AS x FROM dg),
              |${graft.functions.Portable.log2q16Sql("li", Seq("digit", "n"), "x", "lgd", "lg")},
              |lj AS (SELECT digit, n, digit + 1 AS x FROM dg),
              |${graft.functions.Portable.log2q16Sql("lj", Seq("digit", "n"), "x", "lgd1", "lg")},
              |lt AS (SELECT 10 AS x),
              |${graft.functions.Portable.log2q16Sql("lt", Seq(), "x", "lg10", "lg")}
              |SELECT d.digit, d.n,
              |  CAST(d.n * 1000000 // tot.total AS BIGINT) AS observed_ppm,
              |  CAST((b.lg - a.lg) * 1000000 // (SELECT lg FROM lg10) AS BIGINT)
              |    AS expected_ppm,
              |  CAST(d.n * 1000000 // tot.total
              |    - (b.lg - a.lg) * 1000000 // (SELECT lg FROM lg10) AS BIGINT)
              |    AS dev_ppm
              |FROM dg d
              |JOIN lgd a ON a.digit = d.digit
              |JOIN lgd1 b ON b.digit = d.digit, tot""".stripMargin)),

    // W10 — LOCF grid resample: every hourly bucket between a stream's
    // first and last observation gets a row; buckets without an
    // observation carry the most recent value forward. The carried
    // double is SELECTED, never computed, so it hash-compares by bits.
    QDef("w10_ffill",
      (s, dir) => WindowKernels.resampleFfill(obs(s, dir),
        Obs.DatastreamId, "t_us", Obs.Result, Obs.IotId,
        stepUs = 3600000000L),
      Some(s"""WITH ${Q.ObsCte},
              |b AS (SELECT datastream_id, t_us // 3600000000 AS bucket,
              |        t_us, iot_id, result
              |      FROM obs),
              |r AS (SELECT *, row_number() OVER (
              |        PARTITION BY datastream_id, bucket
              |        ORDER BY t_us DESC, iot_id DESC) AS rn FROM b),
              |l AS (SELECT datastream_id, bucket, result AS v_obs
              |      FROM r WHERE rn = 1),
              |g AS (SELECT datastream_id,
              |        unnest(range(min(bucket), max(bucket) + 1)) AS bucket
              |      FROM l GROUP BY datastream_id),
              |j AS (SELECT g.datastream_id, g.bucket, l.v_obs
              |      FROM g LEFT JOIN l USING (datastream_id, bucket))
              |SELECT datastream_id, bucket * 3600000000 AS bucket_us,
              |  last_value(v_obs IGNORE NULLS) OVER (
              |    PARTITION BY datastream_id ORDER BY bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
              |  v_obs IS NULL AS filled
              |FROM j""".stripMargin)),

    // J1 — broadcast config join, row count preserved (asserted in tests)
    QDef("j1_config_join",
      (s, dir) => QcConfig.joinOnto(obs(s, dir), conf(s, dir))
        .groupBy(col(Obs.DatastreamId), col("qc_range_min"), col("qc_range_max"))
        .agg(count(lit(1)).as("n")),
      Some(s"""WITH ${Q.ObsCte}, ${Q.ConfCte}
              |SELECT datastream_id, qc_range_min, qc_range_max, count(*) AS n
              |FROM obs LEFT JOIN conf USING (datastream_id)
              |GROUP BY 1, 2, 3""".stripMargin)),

    // F1/F4/A2 — range check + flag histogram
    QDef("f4_range_flags",
      (s, dir) => QcConfig.joinOnto(obs(s, dir), conf(s, dir))
        .withColumn("flag",
          rangeFlag(col(Obs.Result), col("qc_range_min"), col("qc_range_max")))
        .groupBy(col(Obs.DatastreamId), col("flag"))
        .agg(count(lit(1)).as("n")),
      Some(s"""WITH ${Q.ObsCte}, ${Q.ConfCte}
              |SELECT datastream_id,
              |  CAST(CASE WHEN qc_range_min IS NULL THEN 0
              |       WHEN result < qc_range_min OR result > qc_range_max THEN 4
              |       ELSE 1 END AS TINYINT) AS flag,
              |  count(*) AS n
              |FROM obs LEFT JOIN conf USING (datastream_id)
              |GROUP BY 1, 2""".stripMargin)),

    // W1 — np.gradient parity per stream
    QDef("w1_gradient",
      (s, dir) => WindowKernels.gradientOnto(obs(s, dir), "__g",
          col(Obs.Result), col("t_us").cast("double") / 1e6, wStream)
        .select(col(Obs.IotId), round(col("__g"), 6).as("gradient")),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT iot_id, round(${WindowKernels.gradientSql("result", "(t_us / 1000000.0)",
                "PARTITION BY datastream_id ORDER BY t_us, iot_id")}, 6) + 0.0e0 AS gradient
              |FROM obs""".stripMargin)),

    // W2 — rolling z-score over a trailing 6 h time window
    QDef("w2_zscore",
      (s, dir) => WindowKernels.zscoreOnto(obs(s, dir), "__z",
          col(Obs.Result), col("t_us"), 21600L)
        .select(col(Obs.IotId), round(col("__z"), 6).as("zscore")),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT iot_id,
              |  round(CASE WHEN stddev_samp(result) OVER wz = 0 THEN NULL
              |        ELSE (result - avg(result) OVER wz) / stddev_samp(result) OVER wz
              |        END, 6) + 0.0e0 AS zscore
              |FROM obs
              |WINDOW wz AS (PARTITION BY datastream_id ORDER BY t_us
              |              RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // W2 at 100 TB — skew hardening demo: all even streams fused into ONE
    // hot stream (~50% of rows: the unsplittable-partition shape AQE
    // cannot fix for windows), then the SAME trailing z-score computed
    // per (stream, 12 h time-chunk) with a 6 h overlap
    // (Partitioning.chunkWithOverlap): any single stream parallelizes
    // into bounded chunks. The oracle is the PLAIN unchunked per-stream
    // window — hash equality proves chunked == unchunked exactly.
    QDef("w8_chunked_zscore",
      (s, dir) => {
        val o = obs(s, dir).withColumn("skew_id",
          when(col(Obs.DatastreamId) % 2 === 0, lit(-1L))
            .otherwise(col(Obs.DatastreamId)))
        // overlap == the 6 h window lookback: every row's trailing range
        // frame is fully contained in its chunk's own+context rows
        val chunked = Partitioning.chunkWithOverlap(o, col("t_us"),
          chunkUs = 43200000000L, overlapUs = 21600000000L)
        WindowKernels.zscoreOnto(chunked, "__z", col(Obs.Result), col("t_us"),
            21600L, partCols = Seq("skew_id", "__chunk"))
          .withColumn("zscore", round(col("__z"), 6))
          .filter(!col("is_context"))
          .select(col(Obs.IotId), col("zscore"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |sk AS (SELECT iot_id, result, t_us,
              |  CASE WHEN datastream_id % 2 = 0 THEN -1
              |       ELSE datastream_id END AS skew_id FROM obs)
              |SELECT iot_id,
              |  round(CASE WHEN stddev_samp(result) OVER wz = 0 THEN NULL
              |        ELSE (result - avg(result) OVER wz) / stddev_samp(result) OVER wz
              |        END, 6) + 0.0e0 AS zscore
              |FROM sk
              |WINDOW wz AS (PARTITION BY skew_id ORDER BY t_us
              |              RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // F2 flagship — the full range→gradient→zscore worst-wins chain
    QDef("qc_pipeline_flags",
      (s, dir) => qcPipeline(s, dir)
        .groupBy(col(Obs.DatastreamId), col("flag"))
        .agg(count(lit(1)).as("n")),
      Some(s"""WITH ${Q.ObsCte}, ${Q.ConfCte}, $zScoreSqlCte
              |SELECT datastream_id, CAST(flag AS TINYINT) AS flag, count(*) AS n
              |FROM final GROUP BY 1, 2""".stripMargin)),

    // W5 — stabilization state machine (gaps-and-islands, exact µs ints)
    QDef("w5_stabilization",
      (s, dir) => {
        val o = QcConfig.joinOnto(obs(s, dir), conf(s, dir))
          .filter(col(Obs.DatastreamId) % 5 =!= 4) // only streams with bounds
        val st = Stabilization(o,
          col(Obs.Result), col("t_us").cast("double"),
          col("qc_range_min"), col("qc_range_max"),
          maxAllowedDowntimeSec = lit(4.0 * 3600 * 1000000), // µs
          dtStabilizationSec = lit(8.0 * 3600 * 1000000),
          partCols = Seq(Obs.DatastreamId), timeCol = "t_us")
        st.select(col(Obs.IotId), col("within_limits"),
          col("dt_sec").cast("long").as("dt_us"),
          col("cum_sec").cast("long").as("cum_us"),
          col("time_down_sec").cast("long").as("time_down_us"),
          col("time_up_since_sec").cast("long").as("time_up_since_us"),
          col("block_id"), col("stab_flag"))
      },
      Some(s"""WITH ${Q.ObsCte}, ${Q.ConfCte},
              |d1 AS (
              |  SELECT o.iot_id, o.datastream_id, o.t_us,
              |    o.result > c.qc_range_min AND o.result < c.qc_range_max AS within_limits,
              |    o.t_us - lag(o.t_us) OVER w AS dt_us,
              |    lag(o.t_us) OVER w IS NULL AS is_first
              |  FROM obs o LEFT JOIN conf c USING (datastream_id)
              |  WHERE o.datastream_id % 5 <> 4
              |  WINDOW w AS (PARTITION BY o.datastream_id ORDER BY o.t_us, o.iot_id)),
              |d2 AS (
              |  SELECT *, CAST(coalesce(sum(dt_us) OVER wr, 0) AS BIGINT) AS cum_us
              |  FROM d1
              |  WINDOW wr AS (PARTITION BY datastream_id ORDER BY t_us, iot_id
              |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |d3 AS (
              |  SELECT *, cum_us - max(CASE WHEN within_limits THEN cum_us END) OVER wr
              |            AS time_down_us
              |  FROM d2
              |  WINDOW wr AS (PARTITION BY datastream_id ORDER BY t_us, iot_id
              |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |d3b AS (
              |  SELECT *,
              |    coalesce(CAST(within_limits <> lag(within_limits) OVER w AS INT), 1) AS chg
              |  FROM d3
              |  WINDOW w AS (PARTITION BY datastream_id ORDER BY t_us, iot_id)),
              |d4 AS (
              |  SELECT *,
              |    cum_us - max(CASE WHEN time_down_us > 14400000000 OR time_down_us IS NULL
              |                        OR is_first THEN cum_us END) OVER wr
              |      AS time_up_since_us,
              |    CAST(sum(chg) OVER wr AS BIGINT) AS block_id
              |  FROM d3b
              |  WINDOW wr AS (PARTITION BY datastream_id ORDER BY t_us, iot_id
              |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |SELECT iot_id, within_limits, dt_us, cum_us, time_down_us,
              |  time_up_since_us, block_id,
              |  CAST(CASE WHEN time_up_since_us < 28800000000 THEN 4 ELSE 0 END AS TINYINT)
              |    AS stab_flag
              |FROM d4""".stripMargin)),

    // J2 — tolerance-bounded nearest as-of join (purchases ↔ clicks, 30 min)
    QDef("j2_asof_nearest",
      (s, dir) => {
        val o = obs(s, dir)
        val p = o.filter(col(Obs.ObservationType) === "purchase")
          .select(col(Obs.IotId), col(Obs.DatastreamId), col("t_us"))
        val c = o.filter(col(Obs.ObservationType) === "click")
          .select(col(Obs.IotId), col(Obs.DatastreamId), col("t_us"))
        AsofJoin.nearest(p, c, Seq(Obs.DatastreamId), "t_us", "t_us",
            toleranceUs = 1800000000L, rightCols = Seq(Obs.IotId, "t_us"),
            rightIdCol = Some(Obs.IotId), leftIdCol = Some(Obs.IotId))
          .select(col(Obs.IotId),
            col(s"r_${Obs.IotId}").as("match_id"),
            when(col("asof_matched"), abs(col("t_us") - col("r_t_us"))).as("dt_us"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |p AS (SELECT iot_id, datastream_id, t_us FROM obs WHERE observation_type = 'purchase'),
              |c AS (SELECT iot_id, datastream_id, t_us FROM obs WHERE observation_type = 'click')
              |SELECT p.iot_id AS iot_id, c.iot_id AS match_id,
              |  CASE WHEN c.iot_id IS NOT NULL THEN abs(p.t_us - c.t_us) END AS dt_us
              |FROM p LEFT JOIN c ON p.datastream_id = c.datastream_id
              |  AND abs(p.t_us - c.t_us) <= 1800000000
              |QUALIFY row_number() OVER (PARTITION BY p.iot_id
              |  ORDER BY abs(p.t_us - c.t_us) ASC NULLS LAST,
              |           c.t_us ASC NULLS LAST, c.iot_id ASC NULLS LAST) = 1""".stripMargin)),

    // J2+J3 — dependent-quantity flag propagation + secondary value check
    QDef("j3_dependent_flags",
      (s, dir) => {
        val o = obs(s, dir)
        val p = o.filter(col(Obs.ObservationType) === "purchase")
          .select(col(Obs.IotId), col(Obs.DatastreamId), col("t_us"))
        val c = o.filter(col(Obs.ObservationType) === "click")
          .select(col(Obs.IotId), col(Obs.DatastreamId), col("t_us"), col(Obs.Result))
        val m = AsofJoin.nearest(p, c, Seq(Obs.DatastreamId), "t_us", "t_us",
          toleranceUs = 1800000000L, rightCols = Seq(Obs.IotId, "t_us", Obs.Result),
          rightIdCol = Some(Obs.IotId), leftIdCol = Some(Obs.IotId))
        val indepFlag = when(col(s"r_${Obs.Result}") < 30 || col(s"r_${Obs.Result}") > 170,
          lit(Flags.Bad)).otherwise(lit(Flags.Good)).cast("tinyint")
        val base = AsofJoin.propagateFlag(lit(Flags.NoQc).cast("tinyint"), indepFlag)
        m.withColumn("flag",
            AsofJoin.secondaryValueCheck(base, col(s"r_${Obs.Result}"), 10, 190))
          .select(col(Obs.IotId), col("flag"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |p AS (SELECT iot_id, datastream_id, t_us FROM obs WHERE observation_type = 'purchase'),
              |c AS (SELECT iot_id, datastream_id, t_us, result FROM obs WHERE observation_type = 'click'),
              |m AS (
              |  SELECT p.iot_id AS iot_id, c.iot_id AS match_id, c.result AS c_result
              |  FROM p LEFT JOIN c ON p.datastream_id = c.datastream_id
              |    AND abs(p.t_us - c.t_us) <= 1800000000
              |  QUALIFY row_number() OVER (PARTITION BY p.iot_id
              |    ORDER BY abs(p.t_us - c.t_us) ASC NULLS LAST,
              |             c.t_us ASC NULLS LAST, c.iot_id ASC NULLS LAST) = 1)
              |SELECT iot_id,
              |  CAST(greatest(
              |    CASE WHEN match_id IS NULL THEN 4
              |         WHEN c_result < 30 OR c_result > 170 THEN 4
              |         ELSE 0 END,
              |    CASE WHEN match_id IS NOT NULL AND (c_result < 10 OR c_result > 190)
              |         THEN 4 ELSE 0 END) AS TINYINT) AS flag
              |FROM m""".stripMargin)),

    // J7 — interval (range-containment) join: every observation paired
    // with each same-stream 40-min window containing it (windows start
    // at every 50th observation). Time-chunked equi-join — plan-pinned
    // free of nested loops; a raw range predicate would go
    // BroadcastNestedLoopJoin and O(n·m) per stream.
    QDef("j7_interval_join",
      (s, dir) => {
        val o = obs(s, dir)
        val win = o.filter(col(Obs.IotId) % 50 === 0)
          .select(col(Obs.DatastreamId), col("t_us").as("wstart_us"),
            (col("t_us") + lit(2400000000L)).as("wend_us"))
        AsofJoin.intervalJoin(
            o.select(col(Obs.IotId), col("t_us"), col(Obs.DatastreamId)),
            win, Seq(Obs.DatastreamId), "t_us", "wstart_us", "wend_us",
            chunkUs = 2400000000L)
          .select(col(Obs.IotId), col("wstart_us"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |win AS (SELECT datastream_id, t_us AS wstart_us,
              |          t_us + 2400000000 AS wend_us
              |        FROM obs WHERE iot_id % 50 = 0)
              |SELECT o.iot_id, w.wstart_us
              |FROM obs o JOIN win w ON o.datastream_id = w.datastream_id
              |  AND o.t_us >= w.wstart_us AND o.t_us < w.wend_us""".stripMargin)),

    // W3 — velocity / acceleration along the synthesized track. Uses the
    // bit-portable polynomial distance (Geo.portableDistM): libm sin/asin
    // last-ulp divergence between the JVM and the oracle machine's glibc
    // flipped round(...,6) at representation boundaries in round 1.
    QDef("w3_velocity",
      (s, dir) => {
        val o = obs(s, dir)
        val v = WindowKernels.velocityAcceleration(o, wStream,
          col(Obs.Lat), col("lon"), col("t_us"), distM = Geo.portableDistM)
        // acceleration from the ROUNDED velocity: v − lag(v) cancels
        // catastrophically, amplifying last-ulp libm differences between
        // engines; quantizing v first makes the subtraction bit-exact.
        v.withColumn("velocity_r", round(col("velocity_ms"), 6))
          .select(col(Obs.IotId),
            (col("t_us") - lag(col("t_us"), 1).over(wStream)).as("dt_us"),
            col("velocity_r").as("velocity_ms"),
            round((col("velocity_r") - lag(col("velocity_r"), 1).over(wStream)) /
              col("dt_sec"), 6).as("acceleration_ms2"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |v AS (
              |  SELECT iot_id, datastream_id, t_us,
              |    t_us - lag(t_us) OVER w AS dt_raw_us,
              |    (t_us - lag(t_us) OVER w) / 1000000.0 AS dt_sec,
              |    ${Geo.portableDistSql("lag(lat) OVER w", "lag(lon) OVER w", "lat", "lon")}
              |      / ((t_us - lag(t_us) OVER w) / 1000000.0) AS velocity_ms
              |  FROM obs
              |  WINDOW w AS (PARTITION BY datastream_id ORDER BY t_us, iot_id))
              |SELECT iot_id, dt_raw_us AS dt_us,
              |  round(velocity_ms, 6) + 0.0e0 AS velocity_ms,
              |  round((round(velocity_ms, 6) - lag(round(velocity_ms, 6)) OVER w) / dt_sec, 6) + 0.0e0
              |    AS acceleration_ms2
              |FROM v
              |WINDOW w AS (PARTITION BY datastream_id ORDER BY t_us, iot_id)""".stripMargin)),

    // W4 — spatial outlier vs rolling median position (centered ±30 min)
    QDef("w4_spatial_outlier",
      (s, dir) => {
        val o = obs(s, dir)
        SpatialOutlier(o, col(Obs.Lat), col("lon"), col("t_us"),
            windowSec = 3600L, maxDxDt = 30000.0 / 3600.0,
            partCols = Seq(Obs.DatastreamId))
          .select(col(Obs.IotId),
            round(col("median_lat"), 6).as("median_lat"),
            round(col("median_lon"), 6).as("median_lon"),
            col("is_spatial_outlier"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (
              |  SELECT iot_id, lat, lon,
              |    median(lat) OVER wm AS median_lat,
              |    median(lon) OVER wm AS median_lon
              |  FROM obs
              |  WINDOW wm AS (PARTITION BY datastream_id ORDER BY t_us
              |                RANGE BETWEEN 1800000000 PRECEDING AND 1800000000 FOLLOWING))
              |SELECT iot_id, round(median_lat, 6) + 0.0e0 AS median_lat,
              |  round(median_lon, 6) + 0.0e0 AS median_lon,
              |  ${Geo.haversineSql("lat", "lon", "median_lat", "median_lon")} > 30000.0
              |    AS is_spatial_outlier
              |FROM m""".stripMargin)),

    // G1-G5/J6 — region classification, mainland/null-region/depth checks
    QDef("g_region_flags",
      (s, dir) => {
        val regions = Seq(
          Geo.BoxRegion("MAINLAND EUROPE", "FLANDERS", 50.95, 51.1, 2.9, 3.2),
          Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.1, 51.5, 2.65, 3.0),
          Geo.BoxRegion("CHANNEL", "DOVER STRAIT", 51.1, 51.5, 3.0, 3.2))
        val o = obs(s, dir)
          .withColumn("region", Geo.classifyRegion(col(Obs.Lat), col("lon"), regions))
          .withColumn("sub_region", Geo.classifySubRegion(col(Obs.Lat), col("lon"), regions))
          .withColumn("elev", Geo.gridElevation(col(Obs.Lat), col("lon")))
        val checks = Seq(
          Geo.nullRegionCheck(col("region")),
          Geo.mainlandCheck(col("region")),
          Geo.depthCheck(col("elev")))
        val flagged = checks.foldLeft(o.withColumn("flag", lit(Flags.NoQc).cast("tinyint"))) {
          (d, c) => d.withColumn("flag", c.mergedInto(col("flag")))
        }
        flagged.select(col(Obs.IotId), col("region"), col("sub_region"),
          round(col("elev"), 6).as("elev"), col("flag"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |r AS (
              |  SELECT iot_id, lat, lon,
              |    CASE
              |      WHEN lat >= 50.95 AND lat < 51.1 AND lon >= 2.9 AND lon < 3.2
              |        THEN 'MAINLAND EUROPE'
              |      WHEN lat >= 51.1 AND lat < 51.5 AND lon >= 2.65 AND lon < 3.0
              |        THEN 'NORTH SEA'
              |      WHEN lat >= 51.1 AND lat < 51.5 AND lon >= 3.0 AND lon < 3.2
              |        THEN 'CHANNEL'
              |    END AS region,
              |    CASE
              |      WHEN lat >= 50.95 AND lat < 51.1 AND lon >= 2.9 AND lon < 3.2
              |        THEN 'FLANDERS'
              |      WHEN lat >= 51.1 AND lat < 51.5 AND lon >= 2.65 AND lon < 3.0
              |        THEN 'SOUTHERN BIGHT'
              |      WHEN lat >= 51.1 AND lat < 51.5 AND lon >= 3.0 AND lon < 3.2
              |        THEN 'DOVER STRAIT'
              |    END AS sub_region,
              |    ${Geo.gridElevationSql("lat", "lon")} AS elev
              |  FROM obs)
              |SELECT iot_id, region, sub_region, round(elev, 6) + 0.0e0 AS elev,
              |  CAST(greatest(
              |    CASE WHEN region IS NULL THEN 2 ELSE 0 END,
              |    CASE WHEN upper(coalesce(region, '')) LIKE '%MAINLAND%' THEN 4 ELSE 0 END,
              |    CASE WHEN elev > 0.0 THEN 4 ELSE 0 END) AS TINYINT) AS flag
              |FROM r""".stripMargin)),

    // sessionization — gaps-and-islands per stream (new session when
    // the inter-event gap exceeds 10 min), rolled up to per-session
    // bounds/counts/duration. All-integer µs => engine-exact; session
    // assignment is tie-safe (equal timestamps share a zero gap flag
    // and an order-independent running sum).
    QDef("a6_sessionize",
      (s, dir) => {
        val g = 43200000000L // 12 h in µs (median inter-event gap ~7.3 h)
        val sess = graft.ops.WindowKernels.sessionize(
          obs(s, dir), Seq(Obs.DatastreamId), col("t_us"), g)
        graft.ops.WindowKernels.sessionStats(
          sess, Seq(Obs.DatastreamId), col("t_us"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |s1 AS (
              |  SELECT datastream_id, t_us,
              |    CASE WHEN t_us - lag(t_us) OVER (PARTITION BY datastream_id
              |      ORDER BY t_us) > 43200000000 THEN 1 ELSE 0 END AS ns
              |  FROM obs),
              |s2 AS (
              |  SELECT datastream_id, t_us,
              |    CAST(sum(ns) OVER (PARTITION BY datastream_id ORDER BY t_us
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      AS session_idx
              |  FROM s1)
              |SELECT datastream_id, session_idx,
              |  min(t_us) AS t_start_us, max(t_us) AS t_end_us,
              |  count(*) AS n_events,
              |  max(t_us) - min(t_us) AS duration_us
              |FROM s2 GROUP BY datastream_id, session_idx""".stripMargin)),

    // A10 — exact per-stream percentiles on the micro-quantized value
    // (percentile_disc semantics) via the distinct-value histogram —
    // no per-stream sort of the data; the DuckDB oracle uses its own
    // independent percentile_disc implementation.
    QDef("a10_exact_quantiles",
      (s, dir) => graft.functions.Sketches.exactQuantiles(
        obs(s, dir), Seq(Obs.DatastreamId),
        expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"),
        percentiles = Seq(25, 50, 90)),
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs)
              |SELECT datastream_id, CAST(count(*) AS BIGINT) AS n_values,
              |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v)
              |    AS BIGINT) AS p25,
              |  CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY v)
              |    AS BIGINT) AS p50,
              |  CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY v)
              |    AS BIGINT) AS p90
              |FROM m GROUP BY 1""".stripMargin)),

    // A15 — equi-depth quartile assignment by VALUE (tie-stable,
    // unlike ntile); thresholds from the exact-percentile histogram,
    // broadcast back; rolled up to per-(stream, bucket) counts.
    QDef("a15_quartile_assign",
      (s, dir) => graft.functions.Sketches.quantileBuckets(
          obs(s, dir), Seq(Obs.DatastreamId),
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"),
          percentiles = Seq(25, 50, 75))
        .groupBy(col(Obs.DatastreamId), col("bucket"))
        .agg(count(lit(1)).as("n")),
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |th AS (SELECT datastream_id,
              |         CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v)
              |           AS BIGINT) AS p25,
              |         CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY v)
              |           AS BIGINT) AS p50,
              |         CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v)
              |           AS BIGINT) AS p75
              |       FROM m GROUP BY 1)
              |SELECT m.datastream_id,
              |  1 + CASE WHEN v > p25 THEN 1 ELSE 0 END
              |    + CASE WHEN v > p50 THEN 1 ELSE 0 END
              |    + CASE WHEN v > p75 THEN 1 ELSE 0 END AS bucket,
              |  count(*) AS n
              |FROM m JOIN th USING (datastream_id)
              |GROUP BY 1, 2""".stripMargin)),

    // W21 — per-stream winsorization: values clamp to the exact
    // [p10, p90] band (thresholds from the distinct-value histogram —
    // never a per-stream row sort — broadcast back onto the rows); the
    // robust-preprocessing step that caps outliers instead of dropping
    // them (complements a14's trimming and w11's MAD flags).
    QDef("w21_winsorize",
      (s, dir) => {
        val vMicro =
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
        val m = obs(s, dir).select(col(Obs.DatastreamId), col(Obs.IotId),
          vMicro.as("v_micro"))
        val th = graft.functions.Sketches.exactQuantiles(
          m, Seq(Obs.DatastreamId), col("v_micro"), Seq(10, 90))
        m.join(th, Seq(Obs.DatastreamId))
          .select(col(Obs.DatastreamId), col(Obs.IotId), col("v_micro"),
            greatest(col("p10"), least(col("p90"), col("v_micro")))
              .as("v_winsor_micro"),
            (col("v_micro") < col("p10") || col("v_micro") > col("p90"))
              .as("clamped"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id, iot_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v_micro
              |      FROM obs),
              |th AS (SELECT datastream_id,
              |         CAST(percentile_disc(0.10) WITHIN GROUP (ORDER BY v_micro)
              |           AS BIGINT) AS p10,
              |         CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY v_micro)
              |           AS BIGINT) AS p90
              |       FROM m GROUP BY 1)
              |SELECT m.datastream_id, m.iot_id, m.v_micro,
              |  greatest(p10, least(p90, v_micro)) AS v_winsor_micro,
              |  (v_micro < p10 OR v_micro > p90) AS clamped
              |FROM m JOIN th USING (datastream_id)""".stripMargin)),

    // A14 — exact 10%-trimmed statistics per stream (drop the lowest
    // and highest decile of rows, aggregate the middle) without a
    // per-stream sort; the oracle trims by row_number — an independent
    // formulation that must agree because trimming only depends on
    // value counts.
    QDef("a14_trimmed_stats",
      (s, dir) => graft.functions.Sketches.trimmedStats(
        obs(s, dir), Seq(Obs.DatastreamId),
        expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"),
        trimNum = 1L, trimDen = 10L),
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |r AS (SELECT datastream_id, v,
              |        row_number() OVER (PARTITION BY datastream_id
              |          ORDER BY v) AS rn,
              |        count(*) OVER (PARTITION BY datastream_id) AS n
              |      FROM m),
              |t AS (SELECT datastream_id, n, n * 1 // 10 AS k,
              |        CAST(sum(CASE WHEN rn > n * 1 // 10
              |              AND rn <= n - n * 1 // 10 THEN v END) AS BIGINT)
              |          AS trimmed_sum,
              |        CAST(sum(CASE WHEN rn > n * 1 // 10
              |              AND rn <= n - n * 1 // 10 THEN 1 ELSE 0 END)
              |          AS BIGINT) AS tn
              |      FROM r GROUP BY 1, 2)
              |SELECT datastream_id, CAST(n AS BIGINT) AS n,
              |  CAST(k AS BIGINT) AS k_trim,
              |  coalesce(trimmed_sum, 0) AS trimmed_sum,
              |  CASE WHEN tn > 0 THEN trimmed_sum // tn END
              |    AS trimmed_mean
              |FROM t""".stripMargin)),

    // A17 — week-over-week deltas: weekly value sums per stream with
    // the previous week's total, absolute delta, and integer percent
    // change (truncating division — both engines' native semantics).
    // The metric-dashboard lag comparison; one bucket agg + one
    // stream-keyed lag window over the WEEK-scale frame.
    QDef("a17_wow_deltas",
      (s, dir) => {
        val wk = expr("t_us DIV 604800000000")
        val weekly = obs(s, dir)
          .groupBy(col(Obs.DatastreamId), wk.as("week_idx"))
          .agg(sum(expr(
            s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"))
            .as("sum_micro"))
        val w = Window.partitionBy(col(Obs.DatastreamId))
          .orderBy(col("week_idx").asc)
        weekly
          .withColumn("prev_micro", lag(col("sum_micro"), 1).over(w))
          .withColumn("delta_micro", col("sum_micro") - col("prev_micro"))
          .withColumn("pct_micro",
            when(coalesce(abs(col("prev_micro")), lit(0L)) > 0L,
              expr("delta_micro * 1000000 DIV abs(prev_micro)")))
      },
      Some(s"""WITH ${Q.ObsCte},
              |wkl AS (
              |  SELECT datastream_id, t_us // 604800000000 AS week_idx,
              |    CAST(sum(CAST(CAST(result AS DECIMAL(25,6)) * 1000000
              |      AS BIGINT)) AS BIGINT) AS sum_micro
              |  FROM obs GROUP BY 1, 2),
              |lg AS (
              |  SELECT *, lag(sum_micro) OVER (PARTITION BY datastream_id
              |    ORDER BY week_idx) AS prev_micro
              |  FROM wkl)
              |SELECT datastream_id, week_idx, sum_micro, prev_micro,
              |  sum_micro - prev_micro AS delta_micro,
              |  CASE WHEN abs(prev_micro) > 0 THEN
              |    CAST((sum_micro - prev_micro) * 1000000
              |      // abs(prev_micro) AS BIGINT) END AS pct_micro
              |FROM lg""".stripMargin)),

    // A16 — event transition matrix (the sankey/flow source): counts
    // of consecutive event-type pairs per stream in time order, with
    // integer transition probability per origin state. One per-key
    // sort (lead), one pair groupBy; END marks a stream's last event.
    QDef("a16_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy(col(Obs.DatastreamId))
          .orderBy(col("t_us").asc, col(Obs.IotId).asc)
        val pairs = obs(s, dir)
          .withColumn("next_type",
            coalesce(lead(col("observation_type"), 1).over(w), lit("END")))
          .groupBy(col("observation_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy(col("from_type"))
          .agg(sum(col("n")).as("tot"))
        pairs.join(broadcast(totals), Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("n * 1000000 DIV tot").as("p_micro"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |p AS (
              |  SELECT observation_type AS from_type,
              |    coalesce(lead(observation_type) OVER (
              |      PARTITION BY datastream_id ORDER BY t_us, iot_id),
              |      'END') AS to_type
              |  FROM obs),
              |c AS (SELECT from_type, to_type,
              |        CAST(count(*) AS BIGINT) AS n
              |      FROM p GROUP BY 1, 2),
              |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
              |      FROM c GROUP BY 1)
              |SELECT c.from_type, c.to_type, c.n,
              |  CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_micro
              |FROM c JOIN t USING (from_type)""".stripMargin)),

    // W12 — anomaly-run alarms: runs of >= 3 CONSECUTIVE MAD outliers
    // per stream (the alarm-suppression rule that separates a real
    // excursion from salt-and-pepper noise). Composes w11's robust
    // flags with the islands rollup — one more per-key sort over the
    // flagged frame, nothing else.
    QDef("w12_anomaly_runs",
      (s, dir) => {
        val flagged = graft.functions.Sketches.madOutliers(
          obs(s, dir), Seq(Obs.DatastreamId),
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"),
          k = 3)
        graft.ops.WindowKernels.islands(flagged, Seq(Obs.DatastreamId),
            col("t_us"), col(Obs.IotId), col("is_outlier"))
          .filter(col("value") === true && col("n_rows") >= 3L)
          .select(col(Obs.DatastreamId), col("t_start_us"),
            col("t_end_us"), col("n_rows"))
      },
      Some(s"""WITH ${Q.ObsCte},
              |$microObsCte,
              |med AS (SELECT datastream_id,
              |          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)
              |            AS BIGINT) AS med
              |        FROM m GROUP BY 1),
              |d AS (SELECT m.iot_id, m.datastream_id, m.t_us,
              |        abs(m.v - med.med) AS dev
              |      FROM m JOIN med USING (datastream_id)),
              |mad AS (SELECT datastream_id,
              |          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)
              |            AS BIGINT) AS mad
              |        FROM d GROUP BY 1),
              |f AS (SELECT d.iot_id, d.datastream_id, d.t_us,
              |        d.dev > 3 * mad.mad AS o
              |      FROM d JOIN mad USING (datastream_id)),
              |c AS (SELECT *, CASE WHEN o IS NOT DISTINCT FROM
              |        lag(o) OVER (PARTITION BY datastream_id
              |          ORDER BY t_us, iot_id) THEN 0 ELSE 1 END AS chg
              |      FROM f),
              |i AS (SELECT datastream_id, o, t_us,
              |        CAST(sum(chg) OVER (PARTITION BY datastream_id
              |          ORDER BY t_us, iot_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |          AS BIGINT) AS island_idx
              |      FROM c),
              |g AS (SELECT datastream_id, island_idx, bool_and(o) AS o,
              |        min(t_us) AS t_start_us, max(t_us) AS t_end_us,
              |        count(*) AS n_rows
              |      FROM i GROUP BY 1, 2)
              |SELECT datastream_id, t_start_us, t_end_us, n_rows
              |FROM g WHERE o AND n_rows >= 3""".stripMargin)),

    // A13 — conversion timeout: per view, time to the first click of
    // the same stream strictly after it, converted iff within 1 h.
    // One per-key sort (min-over-following-frame), never a time-band
    // self-join.
    QDef("a13_conversion",
      (s, dir) => graft.ops.WindowKernels.conversionTimeout(
        obs(s, dir), Seq(Obs.DatastreamId), col("t_us"), col(Obs.IotId),
        isSource = col("observation_type") === "view",
        isTarget = col("observation_type") === "click",
        windowUs = 3600000000L, idCol = Obs.IotId),
      Some(s"""WITH ${Q.ObsCte},
              |n AS (
              |  SELECT datastream_id, iot_id, t_us, observation_type,
              |    min(CASE WHEN observation_type = 'click' THEN t_us END)
              |      OVER (PARTITION BY datastream_id ORDER BY t_us, iot_id
              |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              |      AS nt
              |  FROM obs)
              |SELECT datastream_id, iot_id, t_us, nt - t_us AS next_dt_us,
              |  coalesce(nt - t_us <= 3600000000, FALSE) AS converted
              |FROM n WHERE observation_type = 'view'""".stripMargin)),

    // W11 — robust outliers by median/MAD (the heavy-tail-safe
    // z-score): flag |v − median| > 3·MAD per stream, exact via two
    // distinct-value-histogram percentile passes; oracle uses DuckDB's
    // own percentile_disc twice.
    QDef("w11_mad_outlier",
      (s, dir) => graft.functions.Sketches.madOutliers(
          obs(s, dir), Seq(Obs.DatastreamId),
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)"),
          k = 3)
        .select(col(Obs.IotId), col("dev").as("dev_micro"),
          col("is_outlier")),
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT iot_id, datastream_id,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs),
              |med AS (SELECT datastream_id,
              |          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)
              |            AS BIGINT) AS med
              |        FROM m GROUP BY 1),
              |d AS (SELECT m.iot_id, m.datastream_id, abs(m.v - med.med)
              |        AS dev
              |      FROM m JOIN med USING (datastream_id)),
              |mad AS (SELECT datastream_id,
              |          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)
              |            AS BIGINT) AS mad
              |        FROM d GROUP BY 1)
              |SELECT d.iot_id, d.dev AS dev_micro,
              |  d.dev > 3 * mad.mad AS is_outlier
              |FROM d JOIN mad USING (datastream_id)""".stripMargin)),

    // A11 — gaps-and-islands: maximal runs of an unchanged
    // observation_type per stream in time order, rolled up to island
    // bounds and lengths (change-point rollup / run-length encoding).
    QDef("a11_islands",
      (s, dir) => graft.ops.WindowKernels.islands(
        obs(s, dir), Seq(Obs.DatastreamId), col("t_us"),
        col(Obs.IotId), col("observation_type")),
      Some(s"""WITH ${Q.ObsCte},
              |$typeIslandCtes
              |SELECT datastream_id, island_idx, min(v) AS value,
              |  min(t_us) AS t_start_us, max(t_us) AS t_end_us,
              |  count(*) AS n_rows
              |FROM i GROUP BY 1, 2""".stripMargin)),

    // A12 — SCD2 validity intervals: each run of an unchanged
    // observation_type per stream becomes one half-open [from, to)
    // interval, NULL to = current. The dimension-versioning shape
    // point-in-time joins consume.
    QDef("a12_scd2",
      (s, dir) => graft.ops.WindowKernels.scd2Intervals(
        obs(s, dir), Seq(Obs.DatastreamId), col("t_us"),
        col(Obs.IotId), col("observation_type")),
      Some(s"""WITH ${Q.ObsCte},
              |$typeIslandCtes,
              |g AS (SELECT datastream_id, island_idx, min(v) AS value,
              |        min(t_us) AS t_start_us, count(*) AS n_rows
              |      FROM i GROUP BY 1, 2)
              |SELECT datastream_id, value, t_start_us AS valid_from_us,
              |  lead(t_start_us) OVER (PARTITION BY datastream_id
              |    ORDER BY island_idx) AS valid_to_us,
              |  n_rows
              |FROM g""".stripMargin)),

    // ordered event funnel — per stream, first 'view', then first
    // 'click' at-or-after it, then first 'purchase' at-or-after that;
    // stage = how deep the stream got. Three chained min-aggregations,
    // every shuffle on the same key (datastream_id) so the exchanges
    // line up, and each later stage joins only the survivors of the
    // previous one — the classic at-scale funnel shape where the heavy
    // event table is scanned per stage but never self-joined row×row.
    // All-integer µs => engine-exact.
    // A9 — cohort retention (the classic product-analytics matrix):
    // users bucketed by first-seen epoch week, activity = distinct
    // (user, week); per (cohort_week, offset): active users + integer
    // retention ratio. Three even-keyed shuffles (user min-week,
    // distinct activity, cohort-offset rollup) — no window, no
    // per-user state.
    QDef("a9_cohort_retention",
      (s, dir) => {
        val ev = Q.table(s, dir, "events")
        val wk = call_function("div",
          Obs.rawTsToEpochUs(ev.schema), lit(604800000000L))
        val aw = ev.select(col("user_id"), wk.as("wk")).distinct()
        val ch = aw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
        val cs = ch.groupBy(col("cw")).agg(count(lit(1)).as("sz"))
        aw.join(ch, "user_id")
          .groupBy(col("cw"), (col("wk") - col("cw")).as("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(cs), "cw")
          .select(col("cw").as("cohort_week"), col("week_offset"),
            col("n_active"),
            call_function("div", col("n_active") * 1000000L, col("sz"))
              .as("retention_micro"))
      },
      Some("""WITH aw AS (SELECT DISTINCT user_id,
             |              epoch_us(ts) // 604800000000 AS wk FROM events),
             |ch AS (SELECT user_id, min(wk) AS cw FROM aw GROUP BY 1),
             |cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS sz
             |       FROM ch GROUP BY 1),
             |act AS (SELECT ch.cw, aw.wk - ch.cw AS week_offset,
             |          CAST(count(*) AS BIGINT) AS n_active
             |        FROM aw JOIN ch USING (user_id) GROUP BY 1, 2)
             |SELECT act.cw AS cohort_week, act.week_offset, act.n_active,
             |  CAST(act.n_active * 1000000 // cs.sz AS BIGINT)
             |    AS retention_micro
             |FROM act JOIN cs ON cs.cw = act.cw""".stripMargin)),

    QDef("a7_funnel",
      (s, dir) => graft.ops.Funnel.ordered(obs(s, dir), Obs.DatastreamId,
        col(Obs.ObservationType), col("t_us"), Seq("view", "click", "purchase")),
      Some(s"""WITH ${Q.ObsCte},
              |f1 AS (SELECT datastream_id, min(t_us) AS t1 FROM obs
              |       WHERE observation_type = 'view' GROUP BY 1),
              |f2 AS (SELECT e.datastream_id, min(e.t_us) AS t2
              |       FROM obs e JOIN f1 USING (datastream_id)
              |       WHERE e.observation_type = 'click' AND e.t_us >= f1.t1
              |       GROUP BY 1),
              |f3 AS (SELECT e.datastream_id, min(e.t_us) AS t3
              |       FROM obs e JOIN f2 USING (datastream_id)
              |       WHERE e.observation_type = 'purchase' AND e.t_us >= f2.t2
              |       GROUP BY 1)
              |SELECT f1.datastream_id, t1, t2, t3,
              |  CASE WHEN t3 IS NOT NULL THEN 3
              |       WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage
              |FROM f1
              |LEFT JOIN f2 USING (datastream_id)
              |LEFT JOIN f3 USING (datastream_id)""".stripMargin)),

    // A4/O3 — 10-min bucket downsample, first row per (stream, bucket)
    QDef("a4_downsample",
      (s, dir) => {
        val o = obs(s, dir)
          .withColumn("bucket_us", expr("t_us DIV 600000000") * 600000000L)
        PivotExport.bestRowPerGroup(o, Seq(Obs.DatastreamId, "bucket_us"),
            Seq(col("t_us").asc, col(Obs.IotId).asc))
          .select(col("bucket_us"), col(Obs.DatastreamId), col(Obs.IotId), col(Obs.Result))
      },
      Some(s"""WITH ${Q.ObsCte}
              |SELECT (t_us // 600000000) * 600000000 AS bucket_us,
              |  datastream_id, iot_id, result
              |FROM obs
              |QUALIFY row_number() OVER (
              |  PARTITION BY datastream_id, (t_us // 600000000)
              |  ORDER BY t_us, iot_id) = 1""".stripMargin)),

    // R1 — long→wide pivot (hourly bucket × observation type)
    QDef("r1_pivot_hourly",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val o = obs(s, dir)
          .withColumn("bucket_us", expr("t_us DIV 3600000000") * 3600000000L)
        val p = o.groupBy("bucket_us")
          .pivot(Obs.ObservationType, types)
          // micro-unit BIGINT sums (DECIMAL columns hash-mismatch across
          // engines); coalesce to 0 so empty cells stay integer-typed
          .agg(sum((col(Obs.Result).cast("decimal(25,6)") * lit(1000000)).cast("long"))
            .as("sum_micro"),
            count(lit(1)).as("n"))
        types.foldLeft(p)((d, t) =>
          d.withColumn(s"${t}_n", coalesce(col(s"${t}_n"), lit(0L)))
            .withColumn(s"${t}_sum_micro", coalesce(col(s"${t}_sum_micro"), lit(0L))))
      },
      Some {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val cols = types.map { t =>
          s"""  coalesce(CAST(sum(CASE WHEN observation_type = '$t'
             |      THEN CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT) END) AS BIGINT), 0)
             |    AS ${t}_sum_micro,
             |  count(CASE WHEN observation_type = '$t' THEN 1 END) AS ${t}_n""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Q.ObsCte}
           |SELECT (t_us // 3600000000) * 3600000000 AS bucket_us,
           |$cols
           |FROM obs GROUP BY 1""".stripMargin
      }),

    // A3 — distinct stream/type pairs
    QDef("a3_distinct",
      (s, dir) => obs(s, dir).select(col(Obs.DatastreamId), col(Obs.ObservationType)).distinct(),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT DISTINCT datastream_id, observation_type FROM obs""".stripMargin)),

    // A5/A6/A7 — per-stream profile (count, distinct, min/max, exact sum, max-abs)
    QDef("a5_group_profile",
      (s, dir) => obs(s, dir).groupBy(col(Obs.DatastreamId)).agg(
        count(lit(1)).as("n"),
        countDistinct(col(Obs.ObservationType)).as("n_types"),
        min(col("t_us")).as("min_t_us"),
        max(col("t_us")).as("max_t_us"),
        // micro-unit BIGINT sum: DECIMAL output columns hash-mismatch
        // between engines even at equal values (round-1 driver gate)
        sum((col(Obs.Result).cast("decimal(25,6)") * lit(1000000)).cast("long"))
          .as("sum_result_micro"),
        max(abs(col(Obs.Result))).as("max_abs_result")),
      Some(s"""WITH ${Q.ObsCte}
              |SELECT datastream_id, count(*) AS n,
              |  count(DISTINCT observation_type) AS n_types,
              |  min(t_us) AS min_t_us, max(t_us) AS max_t_us,
              |  CAST(sum(CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)) AS BIGINT)
              |    AS sum_result_micro,
              |  max(abs(result)) AS max_abs_result
              |FROM obs GROUP BY 1""".stripMargin)),

    // R4 — union of two overlapping time slices, deduplicated
    QDef("r4_union_slices",
      (s, dir) => {
        val full = obs(s, dir)
        val a = full.filter(col("t_us") < 1705276800000000L) // 2024-01-15
          .select(col(Obs.IotId), col(Obs.DatastreamId), col(Obs.Result))
        val b = full.filter(col("t_us") >= 1704844800000000L && // 2024-01-10
            col("t_us") < 1706140800000000L) // 2024-01-25
          .select(col(Obs.IotId), col(Obs.DatastreamId), col(Obs.Result))
        a.unionByName(b).distinct()
      },
      Some(s"""WITH ${Q.ObsCte}
              |SELECT DISTINCT iot_id, datastream_id, result FROM (
              |  SELECT iot_id, datastream_id, result FROM obs WHERE t_us < 1705276800000000
              |  UNION ALL
              |  SELECT iot_id, datastream_id, result FROM obs
              |  WHERE t_us >= 1704844800000000 AND t_us < 1706140800000000) u""".stripMargin)),

    // A18 — rollup report (grouping sets): per (stream, day) totals plus
    // per-stream and grand totals in ONE pass — Spark's Expand replicates
    // rows per grouping set before a single partial-agg'd shuffle, so at
    // 100 TB this beats three separate aggregations + union (one scan,
    // one exchange). grouping_id bit semantics (first column = MSB) are
    // identical in DuckDB's GROUPING(a, b) — verified, not assumed.
    QDef("a18_rollup",
      (s, dir) => obs(s, dir)
        .select(col(Obs.DatastreamId), expr("t_us DIV 86400000000").as("day_idx"),
          expr(s"CAST(CAST(${Obs.Result} AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
            .as("v"))
        .rollup(col(Obs.DatastreamId), col("day_idx"))
        .agg(grouping_id().as("gid"), sum(col("v")).as("sum_micro"),
          count(lit(1)).as("n")),
      Some(s"""WITH ${Q.ObsCte},
              |m AS (SELECT datastream_id, t_us // 86400000000 AS day_idx,
              |        CAST(CAST(result AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |          AS v
              |      FROM obs)
              |SELECT datastream_id, day_idx,
              |  CAST(GROUPING(datastream_id, day_idx) AS BIGINT) AS gid,
              |  CAST(sum(v) AS BIGINT) AS sum_micro,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM m GROUP BY ROLLUP(datastream_id, day_idx)""".stripMargin)),

    // Z-order layout report: quantize the synthetic coordinates' exact
    // integer cores to an 8-bit cell grid, Morton-interleave, and report
    // each 256-key z-range's row count + lat/lon bounding box — the
    // zone-map quality a Z-ORDERed rewrite of this table would give its
    // row groups (tight on BOTH axes; a time sort bounds neither). The
    // scan reads ONE column (event_id) — everything else derives.
    // small-file compaction plan (the lakehouse OPTIMIZE manifest):
    // documents laid out per source in doc_id order, cut into ~64 KB
    // output files by start offset (never splits an item, each file ≤
    // target + one item). One window exchange + one groupBy riding it.
    QDef("g_compaction_plan",
      (s, dir) => Partitioning.compactionPlan(
        Q.table(s, dir, "documents"), "source", "doc_id", "n_chars",
        targetBytes = 65536L),
      Some("""WITH d AS (SELECT source AS grp, doc_id AS item,
             |         CAST(n_chars AS BIGINT) AS sz FROM documents),
             |x AS (SELECT grp, item, sz,
             |        CAST(sum(sz) OVER (PARTITION BY grp ORDER BY item
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          - sz AS BIGINT) AS start
             |      FROM d)
             |SELECT grp, start // 65536 AS bin,
             |  CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(sz) AS BIGINT) AS bytes,
             |  min(item) AS first_item, max(item) AS last_item
             |FROM x GROUP BY 1, 2""".stripMargin)),

    QDef("g_zorder_layout",
      (s, dir) => {
        val cx = expr("(event_id * 53 % 1000) DIV 4")
        val cy = expr("(event_id * 37 % 1000) DIV 4")
        Q.table(s, dir, "events")
          .select(cx.as("cx"), cy.as("cy"))
          .withColumn("z", Partitioning.zOrderKey(col("cx"), col("cy"), 8))
          .groupBy(expr("z DIV 256").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("cx")).as("min_cx"), max(col("cx")).as("max_cx"),
            min(col("cy")).as("min_cy"), max(col("cy")).as("max_cy"))
      },
      Some(s"""WITH c AS (SELECT (event_id * 53 % 1000) // 4 AS cx,
              |             (event_id * 37 % 1000) // 4 AS cy FROM events),
              |z AS (SELECT cx, cy,
              |        ${Partitioning.zOrderKeySql("cx", "cy", 8)} AS z
              |      FROM c)
              |SELECT z // 256 AS bucket, CAST(count(*) AS BIGINT) AS n,
              |  min(cx) AS min_cx, max(cx) AS max_cx,
              |  min(cy) AS min_cy, max(cy) AS max_cy
              |FROM z GROUP BY 1""".stripMargin))
  )
}
