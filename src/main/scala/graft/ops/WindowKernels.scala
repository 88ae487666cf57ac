package graft.ops

import graft.core.{Frames, Obs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-datastream, time-ordered window computations — the heart of the
  * reference tool (SURVEY §2.5). All are expressed with built-in window
  * functions over `Window.partitionBy(datastream_id).orderBy(time)`:
  * one shuffle by stream key, then every kernel below runs inside the
  * same sort — Catalyst collapses consecutive window operators over the
  * same spec into a single Window physical node, and at 100 TB the
  * per-stream partitioning is the natural parallel axis (salt or
  * range-repartition by (stream, time) if a single stream grows hot).
  */
object WindowKernels {

  /** W1 — np.gradient parity (reference `calc_gradient_results`, call
    * `src/main.py:518`, pinned `tests/test_qc.py:446-510`): second-order
    * central differences with non-uniform spacing in the interior,
    * one-sided differences at the partition edges. d(result)/d(time),
    * time in seconds. Pure lag/lead arithmetic — no UDF. Adds column
    * `out`.
    *
    * Interior (np.gradient non-uniform formula):
    *   hs = t0 - t_prev, hd = t_next - t0
    *   f' = (hs²·f_next + (hd² − hs²)·f0 − hd²·f_prev) / (hs·hd·(hs + hd))
    *
    * The four base lag/lead columns are materialized once: the when-chain
    * references each of them several times, and Spark does not dedupe
    * identical window expressions, so inlining them would evaluate ~10
    * offset window functions per row where 4 suffice. The gradient runs
    * inside the QC value pass on every observation.
    */
  def gradientOnto(df: DataFrame, out: String, value: Column,
                   timeSec: Column, w: WindowSpec): DataFrame = {
    val d = Frames.withColumns(df, Seq(
      "__g_fp" -> lag(value, 1).over(w),
      "__g_fn" -> lead(value, 1).over(w),
      "__g_tp" -> lag(timeSec, 1).over(w),
      "__g_tn" -> lead(timeSec, 1).over(w)))
    val (fPrev, fNext, tPrev, tNext) =
      (col("__g_fp"), col("__g_fn"), col("__g_tp"), col("__g_tn"))
    val hs = timeSec - tPrev
    val hd = tNext - timeSec
    val central = (hs * hs * fNext + (hd * hd - hs * hs) * value - hd * hd * fPrev) /
      (hs * hd * (hs + hd))
    val forwardEdge = (fNext - value) / hd   // first row of a stream
    val backwardEdge = (value - fPrev) / hs  // last row of a stream
    // degenerate zero spacing (duplicate timestamps) => null, not an ANSI
    // divide error (the reference fixtures include 1 ns dt cases)
    Frames.withColumns(d, Seq(out ->
        when(fPrev.isNull && fNext.isNull, lit(null).cast("double"))
          .when(fPrev.isNull, when(hd =!= 0.0, forwardEdge))
          .when(fNext.isNull, when(hs =!= 0.0, backwardEdge))
          .otherwise(when(hs =!= 0.0 && hd =!= 0.0, central))),
      drop = Seq("__g_fp", "__g_fn", "__g_tp", "__g_tn"))
  }

  /** Same gradient as SQL text over a window clause `wOver` (e.g.
    * `"PARTITION BY user_id ORDER BY ts"`), for DuckDB oracles.
    */
  def gradientSql(value: String, tsec: String, wOver: String): String = {
    val fp = s"lag($value) OVER ($wOver)"
    val fn = s"lead($value) OVER ($wOver)"
    val tp = s"lag($tsec) OVER ($wOver)"
    val tn = s"lead($tsec) OVER ($wOver)"
    s"""(CASE
       |  WHEN $fp IS NULL AND $fn IS NULL THEN NULL
       |  WHEN $fp IS NULL THEN (($fn) - ($value)) / (($tn) - ($tsec))
       |  WHEN $fn IS NULL THEN (($value) - ($fp)) / (($tsec) - ($tp))
       |  ELSE ((($tsec) - ($tp)) * (($tsec) - ($tp)) * ($fn)
       |        + ((($tn) - ($tsec)) * (($tn) - ($tsec)) - (($tsec) - ($tp)) * (($tsec) - ($tp))) * ($value)
       |        - (($tn) - ($tsec)) * (($tn) - ($tsec)) * ($fp))
       |       / ((($tsec) - ($tp)) * (($tn) - ($tsec)) * ((($tn) - ($tsec)) + (($tsec) - ($tp))))
       | END)""".stripMargin
  }

  /** W2 — rolling z-score over a *trailing time window* (reference
    * `calc_zscore_results`, `src/main.py:750`, pinned
    * `tests/test_qc.py:671-679`; pandas `rolling("60min")` is trailing).
    * Frame in exact integer microseconds so the window set matches a
    * DuckDB `RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW`.
    * Adds column `out`; a zero-variance window gives null.
    *
    * The stddev and mean are materialized once: the stddev is both the
    * zero guard and the divisor, and Spark does not dedupe identical
    * window expressions, so an inline form would pay three sliding
    * aggregates per row. With Spark's O(frame-size) recompute per row,
    * that is the dominant cost on dense streams (the w8 hot-stream bench
    * line).
    *
    * @param includeCurrent true = pandas `rolling('60min')` default
    *   (window includes the row being scored); false = exclude the
    *   current row (`closed='left'`), so a spike cannot inflate its own
    *   window's σ and mask itself. The reference's library behavior on
    *   the 6,000-row outlier fixture is only reproducible with
    *   exclusion (see ZscoreFixtureSpec); its exact artifact handling
    *   at stream starts is [unpinned] — SURVEY §7.4.5.
    */
  def zscoreOnto(df: DataFrame, out: String, value: Column, epochUs: Column,
                 windowSec: Long, partCols: Seq[String] = Seq(Obs.DatastreamId),
                 includeCurrent: Boolean = true): DataFrame = {
    val hi = if (includeCurrent) 0L else -1L
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(epochUs)
      .rangeBetween(-windowSec * 1000000L, hi)
    val d = Frames.withColumns(df, Seq(
      "__z_sd" -> stddev_samp(value).over(w),
      "__z_m" -> avg(value).over(w)))
    // zero-variance window => no opinion (null), and keeps ANSI mode from
    // raising DIVIDE_BY_ZERO on constant series
    Frames.withColumns(d, Seq(out ->
        when(col("__z_sd") =!= 0.0, (value - col("__z_m")) / col("__z_sd"))),
      drop = Seq("__z_sd", "__z_m"))
  }

  /** W3 — dt / velocity / acceleration from a time-sorted track (reference
    * `get_dt_velocity_and_acceleration_series`, `src/main.py:654-660`,
    * `README.adoc:220-229`): dt to the previous point, velocity =
    * distance/dt, acceleration = Δvelocity/dt. Adds columns
    * `dt_sec`, `velocity_ms`, `acceleration_ms2`.
    *
    * `timeUs` must be INTEGER epoch µs: dt is computed as an exact integer
    * difference *then* divided — subtracting two ~1.7e9-second doubles
    * first would lose ~6 significant digits to cancellation.
    */
  def velocityAcceleration(df: DataFrame, w: WindowSpec,
                           lat: Column, lon: Column, timeUs: Column,
                           distM: (Column, Column, Column, Column) => Column =
                             Geo.haversineM): DataFrame = {
    // materialize the lags ONCE: Spark does not dedupe repeated identical
    // window expressions, so a distance formula that references
    // lag(lat)/lag(lon) many times (the polynomial portable distance
    // expands each ~15×) would compute that many window columns per row
    val withPrev = Frames.withColumns(df, Seq(
      "__prev_lat" -> lag(lat, 1).over(w),
      "__prev_lon" -> lag(lon, 1).over(w),
      "__prev_t_us" -> lag(timeUs, 1).over(w)))
    val dt = (timeUs - col("__prev_t_us")).cast("double") / 1e6
    val dist = distM(col("__prev_lat"), col("__prev_lon"), lat, lon)
    val withV = Frames.withColumns(withPrev, Seq(
      "dt_sec" -> dt,
      "velocity_ms" -> when(dt =!= 0.0, dist / dt)))
    // acceleration reads the velocity's lag: its own projection
    Frames.withColumns(withV, Seq("acceleration_ms2" ->
        when(col("dt_sec") =!= 0.0,
          (col("velocity_ms") - lag(col("velocity_ms"), 1).over(w)) / col("dt_sec"))),
      drop = Seq("__prev_lat", "__prev_lon", "__prev_t_us"))
  }

  /** Kinematics threshold checks (reference `get_bool_exceed_max_velocity`
    * / `_acceleration`, `src/main.py:663-710`, pinned
    * `tests/test_qc.py:395-435`): a segment exceeding the limit flags
    * BOTH its endpoints (the reference sets `bool_ref.loc[[i-1, i]]`).
    * With backward-attached per-row metrics, that is `metric > max` on
    * the later endpoint OR `lead(metric) > max` on the earlier one.
    * Degenerate dt (1 ns) drives the metric huge => flags naturally.
    */
  def exceedsOnEitherEndpoint(metric: Column, maxAbs: Double, w: WindowSpec): Column =
    coalesce(abs(metric) > maxAbs, lit(false)) ||
      coalesce(abs(lead(metric, 1).over(w)) > maxAbs, lit(false))

  /** W6 — time rounding + nearness (reference `src/aums_data_request.py:91-94`,
    * pinned `tests/test_other.py:108-115`): round to the nearest `stepSec`
    * bucket with **half-to-even** ties (pandas `Timestamp.round` is
    * banker's rounding — the golden aggregate contains an exact
    * `11:49:34.500Z` that must land on 34, not 35), and |time − rounded|
    * as the candidate-ordering key. Exact integer µs arithmetic.
    */
  def timeRound(ts: Column, stepSec: Long = 1L): Column = {
    val step = stepSec * 1000000L
    val us = unix_micros(ts.cast("timestamp"))
    val q = floor(us.cast("double") / step).cast("long")
    val rem = us - q * step
    val bump = when(rem > step / 2, 1L)
      .when(rem < step / 2, 0L)
      .otherwise(pmod(q, lit(2L))) // exactly half: round to the even bucket
    timestamp_micros((q + bump) * step)
  }

  def dtToRound(ts: Column, rounded: Column): Column =
    abs(unix_micros(ts.cast("timestamp")) - unix_micros(rounded)).cast("double") / 1e6

  /** W7 — slinear interpolation/extrapolation parity (scipy
    * `interp1d(kind="slinear", fill_value="extrapolate")`; the reference
    * uses it as a gradient test oracle, `tests/test_qc.py:495-503`).
    * Rows whose `value` is null get the linear interpolation between the
    * nearest known samples of the same stream in time order; before the
    * first / after the last known sample, the nearest known segment is
    * extended (linear extrapolation). Known rows keep their value.
    *
    * Pure window arithmetic: the two flanking known points on each side
    * come from `nth_value(..., ignoreNulls)` over a forward and a
    * reversed row frame. Both orderings hash-partition on the same
    * stream key, so the plan is one Exchange and two Sort+Window stages
    * — no join, no UDF; at 100 TB a hot stream parallelizes with the
    * same chunk-with-overlap hardening as the other kernels (the
    * lookback here is 2 known samples, not a time range).
    *
    * Degenerate spacing (the flanking samples share a timestamp) yields
    * null rather than an ANSI divide error; a stream with fewer than 2
    * known samples cannot define a segment and also yields null.
    */
  def interpSlinear(df: DataFrame, out: String, value: Column, epochUs: Column): DataFrame = {
    val wAsc = Window.partitionBy(col(Obs.DatastreamId))
      .orderBy(epochUs.asc, col(Obs.IotId).asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val wDesc = Window.partitionBy(col(Obs.DatastreamId))
      .orderBy(epochUs.desc, col(Obs.IotId).desc)
      .rowsBetween(1, Window.unboundedFollowing)
    val t = epochUs.cast("double")
    // time-of-known-sample: null wherever the value is null, so the same
    // nth_value(ignoreNulls) index selects the matching (t, v) pair
    val tKnown = when(value.isNotNull, t)
    // materialize each nth_value ONCE (Spark does not dedupe repeated
    // identical window expressions)
    val withFlanks = df
      .withColumn("__p1v", nth_value(value, 1, ignoreNulls = true).over(wDesc))
      .withColumn("__p1t", nth_value(tKnown, 1, ignoreNulls = true).over(wDesc))
      .withColumn("__p2v", nth_value(value, 2, ignoreNulls = true).over(wDesc))
      .withColumn("__p2t", nth_value(tKnown, 2, ignoreNulls = true).over(wDesc))
      .withColumn("__n1v", nth_value(value, 1, ignoreNulls = true).over(wAsc))
      .withColumn("__n1t", nth_value(tKnown, 1, ignoreNulls = true).over(wAsc))
      .withColumn("__n2v", nth_value(value, 2, ignoreNulls = true).over(wAsc))
      .withColumn("__n2t", nth_value(tKnown, 2, ignoreNulls = true).over(wAsc))
    def seg(t0: Column, v0: Column, t1: Column, v1: Column): Column =
      when(t1 =!= t0, v0 + (v1 - v0) * (t - t0) / (t1 - t0))
    val interp = when(value.isNotNull, value)
      .when(col("__p1v").isNotNull && col("__n1v").isNotNull,
        seg(col("__p1t"), col("__p1v"), col("__n1t"), col("__n1v")))
      .when(col("__p1v").isNull && col("__n2v").isNotNull,
        seg(col("__n1t"), col("__n1v"), col("__n2t"), col("__n2v")))
      .when(col("__n1v").isNull && col("__p2v").isNotNull,
        seg(col("__p2t"), col("__p2v"), col("__p1t"), col("__p1v")))
    withFlanks.withColumn(out, interp)
      .drop("__p1v", "__p1t", "__p2v", "__p2t", "__n1v", "__n1t", "__n2v", "__n2t")
  }

  /** Sessionization — gaps-and-islands over an event stream: a new
    * session starts whenever the gap to the previous event of the same
    * key exceeds `gapUs`. Returns one row per event with its
    * `session_idx` (0-based per key, in time order). The classic
    * event-analytics operator; same Window skeleton as the
    * stabilization state machine — one Exchange+Sort per key, then a
    * lag flag and a running sum, all inside a single window stage.
    * All-integer µs arithmetic.
    */
  def sessionize(df: DataFrame, partCols: Seq[String], epochUs: Column,
                 gapUs: Long): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(epochUs.asc)
    val newSession = when(
      epochUs - lag(epochUs, 1).over(w) > gapUs, 1L).otherwise(0L)
    df.withColumn("__new_s", newSession)
      .withColumn("session_idx",
        sum(col("__new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new_s")
  }

  /** Per-session rollup over [[sessionize]]'s output: bounds, event
    * count, and duration — one partial-agg'd groupBy on
    * (keys, session_idx).
    */
  def sessionStats(sessionized: DataFrame, partCols: Seq[String],
                   epochUs: Column): DataFrame =
    sessionized.groupBy((partCols :+ "session_idx").map(col): _*)
      .agg(min(epochUs).as("t_start_us"), max(epochUs).as("t_end_us"),
        count(lit(1)).as("n_events"),
        (max(epochUs) - min(epochUs)).as("duration_us"))

  /** W9 — exponentially-weighted moving average with alpha = 1/2,
    * truncated at `depth` samples, in EXACT integer arithmetic: over
    * the frame (oldest..current = a[1..n], n <= depth)
    *
    *   ewma_micro = (sum_j a[j] * 2^(j-1)) div (2^n - 1)
    *
    * — the dyadic weights make the weighted mean a ratio of exact
    * int64s (weights double toward the current row; the truncated tail
    * mass 2^-depth is below micro resolution for depth >= 20), so the
    * smoothed series replays bit-identically in any engine with 64-bit
    * integer division (both Spark `div` and DuckDB `//` truncate toward
    * zero). A float `pow(0.5, lag)` rendering would drift in the last
    * ulp and flip micro-units.
    *
    * `valueMicro` must be an integral column (micro-quantized);
    * |value_micro| * 2^depth must fit int64 — depth 20 admits |values|
    * up to ~8.7e3 units (8.7e9 micro). Runs inside the shared stream
    * sort: collect_list over the rows-frame, then a constant-size
    * integer fold — one Exchange like every other kernel here, frame
    * memory bounded by depth.
    */
  def ewmaDyadic(valueMicro: Column, w: WindowSpec, depth: Int = 20): Column = {
    val arr = collect_list(valueMicro).over(w.rowsBetween(-(depth - 1), 0))
    val num = aggregate(arr,
      struct(lit(0L).as("s"), lit(0).as("j")),
      (acc, x) => struct(
        (acc.getField("s") + x
          * call_function("shiftleft", lit(1L), acc.getField("j"))).as("s"),
        (acc.getField("j") + 1).as("j")),
      acc => acc.getField("s"))
    val den = call_function("shiftleft", lit(1L), size(arr)) - 1L
    call_function("div", num, den)
  }

  /** Gaps-and-islands: group each partition's time-ordered rows into
    * maximal runs of an unchanged value (the classic change-point
    * rollup — state dashboards, run-length encodings, SCD interval
    * construction all reduce to it). A row opens a new island when its
    * value differs from the previous row's (null-safe compare, so a
    * null-valued run is an island too, and the first row always opens
    * island 1).
    *
    * Same single-Exchange shape as [[sessionize]]: the lag compare and
    * the cumulative island index ride one per-key sort; the rollup is
    * a partial-agg'd groupBy on (keys, island_idx).
    *
    * Returns per-island rows: (keys..., island_idx, value,
    * t_start_us, t_end_us, n_rows).
    */
  def islands(df: DataFrame, partCols: Seq[String], epochUs: Column,
              tieBreak: Column, value: Column): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(epochUs.asc, tieBreak.asc)
    val changed = when(
      value <=> lag(value, 1).over(w), 0L).otherwise(1L)
    df.withColumn("__v", value)
      .withColumn("island_idx",
        sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy((partCols.map(col) :+ col("island_idx")): _*)
      .agg(first(col("__v")).as("value"),
        min(epochUs).as("t_start_us"), max(epochUs).as("t_end_us"),
        count(lit(1)).as("n_rows"))
  }

  /** Conversion-timeout join: for every source event (e.g. 'view'),
    * the time to the FIRST target event (e.g. 'click') of the same key
    * strictly after it, and whether that lands within `windowUs` — the
    * "did the user convert within the hour" / "did the alert get acked
    * in time" shape. NO time-band self-join: both event sets ride ONE
    * per-key sort, and the next-target time is a min over the
    * following rows frame (`min(when(target, t)) OVER (1 FOLLOWING,
    * UNBOUNDED)`) — the sorted-merge trick that replaces the quadratic
    * (source × target within band) enumeration.
    *
    * Returns one row per SOURCE event: (keys..., src id col, t_us,
    * next_dt_us or NULL, converted).
    */
  def conversionTimeout(df: DataFrame, partCols: Seq[String],
                        epochUs: Column, tieBreak: Column,
                        isSource: Column, isTarget: Column,
                        windowUs: Long, idCol: String): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(epochUs.asc, tieBreak.asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val nextT = min(when(isTarget, epochUs)).over(w)
    df.withColumn("__next_t", nextT)
      .filter(isSource)
      .select(partCols.map(col) ++ Seq(col(idCol),
        epochUs.as("t_us"),
        (col("__next_t") - epochUs).as("next_dt_us"),
        coalesce(col("__next_t") - epochUs <= windowUs, lit(false))
          .as("converted")): _*)
  }

  /** SCD2 interval construction on top of [[islands]]: each maximal
    * run of an unchanged tracked value becomes one validity interval
    * (key, value, valid_from_us, valid_to_us, n_rows) — the slowly-
    * changing-dimension type-2 shape a warehouse keeps for
    * point-in-time joins ([[AsofJoin.intervalJoin]] consumes exactly
    * this). `valid_to_us` = the NEXT island's start (half-open
    * [from, to)), NULL for the current interval.
    *
    * The lead window runs on the ISLAND-scale frame and partitions by
    * the same keys as the islands rollup — one more window pass, no
    * new data-scale shuffle.
    */
  def scd2Intervals(df: DataFrame, partCols: Seq[String], epochUs: Column,
                    tieBreak: Column, value: Column): DataFrame = {
    val isl = islands(df, partCols, epochUs, tieBreak, value)
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("island_idx").asc)
    isl.select(partCols.map(col) ++ Seq(col("value"),
      col("t_start_us").as("valid_from_us"),
      lead(col("t_start_us"), 1).over(w).as("valid_to_us"),
      col("n_rows")): _*)
  }

  /** W10 — resample to a regular time grid with last-observation-
    * carried-forward (pandas `resample(step).last().ffill()` parity;
    * the reference downsamples with best-row-per-bucket, `src/
    * aums_data_request.py:96-101` — this is the dense-grid dual that a
    * dashboard or a training-feature join needs: every (stream, bucket)
    * between the stream's first and last observation gets a row, gaps
    * carry the most recent value).
    *
    * Per (key, bucket = t_us DIV stepUs) the LAST observation wins —
    * max by (t_us, tieBreak), deterministic under time ties. The grid
    * is `sequence(min_bucket, max_bucket)` per key; missing buckets
    * left-join null and fill from `last(v, ignoreNulls)` over the
    * preceding frame. The carried value is selected, never computed,
    * so doubles pass through bit-identical (hash-portable).
    *
    * Scale shape: ONE data-scale shuffle (groupBy (key, bucket) with
    * map-side partials — the bucket agg collapses raw rows before the
    * wire); bounds/grid/fill all run on the BUCKET-scale frame
    * (streams x span/step rows, data-independent), repartitioned once
    * by key for the join + window. Grid memory per task is one
    * stream's bucket range — size stepUs so span/step stays ~1e5-1e6.
    * Integer DIV (Spark) and `//` (DuckDB) both truncate toward zero
    * on integer operands, so bucketing agrees for any sign of `t_us`.
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsUsCol: String,
                    valueCol: String, tieBreakCol: String,
                    stepUs: Long): DataFrame = {
    val bucket = expr(s"$tsUsCol DIV $stepUs")
    val lastPer = df
      .groupBy(col(keyCol), bucket.as("bucket"))
      .agg(max(struct(col(tsUsCol), col(tieBreakCol), col(valueCol)))
        .getField(valueCol).as("v_obs"))
    val grid = lastPer.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col(keyCol), explode(sequence(col("lo"), col("hi"))).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(lastPer, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), (col("bucket") * stepUs).as("bucket_us"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("v_fill"),
        col("v_obs").isNull.as("filled"))
  }

  /** Two-sided CUSUM changepoint statistic (Page 1954, "Continuous
    * inspection schemes") per stream, in integer micro-units — the
    * drift monitor the reference's per-stream QC family stops short of
    * (its checks are pointwise; CUSUM accumulates small persistent
    * shifts a range/z-score check never fires on).
    *
    * The clamped recursion S⁺_t = max(0, S⁺_{t-1} + (v_t − μ − k)) is
    * replayed EXACTLY as window algebra via the prefix-sum identity
    * S⁺_t = P_t − min(0, min_{j≤t} P_j), where P is the plain running
    * sum of the drift terms — no recursion, no UDF, identical in the
    * DuckDB oracle. Target μ = per-stream integer mean (sum DIV n),
    * slack k = mad DIV 2 and alarm threshold h = 10·mad with mad the
    * integer mean absolute deviation about μ — every constant derives
    * from the data in integer arithmetic, so the oracle replays the
    * whole chain bit-exactly (DIV and DuckDB `//` both truncate toward
    * zero on integers of any sign).
    *
    * Scale shape: one exchange on the stream key serves all four
    * window layers (the unordered stat windows need no sort; the two
    * ordered prefix layers share one sort) — a single data-scale
    * shuffle, per-task state O(1) per row.
    */
  def cusum(df: DataFrame, keyCol: String, tsUsCol: String,
            vMicroCol: String, tieBreakCol: String): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(tieBreakCol), col(keyCol), col(tsUsCol),
        col(vMicroCol).as("v"),
        sum(col(vMicroCol)).over(wAll).as("sv"),
        count(lit(1)).over(wAll).as("n"))
      .withColumn("mu", expr("sv DIV n"))
      .withColumn("mad",
        expr("sum(abs(v - mu)) OVER (PARTITION BY " + keyCol + ") DIV n"))
      .withColumn("dp", expr("v - mu - mad DIV 2"))
      .withColumn("dn", expr("mu - v - mad DIV 2"))
      .withColumn("pp", sum(col("dp")).over(wOrd))
      .withColumn("pn", sum(col("dn")).over(wOrd))
      .withColumn("sp", col("pp") - least(lit(0L), min(col("pp")).over(wOrd)))
      .withColumn("sn", col("pn") - least(lit(0L), min(col("pn")).over(wOrd)))
      .select(col(tieBreakCol), col(keyCol),
        col("sp").as("s_pos_micro"), col("sn").as("s_neg_micro"),
        (col("sp") > col("mad") * 10 || col("sn") > col("mad") * 10)
          .as("alarm"))
  }

  /** [[cusum]] with CONFIGURED target/slack/threshold instead of
    * data-derived ones — the production monitoring form (control limits
    * come from a spec sheet, not the batch being checked) and the form
    * a STREAM can compute: the data-derived constants need the whole
    * series up front, while this recursion carries two longs of state.
    * Same prefix-sum-minus-running-min replay of the Page recursion.
    */
  def cusumFixed(df: DataFrame, keyCol: String, tsUsCol: String,
                 vMicroCol: String, tieBreakCol: String,
                 muMicro: Long, slackMicro: Long, hMicro: Long): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(tieBreakCol), col(keyCol), col(tsUsCol),
        col(vMicroCol).as("v"))
      .withColumn("dp", col("v") - lit(muMicro) - lit(slackMicro))
      .withColumn("dn", lit(muMicro) - col("v") - lit(slackMicro))
      .withColumn("pp", sum(col("dp")).over(wOrd))
      .withColumn("pn", sum(col("dn")).over(wOrd))
      .withColumn("sp", col("pp") - least(lit(0L), min(col("pp")).over(wOrd)))
      .withColumn("sn", col("pn") - least(lit(0L), min(col("pn")).over(wOrd)))
      .select(col(tieBreakCol), col(keyCol),
        col("sp").as("s_pos_micro"), col("sn").as("s_neg_micro"),
        (col("sp") > lit(hMicro) || col("sn") > lit(hMicro)).as("alarm"))
  }

  /** Per-stream cadence and gap report — the completeness audit a
    * sensor-network QC pass runs before trusting any windowed check:
    * the stream's nominal cadence is its MODAL inter-observation gap
    * (ties broken toward the smaller gap — a stream that's half 10 s
    * and half 60 s reads as a 10 s stream with gaps), and against that
    * cadence the report counts gap violations (dt > 3·cadence DIV 2),
    * the longest gap, and the coverage ratio n·10⁶ DIV expected where
    * expected = span DIV cadence + 1 (the points an ideal clock would
    * have produced). Pure integer; single-observation streams report
    * null cadence and 10⁶ coverage.
    *
    * Scale shape: ONE data-scale exchange (the stream-keyed lag
    * window); the dt histogram collapses via partial aggregation to
    * (streams × distinct dts) rows, the modal pick runs on that tiny
    * frame, and the join back + final groupBy ride the window's
    * existing stream partitioning — AQE picks the join strategy (no
    * forced broadcast: stream cardinality scales with the fleet).
    */
  def gapReport(df: DataFrame, keyCol: String, tsUsCol: String,
                tieBreakCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
    val dts = df.select(col(keyCol), col(tsUsCol), col(tieBreakCol))
      .withColumn("dt", col(tsUsCol) - lag(col(tsUsCol), 1).over(wOrd))
      .drop(tieBreakCol)
    val modal = dts.filter(col("dt") > 0L) // zero gaps (ts ties) never define cadence
      .groupBy(col(keyCol), col("dt")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(keyCol))
      .agg(min(struct(negate(col("cnt")).as("neg"), col("dt").as("dt")))
        .as("m"))
      .select(col(keyCol).as("__k"), col("m.dt").as("cadence_us"))
    dts.join(modal, col(keyCol) === col("__k"), "left")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        first(col("cadence_us")).as("cadence_us"),
        (max(col(tsUsCol)) - min(col(tsUsCol))).as("span_us"),
        sum(when(expr("dt > cadence_us * 3 DIV 2"), 1L)
          .otherwise(0L)).as("n_gaps"),
        max(col("dt")).as("max_gap_us"))
      .withColumn("coverage_ppm",
        when(col("cadence_us").isNull, lit(1000000L))
          .otherwise(expr(
            "n_obs * 1000000 DIV (span_us DIV cadence_us + 1)")))
      .select(col(keyCol), col("n_obs"), col("cadence_us"), col("span_us"),
        col("n_gaps"), col("max_gap_us"), col("coverage_ppm"))
  }

  /** The gap LIST behind [[gapReport]]'s counts: one row per
    * inter-observation gap wider than `thresholdUs`, with both bounds.
    * Only closed gaps: an ongoing silence has no later row to bound it.
    * One stream-keyed exchange, then a map-side filter.
    */
  def gapEvents(df: DataFrame, keyCol: String, tsUsCol: String,
                tieBreakCol: String, thresholdUs: Long): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
    df.select(col(keyCol), col(tsUsCol), col(tieBreakCol))
      .withColumn("__pt", lag(col(tsUsCol), 1).over(wOrd))
      .filter(col(tsUsCol) - col("__pt") > thresholdUs)
      .select(col(keyCol), col("__pt").as("gap_start_us"),
        col(tsUsCol).as("gap_end_us"),
        (col(tsUsCol) - col("__pt")).as("gap_us"))
  }

  /** Robust per-stream trend: the Theil-Sen slope estimator (Theil
    * 1950 / Sen 1968 — median of pairwise slopes, the robust
    * alternative to least squares a QC pass wants when spikes survive
    * upstream checks) restricted to DYADIC ROW LAGS: slopes are taken
    * between each observation and its 2^k-th predecessor for
    * k = 0..maxLagExp, and the estimate is the exact lower-median of
    * those slopes. The full estimator's O(n²) pair set is its known
    * scale problem; the dyadic restriction keeps O(n·log n) pairs that
    * mix short- and long-baseline slopes (long baselines give the
    * breakdown resistance), each expressible as a lag window — the
    * published sampling-based Theil-Sen variants make the same
    * pairs-subset trade, this one deterministically.
    *
    * Slopes are integer micro-units per second:
    * (Δv_micro · 10⁶) DIV Δt_us — truncation identical in DuckDB —
    * and the lower-median (row_number = (n+1) DIV 2 in slope order,
    * doc-order tie-break) avoids the even-count averaging that would
    * reintroduce fractions. Returns (key, n_slopes, trend_micro_per_s).
    *
    * Scale shape: one stream-keyed exchange serves every lag window;
    * the slope frame (≤ log₂n rows per obs) re-sorts within the same
    * partitioning for the median rank; no data-scale join anywhere.
    */
  def theilSenTrend(df: DataFrame, keyCol: String, tsUsCol: String,
                    vMicroCol: String, tieBreakCol: String,
                    maxLagExp: Int = 3): DataFrame = {
    require(maxLagExp >= 0 && maxLagExp <= 16, s"bad maxLagExp: $maxLagExp")
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
    val lags = (0 to maxLagExp).map(1 << _)
    val withLags = lags.foldLeft(
      df.select(col(keyCol), col(tsUsCol), col(tieBreakCol),
        col(vMicroCol).as("v"))) { (acc, k) =>
      acc.withColumn(s"__pv$k", lag(col("v"), k).over(wOrd))
        .withColumn(s"__pt$k", lag(col(tsUsCol), k).over(wOrd))
    }
    val slopeEntries = array(lags.map { k =>
      when(col(s"__pt$k").isNotNull && col(tsUsCol) =!= col(s"__pt$k"),
        expr(s"(v - __pv$k) * 1000000 DIV (${tsUsCol} - __pt$k)"))
    }: _*)
    val slopes = withLags
      .select(col(keyCol), col(tieBreakCol),
        explode(slopeEntries).as("slope"))
      .filter(col("slope").isNotNull)
    val wRank = Window.partitionBy(col(keyCol))
      .orderBy(col("slope"), col(tieBreakCol))
    val wCnt = Window.partitionBy(col(keyCol))
    slopes
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wCnt))
      .filter(expr("__rn = (__n + 1) DIV 2"))
      .select(col(keyCol), col("__n").as("n_slopes"),
        col("slope").as("trend_micro_per_s"))
  }

  /** Per-stream lag-k autocorrelation (the ACF of Box-Jenkins
    * diagnostics) for k = 1..maxLag, in integer micro-units: with
    * μ = per-stream integer mean (Σv DIV n) and d_t = v_t − μ,
    * acf_ppm(k) = (Σ_{t>k} d_t·d_{t−k}) · 10⁶ DIV (Σ_t d_t²) — the
    * standard biased estimator (denominator over ALL n terms), so
    * acf(0) ≡ 1 and the values are comparable across lags. Deviation
    * products reach ~10¹⁷ for full-range micro values, so both sums
    * accumulate in DECIMAL(38,0) (≡ the oracle's HUGEINT); the final
    * ratio is a BIGINT ppm. Sign behavior is exact: DIV and DuckDB `//`
    * truncate toward zero identically, and negative autocorrelation
    * (alternating series) exercises that path.
    *
    * Returns (key, lag, n_pairs, acf_ppm); acf_ppm null for a
    * zero-variance stream.
    *
    * Scale shape: ONE exchange on the stream key serves the stat
    * window, the ordered lag window and the final per-stream aggregate
    * (maxLag lag columns ride one sorted pass); the groupBy emits one
    * row per stream which explodes to maxLag output rows — nothing
    * after the first exchange is data-scale.
    */
  def acf(df: DataFrame, keyCol: String, tsUsCol: String,
          vMicroCol: String, tieBreakCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 32, s"maxLag out of range: $maxLag")
    val wAll = Window.partitionBy(col(keyCol))
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieBreakCol))
    val dev = df.select(col(keyCol), col(tsUsCol), col(tieBreakCol),
        col(vMicroCol).as("v"),
        sum(col(vMicroCol)).over(wAll).as("sv"),
        count(lit(1)).over(wAll).as("n"))
      .withColumn("d", expr("v - sv DIV n"))
    val lagged = (1 to maxLag).foldLeft(dev) { (acc, k) =>
      acc.withColumn(s"dl$k", lag(col("d"), k).over(wOrd))
    }
    val numAggs = (1 to maxLag).flatMap { k => Seq(
      sum(col("d").cast("decimal(38,0)") * col(s"dl$k")).as(s"num$k"),
      count(col(s"dl$k")).as(s"np$k"))
    }
    val den = sum(col("d").cast("decimal(38,0)") * col("d")).as("den")
    val perStream = lagged.groupBy(col(keyCol))
      .agg(den, numAggs: _*)
    val entries = array((1 to maxLag).map { k =>
      struct(lit(k.toLong).as("lag"), col(s"np$k").as("n_pairs"),
        expr(s"CAST(num$k * 1000000 DIV nullif(den, 0) AS BIGINT)")
          .as("acf_ppm"))
    }: _*)
    perStream.select(col(keyCol), explode(entries).as("r"))
      .select(col(keyCol), col("r.lag").as("lag"),
        col("r.n_pairs").as("n_pairs"), col("r.acf_ppm").as("acf_ppm"))
  }

  /** Hour-of-day seasonal profile + strength per stream — the classic
    * additive decomposition v = level + seasonal(hod) + residual with
    * integer means (level = Σv DIV n; seasonal = per-hour mean − level)
    * and the Wang-Hyndman seasonal-strength statistic
    *
    *   F_ppm = max(0, 10⁶ − 10⁶·Var(resid) DIV Var(v − level))
    *
    * computed sqrt-free and division-late: Var as n·Σx² − (Σx)² in
    * DECIMAL(38,0) ≡ HUGEINT (both variances share the same n, so the
    * 1/n² factors cancel in the ratio). Also reports the peak hour
    * (argmax seasonal, ties to the smaller hour) and its amplitude —
    * the "when does this sensor run hot" operations question.
    *
    * Scale shape: ONE hash exchange on the stream key serves both
    * window layers (the (key, hod) window's ClusteredDistribution is
    * satisfied by the key partitioning) and the final per-stream
    * aggregate takes map-side partials.
    */
  def seasonalStrength(df: DataFrame, keyCol: String, tsUsCol: String,
                       vMicroCol: String): DataFrame = {
    val wk = Window.partitionBy(col(keyCol))
    val wkh = Window.partitionBy(col(keyCol), col("hod"))
    val x = df.select(col(keyCol), col(vMicroCol).as("v"),
        expr(s"($tsUsCol DIV 3600000000) % 24").as("hod"))
      .withColumn("sv", sum(col("v")).over(wk))
      .withColumn("n", count(lit(1)).over(wk))
      .withColumn("sh", sum(col("v")).over(wkh))
      .withColumn("nh", count(lit(1)).over(wkh))
      .withColumn("level", expr("sv DIV n"))
      .withColumn("seasonal", expr("sh DIV nh - level"))
      .withColumn("resid", expr("v - level - seasonal"))
      .withColumn("dev", expr("v - level"))
    x.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"), max(col("level")).as("level_micro"),
        sum(col("resid")).as("sr"),
        sum(col("resid").cast("decimal(38,0)") * col("resid")).as("sr2"),
        sum(col("dev")).as("sd"),
        sum(col("dev").cast("decimal(38,0)") * col("dev")).as("sd2"),
        min(struct((-col("seasonal")).as("ns"), col("hod").as("h"))).as("pk"))
      .withColumn("vr", expr(
        "CAST(n_obs AS DECIMAL(38,0)) * sr2 - CAST(sr AS DECIMAL(38,0)) * sr"))
      .withColumn("vsr", expr(
        "CAST(n_obs AS DECIMAL(38,0)) * sd2 - CAST(sd AS DECIMAL(38,0)) * sd"))
      // constant streams (vsr = 0) report NULL strength explicitly on
      // both engines (greatest() treats NULL differently across them)
      .select(col(keyCol), col("n_obs"), col("level_micro"),
        expr("""CASE WHEN vsr = 0 THEN NULL
                ELSE greatest(0L,
                  1000000L - CAST(vr * 1000000 DIV vsr AS BIGINT))
                END""").as("strength_ppm"),
        col("pk.h").as("peak_hod"),
        (-col("pk.ns")).as("peak_seasonal_micro"))
  }

  /** Rolling cross-stream correlation: streams pair as (2k, 2k+1), their
    * observations align on fixed time buckets (first observation per
    * bucket, (t, tie)-deterministic), and each aligned pair carries the
    * signed square of the rolling Pearson correlation over the last
    * `windowRows` buckets —
    *
    *   r²_signed = sign(num) · num² · 10⁶ DIV (denx · deny)
    *   num = n·Σxy − Σx·Σy, denx = n·Σx² − (Σx)², deny likewise
    *
    * — the sqrt-free monotone form of r the assortativity/ACF family
    * already uses (sign and magnitude of r are fully recoverable;
    * thresholding r ≥ c ≡ r²_signed ≥ c²). Values quantize micro →
    * CENTI (DIV 10⁴) before the sums, and every product — per-row x·y
    * included — runs in DECIMAL(38,0) ≡ HUGEINT, so no intermediate can
    * overflow 64-bit (which under ANSI errored the query at
    * |v_centi| ≳ 3.8e8); every division truncates identically in both
    * engines, so rows replay bit-exactly. Exactness envelope: the
    * covariance terms need |n·Σxy − Σx·Σy| ≲ 1e16 (window variance, not
    * raw magnitude — a mean of 10⁹ centi with small spread is exact);
    * past it both engines raise their 128-bit overflow loudly.
    *
    * Scale shape: one row_number window keyed (stream, bucket) for the
    * per-bucket representative, then the two halves align via ONE
    * conditional-aggregate pivot on (pair, bucket) — a self-JOIN
    * formulation measured as two full source scans with the whole rep
    * subtree duplicated per side (plans don't reuse across differing
    * parity filters); the pivot reads the source once — and one
    * pair-keyed window for the six rolling sums. Never a cross-stream
    * product.
    */
  def rollingPairCorr(df: DataFrame, keyCol: String, tsUsCol: String,
                      vMicroCol: String, tieBreakCol: String,
                      bucketUs: Long = 60000000L, windowRows: Int = 8,
                      minPairs: Int = 4): DataFrame = {
    require(bucketUs >= 1 && windowRows >= 2 && minPairs >= 2)
    val rep = df.select(col(keyCol).cast("long").as("d"),
        expr(s"$tsUsCol DIV $bucketUs").as("bucket"),
        col(tsUsCol).as("t"), col(tieBreakCol).as("tie"),
        expr(s"$vMicroCol DIV 10000").as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("d"), col("bucket"))
          .orderBy(col("t"), col("tie"))))
      .filter(col("rn") === 1)
    // each (stream, bucket) contributes exactly one representative, so
    // the per-(pair, bucket) max(when(parity)) is that single value —
    // the pivot form of the px⋈py equi-join, at one source scan
    val paired = rep
      .groupBy(expr("d DIV 2").as("pair_id"), col("bucket"))
      .agg(max(when(pmod(col("d"), lit(2L)) === 0, col("v"))).as("x"),
        max(when(pmod(col("d"), lit(2L)) === 1, col("v"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val w = Window.partitionBy(col("pair_id")).orderBy(col("bucket"))
      .rowsBetween(-(windowRows - 1), 0)
    // every product runs in DECIMAL(38,0): the per-row x*y and the n·s
    // cross terms previously ran in 64-bit, which under ANSI ERRORED the
    // whole query for centi values above ~3.8e8 (and would silently wrap
    // with ANSI off — engine divergence either way). Widened, the sums
    // and cross terms are exact for the full BIGINT micro input range;
    // the one remaining envelope is DECIMAL(38,0) itself — num² · 10⁶
    // needs |num| ≲ 1e16, i.e. window-variance · n² ≲ 5e15 — beyond
    // which BOTH engines raise (ANSI decimal overflow here, HUGEINT
    // overflow in DuckDB): loud, never silently wrong.
    paired
      .select(col("pair_id"), col("bucket"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).over(w).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).over(w).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).over(w).as("syy"))
      .filter(col("n") >= minPairs)
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("dx", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("dy", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("pair_id"), col("bucket"), col("n").cast("long").as("n_w"),
        expr("""CAST(CASE WHEN num < 0 THEN
                 -((num * num * 1000000) DIV nullif(dx * dy, 0))
               ELSE
                 (num * num * 1000000) DIV nullif(dx * dy, 0)
               END AS BIGINT)""").as("r2_signed_ppm"))
  }
}
