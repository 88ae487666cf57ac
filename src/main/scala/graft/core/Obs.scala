package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical long-format observations schema (reference `Df` enum; header
  * pinned at reference `tests/resources/df_outliers.csv:1`): one row per
  * sensor reading, all datastreams interleaved. Column-name constants
  * instead of a Python enum; one canonical StructType.
  */
object Obs {
  val IotId = "iot_id" // reference `@iot.id`
  val Result = "result"
  val Time = "phenomenonTime"
  val QcFlag = "qc_rank" // severity rank byte (see Flags); wire code only at the edges
  val DatastreamId = "datastream_id"
  val ObservationType = "observation_type"
  val Units = "units"
  val Long_ = "long"
  val Lat = "lat"
  val FeatureId = "feature_id"
  val QcFlagFeature = "qc_flag_feature" // per-geometry flag (reference src/main.py:587)

  val schema: StructType = StructType(Seq(
    StructField(IotId, LongType),
    StructField(Result, DoubleType),
    StructField(Time, TimestampType),
    StructField(QcFlag, ByteType),
    StructField(DatastreamId, LongType),
    StructField(ObservationType, StringType),
    StructField(Units, StringType),
    StructField(Long_, DoubleType),
    StructField(Lat, DoubleType),
    StructField(FeatureId, LongType)
  ))

  /** Epoch-µs derivation for the RAW events `ts` column — the single
    * place the schema dispatch lives (production + tests share it, so
    * the epoch axis cannot drift between them). The driver's
    * events.parquet carries parquet TIMESTAMP(NANOS); under
    * `spark.sql.legacy.parquet.nanosAsLong` (set by [[Sessions]]) Spark
    * surfaces that as a raw ns LongType, which truncates ns→µs by
    * integer division — matching how µs-native engines (and the DuckDB
    * oracle) read the same file. LongType occurs ONLY via that flag:
    * this is the table's write contract, not an inference from value
    * magnitude, so an int64 column here is by definition nanoseconds.
    * Note the result is DERIVED (`ts DIV 1000`) and therefore does not
    * push to the parquet scan — for pushable range predicates use
    * [[eventsAsObservationsBetween]], which inverts the bounds onto the
    * raw column.
    */
  def rawTsToEpochUs(schema: StructType): Column =
    schema("ts").dataType match {
      case LongType => expr("ts DIV 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** Adapt the driver's `events` table to the observations shape:
    * event_id -> iot_id, user_id -> datastream_id, value -> result,
    * ts -> phenomenonTime, event_type -> observation_type. Lat/long are
    * synthesized deterministically from event_id with exact rational
    * arithmetic (reproducible bit-for-bit in any engine, incl. the DuckDB
    * oracle): a pseudo-track near the reference's North Sea coordinates.
    */
  def eventsAsObservations(spark: SparkSession, sfDir: String): DataFrame = {
    // The events table carries TIMESTAMP(NANOS) — Spark reads it as a raw
    // ns count only under spark.sql.legacy.parquet.nanosAsLong (set by
    // graft.core.Sessions). Truncate ns→µs (integer floor division), which
    // matches how µs-native engines (and DuckDB) read the same file.
    project(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Deterministic pseudo-random-walk coordinates from an integer id.
    * Exact integer arithmetic then a single division — identical in Spark
    * and DuckDB (`(event_id * 37 % 1000 - 500) / 1000.0 * 0.5 + 51.2`).
    */
  def synthLat(id: Column): Column =
    (((id * 37) % 1000 - 500).cast("double") / lit(1000.0)) * lit(0.5) + lit(51.2)
  def synthLon(id: Column): Column =
    (((id * 53) % 1000 - 500).cast("double") / lit(1000.0)) * lit(0.5) + lit(2.9)

  /** Same synthesis as SQL text, for oracle queries. */
  def synthLatSql(id: String): String =
    s"((($id * 37) % 1000 - 500) / 1000.0 * 0.5 + 51.2)"
  def synthLonSql(id: String): String =
    s"((($id * 53) % 1000 - 500) / 1000.0 * 0.5 + 2.9)"

  /** Time-filtered events→observations with the range predicate pushed to
    * the parquet scan. `phenomenonTime` is derived (`timestamp_micros(ts
    * DIV 1000)`), so a filter on it cannot push; the equivalent integer
    * predicate on the RAW ns column can:
    * `t_us > a  ⟺  ts_ns > a*1000 + 999`, `t_us < b  ⟺  ts_ns < b*1000`.
    * At 100 TB this is the difference between scanning the requested
    * window's row groups and scanning everything.
    */
  def eventsAsObservationsBetween(spark: SparkSession, sfDir: String,
                                  fromUsExcl: Long, toUsExcl: Long): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val pushed = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // inverted bounds on the RAW ns column (≡ rawTsToEpochUs(ts)
        // in (fromUsExcl, toUsExcl)) — this integer form pushes
        ev.filter(col("ts") > fromUsExcl * 1000L + 999L && col("ts") < toUsExcl * 1000L)
      case _ =>
        val tUs = rawTsToEpochUs(ev.schema)
        ev.filter(tUs > fromUsExcl && tUs < toUsExcl)
    }
    project(pushed)
  }

  private def project(ev: DataFrame): DataFrame = {
    val tsCol = timestamp_micros(rawTsToEpochUs(ev.schema))
    ev.select(
      col("event_id").as(IotId),
      col("value").as(Result),
      tsCol.as(Time),
      lit(Flags.NoQc).cast("tinyint").as(QcFlag),
      col("user_id").as(DatastreamId),
      col("event_type").as(ObservationType),
      lit("unit").as(Units),
      synthLon(col("event_id")).as(Long_),
      synthLat(col("event_id")).as(Lat),
      (col("event_id") % 97).as(FeatureId)
    )
  }
}
