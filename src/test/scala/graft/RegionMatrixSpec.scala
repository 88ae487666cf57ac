package graft

import graft.core.Flags
import graft.ops.{Geo, QcCheck}
import org.apache.spark.sql.functions._

/** The reference's synthetic `df_testing` region matrix
  * (`tests/test_qc.py:71-140,179-215`, FIXTURES.md §2): 2 datastreams ×
  * 5 rows with regions [NORTH SEA, MAINLAND EUROPE, MAINLAND random,
  * null, NaN] ⇒ flags [NQC, BAD, BAD, PROBABLY_BAD, PROBABLY_BAD] when
  * the standalone null-region check flags PROBABLY_BAD (the test's
  * configuration; the pipeline's default is PROBABLY_GOOD pending the
  * depth refinement, src/main.py:535-542).
  */
class RegionMatrixSpec extends SparkSpec {
  import spark.implicits._

  private val regions =
    Seq(Some("NORTH SEA"), Some("MAINLAND EUROPE"), Some("MAINLAND random"), None, None)

  test("df_testing matrix: [NQC, BAD, BAD, PROBABLY_BAD, PROBABLY_BAD] per stream") {
    val df = (for (ds <- 0L to 1L; (r, i) <- regions.zipWithIndex)
      yield (ds, i.toLong, r)).toDF("datastream_id", "idx", "region")
    val checks = Seq(
      // the reference test's standalone config flags a null region
      // PROBABLY_BAD, not nullRegionCheck's PROBABLY_GOOD
      QcCheck("null_region", $"region".isNull, Flags.ProbablyBad),
      Geo.mainlandCheck($"region"))
    val flagged = checks.foldLeft(df.withColumn("flag", lit(Flags.NoQc).cast("tinyint"))) {
      (d, c) => d.withColumn("flag", c.mergedInto($"flag"))
    }
    val got = flagged.orderBy($"datastream_id", $"idx")
      .select($"flag").collect().map(_.getByte(0)).toSeq
    val expected = Seq(Flags.NoQc, Flags.Bad, Flags.Bad, Flags.ProbablyBad, Flags.ProbablyBad)
    assert(got == expected ++ expected)
  }

  test("per-stream flag histogram matches the reference count shape (test_qc.py:683-702)") {
    // one stream all-GOOD except one BAD — the mismatch-matrix count shape
    val df = (0 until 10).map(i => (1L, i.toLong,
      if (i == 3) Flags.Bad else Flags.Good)).toDF("ds", "idx", "flag")
    val hist = df.groupBy($"flag").count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(hist == Map(Flags.Good -> 9L, Flags.Bad -> 1L))
  }
}
