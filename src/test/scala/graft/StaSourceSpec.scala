package graft

import graft.core.Obs
import graft.sources.sta.StaSource
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, LessThan}

/** S1/S2 — the "sta" DataSource V2: flattening the reference's captured
  * response, column pruning, and OData pushdown compilation (reference
  * URL shape pinned `tests/test_other.py:73-85`, filter string
  * `tests/test_config.py:23-28`).
  */
class StaSourceSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/resources/aums_data_request_response.json"
  private def fixtureExists = new java.io.File(fixture).exists()

  test("sta format reads the captured response") {
    assume(fixtureExists)
    val v2 = spark.read.format("graft.sources.sta").option("path", fixture).load()
    // spot-check one observation end-to-end
    val a = v2.filter(col(Obs.IotId) === 869996655L)
      .select(Obs.Result, Obs.DatastreamId).collect()(0)
    assert(a.getDouble(0) == 15.5898 && a.getLong(1) == 7751L)
    // µs precision survives the reader
    val us = v2.select((unix_micros(col(Obs.Time)) % 1000000L).as("us"))
      .filter(col("us") =!= 0).count()
    assert(us > 0)
  }

  test("column pruning reaches the reader (ReadSchema shrinks)") {
    val pruned = spark.read.format("graft.sources.sta").option("path", StaResponseSpec.fixture)
      .load().select(col(Obs.IotId), col(Obs.Result))
    val readSchemas = pruned.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames.toSeq
    }
    assert(readSchemas == Seq(Seq(Obs.IotId, Obs.Result)))
    assert(pruned.columns.toSeq == Seq(Obs.IotId, Obs.Result))
    assert(pruned.count() == 9)
  }

  test("pushed (non-residual) filters are enforced by the reader") {
    assume(fixtureExists)
    val v2 = spark.read.format("graft.sources.sta").option("path", fixture).load()
    // the expectations come from the unfiltered read, filtered here
    val rows = v2.select(col(Obs.DatastreamId), col(Obs.Time)).collect()
    val all = v2.count()
    // datastream IN — pushed as $filter, must actually drop rows
    val oneStream = v2.filter(col(Obs.DatastreamId).isin(7751L)).count()
    val expectStream = rows.count(r => !r.isNullAt(0) && r.getLong(0) == 7751L)
    assert(oneStream == expectStream && oneStream < all,
      s"pushed IN filter not enforced: got $oneStream expect $expectStream of $all")
    // phenomenonTime range — pushed as $filter gt/lt
    val cutoff = v2
      .select(percentile_approx(col(Obs.Time).cast("double"), lit(0.5), lit(1000)))
      .collect()(0).getDouble(0)
    val cutTs = new java.sql.Timestamp((cutoff * 1000).toLong)
    val timeFiltered = v2.filter(col(Obs.Time) > lit(cutTs)).count()
    val expectTime = rows.count(r => !r.isNullAt(1) && r.getTimestamp(1).after(cutTs))
    assert(timeFiltered == expectTime && timeFiltered < all,
      s"pushed time filter not enforced: got $timeFiltered expect $expectTime of $all")
  }

  test("OData filter compilation (filter_cfg_to_query parity, test_config.py:23-28)") {
    val (s, pushed, residual) = StaSource.compileODataFilter(Seq(
      GreaterThan(Obs.Time, "2023-01-01T00:00:00Z"),
      LessThan(Obs.Time, "2023-02-01T00:00:00Z"),
      In(Obs.DatastreamId, Array(7751L, 7770L)),
      EqualTo(Obs.Result, 1.0))) // not pushable
    assert(s == "phenomenonTime gt 2023-01-01T00:00:00Z and " +
      "phenomenonTime lt 2023-02-01T00:00:00Z and " +
      "(Datastream/id eq 7751 or Datastream/id eq 7770)")
    assert(pushed.length == 3 && residual == Seq(EqualTo(Obs.Result, 1.0)))
  }
}
