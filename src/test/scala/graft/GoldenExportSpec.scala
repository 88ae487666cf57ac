package graft

import graft.core.Flags
import graft.ops.PivotExport
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** R1/R2 golden-file parity: the full pivot/align/export pipeline
  * (reference `src/aums_data_request.py` §3.2) against the reference's
  * own golden output `tests/resources/df_agg.csv` (3,268 data rows,
  * rtol 0.01 — same tolerance as `tests/test_other.py:144-198`).
  */
class GoldenExportSpec extends SparkSpec with Matchers {

  private val fixture = "/root/reference/tests/resources/aums_data_request_response.json"
  private val golden = "/root/reference/tests/resources/df_agg.csv"
  private def exists = new java.io.File(fixture).exists() && new java.io.File(golden).exists()

  private val streams = Seq(7751L, 7752L, 7769L, 7770L, 7849L, 7850L, 7851L)

  test("alignedExport reproduces the reference golden aggregate (rtol 0.01)") {
    assume(exists)
    val obs = spark.read.format("graft.sources.sta").option("path", fixture).load()
    val wide = PivotExport.alignedExport(obs, streams, stepSec = 1L)
      .withColumn("t_sec", unix_micros(col("time_round")) / 1000000L)

    val mine = wide.collect().map { r =>
      r.getAs[Long]("t_sec") -> r
    }.toMap

    // parse the golden CSV: 7 header rows, then
    // time,lat,long,(result,resultQuality)x7
    val lines = scala.io.Source.fromFile(golden).getLines().drop(7).toSeq
    assert(lines.size == 3268)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    var checkedCells = 0L
    var mismatches = List.empty[String]
    lines.foreach { line =>
      val f = line.split(",", -1)
      val tSec = java.time.LocalDateTime.parse(f(0), fmt)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      mine.get(tSec) match {
        case None => mismatches ::= s"missing bucket ${f(0)}"
        case Some(row) =>
          streams.zipWithIndex.foreach { case (ds, i) =>
            val gRes = f(3 + 2 * i)
            val gQc = f(4 + 2 * i)
            val resIdx = row.fieldIndex(s"${ds}_result")
            if (gRes.nonEmpty) {
              if (row.isNullAt(resIdx)) mismatches ::= s"${f(0)} $ds: golden=$gRes mine=null"
              else {
                val m = row.getDouble(resIdx)
                val g = gRes.toDouble
                if (math.abs(m - g) > 0.01 * math.max(math.abs(g), 1e-9) + 1e-9)
                  mismatches ::= s"${f(0)} $ds: golden=$g mine=$m"
                checkedCells += 1
              }
              // flag parity where present: golden carries L20 wire codes
              if (gQc.nonEmpty) {
                val qIdx = row.fieldIndex(s"${ds}_qc")
                val mineWire = Flags.rankToWire(row.getByte(qIdx))
                if (mineWire != gQc.toDouble.toInt)
                  mismatches ::= s"${f(0)} $ds qc: golden=$gQc mine=$mineWire"
              }
            } else if (!row.isNullAt(resIdx))
              mismatches ::= s"${f(0)} $ds: golden=empty mine=${row.getDouble(resIdx)}"
          }
      }
    }
    withClue(s"first mismatches: ${mismatches.take(10).mkString("; ")}") {
      assert(mismatches.isEmpty)
    }
    assert(mine.size == 3268) // no extra buckets either
    assert(checkedCells > 10000) // ~13k populated result cells
  }
}
