package graft.tools

import graft.pipeline.{ConfigLoader, QcMain}
import org.apache.spark.sql.functions._

/** CLI driver for the §3.1 QC pipeline: runs on a captured STA response
  * under a config document (`conf/qc_example.json`) and prints the
  * reference-parity phase-timing line plus the flag histogram. A config
  * that does not validate prints each error as `path: message` on stderr
  * and exits 2, before Spark starts.
  * Usage: runMain graft.tools.RunQcMain <config.json> <staJson> [patchOut]
  */
object RunQcMain {
  def main(args: Array[String]): Unit = {
    val cfg = ConfigLoader.loadFileOrExit(args(0)).qc
    val spark = graft.core.Sessions.local()
    val (flagged, phases) = QcMain.runFrom(spark,
      spark.read.format("graft.sources.sta").option("path", args(1)).load(), cfg,
      patchOut = args.lift(2))
    println("FLAG HISTOGRAM " + flagged.groupBy(col("flag")).count()
      .collect().map(r => s"${r.getByte(0)}->${r.getLong(1)}").sorted.mkString(" "))
    println(f"PHASES df-construction=${phases.dfConstructionSec}%.2f region=${phases.regionSec}%.2f " +
      f"ranges=${phases.rangesSec}%.2f totalQC=${phases.totalQcSec}%.2f " +
      f"patch=${phases.patchSec}%.2f total=${phases.totalSec}%.2f")
    spark.stop()
  }
}
