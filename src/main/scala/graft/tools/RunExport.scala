package graft.tools

import graft.ops.PivotExport
import org.apache.spark.sql.functions._

/** §3.2 entry point (reference `src/aums_data_request.py`): fetch/flatten
  * a captured STA response, align on half-even-rounded seconds, pick the
  * best row per (bucket, stream), pivot wide, export CSV (S6).
  * Usage: runMain graft.tools.RunExport <staJson> <csvOutDir> [streams...]
  */
object RunExport {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    val streams = if (args.length > 2) args.drop(2).map(_.toLong).toSeq
    else Seq(7751L, 7752L, 7769L, 7770L, 7849L, 7850L, 7851L)
    val obs = spark.read.format("graft.sources.sta").option("path", args(0)).load()
    val wide = PivotExport.alignedExport(obs, streams, stepSec = 1L)
      .orderBy(col("time_round"))
    wide.coalesce(1).write.mode("overwrite").option("header", "true").csv(args(1))
    println(s"EXPORT rows=${wide.count()} cols=${wide.columns.length}")
    spark.stop()
  }
}
