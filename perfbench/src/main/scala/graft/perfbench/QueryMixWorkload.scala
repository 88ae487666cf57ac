package graft.perfbench

import graft.SparkEntry
import graft.core.Canon
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `query_mix`: declared queries from `SparkEntry.queries` over the
  * repository's sf0.01 test tables (`perfbench/data/sf0.01`), each to a
  * noop sink as `graft.Bench` runs them. The seed sets the execution
  * order. One op is one query; a round of ops is one pass, the unit the
  * end-to-end metrics report. Between queries the harness clears caches
  * and persisted RDDs and runs a GC, as Bench does, outside the timed
  * region.
  */
final class QueryMixWorkload(spark: SparkSession, seed: Long, dataDir: String,
                             manifestFile: java.io.File) extends Workload {
  import QueryMixWorkload.Tables
  val name = "query_mix"

  /** Query order of this run: a seeded permutation, repeated. */
  private val order: IndexedSeq[String] =
    new scala.util.Random(seed).shuffle(Tables.keys.toIndexedSeq.sorted)
  private var tableRows: Map[String, Long] = Map.empty
  private val problems = mutable.ArrayBuffer.empty[String]
  private val perQuery = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)

  def describe: String =
    s"${order.size} queries, order ${order.mkString(",")}; sf0.01 tables " +
      tableRows.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(" ")

  /** Reads the row counts of the tables the queries read from their
    * parquet footers.
    */
  def prepare(): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    tableRows = Tables.values.flatten.toSeq.distinct.map { t =>
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dataDir/$t.parquet"), conf)
      val reader = ParquetFileReader.open(in)
      try t -> reader.getRecordCount finally reader.close()
    }.toMap
  }

  private def inputRows(q: String): Long = Tables(q).map(tableRows).sum

  private def resetBetweenQueries(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def runQuery(q: String): Unit = {
    Harness.noop(SparkEntry.queries(q)(spark, dataDir))
  }

  /** The warm-up pass is the output check: each query runs once and is
    * fingerprinted, before the timed loop.
    */
  def warmUp(): Unit = checkFingerprints()

  def op(i: Int, tracer: Tracer): OpSample = {
    val q = order(i % order.size)
    val ((_, wall, cpu), sched) = tracer.counted(Harness.timed(
      tracer.inTrace(s"query-$i")(tracer.span(s"queries.$q")(runQuery(q)))))
    perQuery(q) = wall :: perQuery(q)
    resetBetweenQueries()
    OpSample(wall, cpu, inputRows(q), sched)
  }

  /** Each query's output fingerprint (`graft.core.Canon`): rows, schema
    * and fingerprint must equal the `graft.Verify` manifest of the same
    * tables. Verify fingerprints the output after a parquet round trip;
    * these queries emit only integer, floating-point and boolean columns,
    * which the round trip keeps as they are, so the output is
    * fingerprinted in memory.
    */
  private def checkFingerprints(): Unit = {
    val field = "\"(name|schema|fp)\":\"([^\"]*)\"".r
    val rowsField = "\"rows\":(\\d+)".r
    val expected: Map[String, (Long, String, String)] =
      scala.io.Source.fromFile(manifestFile, "UTF-8").getLines().filter(_.trim.nonEmpty).map { l =>
        val f = field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2)).toMap
        f("name") -> (rowsField.findFirstMatchIn(l).get.group(1).toLong, f("schema"), f("fp"))
      }.toMap
    // the queries run side by side: the JVM warms up in less wall time
    // than one after another, and no query's output depends on it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size)
    val fingerprints = try {
      order.map(q => q -> pool.submit(new java.util.concurrent.Callable[Canon.Fingerprint] {
        def call(): Canon.Fingerprint = Canon.fingerprint(SparkEntry.queries(q)(spark, dataDir))
      })).map { case (q, f) => q -> f.get() }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
    resetBetweenQueries()
    fingerprints.foreach { case (q, fp) =>
      val got = (fp.rows, fp.schema, fp.fp)
      if (!expected.get(q).contains(got))
        problems += s"$q: rows/schema/fingerprint $got, manifest ${expected.getOrElse(q, "none")}"
    }
  }

  override def roundSize: Int = order.size

  def verify(): Seq[String] = problems.toSeq

  def layers(ctx: TraceContext): Map[String, Double] = {
    val queries = Tables.keys.map(q =>
      s"queries.${q}_s" -> perQuery.get(q).map(Harness.median).getOrElse(0.0)).toMap
    val ops = ctx.tracer.inTrace("backfill-profile")(
      Harness.backfillOpsLayers(spark, ctx.tracer, seed, ctx.cores))
    val ab = Harness.listenerAb(ctx, pairs = 2) {
      val (_, wall, _) = Harness.timed(runQuery("w2_zscore"))
      resetBetweenQueries()
      wall
    }
    Harness.schedLayers(ctx) ++ queries ++ ops ++ Map("trace.listener_on_off_ratio" -> ab)
  }

  def close(): Unit = ()
}

object QueryMixWorkload {
  /** The queries and the tables each one reads: PageRank (ROADMAP items 2
    * and 4), winnowing dedup (item 3) and two of the QC-events family,
    * which run the `ops` kernels over sparse streams. `t_bm25_prf` (item
    * 5) is left out: it would take a run past the time the benchmark's
    * run count allows.
    */
  val Tables: Map[String, Seq[String]] = Map(
    "q_pagerank" -> Seq("orders", "lineitem"),
    "dd_winnow_pairs" -> Seq("documents"),
    "w2_zscore" -> Seq("events"),
    "w4_spatial_outlier" -> Seq("events"))
}
