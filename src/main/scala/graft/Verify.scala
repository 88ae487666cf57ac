package graft
import graft.core.Util.jsonString
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare, plus a
  * self-contained per-query manifest (rows / schema / content
  * fingerprint per [[graft.core.Canon]]) so a correctness verdict can be
  * reconstructed by `tools/manifest_check.py` even if the oracle side
  * never runs. Robustness order: oracle_sql.json is written FIRST and
  * the manifest is appended per-query (NDJSON), so a timeout or crash
  * mid-run still leaves every finished query's evidence on disk. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // swap-aware oracle selection: above DeclaredBruteSwap the five
    // geometry-swapping queries emit their IVF-PQ-serve oracle, so a
    // scaled run can't report false mismatches against the brute form
    val oracleJson = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)

    val manifestPath = Paths.get(s"$outDir/verify_manifest.jsonl")
    Files.deleteIfExists(manifestPath)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def record(line: String): Unit = synchronized {
      lines.add(line)
      Files.writeString(manifestPath, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    def runOne(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        // fingerprint the parquet AS WRITTEN (what the driver compares),
        // not the in-memory frame — catches writer-side type surprises
        val fp = graft.core.Canon.fingerprint(spark.read.parquet(s"$outDir/$name"))
        val dt = (System.nanoTime() - t0) / 1e9
        record(s"""{"name":${jsonString(name)},"rows":${fp.rows},"schema":${jsonString(fp.schema)},"fp":"${fp.fp}","sec":${"%.2f".format(dt)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        record(s"""{"name":${jsonString(name)},"error":${jsonString(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")}}""")
      }
    }
    // Optional intra-suite parallelism (Spark schedules concurrent jobs
    // fine on local[32]); default 1 — the correctness artifact must
    // never trade determinism for speed unless asked.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "1").toInt
    if (par <= 1) names.foreach(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = names.map(n => scala.concurrent.Future(runOne(n)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
    }
    // combined form for one-shot consumers (the NDJSON is the source of
    // truth for partial runs)
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"),
      lines.asScala.toSeq.sorted.mkString("[\n", ",\n", "\n]"))
    spark.stop()
    // one compact parseable summary, LAST on stdout (same contract as
    // Bench): even if the driver only keeps a log tail, the run's
    // outcome is in it
    val nErr = lines.asScala.count(_.contains("\"error\""))
    println(s"""{"metric":"verify","nqueries":${names.size},"nerrors":$nErr,"out":"$outDir"}""")
  }
}
