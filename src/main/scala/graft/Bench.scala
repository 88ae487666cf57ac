package graft
import graft.core.ExecMetrics
import graft.core.Util.jsonString

/** Headline timing line for the driver. NOTE on index-backed queries:
  * per-query MIN over reps means rep 1 absorbs any persisted-index
  * build (`Q.buildOnce` + `_SUCCESS` gating) and reps 2+ serve warm —
  * the headline is therefore the WARM-SERVING number, which is the
  * production shape (builds are one-time and amortized). The build
  * wall-times live in BASELINE.md's per-family build-cost table
  * (`graft.tools.IndexBuildCost`), so the trade is visible, not hidden.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // single-run timings on a co-tenant machine swing up to ~3×: run the
    // whole suite N times and report per-query MIN (the load-robust
    // estimate of the code's actual cost) plus every rep's total
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // Logging: the stdout contract is one parseable JSON line, so every
    // logger that would flood stderr is set in tools/log4j2-quiet.properties,
    // which `sbt runMain` and tools/bench_java.sh load
    val spark = graft.core.Sessions.local()
    // per-query execution counts and slowest stages, for bench_full.json
    val metrics = ExecMetrics.install(spark.sparkContext)
    // warm the JVM (JIT, class loading), the scheduler and the code
    // generator itself so the first measured query isn't charged for
    // them. The classes compiled here are not the queries' own: each
    // query compiles its generated classes when it first runs, and a
    // later rep reuses them only while the codegen cache (2048 classes,
    // Sessions.builder) still holds them — bench_full.json's
    // "codegen_compiles" gives the count per rep
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // optional comma-separated name filter for targeted re-measures
    // (profiling one query without paying for the suite); names are
    // trimmed and validated UP FRONT — a typo must fail before the
    // warmup cost is paid, not NoSuchElementException mid-bench
    val included = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(f) if f.trim.nonEmpty =>
        val asked = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq.sorted
        val unknown = asked.filterNot(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"unknown SPARK_GRAFT_BENCH_ONLY names: ${unknown.mkString(",")}; " +
            s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}")
        asked
      case _ => SparkEntry.queries.keys.toSeq.sorted
    }
    // exclusion list for scale sweeps (documented algorithm/machine
    // bounds — brute twins, train-in-query forms — are skipped at big SF
    // rather than enumerated in a 200-name include list); same up-front
    // typo validation as the include filter
    val names = sys.env.get("SPARK_GRAFT_BENCH_SKIP") match {
      case Some(f) if f.trim.nonEmpty =>
        val skip = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = skip.filterNot(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"unknown SPARK_GRAFT_BENCH_SKIP names: ${unknown.mkString(",")}")
        included.filterNot(skip)
      case _ => included
    }
    // per query: all successful rep times + the last error (if any rep failed)
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // per query, latest rep first, as JSON: generated classes compiled,
    // execution counts, and persisted RDDs the inter-query sweep found
    def perRep() = scala.collection.mutable.Map[String, List[String]]()
      .withDefaultValue(Nil)
    val (compiles, execs, swept) = (perRep(), perRep(), perRep())
    // per query: the slowest stages of its last rep, as a JSON array
    val slowest = scala.collection.mutable.Map[String, String]()
    val errs = scala.collection.mutable.Map[String, String]()
    val totals = (1 to reps).map { _ =>
      val repResults = names.map { name =>
        // both reads wait for the listener bus, outside the timed part
        metrics.takeStages()
        val e0 = metrics.snapshot()
        val t0 = System.nanoTime()
        val c0 = graft.core.Sessions.codegenCompiles
        // noop sink: forces FULL materialization of every output column —
        // .count() would let Catalyst prune the computed columns and time
        // only the scan/shuffle skeleton
        val err =
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save(); None
          } catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        val dt = (System.nanoTime() - t0) / 1e9
        compiles(name) = (graft.core.Sessions.codegenCompiles - c0).toString :: compiles(name)
        execs(name) = (metrics.snapshot() - e0).json :: execs(name)
        slowest(name) = metrics.takeStages().sortBy(-_.wallMs).take(5)
          .map(_.json).mkString("[", ",", "]")
        spark.catalog.clearCache() // operators cache internal frames; drop between queries
        // backstop for RDD-level persists clearCache can't see (the
        // final checkpoint an iterative op returns stays leased to its
        // caller by design — here the caller is done with it): between
        // queries nothing is mid-flight, so sweep them all, counting
        // what the sweep finds
        val persisted = spark.sparkContext.getPersistentRDDs.values
        swept(name) = persisted.size.toString :: swept(name)
        persisted.foreach(_.unpersist(blocking = false))
        // Spark's ContextCleaner reclaims broadcast/shuffle/RDD state only
        // when the driver-side references are GC'd — and a 48 g heap can
        // run a 200-query suite without a single full GC, so cleaner work
        // accumulates and late queries run under artificial memory
        // pressure (measured: t_kappa 1.05 s standalone vs 10.92 s as
        // query ~170 of a REPS=1 suite). One explicit GC between queries
        // keeps per-query times faithful to their standalone cost.
        System.gc()
        err match {
          case None => times(name) = dt :: times(name)
          case Some(e) => errs(name) = e
        }
        (dt, err)
      }
      repResults.collect { case (dt, None) => dt }.sum
    }
    // a failed query reports -1 (NOT its wall time: a fast exception path
    // would silently flatter the total) and lands in the "errors" map.
    // Times are ms precision (3 decimals): full-double values made the
    // stdout line ~2.6 KB, which overflowed the driver's log-capture
    // window and truncated the head of the JSON (BENCH_r07 parsed:null)
    def f3(v: Double): String = {
      val s = "%.3f".format(v)
      if (s == "-1.000") "-1"
      // trailing-zero strip ("1.140"→"1.14", "2.000"→"2.0"): ~100 bytes
      // across 80+ queries, and this line fights a ~2 KB capture window
      else if (s.endsWith("00")) s.dropRight(2)
      else if (s.endsWith("0")) s.dropRight(1)
      else s
    }
    val qs = names.map { n =>
      val v = times(n) match { case Nil => -1.0; case ts => ts.min }
      s"\"" + n + "\":" + f3(v)
    }.mkString("{", ",", "}")
    // errors are escaped in full (AnalysisException messages span lines —
    // a raw \n would break the one-line metric contract)
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, e) => jsonString(k) + ":" + jsonString(e) }
      .mkString("{", ",", "}")
    val totalsJson = totals.map(f3).mkString("[", ",", "]")
    // headline value = the best complete run; per-query mins may come
    // from different reps, so their sum can undercut every real run.
    // Two layers against the driver's bounded log-capture window:
    //   - the stdout line carries only the essentials (metric/value/
    //     queries/errors/sf) at ms precision — ~1.3 KB for 80+ queries,
    //     under the ~2 KB window that truncated r7's 2.6 KB line;
    //   - the file JSON keeps everything (reps + every rep's total).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // stdout line trims the sf to its basename and drops an empty error
    // map; the file JSON keeps the full forms
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val full = s"""{"metric":"total","value":${f3(totals.min)},"unit":"sec","reps":$reps,"totals":$totalsJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir","out":"$outFile"}"""
    // the file alone also carries, per query, each rep's codegen compiles,
    // execution counts and swept RDDs, and the last rep's slowest stages
    // (the full stdout line below keeps its shape)
    def perQuery(v: String => String): String =
      names.map(n => jsonString(n) + ":" + v(n)).mkString("{", ",", "}")
    def everyRep(m: String => List[String]): String =
      perQuery(n => m(n).reverse.mkString("[", ",", "]"))
    val fileJson = full.dropRight(1) +
      s""","codegen_compiles":${everyRep(compiles)},"exec":${everyRep(execs)}""" +
      s""","slowest_stages":${perQuery(slowest)},"swept_rdds":${everyRep(swept)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      fileJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"bench: could not write $outFile: $e") }
    // Two stdout lines, ordered for a bounded capture window read from
    // EITHER end: the full per-query line FIRST (a head capture or a
    // whole-log scan gets the detail; at 200+ queries it is ~3 KB, so a
    // 2 KB TAIL capture truncates its head — harmless, the compact line
    // follows), the compact always-parseable summary (~200 B) LAST,
    // printed AFTER spark.stop() so no late executor log line can land
    // behind it. bench_full.json keeps everything regardless.
    println(full)
    spark.stop()
    // the stdout line fights a ~2 KB capture window even in the FAILURE
    // case: many/verbose errors would re-overflow it exactly when
    // parseability matters most, so inline only the FIRST error (alpha
    // order) truncated to a fixed byte budget — nerrors carries the
    // count, bench_full.json carries the full error map
    val errPart = errs.toSeq.sortBy(_._1).headOption match {
      case None => ""
      case Some((k, e)) =>
        s""","first_error":{${jsonString(k)}:${jsonString(e.take(200))}}"""
    }
    println(s"""{"metric":"total","value":${f3(totals.min)},"unit":"sec","nqueries":${names.size},"nerrors":${errs.size}$errPart,"sf":"$sfShort","out":"$outFile"}""")
  }
}
