package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  * Main --workload cron_15min|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --data SF_DIR --manifest FILE
  * }}}
  *
  * Sets up the workload several times, warms it up, runs its ops in a
  * closed loop with one client for `S` seconds, checks the outputs and
  * prints a report whose last line is the result JSON. With `--trace 0`
  * the JSON carries the end-to-end metrics; with `--trace 1` the loop runs
  * with the benchmark's listener and spans on, and the JSON carries the
  * per-layer metrics (spans go to `DIR/trace/`).
  */
object Main {

  /** An op is one cron window or one pass over the query mix. A run
    * measures whole ops for at least `--seconds` and reports the fastest,
    * which host noise (it only ever adds time) disturbs least, in units of
    * the reference work measured just before and after the ops (wall time
    * over reference wall time). The op's CPU time over the reference's
    * is reported above the JSON only: in ten runs of `query_mix` its
    * interquartile spread reached 0.29 of its median, more than the bound
    * a regression check could use.
    *
    * On a shared virtual machine the hypervisor gives part of the CPU time
    * to other machines (steal time in `/proc/stat`), which stretches wall
    * times by a share that changes from minute to minute. Wall times here
    * (set-up, op, reference) are therefore taken less the share of the
    * machine's CPU time stolen while they ran. CPU times need no such
    * correction: a process is not charged for time it did not run.
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_rel_min" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "sta.fetch_s" -> "s", "sta.http_gets" -> "count", "sta.pages" -> "count",
    "sta.bytes_in_mb" -> "MB", "sta.retries" -> "count",
    "qc.stab_s" -> "s", "qc.geo_s" -> "s", "qc.kin_s" -> "s", "qc.value_s" -> "s",
    "qc.dependent_s" -> "s", "qc.plan_s" -> "s", "qc.cache_mb" -> "MB",
    "qc.leaked_rdds" -> "count",
    "ops.zscore_s" -> "s", "ops.gradient_s" -> "s", "ops.spatial_outlier_s" -> "s",
    "ops.stabilization_s" -> "s", "ops.velocity_s" -> "s", "ops.asof_s" -> "s",
    "patch.http_s" -> "s", "patch.http_posts" -> "count", "patch.bytes_out_mb" -> "MB",
    "patch.sub_requests_per_row" -> "ratio", "patch.file_s" -> "s", "patch.file_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.executor_cpu_s" -> "s", "spark.busy_share" -> "share") ++
    QueryMixWorkload.Tables.keys.toSeq.sorted.map(q => s"queries.${q}_s" -> "s") ++
    Seq("trace.listener_on_off_ratio" -> "ratio", "proc.peak_rss_mb" -> "MB")

  /** How many times set-up runs in one process; setup_s takes the median. */
  val SetupReps = 3
  /** Sorts per thread in one reference measurement (about 1.3 s on 4 cores). */
  val ReferenceReps = 8

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments near ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val ticksAtStart = Harness.cpuTicks

    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = workload match {
      case "cron_15min" =>
        new CronWorkload(spark, seed, cores, streams = 60, rates = Seq(20, 40, 60),
          windows = 12, pageSize = 50, work)
      case "query_mix" =>
        new QueryMixWorkload(spark, seed, opt("data"), new java.io.File(opt("manifest")))
      case other => sys.error(s"unknown workload $other")
    }
    try run(spark, wl, seed, seconds, trace, work, cores, sessionS, ticksAtStart)
    finally {
      wl.close()
      spark.stop()
    }
  }

  private def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
                  trace: Boolean, work: String, cores: Int, sessionS: Double,
                  ticksAtStart: (Long, Long)): Unit = {
    import Harness.{median, timed}
    val prepS = (1 to SetupReps).map(_ => timed(wl.prepare())._2)
    val warmS = timed(wl.warmUp())._2
    val setupWallS = sessionS + median(prepS) + warmS
    val setupStolen = Harness.stolenShare(ticksAtStart, Harness.cpuTicks)
    val setupS = setupWallS * (1 - setupStolen)

    // the reference only scales end-to-end metrics, which a traced run
    // does not report
    def reference(): Option[(Double, Double, Double)] =
      if (trace) None else {
        val t0 = Harness.cpuTicks
        val (w, c) = Harness.reference(cores, ReferenceReps)
        Some((w, c, Harness.stolenShare(t0, Harness.cpuTicks)))
      }
    if (!trace) Harness.reference(cores, reps = 2) // JIT-compile the reference kernel
    val refBefore = reference()
    val listener = new SchedListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace, listener, spark.sparkContext)
    val samples = mutable.ArrayBuffer.empty[OpSample]
    var failed = 0
    var errors = List.empty[String]
    val loopTicks = Harness.cpuTicks
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline || i % wl.roundSize != 0) {
      try samples += wl.op(i, tracer)
      catch {
        case e: Exception =>
          failed += 1
          errors = s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) :: errors
          if (failed >= 3 && samples.isEmpty) throw e
      }
      i += 1
    }
    val loopStolen = Harness.stolenShare(loopTicks, Harness.cpuTicks)
    val refAfter = reference()
    // (wall less stolen share, CPU) of the reference, mean of before and after
    val ref = for (b <- refBefore; a <- refAfter)
      yield ((b._1 * (1 - b._3) + a._1 * (1 - a._3)) / 2, (b._2 + a._2) / 2)
    val peakRss = Harness.peakRssMb
    val problems = wl.verify()

    // a round is one cron window or one pass over the query mix
    val rounds = samples.grouped(wl.roundSize).filter(_.size == wl.roundSize).map { r =>
      OpSample(r.map(_.wallS).sum, r.map(_.cpuS).sum, r.map(_.rows).sum, SchedCounts.Zero)
    }.toSeq
    val e2e: Map[String, Double] = ref match {
      case Some((refS, refCpuS)) if rounds.nonEmpty => Map(
        "setup_s" -> setupS,
        "op_rel_min" -> rounds.map(_.wallS).min * (1 - loopStolen) / refS)
      case _ => Map.empty
    }
    val layers: Map[String, Double] =
      if (!trace || samples.isEmpty) Map.empty
      else wl.layers(TraceContext(spark, tracer, listener, samples.map(_.sched).toSeq,
        samples.map(_.wallS).toSeq, cores)) + ("proc.peak_rss_mb" -> peakRss)
    if (trace) tracer.writeJson(java.nio.file.Paths.get(work, "trace",
      s"${wl.name}-seed$seed.json"))

    // ---- report
    val out = new StringBuilder
    def line(s: String): Unit = out.append(s).append('\n')
    val op = if (wl.name == "cron_15min") "window" else "pass"
    line(s"perfbench ${wl.name} seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores")
    line(s"  input: ${wl.describe}")
    line(f"  setup: session $sessionS%.2f s + median of $SetupReps set-ups " +
      f"${median(prepS)}%.2f s (${prepS.map(p => f"$p%.2f").mkString("/")}) + warm-up $warmS%.2f s" +
      f" = $setupWallS%.2f s wall")
    line(f"  stolen CPU share: set-up $setupStolen%.3f, ops $loopStolen%.3f" +
      refBefore.zip(refAfter).map { case (b, a) => f", reference ${b._3}%.3f/${a._3}%.3f" }
        .getOrElse(""))
    line(f"  ops: ${samples.size} in ${samples.map(_.wallS).sum}%.1f s timed, $failed failed; " +
      s"error_rate ${failed.toDouble / math.max(1, i)} ($failed/$i); wall " +
      samples.map(s => f"${s.wallS}%.2f").mkString(" "))
    for ((refS, refCpuS) <- ref; b <- refBefore; a <- refAfter) {
      line(f"  reference: $refS%.3f s wall less stolen, $refCpuS%.3f s CPU (wall before " +
        f"${b._1}%.3f s, after ${a._1}%.3f s)")
      if (rounds.nonEmpty) line(f"  op_cpu_rel_min ${rounds.map(_.cpuS).min / refCpuS}%.4f")
    }
    if (rounds.nonEmpty) {
      line(f"  ${op}_s_min ${rounds.map(_.wallS).min}%.4f s, ${op}_cpu_s_min " +
        f"${rounds.map(_.cpuS).min}%.4f s")
      line(f"  ${op}_s_p50 ${median(rounds.map(_.wallS))}%.4f s, ${op}_cpu_s_p50 " +
        f"${median(rounds.map(_.cpuS))}%.4f s over ${rounds.size} ${op}s; rows_per_s " +
        f"${rounds.map(_.rows).sum / rounds.map(_.wallS).sum}%.1f; peak_rss_mb $peakRss%.1f")
      if (wl.roundSize > 1)
        line(f"  query_s_p50 ${median(samples.map(_.wallS).toSeq)}%.4f s over ${samples.size} queries")
    }
    EndToEnd.foreach { case (m, u) =>
      e2e.get(m).foreach(v => line(f"  $m%-32s $v%14.4f $u"))
    }
    PerLayer.foreach { case (m, u) =>
      layers.get(m).foreach(v => line(f"  $m%-32s $v%14.4f $u"))
    }
    errors.reverse.foreach(e => line(s"  error: $e"))
    problems.foreach(p => line(s"  check failed: $p"))
    line(s"  checks: ${if (problems.isEmpty) "ok" else s"${problems.size} failed"}")

    def metricJson(names: Seq[(String, String)], values: Map[String, Double]): String =
      names.map { case (m, u) =>
        val v = values.getOrElse(m, 0.0)
        s""""$m":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
      }.mkString("{", ",", "}")
    val metrics = if (trace) metricJson(PerLayer, layers) else metricJson(EndToEnd, e2e)
    val correct = problems.isEmpty && failed == 0 && rounds.nonEmpty
    out.append(s"""{"correct":$correct,"attempted":$i,"failed":$failed,"metrics":$metrics}""")
    println(out.toString)
  }
}
