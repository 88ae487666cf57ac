package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of a workload: a cron window or a query. `sched` holds
  * the scheduler counts of the timed part in a traced run.
  */
final case class OpSample(wallS: Double, cpuS: Double, rows: Long, sched: SchedCounts)

/** A benchmark workload. The harness calls [[prepare]] several times (each
  * call replaces the inputs of the one before), [[warmUp]] once, then
  * [[op]] in a closed loop for the run length, then [[verify]]; in a
  * traced run it also calls [[layers]].
  */
trait Workload {
  def name: String
  /** One line on the input sizes, for the report. */
  def describe: String
  def prepare(): Unit
  def warmUp(): Unit
  /** Runs op number `i` and times only the work a user waits for; checks
    * of its output run after the timer stops. A disabled tracer records
    * nothing and leaves the op's code path as a user would run it.
    */
  def op(i: Int, tracer: Tracer): OpSample
  /** The loop stops only after a whole number of rounds of this many ops,
    * so every run measures the same mix.
    */
  def roundSize: Int = 1
  /** Output-check failures; runs any check that needs a finished loop. */
  def verify(): Seq[String]
  /** Traced run only: per-layer metrics, measured after the timed loop. */
  def layers(ctx: TraceContext): Map[String, Double]
  def close(): Unit
}

/** What a traced run gives a workload: the span recorder, the benchmark's
  * listener and the per-op scheduler deltas of the timed loop.
  */
final case class TraceContext(spark: SparkSession, tracer: Tracer, listener: SchedListener,
                              opSched: Seq[SchedCounts], opWall: Seq[Double],
                              cores: Int)

object Harness {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  /** Runs `body`; returns its value, wall seconds and process CPU seconds. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9, cpuSeconds - c0)
  }

  /** This machine's cumulative CPU ticks from `/proc/stat`: (stolen, all),
    * where stolen ticks are those the hypervisor gave to other machines.
    */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (if (t.length == 8) t(7) else 0L, t.sum)
    } finally src.close()
  }

  /** Share of the CPU ticks between two [[cpuTicks]] readings that were stolen. */
  def stolenShare(from: (Long, Long), to: (Long, Long)): Double = {
    val all = to._2 - from._2
    if (all <= 0) 0.0 else (to._1 - from._1).toDouble / all
  }

  private val referenceSink = new java.util.concurrent.atomic.AtomicLong

  /** Fixed CPU work that does not touch the program: on each of `threads`
    * threads, fill and sort 2^20 pseudo-random doubles `reps` times.
    * Returns its wall and process CPU seconds. A run divides its op times
    * by the reference measured around them, which cancels the slow speed
    * drift of a shared host (measured at 1.35x within 20 min).
    */
  def reference(threads: Int, reps: Int): (Double, Double) = {
    val (_, wall, cpu) = timed {
      val workers = (0 until threads).map { t =>
        new Thread(() => {
          val a = new Array[Double](1 << 20)
          var x = 0x9E3779B97F4A7C15L * (t + 1)
          var acc = 0L
          for (_ <- 0 until reps) {
            var i = 0
            while (i < a.length) {
              x = x * 6364136223846793005L + 1442695040888963407L
              a(i) = (x >>> 11).toDouble
              i += 1
            }
            java.util.Arrays.sort(a)
            acc += java.lang.Double.doubleToLongBits(a(a.length / 2))
          }
          referenceSink.addAndGet(acc)
        })
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
    }
    (wall, cpu)
  }

  /** Peak resident set of this process (Linux `VmHWM`), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Materializes every column of `df` without collecting it (Bench's sink). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Persisted RDDs still registered with the context. */
  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  /** Scheduler metrics per op: medians over the timed loop's ops. */
  def schedLayers(ctx: TraceContext): Map[String, Double] = {
    val s = ctx.opSched
    def med(f: SchedCounts => Double) = median(s.map(f))
    val busy = s.zip(ctx.opWall).map { case (c, w) => c.runMs / 1e3 / (w * ctx.cores) }
    Map(
      "spark.jobs" -> med(_.jobs.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble),
      "spark.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1e6),
      "spark.spill_mb" -> med(_.spillBytes / 1e6),
      "spark.executor_cpu_s" -> med(_.cpuNs / 1e9),
      "spark.busy_share" -> median(busy))
  }

  /** Listener-on/listener-off A/B over `pairs` alternating ops: the ratio
    * of their median wall times, i.e. what the listener itself costs.
    */
  def listenerAb(ctx: TraceContext, pairs: Int)(op: => Double): Double = {
    val sc = ctx.spark.sparkContext
    val on = Seq.newBuilder[Double]
    val off = Seq.newBuilder[Double]
    for (p <- 0 until pairs) {
      // alternate which side runs first
      val order = if (p % 2 == 0) Seq(true, false) else Seq(false, true)
      order.foreach { withListener =>
        if (!withListener) sc.removeSparkListener(ctx.listener)
        try (if (withListener) on else off) += op
        finally if (!withListener) sc.addSparkListener(ctx.listener)
      }
    }
    median(on.result()) / median(off.result())
  }

  /** Direct calls into the `ops` window kernels on the dense history a
    * `qc_historical` backfill loads: a seeded track of 3 streams at 1 Hz
    * over 20 min, so the 10-min outlier frames hold 600 rows.
    */
  def backfillOpsLayers(spark: SparkSession, tracer: Tracer, seed: Long,
                        slices: Int): Map[String, Double] = {
    import graft.core.Obs
    import org.apache.spark.sql.functions._
    val dense = ShipTrack.generate(seed, 3, 1200, rates = Seq(1))
    val obs = dense.toDataFrame(spark, slices)
      .withColumn("t_us", unix_micros(col(Obs.Time))).cache()
    obs.count()
    try opsLayers(tracer, obs, dense.independentId, dense.dependentId)
    finally obs.unpersist()
  }

  /** Direct calls into the `ops` window kernels on a cached observations
    * frame that already carries `t_us`; each timed to a noop sink.
    */
  def opsLayers(tracer: Tracer, obs: DataFrame, independentId: Long,
                dependentId: Long): Map[String, Double] = {
    import graft.core.Obs
    import graft.ops._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col(Obs.DatastreamId)).orderBy(col("t_us"), col(Obs.IotId))
    def run(name: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      tracer.span(name)(noop(df))
      name -> (System.nanoTime() - t0) / 1e9
    }
    val indep = obs.filter(col(Obs.DatastreamId) === independentId)
      .select(col(Obs.IotId).as("i_id"), col("t_us").as("i_t_us"), col(Obs.QcFlag).as("i_flag"))
    Seq(
      run("ops.zscore_s")(WindowKernels.zscoreOnto(obs, "z", col(Obs.Result), col("t_us"), 3600L)),
      run("ops.gradient_s")(WindowKernels.gradientOnto(obs, "g", col(Obs.Result),
        col("t_us").cast("double") / 1e6, w)),
      run("ops.spatial_outlier_s")(SpatialOutlier(obs, col(Obs.Lat), col(Obs.Long_),
        col("t_us"), 600L, ShipTrack.MaxDxDt, partCols = Seq(Obs.DatastreamId))),
      run("ops.stabilization_s")(Stabilization(obs, col(Obs.Result),
        col("t_us").cast("double"), lit(5.0), lit(50.0), lit(900e6), lit(1200e6),
        partCols = Seq(Obs.DatastreamId), timeCol = "t_us")),
      run("ops.velocity_s")(WindowKernels.velocityAcceleration(obs, w,
        col(Obs.Lat), col(Obs.Long_), col("t_us"))),
      run("ops.asof_s")(AsofJoin.nearest(
        obs.filter(col(Obs.DatastreamId) === dependentId), indep, Seq.empty,
        leftTimeUs = "t_us", rightTimeUs = "i_t_us", toleranceUs = 500000L,
        rightCols = Seq("i_id", "i_flag"), rightIdCol = Some("i_id"),
        leftIdCol = Some(Obs.IotId)))
    ).toMap
  }

  /** The QC layers of `QcMain.runFrom` on one input, measured from outside:
    *  - `qc.<pass>_s`: self time of each pass, as the difference between
    *    noop writes of cumulative prefixes (stab, +geo, +kin, +value) over
    *    the same cached input, as `tools/QcProfile` does. `runFrom` caches
    *    the value pass before the dependent pass reads it three times, so
    *    the value prefix's write fills that cache, and the dependent pass
    *    is timed over it;
    *  - `qc.plan_s`: time to force the physical plan of the whole chain.
    */
  def qcLayers(spark: SparkSession, tracer: Tracer, obsIn: DataFrame,
               cfg: graft.pipeline.QcMain.Config): Map[String, Double] = {
    import graft.core.Obs
    import graft.pipeline.QcMain
    import org.apache.spark.sql.functions._
    val obs = obsIn.withColumn("t_us", unix_micros(col(Obs.Time))).cache()
    obs.count()
    def chain(): Seq[DataFrame] = {
      val stab = QcMain.stabPass(spark, obs, cfg)
      val geo = QcMain.geoPass(stab, cfg)
      val kin = QcMain.kinPass(geo, cfg)
      val value = QcMain.valuePass(spark, kin, cfg)
      Seq(stab, geo, kin, value, QcMain.dependentPass(value, cfg))
    }
    def timedNoop(name: String, df: DataFrame): Double = {
      val t0 = System.nanoTime()
      tracer.span(name)(noop(df))
      (System.nanoTime() - t0) / 1e9
    }
    val passes = Seq("stab", "geo", "kin", "value")
    val prefixes = chain().take(passes.size)
    val valueCached = prefixes.last.cache()
    val cumulative = passes.zip(prefixes).map { case (n, df) => timedNoop(s"qc.prefix.$n", df) }
    val self = passes.indices.map(i => cumulative(i) - (if (i == 0) 0.0 else cumulative(i - 1)))
    val dependentS = timedNoop("qc.pass.dependent", QcMain.dependentPass(valueCached, cfg))
    valueCached.unpersist(blocking = true)
    val planS = {
      val df = chain().last
      val t0 = System.nanoTime()
      tracer.span("qc.plan")(df.queryExecution.executedPlan)
      (System.nanoTime() - t0) / 1e9
    }
    obs.unpersist(blocking = true)
    passes.zip(self).map { case (n, s) => s"qc.${n}_s" -> s }.toMap ++ Map(
      "qc.dependent_s" -> dependentS, "qc.plan_s" -> planS)
  }
}
