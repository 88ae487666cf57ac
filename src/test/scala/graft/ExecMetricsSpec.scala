package graft

import graft.core.ExecMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.functions.col

/** [[ExecMetrics]] against a plan whose shape is known: 1,000 ids in 4
  * slices, hash-repartitioned to 3, written to the noop sink. With AQE
  * off that is one job of two stages, 4 map tasks and 3 reduce tasks,
  * and every byte the map side writes the reduce side reads.
  */
class ExecMetricsSpec extends SparkSpec {

  private def withoutAqe[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, before)
  }

  private def repartitionedWrite(): Unit =
    spark.range(0, 1000, 1, 4).repartition(3, col("id"))
      .write.format("noop").mode("overwrite").save()

  /** The counts one repartitioned write adds, read right after it. */
  private def measured(m: ExecMetrics): ExecMetrics.Snapshot = {
    val before = m.snapshot()
    repartitionedWrite()
    m.snapshot() - before
  }

  private def assertOneWrite(d: ExecMetrics.Snapshot, clue: String = ""): Unit = {
    assert((d.jobs, d.stages, d.tasks) == (1L, 2L, 7L), clue)
    assert(d.shuffleWriteBytes > 0L, clue)
    assert(d.shuffleReadBytes == d.shuffleWriteBytes, clue)
    assert(d.spillBytes == 0L, clue)
    assert(d.cpuNs > 0L, clue)
  }

  test("one repartitioned write: 1 job, 2 stages, 7 tasks, shuffle read == write") {
    withoutAqe {
      val m = ExecMetrics.install(spark.sparkContext)
      m.takeStages()
      assertOneWrite(measured(m))
      val stages = m.takeStages()
      assert(stages.map(_.tasks).sorted == Seq(3, 4))
      assert(stages.forall(s => s.wallMs >= 0L && s.name.length <= 70 && !s.name.contains('\n')))
      assert(m.takeStages().isEmpty)
    }
  }

  test("counts read right after the action are complete: 20 runs back to back") {
    // a listener that takes 20 ms per task on the same bus queue keeps
    // the bus behind every action, as a busy application's listeners do:
    // only a read that waits for the bus sees all of the action's events
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    withoutAqe {
      val m = ExecMetrics.install(spark.sparkContext)
      spark.sparkContext.addSparkListener(slow)
      try (1 to 20).foreach(i => assertOneWrite(measured(m), s"run $i"))
      finally spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("a second install returns the same listener and doubles no count") {
    withoutAqe {
      val first = ExecMetrics.install(spark.sparkContext)
      val second = ExecMetrics.install(spark.sparkContext)
      assert(first eq second)
      assert(GraftExpressionBridge.listenersOf[ExecMetrics](spark.sparkContext).size == 1)
      assertOneWrite(measured(second))
    }
  }
}
