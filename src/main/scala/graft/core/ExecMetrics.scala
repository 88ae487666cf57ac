package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftExpressionBridge

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Execution counts of everything a SparkContext has run since
  * [[ExecMetrics.install]]: jobs, stages, tasks, shuffle bytes, spill and
  * executor time, plus the stages completed since the last
  * [[takeStages]] (one small record each, held until taken). The counts
  * are cumulative; subtract two snapshots for one query's share (jobs
  * run concurrently by other threads land in the same counts).
  *
  * Every read first waits for the listener bus to deliver the events
  * posted so far, so the counts read right after an action include all of
  * that action's jobs, stages and tasks.
  */
final class ExecMetrics private (sc: SparkContext) extends SparkListener {
  import ExecMetrics._

  private val jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, runMs =
    new AtomicLong
  private val completed = new ConcurrentLinkedQueue[StageRun]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val s = e.stageInfo
    val wallMs = (for (a <- s.completionTime; b <- s.submissionTime) yield a - b)
      .getOrElse(-1L)
    completed.add(StageRun(s.name.takeWhile(_ != '\n').take(70), wallMs, s.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  /** The counts so far. */
  def snapshot(): Snapshot = {
    GraftExpressionBridge.drainListenerBus(sc)
    Snapshot(jobs.get, stages.get, tasks.get, shuffleRead.get, shuffleWrite.get,
      spill.get, cpuNs.get, runMs.get)
  }

  /** The stages completed since the previous call, in completion order. */
  def takeStages(): Seq[StageRun] = {
    GraftExpressionBridge.drainListenerBus(sc)
    Iterator.continually(completed.poll()).takeWhile(_ != null).toSeq
  }
}

object ExecMetrics {

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, cpuNs: Long, runMs: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      cpuNs - o.cpuNs, runMs - o.runMs)

    /** One JSON object: counts, MB (1e6 bytes, memory plus disk spill)
      * and executor seconds summed over tasks.
      */
    def json: String =
      f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        f""""shuffle_read_mb":${shuffleReadBytes / 1e6}%.3f,""" +
        f""""shuffle_write_mb":${shuffleWriteBytes / 1e6}%.3f,""" +
        f""""spill_mb":${spillBytes / 1e6}%.3f,""" +
        f""""cpu_s":${cpuNs / 1e9}%.3f,"run_s":${runMs / 1e3}%.3f}"""
  }

  /** A completed stage: the first line of its name (at most 70 chars),
    * submission-to-completion wall ms and task count.
    */
  final case class StageRun(name: String, wallMs: Long, tasks: Int) {
    def json: String =
      s"""{"name":${Util.jsonString(name)},"wall_ms":$wallMs,"tasks":$tasks}"""
  }

  /** The context's listener, registered on the first call; later calls
    * return the same one, so no event is counted twice.
    */
  def install(sc: SparkContext): ExecMetrics = synchronized {
    GraftExpressionBridge.listenersOf[ExecMetrics](sc).headOption.getOrElse {
      val m = new ExecMetrics(sc)
      sc.addSparkListener(m)
      m
    }
  }
}
