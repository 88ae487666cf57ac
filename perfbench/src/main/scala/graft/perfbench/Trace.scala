package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Cumulative Spark scheduler counts; subtract two snapshots for one op. */
final case class SchedCounts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                             cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: SchedCounts): SchedCounts = SchedCounts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
}

object SchedCounts {
  val Zero: SchedCounts = SchedCounts(0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own `SparkListener`: job, stage and task counts, task
  * run and CPU time, shuffle writes and spills, and the RDD storage memory
  * held (current, and peak above the level at [[resetPeak]]).
  *
  * Storage rises with each RDD block update and falls when an RDD is
  * unpersisted: Spark removes unpersisted blocks without a block update
  * and posts only `SparkListenerUnpersistRDD`.
  */
final class SchedListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, shuffleW, spill = new AtomicLong
  private val blocks = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  private val storage = new AtomicLong
  private val peak = new AtomicLong
  private val baseline = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val now = e.blockUpdatedInfo.memSize
        val before = Option(if (now == 0L) blocks.remove(id) else blocks.put(id, now))
          .map(_.longValue).getOrElse(0L)
        val cur = storage.addAndGet(now - before)
        peak.accumulateAndGet(cur, math.max)
      case _ =>
    }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    blocks.keySet.asScala.filter(_.rddId == e.rddId).foreach { id =>
      Option(blocks.remove(id)).foreach(b => storage.addAndGet(-b.longValue))
    }

  def snapshot: SchedCounts = SchedCounts(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, shuffleW.get, spill.get)
  /** RDD storage memory held now, bytes. */
  def storageBytes: Long = storage.get
  /** Starts a new peak from the storage held now. */
  def resetPeak(): Unit = {
    baseline.set(storage.get)
    peak.set(storage.get)
  }
  /** Peak storage since [[resetPeak]], above what was held at that call. */
  def peakStorageAboveResetBytes: Long = peak.get - baseline.get
}

object SchedListener {
  /** Wait until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)
}

/** In-memory span recorder. A span has a name, start, end, parent span and
  * the trace (one window, pass or query) it belongs to; spans are written
  * as JSON when the run ends. Enabled, it also reads the benchmark's
  * listener (registered on `sc`) around a body. Disabled, it only runs
  * the body.
  */
final class Tracer(val enabled: Boolean, listener: SchedListener = null,
                   sc: SparkContext = null) {
  require(!enabled || (listener != null && sc != null), "a traced run needs the listener")
  import Tracer.Span

  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  private var traceId = ""

  def inTrace[T](id: String)(body: => T): T = {
    val prev = traceId
    traceId = id
    try body finally traceId = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, traceId, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Scheduler counts of the jobs `body` runs (zero when disabled). */
  def counted[T](body: => T): (T, SchedCounts) =
    if (!enabled) (body, SchedCounts.Zero)
    else {
      SchedListener.drain(sc)
      val before = listener.snapshot
      val v = body
      SchedListener.drain(sc)
      (v, listener.snapshot - before)
    }

  /** Peak RDD storage bytes `body` holds above what was held before it
    * (zero when disabled).
    */
  def storagePeak[T](body: => T): (T, Long) =
    if (!enabled) (body, 0L)
    else {
      SchedListener.drain(sc)
      listener.resetPeak()
      val v = body
      SchedListener.drain(sc)
      (v, listener.peakStorageAboveResetBytes)
    }

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Per trace that has a span `name`: the summed duration of those spans. */
  def durationPerTrace(name: String): Seq[Double] =
    done.filter(_.name == name).groupBy(_.trace).values.map(_.map(_.seconds).sum).toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val body = done.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
