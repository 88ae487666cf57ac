package graft

import java.util.concurrent.atomic.AtomicLong

import graft.core.Sessions
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). Every
  * streaming suite runs under the PRODUCTION state store provider
  * (RocksDB, spillable, changelog-checkpointed) — the default in-memory
  * HDFS-backed store would leave the at-scale state lifecycle untested.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", 4).getOrCreate()
    Sessions.useRocksDbStateStore(s)
    s
  }

  /** Numbers the memory sinks [[SparkSpec.runMemorySink]] starts. */
  private[graft] val sinkIds = new AtomicLong
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The stream == batch harness: starts `out` on a memory sink named
    * uniquely for this call, runs each step (it feeds the query's
    * `MemoryStream`s; its result is dropped) followed by one
    * `processAllAvailable()`, and returns the sink's rows in arrival
    * order. The query stops in a `finally`, also when a step or a
    * micro-batch throws.
    */
  def runMemorySink(out: Dataset[_], mode: String = "append")(
      steps: (() => Any)*): Array[Row] = {
    val name = s"memory_sink_${TestSession.sinkIds.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      steps.foreach { step => step(); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  /** Two steps that feed `rows` to `mem` as two micro-batches, split at `at`. */
  def twoBatches[A](mem: MemoryStream[A], rows: Seq[A], at: Int): Seq[() => Any] =
    Seq(() => mem.addData(rows.take(at)), () => mem.addData(rows.drop(at)))
}
