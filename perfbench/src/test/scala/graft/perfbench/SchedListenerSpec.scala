package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The listener's storage count falls when an RDD is unpersisted, so a
  * peak measured after an unpersist does not carry the earlier caches.
  */
class SchedListenerSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("cache, unpersist, cache gives the same peak twice") {
    val listener = new SchedListener
    spark.sparkContext.addSparkListener(listener)
    try {
      def cachedPeak(): (Long, Long) = {
        SchedListener.drain(spark.sparkContext)
        listener.resetPeak()
        val df = spark.range(200000).selectExpr("id", "id * 3 AS x").cache()
        df.count()
        SchedListener.drain(spark.sparkContext)
        val peak = listener.peakStorageAboveResetBytes
        df.unpersist(blocking = true)
        SchedListener.drain(spark.sparkContext)
        (peak, listener.storageBytes)
      }
      val (first, heldAfterFirst) = cachedPeak()
      val (second, heldAfterSecond) = cachedPeak()
      assert(first > 0)
      assert(second == first)
      assert(heldAfterFirst == 0L)
      assert(heldAfterSecond == 0L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
