package graft

import graft.core.Obs
import graft.ops.{Partitioning, WindowKernels}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale utilities: overlap-chunked window parallelism (results must be
  * identical to the unchunked run) and the z-order key.
  */
class PartitioningSpec extends SparkSpec {
  import spark.implicits._

  test("chunked+overlap gradient equals single-partition gradient") {
    // one hot stream, 500 rows, 10 s cadence
    val df = (0 until 500).map(i => (i.toLong, i * 10000000L, math.sin(i / 10.0) * 50))
      .toDF("id", "t_us", "v")
    val wFull = Window.partitionBy(lit(1)).orderBy($"t_us")
    val expected = WindowKernels.gradientOnto(df, "g", $"v", $"t_us".cast("double") / 1e6, wFull)
      .select($"id", $"g").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // chunk into 60 s pieces with 20 s overlap: gradient needs 1 neighbor
    // row of context on each side; 20 s covers 2 cadence steps
    val chunked = Partitioning.chunkWithOverlap(df, $"t_us", 60000000L, 20000000L)
    val wChunk = Window.partitionBy($"__chunk").orderBy($"t_us")
    val got = WindowKernels.gradientOnto(chunked, "g", $"v", $"t_us".cast("double") / 1e6, wChunk)
      .filter(!$"is_context") // context rows exist only to feed lag/lead
      .select($"id", $"g").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(got.size == 500)
    // interior rows must agree exactly; the global first/last rows keep
    // their one-sided edge forms
    expected.foreach { case (id, e) =>
      assert(math.abs(got(id) - e) < 1e-12, s"row $id: $e vs ${got(id)}")
    }
  }

  test("chunked zscore on a fused hot stream: bounded groups, exact equality (w8 shape)") {
    // the w8_chunked_zscore declared query's shape on real data: fuse
    // the even streams of sf0.001 events into one hot stream holding
    // ~half the rows, chunk 12 h with the 6 h window as overlap
    val o = Obs.eventsAsObservations(spark, "/root/testdata/sf0.001")
      .withColumn("t_us", unix_micros(col(Obs.Time)))
      .withColumn("skew_id",
        when(col(Obs.DatastreamId) % 2 === 0, lit(-1L)).otherwise(col(Obs.DatastreamId)))
    val plain = WindowKernels.zscoreOnto(o, "z", col(Obs.Result), $"t_us", 21600L,
        partCols = Seq("skew_id"))
      .select(col(Obs.IotId), $"z").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val chunked = Partitioning.chunkWithOverlap(o, $"t_us", 43200000000L, 21600000000L)
    val got = WindowKernels.zscoreOnto(chunked, "z", col(Obs.Result), $"t_us", 21600L,
        partCols = Seq("skew_id", "__chunk"))
      .filter(!$"is_context").select(col(Obs.IotId), $"z").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got.size == plain.size)
    plain.foreach { case (id, e) => assert(got(id) == e, s"row $id: $e vs ${got(id)}") }

    // the point of the exercise: the hot stream's window partition is no
    // longer one unsplittable group — it fans out across time chunks,
    // each bounded by the chunk row budget
    val hotGroups = chunked.filter($"skew_id" === -1L && !$"is_context")
      .groupBy($"__chunk").count().collect().map(_.getLong(1))
    val hotTotal = hotGroups.sum
    assert(hotGroups.length > 10, s"expected many chunks, got ${hotGroups.length}")
    assert(hotGroups.max < hotTotal / 5,
      s"largest chunk ${hotGroups.max} should be far below the unsplit $hotTotal")
  }

  test("z-order key: exact Morton interleave, and z-ranges bound both axes " +
    "far tighter than a one-axis sort bounds the other") {
    // interleave pinned against a bit-twiddled reference
    def mortonRef(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 8)
        z |= ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      z
    }
    val cells = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = cells.toDF("x", "y")
      .withColumn("z", Partitioning.zOrderKey($"x", $"y", 8))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    cells.foreach { case (x, y) => assert(got((x, y)) == mortonRef(x, y)) }

    // locality: bucket a 250x250 cell grid by z DIV 256 vs by cx DIV 256
    // (the "sorted by one axis" layout); compare how tightly buckets
    // bound the OTHER axis (cy) — the pruning a zone map would get
    val grid = (for (x <- 0L until 250L; y <- 0L until 250L)
      yield (x, y)).toDF("cx", "cy")
      .withColumn("z", Partitioning.zOrderKey($"cx", $"cy", 8))
    def meanCySpan(bucket: org.apache.spark.sql.Column): Double = {
      val spans = grid.groupBy(bucket.as("b"))
        .agg((max($"cy") - min($"cy")).as("span"))
        .collect().map(_.getLong(1))
      spans.sum.toDouble / spans.length
    }
    val zSpan = meanCySpan(expr("z DIV 256"))
    val xSpan = meanCySpan(expr("cx DIV 256"))
    assert(zSpan < 16 && xSpan > 200,
      s"z buckets must bound cy (~${zSpan}), one-axis buckets cannot (~$xSpan)")
  }
}
