package graft

import graft.ops.Funnel
import org.scalatest.matchers.should.Matchers

/** Ordered-funnel semantics: step order matters, pre-step events don't
  * count, equal timestamps do (>= boundary).
  */
class FunnelSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")

  private def run(rows: Seq[(Long, String, Long)]) =
    Funnel.ordered(rows.toDF("uid", "etype", "ts"), "uid", $"etype", $"ts", steps)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4))).toMap

  test("full funnel, partial funnel, and never-entered users") {
    val out = run(Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full
      (2L, "view", 10L), (2L, "click", 20L),                        // stops at 2
      (3L, "view", 10L),                                            // stops at 1
      (4L, "click", 10L), (4L, "purchase", 20L)))                   // never viewed
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L), 3)))
    assert(out(2L) == ((Some(10L), Some(20L), None, 2)))
    assert(out(3L) == ((Some(10L), None, None, 1)))
    assert(!out.contains(4L)) // no row for users that never reach step 1
  }

  test("events before the previous stage don't count; at-or-after does") {
    val out = run(Seq(
      // click BEFORE first view is not a funnel click; the later one is
      (1L, "click", 5L), (1L, "view", 10L), (1L, "click", 40L),
      // purchase before the funnel click doesn't count either
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      // simultaneous events pass the >= boundary
      (3L, "view", 10L), (3L, "click", 10L), (3L, "purchase", 10L)))
    assert(out(1L) == ((Some(10L), Some(40L), None, 2)))
    assert(out(2L) == ((Some(10L), Some(20L), None, 2))) // purchase@15 < click@20
    assert(out(3L) == ((Some(10L), Some(10L), Some(10L), 3)))
  }

  test("first qualifying timestamp wins per stage") {
    val out = run(Seq(
      (1L, "view", 30L), (1L, "view", 10L), (1L, "view", 20L),
      (1L, "click", 15L), (1L, "click", 25L)))
    assert(out(1L) == ((Some(10L), Some(15L), None, 2))) // min view, then min click >= it
  }

  test("no lingering cached frames after the op runs (lifecycle is leak-free)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run(Seq((1L, "view", 10L), (1L, "click", 20L), (2L, "view", 10L)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"funnel left cached RDDs behind: $leaked")
  }

  test("stage subtrees are shared in the assembled plan (exchange reuse), not recomputed") {
    val df = Seq((1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L))
      .toDF("uid", "etype", "ts")
    val out = Funnel.ordered(df, "uid", $"etype", $"ts", steps)
    out.collect() // AQE only surfaces stage reuse in the FINAL plan
    val p = out.queryExecution.executedPlan.toString
    // reuse markers: explicit Reused* nodes, or the same AQE stage id
    // referenced from more than one point in the final plan
    val stageIds = "(?:Shuffle|Broadcast)QueryStage (\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      stageIds.distinct.size < stageIds.size,
      s"without caches, stage frames must be deduped by exchange/stage reuse:\n$p")
  }
}
