package graft

import graft.ops.PageRank
import org.scalatest.matchers.should.Matchers

/** Integer PageRank — hand-computed fixpoint prefix on a 3-node path,
  * dangling-node teleport floor, and partitioning invariance (the ranks
  * are a pure function of the edge SET).
  */
class PageRankSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def sym(pairs: (String, String)*) = {
    val e = pairs.toDF("src", "dst")
    e.union(e.select($"dst".as("src"), $"src".as("dst")))
  }

  test("two iterations on the a-b-c path match the hand computation") {
    // deg: a=1 b=2 c=1; r0 = 1e6
    // it1: in(a)=500000 in(b)=2000000 in(c)=500000
    //      r1(a)=150000+425000=575000, r1(b)=150000+1700000=1850000
    // it2: in(a)=925000 in(b)=1150000 in(c)=925000
    //      r2(a)=150000+786250=936250, r2(b)=150000+977500=1127500
    val out = PageRank.ranks(sym("a" -> "b", "b" -> "c"), iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("a" -> 936250L, "b" -> 1127500L, "c" -> 936250L)
  }

  test("a node with out- but no in-edges settles at the bare teleport mass") {
    val e = Seq(("a", "b")).toDF("src", "dst") // directed, NOT symmetrized
    val out = PageRank.ranks(e, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only out-edge nodes are ranked; 'a' receives nothing but teleport
    out shouldBe Map("a" -> PageRank.TeleportMicro)
  }

  test("symmetric star: center accumulates, leaves tie; partitioning invariant") {
    val star = sym("hub" -> "x", "hub" -> "y", "hub" -> "z")
    val a = PageRank.ranks(star, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a("hub") should be > a("x")
    a("x") shouldBe a("y")
    a("y") shouldBe a("z")
    val b = PageRank.ranks(star.repartition(13), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    b shouldBe a
  }

  test("trade-graph edges: distinct sign-split integer pairs, symmetrized") {
    // customers keep their positive key, suppliers are negated — the two
    // id spaces overlap numerically (customer 5 ≠ supplier 5)
    val orders = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 5L), (1L, 5L), (2L, 5L), (3L, 6L))
      .toDF("l_orderkey", "l_suppkey")
    val e = PageRank.tradeGraphEdges(orders, lineitem)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    e shouldBe Set((10L, -5L), (20L, -6L), (-5L, 10L), (-6L, 20L))
  }

  test("personalized ranks: teleport mass lands only on seeds (hand-computed)") {
    // path 20-1-2 (symmetric), seedMod 20 => node 20 is the only seed.
    // r0: 20->1e6, others 0
    // it1: in(1) = 1e6; r1(20) = 150000, r1(1) = 850000, r1(2) = 0
    // it2: 1 contributes 425000 to each side; 20 contributes 150000 to 1
    //      r2(20) = 150000 + 361250 = 511250
    //      r2(1)  = 0 + 85*150000 DIV 100 = 127500
    //      r2(2)  = 0 + 361250
    val e = Seq((20L, 1L), (1L, 20L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = PageRank.personalizedRanks(e, seedMod = 20L, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(20L -> 511250L, 1L -> 127500L, 2L -> 361250L)
  }

  test("personalized ranks: negative sign-split keys seed consistently") {
    // -40 % 20 == 0 in both Spark and the oracle (remainder keeps the
    // dividend's sign, and a multiple of 20 stays a multiple negated)
    val e = Seq((-40L, 3L), (3L, -40L)).toDF("src", "dst")
    val out = PageRank.personalizedRanks(e, seedMod = 20L, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0: -40 -> 1e6, 3 -> 0; it1: in(3) = 1e6, in(-40) = 0
    out shouldBe Map(-40L -> 150000L, 3L -> 850000L)
  }

  test("HITS on a bipartite fan: the shared authority dominates, hubs " +
    "rank by coverage, roles separate exactly") {
    // u1 -> {v1, v2}, u2 -> {v1}: v1 has two in-links, v2 one; u1 links
    // the stronger pair. One round by hand (h0 = 1e6):
    //   a_raw: v1 = 2e6, v2 = 1e6; d = ceil(2e6/1e6) = 2 → a: v1 = 1e6, v2 = 5e5
    //   h_raw: u1 = 1.5e6, u2 = 1e6; d = 2 → h: u1 = 75e4, u2 = 5e5
    val edges = Seq(("u1", "v1"), ("u1", "v2"), ("u2", "v1"))
      .toDF("src", "dst")
    val one = PageRank.hits(edges, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    one("v1") shouldBe ((0L, 1000000L))
    one("v2") shouldBe ((0L, 500000L))
    one("u1") shouldBe ((750000L, 0L))
    one("u2") shouldBe ((500000L, 0L))
    // more rounds keep the ordering and the bipartite role separation
    val three = PageRank.hits(edges, iters = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(three("v1")._2 > three("v2")._2)
    assert(three("u1")._1 > three("u2")._1)
    assert(three.values.forall { case (h, a) => h == 0L || a == 0L })
  }
}
