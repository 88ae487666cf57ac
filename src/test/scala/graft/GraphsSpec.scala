package graft

import graft.ops.Graphs

/** Triangle counting on hand-built graphs with known answers; the
  * q_triangles oracle pins the integer replay at data scale.
  */
class GraphsSpec extends SparkSpec {

  private def stats(edges: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    val r = Graphs.triangleStats(edges.toDF("a", "b")).collect()(0)
    (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"),
      r.getAs[Long]("closure_micro"))
  }

  test("probe batching: forced multi-batch count equals the single pass") {
    val s2 = spark; import s2.implicits._
    // K6: 20 triangles — every probe slice must contribute correctly
    val k6 = (for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b))
    val one = Graphs.triangleStats(k6.toDF("a", "b")).collect()(0)
    val batched = Graphs.triangleStats(k6.toDF("a", "b"),
      probeEdgesPerBatch = 3L).collect()(0) // 15 oriented edges → 5 batches
    assert(one.getAs[Long]("n_triangles") == 20L)
    assert(one.toSeq == batched.toSeq)
  }

  test("K4 has 4 triangles and closure 1; path and star have none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val (n, e, w, t, c) = stats(k4)
    assert((n, e, t) == (4L, 6L, 4L))
    assert(w == 12L)           // 4 nodes x C(3,2)
    assert(c == 1000000L)      // 3*4/12 = 1.0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(stats(path)._4 == 0L)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    assert(stats(star)._4 == 0L)
  }

  test("triangle with a pendant: 1 triangle, correct wedge count") {
    // 1-2-3 triangle, 4 hangs off 3
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val (n, e, w, t, c) = stats(g)
    assert((n, e, t) == (4L, 4L, 1L))
    assert(w == 1 + 1 + 3)     // deg 2,2,3,1 -> C(2,2)? wedges: 1+1+3+0
    assert(c == 3000000L / 5)  // 3*1/5
  }

  test("hub-heavy graph: every triangle counted exactly once") {
    // hub 0 connected to 1..6; ring 1-2,3-4,5-6 => 3 triangles
    val g = (1L to 6L).map(i => (0L, i)) ++ Seq((1L, 2L), (3L, 4L), (5L, 6L))
    assert(stats(g)._4 == 3L)
  }

  test("co-occurrence edges: distinct pairs within groups, a < b") {
    val s = spark; import s.implicits._
    val df = Seq((10L, 3L), (10L, 1L), (10L, 2L), (10L, 1L), (20L, 2L), (20L, 3L))
      .toDF("g", "item")
    val got = Graphs.coOccurrenceEdges(df, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  private def kcoreOf(g: Seq[(Long, Long)], k: Int, rounds: Int = 8) = {
    val s = spark; import s.implicits._
    Graphs.kcoreRounds(g.toDF("a", "b"), k, rounds).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getBoolean(2)))
      .toMap
  }

  test("k-core: pendant peels in round 1, triangle survives k=2") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val got = kcoreOf(g, k = 2)
    assert(got(4L) == (Some(1), false))
    Seq(1L, 2L, 3L).foreach(v => assert(got(v) == (None, true)))
  }

  test("k-core: cascading removal over rounds (path graph, k=2)") {
    // a-b-c-d: endpoints peel round 1, then b,c drop to degree 1
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = kcoreOf(g, k = 2)
    assert(got(1L)._1 == Some(1) && got(4L)._1 == Some(1))
    assert(got(2L)._1 == Some(2) && got(3L)._1 == Some(2))
    assert(got.values.forall(!_._2))
  }

  test("k-core: k above max degree empties the graph; k=0 keeps all") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    assert(kcoreOf(g, k = 3).values.forall(v => !v._2 && v._1 == Some(1)))
    assert(kcoreOf(g, k = 0).values.forall(_._2))
  }

  private def lpaOf(undirected: Seq[(String, String)],
                    rounds: Int): Map[String, String] = {
    val s = spark; import s.implicits._
    val edges = undirected.toDF("src", "dst")
    val sym = edges.unionAll(
      edges.select(org.apache.spark.sql.functions.col("dst").as("src"),
        org.apache.spark.sql.functions.col("src").as("dst")))
    graft.ops.Graphs.labelPropagation(sym, rounds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("label propagation: round-1 tie-breaks (count desc, label asc)") {
    // triangle a-b-c, pair d-e, bridge c-d; after ONE round every
    // vertex holds the smallest among its most frequent neighbor labels
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"))
    val got = lpaOf(g, rounds = 1)
    assert(got == Map("a" -> "b", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "d"), s"round-1 states: $got")
  }

  test("label propagation: converges to one community across the bridge") {
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"))
    val got = lpaOf(g, rounds = 3)
    assert(got.values.toSet == Set("a"), s"expected all 'a': $got")
  }

  test("label propagation: disconnected components never share labels") {
    val g = Seq(("a", "b"), ("x", "y"), ("x", "z"), ("y", "z"))
    val got = lpaOf(g, rounds = 4)
    assert(Set("a", "b").map(got).subsetOf(Set("a", "b")), s"$got")
    assert(Set("x", "y", "z").map(got).subsetOf(Set("x", "y", "z")), s"$got")
  }

  test("modularity: hand-computed integer micro-units per community") {
    val s = spark; import s.implicits._
    // two communities: pair {a,b} (1 intra edge), triangle {x,y,z}
    // (3 intra edges), one cross edge a-x. m = 5.
    //   pair:     e=1 d=3 → 1e6·1/5 − ((1e6·3/10)²/1e6) = 200000 − 90000
    //   triangle: e=3 d=7 → 600000 − ((700000)²/1e6=490000) = 110000
    val pairs = Seq(("a", "b"), ("x", "y"), ("x", "z"), ("y", "z"),
      ("a", "x")).toDF("src", "dst")
    val labels = Seq(("a", "A"), ("b", "A"), ("x", "X"), ("y", "X"),
      ("z", "X")).toDF("v", "label")
    val got = graft.ops.Graphs.modularity(pairs, labels)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("A") == (2L, 1L, 3L, 110000L), s"pair community: $got")
    assert(got("X") == (3L, 3L, 7L, 110000L), s"triangle community: $got")
  }

  private def assortOf(pairs: Seq[(String, String)]): Option[Long] = {
    val s = spark; import s.implicits._
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val r = graft.ops.Graphs.assortativity(sym).collect()(0)
    assert(r.getAs[Long]("n_edges") == 2L * pairs.length)
    if (r.isNullAt(1)) None else Some(r.getAs[Long]("assort_micro"))
  }

  test("assortativity: star is -1, path is -1/2, regular K4 is null") {
    // Star S3: degrees 3,1,1,1; M=6, Σx=12, Σxy=18, Σx²=30 →
    //   (6·18 − 144)/(6·30 − 144) = −36/36 = −1.
    assertResult(Some(-1000000L))(
      assortOf(Seq(("c", "a"), ("c", "b"), ("c", "d"))))
    // Path 1-2-3-4: degrees 1,2,2,1; Σx=10, Σxy=16, Σx²=18 →
    //   (96 − 100)/(108 − 100) = −1/2 (negative-numerator truncation).
    assertResult(Some(-500000L))(
      assortOf(Seq(("1", "2"), ("2", "3"), ("3", "4"))))
    // K4 is 3-regular: zero degree variance → denominator 0 → NULL.
    assertResult(None)(assortOf(
      Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"),
        ("3", "4"))))
  }
}
