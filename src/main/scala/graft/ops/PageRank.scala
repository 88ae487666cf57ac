package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-iteration PageRank in exact integer micro-units — the
  * graph-authority signal a web-scale curation pipeline weights sources
  * by (link-graph authority is a standard pretraining quality prior;
  * see e.g. the harmonic-centrality filtering in Common Crawl derived
  * corpora). Brin & Page 1998 damping, re-expressed so every step is
  * bit-portable across engines:
  *
  *   contrib(u)  = rank(u) DIV outdeg(u)          (integer floor)
  *   rank'(v)    = 150_000 + (85 * Σ contrib) DIV 100
  *
  * i.e. d = 0.85 with a per-node teleport of 0.15 in micro-units and
  * floor division everywhere — no float accumulation order to disagree
  * on, so a fixed iteration count yields byte-identical ranks in Spark
  * and the DuckDB oracle (which unrolls the same iterations as CTEs).
  *
  * Scale shape: per iteration exactly one equi-join (ranks ⋈ edges on
  * src — both sides hash-partitioned on the SAME key, so consecutive
  * iterations reuse the partitioning) and one groupBy(dst) with map-side
  * partial sums. The ranks frame is |V| rows — orders of magnitude below
  * |E| — and is the only thing that changes between rounds; edges are
  * materialized once ([[nearDupClusters]]' argument). Each round ends in
  * a `localCheckpoint` (reliable `checkpoint` under `checkpointDir`)
  * because iterative plans nest: without truncation the logical tree
  * grows geometrically and plan serialization OOMs long before the data
  * does. Driver state: zero (no collect anywhere).
  *
  * Dangling handling: a node with no in-edges receives the bare teleport
  * mass; callers wanting classic undirected authority (the curation
  * case) pass a symmetrized edge list, under which every node has both
  * in- and out-edges.
  */
object PageRank {

  val TeleportMicro = 150000L // 0.15 in micro-units
  val DampingPct = 85L        // 0.85 as an integer percentage
  /** Rounds between the lineage-bounding checkpoints of a long run. */
  private val CheckpointEvery = 8

  /** Fixed-iteration integer PageRank over directed `edges` (columns
    * `src`, `dst`; parallel edges should be pre-deduped by the caller —
    * each surviving row carries one unit of contribution). Returns
    * (node, rank_micro) for every node with at least one OUT-edge; with
    * a symmetrized edge list that is every node of the graph.
    */
  def ranks(edges: DataFrame, iters: Int = 3,
            checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def markEager(df: DataFrame): DataFrame =
      graft.core.Checkpoints.eager(df, reliable = checkpointDir.isDefined)

    // out-degree once; edges+deg materialized once, partitioned by the
    // join key every iteration reuses
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = markEager(
      edges.join(deg, "src").repartition(col("src"))
        .select(col("src"), col("dst"), col("deg")))
    // node set from the MATERIALIZED e, not a second pass over the raw
    // edge construction: distinct over the src-hash-partitioned
    // checkpoint needs no exchange
    val nodes = markEager(e.select(col("src").as("node")).distinct())

    // Rounds run LAZY: each round references the previous ranks frame
    // exactly ONCE (the contribution join), so the nested plan grows
    // LINEARLY in the round count — the per-round eager checkpoint
    // (one driver job + barrier each) bought nothing but latency at any
    // scale. A periodic checkpoint (every CheckpointEvery rounds)
    // stays as the lineage bound for high iteration counts; at the
    // default 3 iterations the whole computation is one action.
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    var lastCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("rank_micro DIV deg").as("c"))
      val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      var next =
        nodes.join(inMass, nodes("node") === inMass("dst"), "left")
          .select(col("node"),
            (lit(TeleportMicro) +
              expr(s"$DampingPct * coalesce(s, 0L) DIV 100")).as("rank_micro"))
      if (i % CheckpointEvery == 0 && i < iters) {
        next = markEager(next)
        // iterate-and-release: the new checkpoint is self-contained,
        // the superseded one is dead weight
        if (lastCkpt != null) graft.core.Checkpoints.release(lastCkpt)
        lastCkpt = next
      }
      ranks = next
    }
    // the returned lazy frame references e/nodes (and lastCkpt) — their
    // blocks stay leased to the caller; Bench's inter-query unpersist
    // sweep (or the caller's own release) reclaims them
    ranks
  }

  /** Personalized PageRank (the seeded-teleport variant of [[ranks]]):
    * teleport mass lands ONLY on the seed set — rank concentrates in
    * the seeds' neighborhoods instead of spreading globally, which is
    * the standard crawl-prioritization / related-entity signal (score
    * pages near a trusted seed list). Seeds are the nodes with
    * `node % seedMod == 0` (deterministic, oracle-mirrored — both
    * engines give remainder the dividend's sign, so negative sign-split
    * keys select consistently). Initial rank = 10⁶ on seeds, 0
    * elsewhere; per round rank'(v) = seed(v)·150000 + 85·Σcontrib
    * DIV 100 — the same integer-floor arithmetic as [[ranks]], so a
    * fixed iteration count replays byte-identically in the unrolled-CTE
    * oracle. Scale shape identical to [[ranks]]: one equi-join + one
    * partial-agg groupBy per round on the once-materialized edges.
    */
  def personalizedRanks(edges: DataFrame, seedMod: Long = 20L,
                        iters: Int = 3,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(seedMod >= 1)
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def markEager(df: DataFrame): DataFrame =
      graft.core.Checkpoints.eager(df, reliable = checkpointDir.isDefined)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = markEager(
      edges.join(deg, "src").repartition(col("src"))
        .select(col("src"), col("dst"), col("deg")))
    // node set from the materialized e (see ranks())
    val nodes = markEager(e.select(col("src").as("node")).distinct())
    def teleport(of: Column, amount: Long): Column =
      when(of % seedMod === 0, lit(amount)).otherwise(lit(0L))
    // Rounds run SPARSE (the HITS argument, but for seed-only teleport):
    // a node absent from the round frame has rank 0 — it contributes
    // rank DIV deg = 0 to the next round's sums, and the teleport term
    // is zero off the seed set, so only seeds ∪ mass-receivers ever need
    // rows. The dense form paid a |V|-row left join per round; the
    // sparse round joins seeds (|V|/seedMod) full-outer with the in-mass
    // frame, and the zero-fill runs ONCE at the end. Byte-identical
    // (absent ⇔ dense 0; q_ppr re-verified hash-exact).
    // Rounds are LAZY with a periodic lineage bound (see ranks(): each
    // round references the previous frame once, so growth is linear).
    val seeds = nodes.filter(col("node") % seedMod === 0)
    var ranks = seeds.withColumn("rank_micro", lit(1000000L))
    var lastCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("rank_micro DIV deg").as("c"))
      val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      var next =
        seeds.join(inMass, seeds("node") === inMass("dst"), "full_outer")
          .select(coalesce(col("node"), col("dst")).as("node"),
            (teleport(coalesce(col("node"), col("dst")), TeleportMicro) +
              expr(s"$DampingPct * coalesce(s, 0L) DIV 100")).as("rank_micro"))
      if (i % CheckpointEvery == 0 && i < iters) {
        next = markEager(next)
        if (lastCkpt != null) graft.core.Checkpoints.release(lastCkpt)
        lastCkpt = next
      }
      ranks = next
    }
    // e/nodes (and lastCkpt) back the returned lazy frame — leased to
    // the caller, reclaimed by Bench's inter-query sweep
    nodes.join(ranks, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("rank_micro"), lit(0L)).as("rank_micro"))
  }

  /** Kleinberg's HITS — hubs & authorities (JACM 1999) — over the
    * DIRECTED edge list, in exact integer micro-units. Per round:
    *
    *   a_raw(v) = Σ_{u→v} h(u);   a(v) = a_raw DIV ceil(max a_raw / 10⁶)
    *
    * then symmetrically h from the fresh a. The ceil-divisor
    * max-normalization (the same trick as the PCA power iteration)
    * keeps every score in [0, 10⁶] WITHOUT a square root or an
    * overflow-prone ×10⁶ multiply: a_raw reaches 10⁶·indeg ≈ 10¹⁵ on a
    * 10⁹-edge graph, and multiplying that by 10⁶ would overflow int64,
    * while dividing by the quantized max cannot. Fixed `iters` rounds
    * ⇒ byte-identical scores in Spark and the unrolled-CTE oracle.
    *
    * Scale shape matches [[ranks]]: per round two equi-joins on the
    * once-materialized edge frame + two |V|-row partial-agg groupBys;
    * the global max is a 1-row aggregate broadcast back (bounded);
    * localCheckpoint truncates the iterative lineage. Nodes without
    * in-edges score authority 0, without out-edges hub 0 — on a
    * bipartite graph that separates the two roles exactly.
    */
  def hits(edges: DataFrame, iters: Int = 3,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def markEager(df: DataFrame): DataFrame =
      graft.core.Checkpoints.eager(df, reliable = checkpointDir.isDefined)
    val e = markEager(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    val nodes = markEager(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // Rounds run SPARSE: a node whose aggregate is absent would score 0,
    // and a 0 (or absent) score contributes nothing to the next round's
    // sums, so carrying the zero rows through every round is pure
    // overhead — the original dense form paid a |V|-row left join + a
    // crossJoin per round, AND re-executed the edge-scale join+groupBy
    // inside the divisor's BroadcastExchange build (no materialization).
    // Now the per-round aggregate is checkpointed once, normalized
    // in place, and the zero-fill happens ONCE at the end against the
    // full node set — byte-identical output (absent ⇔ dense 0; present
    // values are the same integer arithmetic).
    // Only the per-half-round RAW aggregate is materialized (it is
    // referenced TWICE — by the divisor aggregate and by the normalize
    // projection — so a lazy raw would double the edge-scale join). The
    // normalized frame itself is a cheap projection over the raw
    // checkpoint and stays LAZY: the next half-round's raw checkpoint
    // (or the final output join) materializes through it. 2 driver jobs
    // per round instead of 4; identical integer arithmetic.
    def normalized(raw0: DataFrame, key: String,
                   out: String): (DataFrame, DataFrame) = {
      val raw = markEager(raw0)
      val div = raw.agg(
        expr("greatest((max(raw) + 999999) DIV 1000000, 1L)").as("d"))
      val r = raw.crossJoin(broadcast(div))
        .select(col(key).as("node"), expr("raw DIV d").as(out))
      (r, raw)
    }
    var hubs = nodes.withColumn("h", lit(1000000L))
    var auths: DataFrame = null
    // raw checkpoints superseded once the NEXT half-round's raw is
    // materialized (its build consumed them); the final round's pair
    // backs the returned join and stays leased to the caller
    var prevRawH: DataFrame = null
    var prevRawA: DataFrame = null
    for (_ <- 1 to iters) {
      val (a, rawA) = normalized(
        e.join(hubs, e("src") === hubs("node"))
          .groupBy(col("dst")).agg(sum(col("h")).as("raw")), "dst", "a")
      // rawA materialized ⇒ last round's rawH (hubs' backing blocks) dead
      if (prevRawH != null) graft.core.Checkpoints.release(prevRawH)
      auths = a
      val (h, rawH) = normalized(
        e.join(auths, e("dst") === auths("node"))
          .groupBy(col("src")).agg(sum(col("a")).as("raw")), "src", "h")
      // rawH materialized ⇒ this round's rawA had its only remaining
      // mid-loop consumer run; keep it on the LAST round (it backs the
      // returned auths projection)
      if (prevRawA != null) graft.core.Checkpoints.release(prevRawA)
      hubs = h
      prevRawH = rawH
      prevRawA = rawA
    }
    // the final raw checkpoints AND `nodes` back the returned
    // zero-filled join (leased to the caller); e is done
    graft.core.Checkpoints.release(e)
    nodes.join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub_micro"),
        coalesce(col("a"), lit(0L)).as("auth_micro"))
  }

  /** Distinct customer→supplier pairs, each undirected edge ONCE (the
    * bipartite trade graph before symmetrization).
    */
  def tradeGraphPairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (-col("l_suppkey")).cast("long").as("dst"))
      .distinct()

  /** The curation-shaped instance: authority over the customer↔supplier
    * bipartite graph (distinct trade pairs from orders⋈lineitem),
    * symmetrized so rank flows both ways. Node keys are SIGN-SPLIT
    * integers — customers keep their positive key, suppliers are
    * negated — because the two id spaces overlap numerically. An 8-byte
    * fixed-width key roughly halves shuffle bytes across the whole graph
    * family versus the type-prefixed string form it replaces ("c123" /
    * "s45"): every per-round join, degree groupBy and probe in
    * PageRank / HITS / LPA / modularity / assortativity keys on this
    * column, and string keys also hash and compare slower per row.
    */
  def tradeGraphEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = tradeGraphPairs(orders, lineitem)
    pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
  }
}
