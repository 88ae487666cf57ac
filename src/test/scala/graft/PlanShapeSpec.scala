package graft


/** Plan-shape regression guards for the headline queries' scale claims —
  * the properties PLAN_AUDIT reads off by hand, pinned so a refactor
  * that silently changes the plan fails a spec instead of a bench.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("kinematics plans compile inside whole-stage codegen: no " +
    "generated method near the JVM 64 KB limit") {
    // the Horner distance tree used to blow the wholestage method past
    // 64 KB (janino refusal -> whole scan stage interpreted, silently);
    // PortableDistExpr collapses each call site to one static call.
    // Pin it: force codegen compilation of every wholestage subtree in
    // the heavy kinematics plans and assert the real bytecode sizes
    // stay far from the cliff (ByteCodeStats comes from janino itself).
    import org.apache.spark.sql.execution.debug._
    // AQE defers the physical plan (executedPlan = AdaptiveSparkPlanExec
    // with no WSCG children until runtime); disable it for the static
    // inspection — codegen sizes are identical either way
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try Seq("w3_velocity", "qc_pipeline_flags", "w4_spatial_outlier").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val stats = codegenStringSeq(plan)
      assert(stats.nonEmpty, s"$q: no wholestage codegen subtree at all")
      stats.foreach { case (subtree, _, bc) =>
        assert(bc.maxMethodCodeSize < 16384,
          s"$q: generated method ${bc.maxMethodCodeSize} bytes — " +
            s"approaching the 64 KB interpret-fallback cliff in:\n$subtree")
      }
    } finally spark.conf.set(key, prev)
  }

  test("q18: lineitem aggregates BEFORE any join (the HAVING semi-join shape)") {
    val p = plan("q18_large_orders")
    // the aggregate must sit below the first join in the tree — if the
    // plan joined first, the string order would invert
    val aggAt = p.indexOf("HashAggregate")
    val joinAt = p.indexOf("Join")
    assert(aggAt >= 0 && joinAt >= 0 && joinAt < aggAt,
      s"agg must be under the join (join at $joinAt, agg at $aggAt):\n$p")
    assert(!p.contains("SortMergeJoin"), s"qualifying sliver should broadcast:\n$p")
  }

  test("funnel: each stage's event-type filter reaches the parquet scan") {
    val p = plan("a7_funnel")
    Seq("view", "click", "purchase").foreach { step =>
      assert(p.contains(s"EqualTo(event_type,$step)"),
        s"$step filter not pushed to scan:\n$p")
    }
  }

  test("winnow pairs: df cap is a broadcast anti-join, never a window over the hot key") {
    val p = plan("dd_winnow_pairs")
    assert(p.contains("LeftAnti"),
      s"cap must be the two-phase broadcast anti-join:\n$p")
    assert(!p.contains("Window"),
      s"a count-over-window cap colocates the hot fingerprint:\n$p")
    // the fingerprint index is cached (pre-cap) and consumed by the cap's
    // count pass, both self-join sides, and the per-doc sizes
    assert(p.contains("InMemoryTableScan"),
      s"fingerprint index should be computed once:\n$p")
    // ...which means the winnowing explode never appears OUTSIDE the
    // cached relation: every consumer reads the cache, the fingerprint
    // compute (normalize + hash + minimum) runs exactly once. The cached
    // relation is a leaf of the logical plan, so any Generate the
    // optimizer still sees is a recompute.
    assertNoGenerateOutsideCache("dd_winnow_pairs")
  }

  test("passage dedup: first-seen-wins is the partial-agg groupBy, no window over the fp") {
    val p = plan("dd_passage")
    // a mega-duplicated passage must collapse map-side; a window over
    // the fp would colocate every copy on one task first
    assert(!p.contains("Window ["), s"hot-passage window found:\n$p")
    assert(p.contains("partial_min"), s"expected two-phase min(struct):\n$p")
  }

  test("substring dedup: dup test is the partial-agg groupBy; no window over the fp") {
    val p = plan("dd_substring")
    // the one per-doc Window merges ISLANDS (span-scale rows); the fp
    // dup test itself must be two-phase so a mega-duplicated window
    // collapses map-side before the wire
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"expected two-phase fp aggregate:\n$p")
  }

  test("substring decontamination: benchmark fingerprints broadcast, probe map-side") {
    val p = plan("t_substring_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark fp set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin LeftSemi") &&
      !p.contains("SortMergeJoin Inner, [fp"),
      s"fp probe must not SMJ the corpus windows:\n$p")
  }

  test("mixture sample: rate plumbing broadcasts, corpus membership stays map-side") {
    val p = plan("t_mixture_sample")
    assert(!p.contains("SortMergeJoin"),
      s"rate table must broadcast, never SMJ the corpus:\n$p")
    assert(p.contains("BroadcastExchange"), s"no broadcast in plan:\n$p")
    // the only Exchanges are the per-stratum aggregations (strat branch
    // ×2 + the scalar weight-sum) — every one carries partial-agg'd
    // rows bounded by #strata, never corpus rows
    val ex = p.linesIterator.count(_.contains("+- Exchange "))
    assert(ex <= 3, s"expected only the tiny per-stratum agg Exchanges, got $ex:\n$p")
  }

  test("token rank: the only window ranks the vocab aggregate, not the token stream") {
    val p = plan("t_token_rank")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"expected exactly the vocab rank window:\n$p")
    // the single-partition sort is over the corpus-sublinear vocab — the
    // token-keyed agg must sit BELOW the single-partition exchange
    val spAt = p.indexOf("Exchange SinglePartition")
    val vocabAggAt = p.indexOf("HashAggregate(keys=[token", spAt)
    assert(spAt >= 0 && vocabAggAt > spAt,
      s"vocab agg must feed the single-partition rank (sp at $spAt, agg at $vocabAggAt):\n$p")
  }

  /** The optimized logical plan must contain a cached relation and zero
    * Generate (explode) nodes outside it — InMemoryRelation is a leaf,
    * so a surviving Generate means the exploded index is being
    * recomputed rather than read from the cache.
    */
  private def assertNoGenerateOutsideCache(q: String): Unit = {
    val lp = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
    val gens = lp.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    val cached = lp.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
    assert(cached.nonEmpty, s"$q: exploded index not cached:\n$lp")
    assert(gens.isEmpty, s"$q: explode recomputed outside the cache:\n$lp")
  }

  test("ngram pairs: exploded index filtered by anti-join BEFORE the df window / self-join") {
    val p = plan("dd_ngram_pairs")
    val winAt = p.indexOf("Window")
    val antiAt = p.indexOf("LeftAnti")
    // tree prints parents first: the anti-join must sit BELOW the dfc
    // window (hot shingles dropped map-side before any shingle-keyed
    // shuffle), so its line comes after the window's
    assert(antiAt >= 0, s"df cap must be the broadcast anti-join:\n$p")
    assert(winAt >= 0 && winAt < antiAt,
      s"anti-join must run before (sit below) the dfc window:\n$p")
    // the exploded index is cached BEFORE the cap: the cap's count pass
    // materializes it and every later pass reads the cache, so the
    // shingle explode must not survive anywhere outside the cached leaf
    assert(p.contains("InMemoryTableScan"),
      s"exploded index should be cached:\n$p")
    assertNoGenerateOutsideCache("dd_ngram_pairs")
  }

  test("quantized ANN: no shuffle of the corpus side") {
    Seq("sim_sq_topk", "sim_cosine_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q corpus must not shuffle-join:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q queries should broadcast:\n$p")
    }
  }

  test("capstone pipeline: composed plan stays at the sum of its parts' shuffles") {
    // dedup-canonical → curation gates → sequence packing, composed. The
    // shuffle budget of the whole artifact: the dedup fingerprint agg, the
    // packing bucket shuffle (shared by the cumsum window AND the bucket
    // totals via exchange reuse — the corpus scan + gates run ONCE), and
    // the deliberate O(nBuckets) SinglePartition offsets window. Both
    // joins (dedup canonical map, bucket offsets) broadcast. More distinct
    // shuffles means a gate stopped being map-side; a missing reuse means
    // the 100 TB scan doubled.
    val df = SparkEntry.queries("t_pipeline_e2e")(spark, dir)
    df.collect() // AQE only surfaces stage reuse in the FINAL plan
    // the AdaptiveSparkPlan string carries BOTH final and initial plans;
    // only the final one reflects what actually ran
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // materialized Exchange NODES (a ReusedExchange line repeats the
    // original's description, so match the node prefix, not the substring)
    val exchanges = "\\+- Exchange (hashpartitioning|SinglePartition)".r.findAllIn(p).size
    assert(exchanges == 3,
      s"expected 3 materialized shuffles (dedup fp, bucket, offsets single-partition), got $exchanges:\n$p")
    assert(p.contains("ReusedExchange"),
      s"bucket shuffle must be REUSED by window + totals (one corpus scan):\n$p")
    assert("\\+- Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"exactly the one O(nBuckets) offsets window may serialize:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join anywhere in the capstone:\n$p")
  }

  test("capstone shards: every stage past a checkpoint stops scanning " +
    "the source (the stage-reuse trap guard)") {
    // t_capstone_shards composes gates -> exact+fuzzy dedup ->
    // decontaminate -> mixture -> pack -> bucketed write. The trap class
    // (t_curriculum_order, round 11): a late branch silently re-scanning
    // documents.parquet and re-running the full regex gate chain. Pin
    // the per-stage source-scan counts via the planTap hook.
    val taps = scala.collection.mutable.Map[String, String]()
    val tmp = java.nio.file.Files.createTempDirectory("graft_cap_spec").toString
    val digest = graft.pipeline.Curation.capstoneShards(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      "source", outTable = "graft_capstone_spec_shards",
      outPath = s"$tmp/shards",
      planTap = (n, df) => taps(n) = df.queryExecution.executedPlan.toString)
    def docScans(p: String): Int =
      "documents\\.parquet".r.findAllIn(p).size
    // base (gates + exact dedup): the fingerprint two-phase aggregate
    // joins back onto the rows, so the source appears on BOTH join
    // sides — 2 scans, and no more (each gate is a Column on top)
    assert(docScans(taps("base")) == 2,
      s"base must scan the source exactly twice (dedup agg + probe):\n${taps("base")}")
    // fuzzy dedup + decontamination read the CHECKPOINTED base; the
    // only remaining source scan is the benchmark fingerprint branch
    assert(docScans(taps("clean")) == 1,
      s"clean must scan the source ONLY for the benchmark fps:\n${taps("clean")}")
    assert(taps("clean").contains("Scan ExistingRDD"),
      s"clean must read the checkpointed base:\n${taps("clean")}")
    // mixture + packing ride the checkpointed clean corpus: the source
    // (and its regex gate chain) is out of the plan entirely
    assert(docScans(taps("seqs")) == 0,
      s"packing must never re-scan the source:\n${taps("seqs")}")
    assert(taps("seqs").contains("Scan ExistingRDD"),
      s"packing must read the checkpointed frames:\n${taps("seqs")}")
    // the returned digest reads only the written shard table
    val dp = digest.queryExecution.executedPlan.toString
    assert(docScans(dp) == 0 && dp.contains("shards"),
      s"digest must read back the shard table, not the source:\n$dp")
    spark.sql("DROP TABLE IF EXISTS graft_capstone_spec_shards")
  }

  test("persisted-index serving: codes scan side never shuffle-joins") {
    // building the index is part of the query's first run; the SERVING
    // plan (what queries() returns once the index exists) must score the
    // codes scan against broadcast probes/queries only
    Seq("sim_pq_search", "sim_ivfpq_search", "sim_pq_rerank_search").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: the codes/corpus side must not shuffle-join:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: queries/candidates should broadcast:\n$p")
      // the codes table is tiny at rest (one file) but the probe join
      // expands it by the query count — the serving plan must spread
      // the scan BEFORE the expansion or the whole scoring stage runs
      // single-task (measured 4.3x at sf10)
      assert(p.contains("Exchange RoundRobinPartitioning") ||
        p.contains("REPARTITION_BY_NUM"),
        s"$q: codes scan must repartition ahead of the expanding join:\n$p")
    }
  }

  test("interval join: time-chunked equi-join, never a nested loop") {
    val p = plan("j7_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range predicate must ride the (key, chunk) equi-join:\n$p")
    assert(p.contains("Generate explode"),
      s"intervals should explode to their overlapped chunks:\n$p")
  }

  test("source cap: under-cap rows bypass the window; over-cap ranking pre-trims") {
    val p = plan("t_source_cap")
    // phase 1+2: the over-cap key set broadcasts back as anti (pass) and
    // semi (rank) — the corpus must never shuffle-join its own counts
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"),
      s"expected broadcast anti (under-cap pass) + semi (over-cap select):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"over-cap key set must broadcast, not shuffle:\n$p")
    // phase 3: row_number <= n over only the over-cap slice plans as
    // WindowGroupLimit — map tasks pre-trim to partial top-n per key
    // before the exchange, so a trap domain ships n x partitions rows
    assert(p.contains("WindowGroupLimit"),
      s"rank must pre-trim map-side (WindowGroupLimit):\n$p")
    // exactly ONE window stage exists (the over-cap branch); the
    // under-cap branch is scan + broadcast join only
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"only the over-cap slice may be windowed:\n$p")
  }

  test("quantile profile: histogram partial-aggs; the one window runs over buckets, not values") {
    val p = plan("t_quantile_profile")
    // the value stream collapses map-side to <= #buckets rows per
    // partition before the only data-scale shuffle
    assert(p.contains("partial_count"),
      s"histogram must partially aggregate map-side:\n$p")
    // two Window nodes (__cum running sum + __tot partition sum) share
    // ONE sort + exchange and both consume the bucket AGGREGATE (printed
    // before the hist agg), never the raw value column
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"expected the cum+tot windows over the bucket frame:\n$p")
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected exactly hist-agg + window exchanges:\n$p")
    val winAt = p.lastIndexOf("Window [")
    val histAt = p.lastIndexOf("HashAggregate")
    assert(winAt < histAt,
      s"windows must sit on the bucket aggregate, not the value stream:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join belongs in this plan:\n$p")
  }

  test("cdc dedup: chunking computed once; first-occurrence is two-phase, no window over the fp") {
    val p = plan("mm_cdc_dedup")
    // a mega-duplicated chunk must collapse map-side (the passage-dedup
    // argument); a window over chunk_fp would colocate every copy
    assert(!p.contains("Window ["), s"hot-chunk window found:\n$p")
    assert(p.contains("partial_min"), s"expected two-phase min(struct):\n$p")
    // the compiled chunking pass feeds both consumers through the cache —
    // any cdc_chunks Generate outside an InMemoryTableScan is a recompute
    assert(p.contains("InMemoryTableScan"),
      s"chunk explode should be computed once:\n$p")
    assertNoGenerateOutsideCache("mm_cdc_dedup")
  }

  test("pagerank: rounds run lazily over the two checkpoints; raw tables never re-read") {
    val p = plan("q_pagerank")
    // r16 shape: the 3 rounds build ONE nested lazy plan (each round
    // references its predecessor once — linear growth, no per-round
    // driver barrier); every leaf is one of the TWO materialized
    // checkpoints (edge frame, node set). The invariants that matter at
    // scale: (a) the orders x lineitem construction is NEVER re-derived
    // in the final action (zero FileScans), (b) the leaf count is
    // exactly the round structure's reference count — iters x (e +
    // nodes) + the rank-0 seed = 2*iters + 1 — so an accidentally
    // un-materialized construction (which would re-plan the trade graph
    // per arm) fails loudly.
    val iters = 3 // q_pagerank's PageRank.ranks(…, iters = 3)
    val expected = 2 * iters + 1
    val scans = "Scan ExistingRDD".r.findAllIn(p).size
    assert(!p.contains("FileScan") && scans == expected,
      s"expected $expected checkpoint scans and no raw-table re-read, got $scans:\n$p")
  }

  test("cusum: ONE data exchange serves every window layer") {
    val p = plan("w13_cusum")
    // all four window layers (stat, mad, prefix, running-min) must ride
    // a single hash exchange on the stream key — a second data-scale
    // exchange means a layer re-partitioned
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("bloom decontaminate: probes broadcast; only the rollup shuffles") {
    val p = plan("t_bloom_decontaminate")
    // 3 probe joins + 1 exact-verify join, all broadcast left joins —
    // the corpus passage stream must never shuffle-join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"probe must be broadcast-only:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj == 4, s"expected 4 broadcast joins (3 probes + verify), got $bhj:\n$p")
  }

  test("chi-square: one data-scale aggregate; totals broadcast back") {
    val p = plan("a19_chisq")
    // the corpus collapses in the first groupBy (map-side partials);
    // the 1-row totals frame must come back as a broadcast, and no
    // window may run over the counts
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"first aggregate must partial-agg map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals must broadcast:\n$p")
    assert(!p.contains("Window ["), s"no window over counts:\n$p")
  }

  test("audio fingerprints: payloads never shuffle — only 24-byte fp rows move") {
    val p = plan("mm_audio_fp_pairs")
    // the decode runs in mapPartitions (SerializeFromObject above it);
    // every exchange below the pairing must carry only fp columns
    val mp = p.indexOf("MapPartitions")
    assert(mp > 0, s"decode must be mapPartitions:\n$p")
    // plan strings print root-first: everything BEFORE the topmost
    // MapPartitions is the post-decode pairing pipeline — payload bytes
    // must not appear there (they'd be riding the pairing exchanges)
    assert(!p.substring(0, mp).contains("payload"),
      s"payload bytes must not cross an exchange:\n$p")
  }
}
