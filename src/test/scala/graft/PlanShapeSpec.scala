package graft

/** Physical-plan shape assertions — the scale properties SCALE.md claims
  * must hold in the plans Catalyst actually produces, not just in prose:
  * filter/column pushdown reaching the parquet scan, dimension broadcasts,
  * top-k planned as TakeOrderedAndProject / WindowGroupLimit, codegen'd
  * vector kernels, and shuffle-free narrow maps where the design promises
  * them. These are the `.explain` checks of the build brief, pinned.
  */
class PlanShapeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("driver smoke contract: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scan_project_filter: predicates and projection reach the parquet scan") {
    val p = plan("scan_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), LessThan(l_shipdate"))
    // 5-column ReadSchema (3 projected + 2 filter columns) — not the table
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double"))
  }

  test("topk_orderby_limit: TakeOrderedAndProject, zero shuffles") {
    val p = plan("topk_orderby_limit")
    assert(p.contains("TakeOrderedAndProject(limit=10"))
    assert(!p.contains("Exchange")) // per-partition top-k, merge on driver
  }

  test("broadcast_join_small_dim: dim side broadcast, fact scan pruned to 2 cols") {
    val p = plan("broadcast_join_small_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_brand:string>"))
    assert(p.contains("partial_sum")) // map-side combine before the shuffle
  }

  test("join_semi_topk: broadcast LEFT SEMI over a TakeOrdered top-5") {
    val p = plan("join_semi_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    assert(p.contains("TakeOrderedAndProject(limit=5"))
  }

  test("similarity_topk_bruteforce: codegen kernel + partial top-k before the shuffle") {
    val p = plan("similarity_topk_bruteforce")
    assert(p.contains("float_vec_dot(")) // FloatVecDot in the projection, not a UDF
    // rank<=k is planned as WindowGroupLimit: each partition forwards only
    // its local top-k into the window exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)"))
  }

  test("similarity_ann_ivf: assignment is a narrow map (no vec_id shuffle), probe joins on cell") {
    val p = plan("similarity_ann_ivf")
    // centroids are plan literals: the csim projections sit directly on the
    // file scan with no exchange keyed by vec_id anywhere
    assert(!p.contains("Exchange hashpartitioning(vec_id"))
    assert(p.contains("float_vec_dot(embedding"))
    assert(p.contains("BroadcastHashJoin [cell"))
  }

  // round-5 scale fixes, pinned: no partition-less window (the single-task
  // vocabulary sort) anywhere in the id-assignment family, and the
  // pigeonhole join is the shuffle-hash plan whose identical sides reuse
  // one exchange.

  test("dedup_minhash_lsh / text_fingerprint: hash ids — no Window, no join in the plan") {
    for (q <- Seq("dedup_minhash_lsh", "text_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q should not need any window")
      assert(!p.contains("Join"), s"$q should not need any join")
    }
  }

  test("dedup_simhash: df via wid-partitioned window, single scan of documents") {
    val p = plan("dedup_simhash")
    assert(!p.contains("WindowExec: No Partition"))
    assert(p.contains("Window"))
    // the df window must be keyed (partition-less would single-task the
    // vocabulary); and the scan→explode subtree appears exactly once
    assert(p.contains("hashpartitioning(wid"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    // round 12: exactly FOUR exchanges — (doc_id, wid) count (with
    // map-side partial combine: the skew-safe shape for Zipf-hot words),
    // wid window, (doc_id) signature agg, output range sort. Three would
    // mean the reverted repartition(wid) fusion is back (it shuffles raw
    // token occurrences so a hot word's whole corpus frequency lands in
    // one AQE-unsplittable reducer); five+ means a redundant shuffle.
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size === 4)
    assert(p.contains("partial_count")) // the combine the fusion would lose
  }

  test("dedup_simhash_hamming: shuffle-hash pigeonhole join on (k, v)") {
    val p = plan("dedup_simhash_hamming")
    assert(p.contains("ShuffledHashJoin [k"))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("sample_stratified_hash: per-source reservoir plans as WindowGroupLimit") {
    val p = plan("sample_stratified_hash")
    // each partition forwards only its local top-20 per source into the
    // window exchange — no global sort of the corpus
    assert(p.contains("WindowGroupLimit"))
  }

  test("join_range_views_before_purchase: banded range join is an EQUI-join") {
    val p = plan("join_range_views_before_purchase")
    // the whole point of banding: never the O(n*m) nested-loop plan a
    // naive inequality join gets
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("join_asof_latest_view: merge-sort formulation — window over a union, no join") {
    val p = plan("join_asof_latest_view")
    assert(p.contains("Union") && p.contains("Window"))
    assert(!p.contains("Join"), "as-of must not plan as a join")
  }

  test("topn_rollup_rest: TakeOrdered top-19, no partition-less window") {
    val p = plan("topn_rollup_rest")
    assert(p.contains("TakeOrderedAndProject(limit=19"))
    assert(!p.contains("Window"))
  }

  /** The nodes of the plan that ran: AQE's final plans, down into the
    * plans of the cached relations it read (an AQE plan string also prints
    * the initial plan, whose exchanges the final plan may have dropped).
    */
  private def nodesRun(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => nodesRun(a.executedPlan)
      case q: QueryStageExec => nodesRun(q.plan)
      case m: InMemoryTableScanExec => m +: nodesRun(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(nodesRun)
    }
  }

  /** The exchanges of the plan that ran (see [[nodesRun]]). */
  private def exchangesRun(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    nodesRun(p).collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e.nodeName }

  test("grains: one aggregate each, no Join, Window or BroadcastExchange") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import graft.analyze.Analyzers
    import graft.ingest.WorkloadViews
    // the workload-sized part of the pie, trend, bin and header family,
    // pinned HERE because the judged entries' own plans are local
    // relations split from these grains on the driver
    val v = WorkloadViews(spark.read.parquet(graft.queries.AnalyzerGates.fixtureDir))
    for ((name, g) <- Analyzers.grains(v)) {
      g.collect()
      val aggs = g.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      assert(aggs.size === 1, s"$name:\n${g.queryExecution.optimizedPlan}")
      val names = nodesRun(g.queryExecution.executedPlan).map(_.nodeName)
      for (op <- Seq("Join", "Window", "BroadcastExchange"))
        assert(!names.exists(_.contains(op)), s"$op in grain $name:\n${g.queryExecution.executedPlan}")
    }
    assert(plan("analyzer_operator_input").contains("LocalTableScan"))
    assert(plan("analyzer_scheduled_by_date").contains("LocalTableScan"))
  }

  /** The grains and the row-grain analyzers over `v`, each run once. */
  private def gridPlans(v: graft.ingest.WorkloadViews, rowAnalyzers: Seq[String])
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    (graft.analyze.Analyzers.grains(v).toSeq ++
      rowAnalyzers.map(a => a -> graft.analyze.Analyzers.all(v)(a)())).map { case (n, df) =>
      df.collect()
      n -> df.queryExecution.executedPlan
    }

  test("views: a small base is one partition and its analyzers run no exchange") {
    import graft.ingest.WorkloadViews
    val v = WorkloadViews(spark.read.parquet(graft.queries.AnalyzerGates.fixtureDir))
    assert(v.base.rdd.getNumPartitions === 1)
    // every grain, a sorted scatter and the scan- and join-view row
    // analyzers: none needs an exchange or a broadcast
    for ((a, p) <- gridPlans(v, Seq("peak_mem_by_query", "filter_selectivity_1",
        "walltime_vs_selectivity", "joins_sides")))
      assert(exchangesRun(p).isEmpty, s"$a ran an exchange over a small base:\n$p")
  }

  test("views: a base forced large by the AQE size confs keeps its exchanges") {
    import graft.ingest.WorkloadViews
    val confs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val v = try {
      confs.foreach(spark.conf.set(_, "1k"))
      WorkloadViews(spark.read.parquet(graft.queries.AnalyzerGates.fixtureDir).repartition(2))
    } finally confs.foreach(spark.conf.unset)
    assert(v.base.rdd.getNumPartitions === 2)
    val rowAnalyzers = Seq("walltime_vs_selectivity", "joins_sides")
    val large = gridPlans(v, "peak_mem_by_query" +: rowAnalyzers)
    for ((a, p) <- large)
      assert(exchangesRun(p).contains("Exchange"), s"$a lost its exchange over a large base:\n$p")
    // the scan and join views resolve nodes inside each query at any size
    val small = WorkloadViews(spark.read.parquet(graft.queries.AnalyzerGates.fixtureDir))
    for ((a, p) <- large ++ gridPlans(small, rowAnalyzers)) {
      val names = nodesRun(p).map(_.nodeName)
      for (op <- Seq("Join", "Window", "BroadcastExchange"))
        assert(!names.exists(_.contains(op)), s"$op in $a:\n$p")
    }
  }

  test("joins: each probe/build lookup runs once per join node") {
    import graft.ingest.WorkloadViews
    val v = WorkloadViews(spark.read.parquet(graft.queries.AnalyzerGates.fixtureDir))
    v.joins.collect()
    val plans = nodesRun(v.joins.queryExecution.executedPlan)
      .map(_.simpleString(Int.MaxValue))
    // one lookup over `operators` for the probe and one for the build, both
    // inside the per-query sites array: none inlined into a pushed filter
    val lookups = plans.map("filter\\(operators#".r.findAllMatchIn(_).size).sum
    assert(lookups === 2, plans.mkString("\n"))
  }

  test("stats_moments: one partial+final aggregation pair carries all six moments") {
    val p = plan("stats_moments")
    // moments are mergeable partials: exactly one aggregation exchange
    // (the second Exchange is the result orderBy), never a pass per moment
    assert(p.contains("partial_count") && p.contains("partial_sum"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("sample_mixture_temperature: thresholds broadcast back, no sort-merge join") {
    val p = plan("sample_mixture_temperature")
    // the per-source threshold table is tiny at any corpus size: it must
    // ride a broadcast into the accept filter, never shuffle the docs
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dedup_semantic_clusters: pairs join on cell, never a cartesian product") {
    val p = plan("dedup_semantic_clusters")
    // within-cell pairing is an equi-join keyed on the cell id (broadcast
    // at this sf, shuffle at scale — either way cell-keyed); the SemDeDup
    // point is that the all-pairs matrix never exists
    assert("Join \\[cell#\\d+L\\], \\[cell#\\d+L\\]".r.findFirstIn(p).isDefined)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // cell assignment is a narrow map on the scan: codegen'd kernel, no UDF
    assert(p.contains("float_vec_dot("))
  }

  test("text_quality_classifier: join-free narrow explodes, map-side combine") {
    val p = plan("text_quality_classifier")
    // no vocabulary table, no weight join — the model is a formula in the
    // projection; the only wide ops are the two keyed aggregations
    assert(!p.contains("Join"))
    assert(p.contains("Union"))
    assert(p.contains("partial_sum"))
    assert("Generate explode".r.findAllIn(p).size === 2) // unigrams + bigrams
  }

  test("set_intersect_users: distinct sides meet in a broadcast LEFT SEMI") {
    val p = plan("set_intersect_users")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("skew_salted_agg: two-stage aggregation — salted exchange then key exchange") {
    val p = plan("skew_salted_agg")
    // stage 1 shuffles on (user_id, salt) — a hot key splits 8 ways;
    // stage 2's exchange carries one row per (key, salt), not raw rows
    assert(p.contains(", salt"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2)
  }

  test("join_skew_salted: shuffle join keyed by salt, no broadcast, no unsalted hot exchange") {
    val p = plan("join_skew_salted")
    // the join is a SHUFFLE join (the both-sides-big posture the gate
    // models) and its keys CARRY THE SALT — the hot key's rows land on
    // 8 reducers, never one
    assert(p.contains("ShuffledHashJoin [skew_key"))
    assert("ShuffledHashJoin \\[skew_key#\\d+L?, salt#\\d+L?\\]".r
      .findFirstIn(p).isDefined, s"join not keyed by (skew_key, salt):\n$p")
    assert(!p.contains("BroadcastHashJoin"))
    // both join-input exchanges are salted; the only key-only exchange
    // is the post-pre-agg combine (one row per (key, salt) by then)
    assert("Exchange hashpartitioning\\(skew_key#\\d+L?, salt#\\d+L?".r
      .findFirstIn(p).isDefined)
    assert("Exchange hashpartitioning\\(c_custkey#\\d+L?, salt#\\d+L?".r
      .findFirstIn(p).isDefined)
    // pre-aggregation happens per (key, salt) BEFORE the key-only
    // exchange, so the agg never re-forms the unsplit hot partition
    assert(p.contains("partial_count"))
    // dim-side salt replication is the 8-wide array explode of the hot
    // row only — never a cross join
    assert(p.contains("Generate explode") && !p.contains("CartesianProduct"))
  }

  test("embedding_kmeans_iter: assignment is a narrow map (no vec_id shuffle)") {
    val p = plan("embedding_kmeans_iter")
    // seed centroids ride INSIDE the one fused nearest_centroid expression
    // (r17 — constant plan size at any k; the unused norm column prunes
    // away entirely); only the (cell, dim) update aggregation shuffles
    assert(!p.contains("Exchange hashpartitioning(vec_id"))
    assert(p.contains("nearest_centroid(embedding"))
  }

  test("dedup_decontaminate: benchmark membership is a broadcast LEFT SEMI") {
    val p = plan("dedup_decontaminate")
    // the eval-set n-gram table ships to every task; the training corpus
    // checks contamination map-side and is never shuffled by n-gram
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("text_pii_scrub / text_repetition_score: narrow maps, no window, no global sort") {
    for (q <- Seq("text_pii_scrub", "text_repetition_score")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q should not need any window")
    }
    // top-20 repetitive docs is a TakeOrdered, not a full sort
    assert(plan("text_repetition_score").contains("TakeOrderedAndProject(limit=20"))
  }

  test("sample_weighted_hash: acceptance is a narrow map — no join, no window") {
    val p = plan("sample_weighted_hash")
    // score, threshold, and hash draw are all per-row projections on the
    // scan; only the per-source census aggregation shuffles
    assert(!p.contains("Join"), "weighted sampling must not need a join")
    assert(!p.contains("Window"), "weighted sampling must not need a window")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("dedup_incremental_anti: digest-keyed join carries no payload column") {
    val p = plan("dedup_incremental_anti")
    assert(p.contains("Join"))
    // the payload is consumed by the md5 projection at the scan and never
    // survives past it: every plan line naming the text column is either a
    // scan or the digest projection itself
    val leaks = p.linesIterator.filter(_.contains("text#"))
      .filterNot(l => l.contains("FileScan") || l.contains("ReadSchema")
        || l.contains("md5(") || l.contains("DataFilters"))
    assert(leaks.isEmpty, s"payload leaked past the digest projection: ${leaks.mkString("; ")}")
  }

  test("text_keywords_tfidf: per-source top-5 plans as WindowGroupLimit") {
    val p = plan("text_keywords_tfidf")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("WindowExec: No Partition"))
  }

  test("text_boilerplate_ngrams: top-20 is a TakeOrdered over the aggregate") {
    val p = plan("text_boilerplate_ngrams")
    assert(p.contains("TakeOrderedAndProject(limit=20"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("filter_length_outliers: learned thresholds broadcast, filter map-side") {
    val p = plan("filter_length_outliers")
    // the per-source threshold table is tiny at any corpus size — the row
    // filter must join it broadcast, never shuffling the corpus by source
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("percentile"))
  }

  test("pack_sequences_greedy: packing window is sharded, never per-source-global") {
    val p = plan("pack_sequences_greedy")
    assert(p.contains("Window"))
    assert(!p.contains("WindowExec: No Partition"))
    // partition key must include the hash shard alongside source — a
    // source-only window would sort one source's full corpus in one task
    assert(p.contains("hashpartitioning(source") && p.contains("shard"))
  }

  test("similarity_recall_calibration: both sides keep the shared contracts") {
    val p = plan("similarity_recall_calibration")
    // IVF side: literal centroids — no vec_id exchange; exact side: the
    // brute-force pipeline; both rank via partial WindowGroupLimit
    assert(!p.contains("Exchange hashpartitioning(vec_id"))
    assert(p.contains("float_vec_dot(embedding"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("text_bm25_retrieval: TakeOrdered query terms broadcast, top-10 TakeOrdered") {
    val p = plan("text_bm25_retrieval")
    // 3 query terms via per-partition top-k, broadcast into the scoring
    // join; final top-10 likewise TakeOrdered — the ranking window only
    // ever sees those ≤10 rows, never a partition-less corpus sort
    assert(p.contains("TakeOrderedAndProject(limit=3"))
    assert(p.contains("TakeOrderedAndProject(limit=10"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("WindowExec: No Partition"))
  }

  test("dedup_source_overlap_matrix: gram relation equi-joins on gh; only the source list crosses") {
    val p = plan("dedup_source_overlap_matrix")
    // the corpus-sized gram relation must meet itself in an EQUI-join on
    // the gram digest, never a cartesian product
    assert("Join \\[gh#\\d+\\], \\[gh#\\d+\\]".r.findFirstIn(p).isDefined,
      "gram self-join must be gh-keyed")
    assert(!p.contains("CartesianProduct"))
    // the |sources|² frame comes from crossing the TINY distinct-source
    // list — the only nested-loop join allowed is that broadcast cross
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"expected at most the source×source cross, saw $bnlj")
    // the df cap rides a gh-partitioned window, not a separate agg+join
    assert(p.contains("Window") || p.contains("WindowGroupLimit"))
  }

  test("dedup_embedding_cosine(+_wide): banded LSH candidates only, no corpus cartesian") {
    // re-planned round 16; parameterized round 17: the exact-cosine side
    // runs on band-equi-join candidates — a corpus×corpus cartesian (the
    // r15 shape) must never reappear in this plan, at EITHER judged band
    // width (the shared lshBandedPairs definition owns both)
    for (gate <- Seq("dedup_embedding_cosine", "dedup_embedding_cosine_wide",
        "dedup_embedding_cosine_b3")) {
      val p = plan(gate)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$gate regressed to an all-pairs cartesian")
      // both band joins are key-equi joins on the band columns
      assert("Join \\[band0#\\d+".r.findFirstIn(p).isDefined
        || "\\[b0a#\\d+\\], \\[b0b#\\d+\\]".r.findFirstIn(p).isDefined
        || p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$gate: band candidate joins must be hash/merge equi-joins")
      assert(p.contains("TakeOrderedAndProject(limit=10"))
    }
  }

  test("ann_assign_fused_k1024: join-free one-node argmax at production k") {
    // the fused gate's plan must be a scan + ONE nearest_centroid
    // projection + the census aggregation — no join against a centroid
    // table, no cartesian, and the argmax must not fan out per centroid
    // (the pre-r17 shape that stopped compiling at k=64)
    val p = plan("ann_assign_fused_k1024")
    assert(!p.contains("Join"), "k=1024 assignment must not join centroids")
    assert("nearest_centroid".r.findAllIn(p).length <= 2, // project (+partial agg copy)
      "per-centroid fan-out reappeared at k=1024")
  }

  test("ann_encode_fused_k256: join-free fused encode, one node per subspace") {
    // round 19 (the r18 verdict's ask #5): the production-k* encode must
    // stay four fused nearest_codeword nodes over one scan — no codebook
    // join, no cartesian, no per-codeword fan-out (the pre-r17 shape that
    // cannot plan at k* = 256) — and inside whole-stage codegen
    val df = SparkEntry.queries("ann_encode_fused_k256")(spark, d)
    df.collect() // finalize the adaptive plan — codegen spans exist only there
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "k*=256 encode must not join codebooks")
    val fused = "nearest_codeword".r.findAllIn(p).length
    assert(fused <= 8, // 4 subspaces (+ a generate/project copy each)
      s"per-codeword fan-out reappeared at k*=256 ($fused nodes)")
    // codegen'd spans print as `*(n)` in the finalized tree string
    assert(p.contains("*("),
      s"k*=256 encode fell out of whole-stage codegen:\n$p")
  }

  test("ann_probe_fused_k1024: join-free two-rank probe at production k, bounded sample pushed") {
    // the rank expression's production shape: TWO one-node fused rank
    // argmaxes over one pruned scan — no centroid join, no per-centroid
    // fan-out — and the calibration's vec_id < 200 sample bound must
    // reach the parquet scan (at corpus scale the sample is the point)
    val p = plan("ann_probe_fused_k1024")
    assert(!p.contains("Join"), "k=1024 probe must not join centroids")
    val fused = "nearest_centroid_rank".r.findAllIn(p).length
    assert(fused <= 4, // 2 ranks (+ a generate/project copy each)
      s"per-centroid fan-out reappeared in the k=1024 probe ($fused nodes)")
    assert("LessThan\\(vec_id,200\\)".r.findFirstIn(p).isDefined,
      "sample bound must reach the scan")
  }

  test("similarity_ann_ivf_nprobe2: fused rank argmaxes on the query side, cell equi-join") {
    // the multi-probe knob must stay join-free on the ASSIGNMENT side:
    // two nearest_centroid_rank nodes expand the query to its top-2
    // cells, candidates keep their one-node argmax, and the only join is
    // the cell equi-join — never a cartesian against the centroid table
    val p = plan("similarity_ann_ivf_nprobe2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "nprobe probe regressed to a cartesian")
    assert("nearest_centroid_rank".r.findAllIn(p).nonEmpty,
      "query side lost the fused rank argmax")
  }

  test("retrieval_rrf_fusion / similarity_matryoshka_recall: bounded legs, pushed bounds") {
    // the fusion's scaling surfaces are its two retrieval legs — each
    // must end in a bounded top-10 (TakeOrdered), never a global sort;
    // the matryoshka calibration's all-pairs join is allowed ONLY
    // because the query side is the bounded vec_id < 5 sample, pushed
    // into the scan (the dedup_embedding_recall rule)
    val p = plan("retrieval_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      "fusion legs must be bounded top-10s")
    val m = plan("similarity_matryoshka_recall")
    assert("LessThan\\(vec_id,5\\)".r.findFirstIn(m).isDefined,
      "query-sample bound must reach the scan")
  }

  test("curate_e2e_embedding: banded candidates only, never an all-pairs cartesian") {
    // the product stage rides the same lshBandedPairsOf definition as the
    // judged dedup gates — a survivors×survivors cartesian must never
    // appear however the composition evolves
    val p = plan("curate_e2e_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "curate embedding-dedup regressed to an all-pairs cartesian")
  }

  test("dedup_embedding_recall: the exact side is the BOUNDED sample, filter pushed") {
    // the calibration gate's all-pairs join is allowed ONLY because both
    // sides are the vec_id < 200 sample — the bound must be pushed into
    // the scan, or at corpus scale the 'sample' reads 100 TB to keep 200
    // rows
    val p = plan("dedup_embedding_recall")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,200)]")
      || "LessThan\\(vec_id,200\\)".r.findFirstIn(p).isDefined,
      "sample bound must reach the parquet scan")
  }

  test("text_tokenize_bpe / pack_sequences_bpe: the merge chain is a join-free narrow map") {
    // 32 nested replaces per word must stay inside the row's projection:
    // no join, no explode-shuffle of words — tokenization at scan speed
    val p1 = plan("text_tokenize_bpe")
    assert(!p1.contains("Join"), "tokenize must not join")
    assert(!p1.contains("Generate"), "tokenize must not explode words")
    val p2 = plan("pack_sequences_bpe")
    assert(!p2.contains("Join"), "packing must not join")
    assert(!p2.contains("Generate"), "packing must not explode words")
  }

  test("multimodal decode gates: narrow synth+decode map, id-only scan") {
    for (name <- Seq("multimodal_decode_wav", "multimodal_decode_ppm")) {
      val p = plan(name)
      // synth + decode run inside one mapPartitions over doc_id alone —
      // payloads never exist outside the task that synthesized them; the
      // only exchange is the output-order range sort
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"), name)
      assert(!p.contains("Join") && !p.contains("HashAggregate"), name)
      assert(!p.contains("Exchange hashpartitioning"), name)
    }
  }
}
