package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

/** Plan-quality regression gate over EVERY declared query: the two
  * scale-killers that cannot be caught by row-level correctness —
  * single-partition windows (all data through one task) and cartesian
  * products (quadratic blow-up) — must never appear in any plan.
  * Broadcast nested-loop joins from explicit `crossJoin(broadcast(...))`
  * against one-row/seed frames are fine and are NOT CartesianProduct
  * nodes.
  */
class PlanQualitySpec extends SparkSpec {

  test("filters and projections reach the parquet scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scan(name: String): FileSourceScanExec =
      // sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its
      // children from collect until execution
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.sparkPlan.collectFirst {
          case s: FileSourceScanExec => s
        }.get
    // q2: both predicates pushed, and only the 5 needed of lineitem's
    // 11 columns read
    val s2 = scan("q2_project_filter")
    val pushed2 = s2.metadata("PushedFilters")
    assert(pushed2.contains("GreaterThan(l_quantity"), pushed2)
    assert(pushed2.contains("GreaterThanOrEqual(l_discount"), pushed2)
    assert(s2.requiredSchema.size <= 5,
      s"q2 reads ${s2.requiredSchema.size} columns: ${s2.requiredSchema}")
    // q1: 6 needed columns, shipdate filter pushed
    val s1 = scan("q1_pricing_summary")
    assert(s1.metadata("PushedFilters").contains("l_shipdate"),
      s1.metadata("PushedFilters"))
    assert(s1.requiredSchema.size <= 6,
      s"q1 reads ${s1.requiredSchema.size} columns")
  }

  test("round-6 plan shapes: broadcast vocab, rank-limit pushdown, zero-shuffle scoring") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x55: the bounded vocab side must be a broadcast join, never a
    // shuffle join of corpus tokens against corpus tokens
    assert(phys("x55_vocab_coverage").contains("BroadcastHashJoin"),
      "x55 lost its broadcast vocab join")
    // x57: Spark's rank-limit pushdown must apply the cap BEFORE the
    // exchange (partial top-k per partition)
    assert(phys("x57_source_cap").contains("WindowGroupLimit"),
      "x57 lost the WindowGroupLimit partial top-k")
    // x60: classifier scoring is a pure projection — the ONLY exchange
    // in the plan is the final presentation sort
    val x60 = phys("x60_quality_classifier")
    val exchanges = "Exchange".r.findAllIn(x60).length
    assert(exchanges <= 2, // rangepartitioning sort exchange (+AQE read)
      s"x60 plans $exchanges exchanges — scoring should not shuffle:\n$x60")
  }

  test("round-7 plan shapes: x73 scores via broadcast model joins") {
    // the model side (bigram counts / prefix totals) is
    // vocabulary-bounded — the scoring join must broadcast it, never
    // shuffle the corpus-sized probe against it at fixture scale
    val x73 = SparkEntry.queries("x73_lm_quality")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(x73.contains("BroadcastHashJoin"),
      "x73 lost its broadcast model join")
    assert(!x73.contains("SortMergeJoin"),
      "x73 shuffles the probe against the vocabulary-bounded model")
    // x74: the per-doc rank cut must keep k rows per partition BEFORE
    // the exchange
    assert(SparkEntry.queries("x74_knn_neardups")(spark, sf0001)
      .queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "x74 lost the WindowGroupLimit partial top-k")
  }

  test("round-10 plan gates: x39 one-scan pin and x74 checkpoint barrier") {
    import org.apache.spark.sql.catalyst.InternalRow
    // x39's ReuseExchange pin (the always-true tf >= 1 guard keeping
    // column pruning from specializing the df branch) only shows in the
    // FINALIZED adaptive plan — run the query, then assert the reuse,
    // so a Catalyst upgrade that silently re-splits the corpus scan
    // fails here instead of costing a second scan at 100 TB.
    val df = SparkEntry.queries("x39_tfidf_topk")(spark, sf0001)
    val rdd = df.queryExecution.toRdd
    spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => { while (it.hasNext) it.next(); () })
    val finalized = df.queryExecution.executedPlan.toString
    assert(finalized.contains("ReusedExchange"),
      s"x39 re-split the corpus scan (ReuseExchange pin regressed):\n$finalized")
    // x74 (r20, reversing the r10 barrier): the symmetrize union's two
    // branches must SHARE the candidate-distinct exchange via
    // ReuseExchange — the re-measured cheaper shape (1.00 s vs 1.36 s
    // warm with the old localCheckpoint barrier). Only the finalized
    // adaptive plan shows the reuse, so run it first (the x39 pin's
    // protocol). If this regresses, the LSH subtree re-runs once per
    // union branch — two corpus passes at 100 TB.
    val x74df = SparkEntry.queries("x74_knn_neardups")(spark, sf0001)
    val x74rdd = x74df.queryExecution.toRdd
    spark.sparkContext.runJob(x74rdd,
      (it: Iterator[InternalRow]) => { while (it.hasNext) it.next(); () })
    val x74 = x74df.queryExecution.executedPlan.toString
    assert(x74.contains("ReusedExchange"),
      s"x74 symmetrize union re-splits the LSH subtree (ReuseExchange pin regressed):\n$x74")
  }

  test("round-11 plan shapes: x89 zero-shuffle kernel, x90 capped window shapes") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x89: the extraction is a pure per-row projection — the only
    // exchange is the final presentation sort
    val x89 = phys("x89_main_content")
    val exchanges89 = "Exchange".r.findAllIn(x89).length
    assert(exchanges89 <= 2, // rangepartitioning sort (+AQE read)
      s"x89 plans $exchanges89 exchanges — extraction should not shuffle:\n$x89")
    assert(x89.contains("HtmlMainContent") ||
      x89.toLowerCase.contains("htmlmaincontent"),
      "x89 lost the native kernel projection")
    // x90: the dedup aggregate must be partial (map-side combine
    // before its exchange), and the domain-cap window partitioned
    val x90 = phys("x90_url_canonical")
    assert(x90.contains("partial_min") || x90.contains("partial min") ||
      "HashAggregate".r.findAllIn(x90).length >= 2,
      s"x90 lost the partial aggregate:\n$x90")
    assert(!x90.contains("No Partition Defined"),
      "x90 window lost its domain partitioning")
    // x91: one kernel scan + threshold projection — pure per-row, the
    // only exchange is the final presentation sort
    val x91 = phys("x91_gopher_rules")
    val exchanges91 = "Exchange".r.findAllIn(x91).length
    assert(exchanges91 <= 2, // rangepartitioning sort (+AQE read)
      s"x91 plans $exchanges91 exchanges — the rule suite should not shuffle:\n$x91")
    assert(x91.toLowerCase.contains("gophersignals"),
      "x91 lost the native kernel projection")
    // x93: encode is one kernel projection, the cut is a
    // TakeOrderedAndProject (per-partition top-k) — the only exchange
    // is the final presentation sort
    val x93 = phys("x93_pq_ann")
    assert(x93.contains("TakeOrderedAndProject"),
      s"x93 lost the per-partition top-k cut:\n$x93")
    assert(x93.toLowerCase.contains("pqassigncodes"),
      "x93 lost the native assignment kernel")
    val exchanges93 = "Exchange".r.findAllIn(x93).length
    assert(exchanges93 <= 2, // rangepartitioning sort (+AQE read)
      s"x93 plans $exchanges93 exchanges:\n$x93")
    // x95: the inverted-list prune must reach the scan side (a Filter
    // on the coarse cell BEFORE ranking), codes stay a kernel
    // projection, the cut is per-partition
    val x95 = phys("x95_ivfpq_ann")
    assert(x95.contains("TakeOrderedAndProject"),
      s"x95 lost the per-partition top-k cut:\n$x95")
    assert(x95.toLowerCase.contains("pqassigncodes"),
      "x95 lost the native assignment kernel")
    assert(x95.toLowerCase.contains("filter"),
      "x95 lost the probed-cell prune filter")
  }

  test("round-11 batch-5/6 plan shapes: x98 broadcast+TakeOrdered, x99 zero-shuffle, x100 kernel") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x98: the cut is a per-partition top-k, and the df/stats model
    // sides ride as broadcasts — a shuffle join there would move the
    // corpus for a <= |query|-row table
    val x98 = phys("x98_bm25_search")
    assert(x98.contains("TakeOrderedAndProject"),
      s"x98 lost the per-partition top-k cut:\n$x98")
    assert(x98.contains("BroadcastHashJoin"),
      s"x98 lost the broadcast df join:\n$x98")
    assert(!x98.contains("SortMergeJoin"),
      s"x98 degraded a model join to a shuffle join:\n$x98")
    // x99: one kernel scan — the only exchange is the final
    // presentation sort
    val x99 = phys("x99_blocklist")
    val exchanges99 = "Exchange".r.findAllIn(x99).length
    assert(exchanges99 <= 2, // rangepartitioning sort (+AQE read)
      s"x99 plans $exchanges99 exchanges — the gate should not shuffle:\n$x99")
    assert(x99.toLowerCase.contains("blocklisthits"),
      "x99 lost the native kernel scan")
    // x100: the (fp, id, p) rows must come from the ONE checkpointed
    // compute (the barrier shows as an ExistingRDD scan); the NGramMd5
    // kernel itself is behind the barrier, so its plan presence is
    // gated on x49 below, which runs the same kernel un-checkpointed
    val x100 = phys("x100_exact_substr")
    assert(x100.toLowerCase.contains("existingrdd"),
      s"x100 lost its localCheckpoint barrier:\n$x100")
    val x49 = phys("x49_winnowing")
    assert(x49.toLowerCase.contains("ngrammd5"),
      "x49/x100 lost the NGramMd5 kernel")
  }

  test("round-12 plan shapes: x111 broadcast model, x113 barrier+rank " +
      "cut, x114 WindowGroupLimit pushdown") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x111: every model-sized table (ctx/cont/mid/pred/bt and the
    // scored model itself) must ride the joins as broadcasts — a
    // shuffle join there moves the corpus for model-sized tables —
    // and the trigram-type table comes from ONE checkpointed compute
    val x111 = phys("x111_kn_trigram_quality")
    assert(!x111.contains("SortMergeJoin"),
      s"x111 degraded a model join to a shuffle join:\n$x111")
    // r15: the LM slot persists (InMemoryTableScan) instead of
    // localCheckpointing (ExistingRDD) so evicted models recompute
    // rather than crash — the barrier node changed spelling
    assert(x111.toLowerCase.contains("inmemorytablescan"),
      s"x111 lost its trigram-table cache barrier:\n$x111")
    // x113: the one-scan barrier feeds sizes + df-cap + both pair
    // sides, and the per-A rank cut stays a partitioned top-1
    // (WindowGroupLimit applies)
    val x113 = phys("x113_containment_capped")
    assert(x113.toLowerCase.contains("existingrdd"),
      s"x113 lost its tokenize-once checkpoint barrier:\n$x113")
    assert(x113.contains("WindowGroupLimit"),
      s"x113 lost the rank-cut group limit:\n$x113")
    // x114: the k-smallest-per-group must push down as a
    // WindowGroupLimit (map-side Partial before the shuffle — the
    // bounded-heap behavior a production KMV aggregate would have)
    val x114 = phys("x114_portable_distinct")
    assert(x114.contains("WindowGroupLimit"),
      s"x114 lost the top-k window pushdown:\n$x114")
  }

  test("round-13 plan shapes: x123 domain gate is one zero-join " +
      "projection; x118 rank cut pushes down") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x123: canonicalize → suffix set → frozen-list intersect is ONE
    // per-row projection — no join anywhere, and the only exchange is
    // the presentation sort
    val x123 = phys("x123_domain_blocklist")
    assert(!x123.contains("Join"),
      s"x123 plans a join — the frozen list must ride as a literal:\n$x123")
    val exchanges123 = "Exchange".r.findAllIn(x123).length
    assert(exchanges123 <= 2, // rangepartitioning sort (+AQE read)
      s"x123 plans $exchanges123 exchanges — the gate should not " +
        s"shuffle:\n$x123")
    // x125: the FIM rewrite is ONE stateless per-row projection — no
    // join, no aggregation, no window; only the presentation sort may
    // exchange. A rewriter that shuffles would never stream a 100 TB
    // corpus at scan speed.
    val x125 = phys("x125_fim_transform")
    assert(!x125.contains("Join") && !x125.contains("Window") &&
        !x125.contains("Aggregate"),
      s"x125 must be a pure projection:\n$x125")
    val exchanges125 = "Exchange".r.findAllIn(x125).length
    assert(exchanges125 <= 2,
      s"x125 plans $exchanges125 exchanges — the rewrite should not " +
        s"shuffle:\n$x125")
    // x127: the per-stratum reservoir top-k must push down as a
    // WindowGroupLimit (map-side bounded heap BEFORE the shuffle —
    // the distributed shape of the A-Res reservoir itself)
    val x127 = phys("x127_weighted_sample")
    assert(x127.contains("WindowGroupLimit"),
      s"x127 lost the reservoir top-k pushdown:\n$x127")
    assert(!x127.contains("Join"),
      s"x127 must not join:\n$x127")
    // x118: the maxRank head cut must apply DIRECTLY above the rank
    // window — before quantization and the regression aggregate — so
    // the tail never reaches the sums. (A WindowGroupLimit would be
    // even better, but Spark only infers one below
    // spark.sql.window.group.limit.threshold = 1000, and the cap is
    // 10⁵; the window input is the vocabulary-sized TYPE table either
    // way.)
    val x118 = phys("x118_zipf_audit")
    assert("Filter \\(_we\\d+#\\d+L? <= 100000\\)\\s*\\n\\s*\\+- Window"
        .r.findFirstIn(x118).isDefined,
      s"x118 lost the rank-cap filter directly above the window:\n$x118")
  }

  test("round-14/15 plan shapes: x124 5-gram scoring chain is one " +
      "fused window pass over the cached model, broadcast to the probe") {
    // r15 fusion (the r14 verdict's item 5): the nine model tables are
    // WINDOW aggregates over the ONE pruned 5-gram type table — the
    // r14 shape was nine aggregate exchanges re-joined back through
    // nine BroadcastHashJoins. The gate now pins: NO shuffle join
    // anywhere (a SortMergeJoin would move the corpus for a
    // model-sized side), the probe join still rides a broadcast, the
    // 5-gram rows and the scored model both come from cached computes
    // (InMemoryTableScan — the corpus-keyed LM slots), and the window
    // chain stays fused: at most the w4 repartition + the w5 window
    // exchange on the model side.
    val x124df = SparkEntry.queries("x124_kn5_quality")(spark, sf0001)
    val x124 = x124df.queryExecution.executedPlan.toString
    assert(!x124.contains("SortMergeJoin"),
      s"x124 degraded a model join to a shuffle join:\n$x124")
    assert(x124.contains("BroadcastHashJoin"),
      s"x124 lost the broadcast probe join:\n$x124")
    assert(x124.toLowerCase.contains("inmemorytablescan"),
      s"x124 lost its 5-gram-table cache barrier:\n$x124")
    assert(x124.contains("Window"),
      s"x124 lost the fused window model chain:\n$x124")
    // x129: the production blocklist gate must join the rule table as
    // a BROADCAST (a shuffle join there would move the corpus for a
    // model-sized list) and shuffle only the per-doc aggregate + the
    // presentation sort — the corpus side never exchanges text-width
    // rows pre-aggregate.
    val x129 = SparkEntry.queries("x129_blocklist_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(x129.contains("BroadcastHashJoin"),
      s"x129 lost the broadcast rule join:\n$x129")
    assert(!x129.contains("SortMergeJoin"),
      s"x129 degraded the rule join to a shuffle join:\n$x129")
    // corpus-side shuffles only: the rule-table dedup exchange
    // (partitioned by _rule, a model-sized local table) is excluded
    val shuffles129 =
      "Exchange (hash|range)partitioning\\(([^)]*)".r
        .findAllMatchIn(x129).map(_.group(2))
        .filterNot(_.startsWith("_rule")).length
    assert(shuffles129 <= 2,
      s"x129 plans $shuffles129 corpus-side shuffles (expected agg + " +
        s"sort):\n$x129")
    // x131: the domain split is ONE stateless projection — no join,
    // no window, no aggregate; only the presentation sort exchanges
    val x131 = SparkEntry.queries("x131_domain_split")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x131.contains("Join") && !x131.contains("Window") &&
        !x131.contains("Aggregate"),
      s"x131 must be a pure projection:\n$x131")
    assert("Exchange (hash|range)partitioning".r
        .findAllIn(x131).length <= 1,
      s"x131 should only exchange for the presentation sort:\n$x131")
    // x132: all three rank windows ride ONE stratum exchange, the
    // top-k cut pushes down as WindowGroupLimit, and nothing joins
    val x132 = SparkEntry.queries("x132_rank_fusion")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(x132.contains("WindowGroupLimit"),
      s"x132 lost the leaderboard top-k pushdown:\n$x132")
    assert(!x132.contains("Join"), s"x132 must not join:\n$x132")
    assert("Exchange hashpartitioning".r.findAllIn(x132).length <= 1,
      s"x132 should serve all rank windows from one stratum " +
        s"exchange:\n$x132")
    // x137: same contract as x132 — every rank window rides ONE
    // stratum exchange (the per-stratum aggregate reuses that
    // partitioning), and nothing joins; only the presentation sort
    // adds a range exchange
    val x137 = SparkEntry.queries("x137_spearman")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x137.contains("Join"), s"x137 must not join:\n$x137")
    assert("Exchange hashpartitioning".r.findAllIn(x137).length <= 1,
      s"x137 should serve all rank windows and the stratum aggregate " +
        s"from one exchange:\n$x137")
    // x135: the funnel is a linear chain of user-keyed equi-joins —
    // no window anywhere, no shuffle join wider than the user key,
    // and the step frontiers stay aggregate-shaped
    val x135 = SparkEntry.queries("x135_funnel")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x135.contains("Window"), s"x135 must not window:\n$x135")
    assert(!x135.contains("CartesianProduct"),
      s"x135 must not plan a cartesian:\n$x135")
  }

  test("round-14 third wave plan shapes: x144-x148 stay join-free " +
      "(or stratum-sized) with bounded corpus-side exchanges") {
    // x144: support-sized aggregate + ONE stratum exchange for the
    // ECDF windows; the final stratum aggregate reuses it — no joins
    val x144 = SparkEntry.queries("x144_ks_drift")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x144.contains("Join"), s"x144 must not join:\n$x144")
    assert("Exchange hashpartitioning".r.findAllIn(x144).length <= 2,
      s"x144 should plan only the support aggregate and the stratum " +
        s"window exchange:\n$x144")
    // x145: domain-mass aggregate + ONE stratum exchange for rank /
    // totals windows; final aggregate reuses it — no joins
    val x145 = SparkEntry.queries("x145_concentration")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x145.contains("Join"), s"x145 must not join:\n$x145")
    assert("Exchange hashpartitioning".r.findAllIn(x145).length <= 2,
      s"x145 should plan the group aggregate + one stratum " +
        s"exchange:\n$x145")
    // x146: three nested aggregates, each map-side combinable — no
    // window, no join
    val x146 = SparkEntry.queries("x146_burstiness")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x146.contains("Join") && !x146.contains("Window"),
      s"x146 must be pure nested aggregation:\n$x146")
    assert("Exchange hashpartitioning".r.findAllIn(x146).length <= 3,
      s"x146 plans more than its three aggregate exchanges:\n$x146")
    // x147: ONE aggregate behind a stateless projection
    val x147 = SparkEntry.queries("x147_doclen_spectrum")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x147.contains("Join") && !x147.contains("Window"),
      s"x147 must be one aggregate:\n$x147")
    assert("Exchange hashpartitioning".r.findAllIn(x147).length <= 1,
      s"x147 should plan exactly one aggregate exchange:\n$x147")
    // x148: the x40 explosion partial-aggregates BEFORE its exchange
    // (the exchange carries the (strata x B) grid, not 40 corpora),
    // and the only join is the stratum-sized obs-vs-ci assembly
    val x148df = SparkEntry.queries("x148_bootstrap_ci")(spark, sf0001)
    val x148 = x148df.queryExecution.executedPlan.toString
    assert(!x148.contains("CartesianProduct"),
      s"x148 must not plan a cartesian:\n$x148")
    assert(x148.contains("partial_sum") || x148.contains("HashAggregate"),
      s"x148 lost the map-side partial aggregate:\n$x148")
    // x149: three nested map-side aggregates, no window, no join
    val x149 = SparkEntry.queries("x149_user_entropy")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x149.contains("Join") && !x149.contains("Window"),
      s"x149 must be pure nested aggregation:\n$x149")
    assert("Exchange hashpartitioning".r.findAllIn(x149).length <= 3,
      s"x149 plans more than its three aggregate exchanges:\n$x149")
    // x150: ONE stratum exchange serves the rank window, the count
    // window and the final aggregate — no joins
    val x150 = SparkEntry.queries("x150_quartiles")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x150.contains("Join"), s"x150 must not join:\n$x150")
    assert("Exchange hashpartitioning".r.findAllIn(x150).length <= 2,
      s"x150 should serve windows and aggregate from one stratum " +
        s"exchange:\n$x150")
    // x151: union → flag aggregate → stratum rollup; no windows, no
    // joins
    val x151 = SparkEntry.queries("x151_domain_churn")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x151.contains("Join") && !x151.contains("Window"),
      s"x151 must be union + two aggregates:\n$x151")
    assert("Exchange hashpartitioning".r.findAllIn(x151).length <= 2,
      s"x151 plans more than its two aggregate exchanges:\n$x151")
  }

  test("round-15 hint discipline: q4/q5 never force-broadcast " +
      "SF-growing dimensions; fixed-size nation/region keep theirs") {
    // customer/supplier grow linearly with scale factor — a hard
    // broadcast() hint on them is a driver OOM at 100× (r14 verdict
    // item 4). nation (25 rows) and region (5 rows) are constant-size
    // per the TPC-H spec, so their hints are safe forever.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hintedRelations(name: String): Seq[String] = {
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.analyzed
      plan.collect { case h: ResolvedHint =>
        // identify the hinted side by which table's key columns it has
        val cols = h.child.output.map(_.name).toSet
        if (cols.contains("c_custkey")) "customer"
        else if (cols.contains("s_suppkey")) "supplier"
        else if (cols.contains("n_nationkey")) "nation"
        else if (cols.contains("r_regionkey")) "region"
        else "other"
      }
    }
    assert(hintedRelations("q4_join_agg").isEmpty,
      "q4 must leave the customer join strategy to AQE")
    val q5hints = hintedRelations("q5_multiway_join").sorted
    assert(q5hints == Seq("nation", "region"),
      s"q5 hints must be exactly fixed-size nation+region, got $q5hints")
    // at fixture scale AQE still picks broadcast for every q5 join —
    // the hint removal costs nothing where it used to apply
    val q5phys = SparkEntry.queries("q5_multiway_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(q5phys.contains("BroadcastHashJoin"),
      s"q5 lost all broadcast joins at fixture scale:\n$q5phys")
  }

  test("round-15 wave plan shapes: x152-x161 bounded exchanges, " +
      "broadcast-only small sides, x156 pure projection") {
    def phys(name: String): String =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
    // x152: one user-keyed window exchange + session/dist aggregates;
    // the global total rides a broadcast one-row frame — never a
    // shuffle join
    val x152 = phys("x152_session_stats")
    assert(!x152.contains("SortMergeJoin"),
      s"x152 shuffle-joins a one-row total:\n$x152")
    // x153: no join anywhere — two windows + one aggregate over the
    // (type x 24)-bounded table
    val x153 = phys("x153_hourly_profile")
    assert(!x153.contains("Join"), s"x153 must not join:\n$x153")
    // x154: no joins, no windows — distinct + per-user + span rollup
    val x154 = phys("x154_user_lifespan")
    assert(!x154.contains("Join") && !x154.contains("Window"),
      s"x154 must be pure nested aggregation:\n$x154")
    // x155: the type totals and the session total must ride
    // broadcasts (model-sized sides); the pair self-join may shuffle
    // (it is corpus-scale co-partitioned at 100 TB) but never
    // cartesian
    val x155 = phys("x155_session_type_lift")
    assert(!x155.contains("CartesianProduct"),
      s"x155 plans a cartesian:\n$x155")
    assert(x155.contains("BroadcastHashJoin") ||
        x155.contains("BroadcastNestedLoopJoin"),
      s"x155 lost the broadcast total/type-count sides:\n$x155")
    // x156: one stateless projection into the block rollup — no
    // joins, no windows, bounded exchanges
    val x156 = phys("x156_charset_profile")
    assert(!x156.contains("Join") && !x156.contains("Window"),
      s"x156 must be a pure projection + rollup:\n$x156")
    val exchanges156 = "Exchange".r.findAllIn(x156).length
    assert(exchanges156 <= 3,
      s"x156 plans $exchanges156 exchanges:\n$x156")
    // x157: the per-block rank cut must push down as a
    // WindowGroupLimit (map-side bounded heap before the shuffle);
    // df is a window, never a re-join against the gram table
    val x157 = phys("x157_source_signature")
    assert(x157.contains("WindowGroupLimit"),
      s"x157 lost the top-k window pushdown:\n$x157")
    assert(!x157.contains("SortMergeJoin"),
      s"x157 re-joins the gram table for df:\n$x157")
    // x158: one user-keyed aggregate + the bucket rollup — no joins,
    // no windows
    val x158 = phys("x158_conversion_lag")
    assert(!x158.contains("Join") && !x158.contains("Window"),
      s"x158 must be pure nested aggregation:\n$x158")
    // x159: stateless dot projection + one aggregate — no joins, no
    // windows; the native DotProduct kernel must be in the plan
    val x159 = phys("x159_norm_spectrum")
    assert(!x159.contains("Join") && !x159.contains("Window"),
      s"x159 must be projection + rollup:\n$x159")
    assert(x159.toLowerCase.contains("dotproduct") ||
        x159.toLowerCase.contains("dot_product"),
      s"x159 lost the codegen dot kernel:\n$x159")
    // x160: hash aggregate + size rollup; the only join is the
    // broadcast one-row total
    val x160 = phys("x160_dup_spectrum")
    assert(!x160.contains("SortMergeJoin"),
      s"x160 shuffle-joins a one-row total:\n$x160")
    // x161: the x138 user-keyed window feeding type-bounded
    // aggregates — no joins
    val x161 = phys("x161_transition_entropy")
    assert(!x161.contains("Join"), s"x161 must not join:\n$x161")
  }

  test("round-17 hive datasets: directory pruning reaches the file index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scan(name: String): FileSourceScanExec =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.sparkPlan.collectFirst {
          case s: FileSourceScanExec => s
        }.get
    // x205: the day-range filter must land in partitionFilters (not
    // dataFilters) and prune the file index to 7 of the 30 day
    // directories BEFORE any footer is opened
    val s205 = scan("x205_part_day_prune")
    assert(s205.partitionFilters.nonEmpty,
      "x205 lost its partition filter — the day range would scan all files")
    assert(s205.selectedPartitions.partitionCount == 7,
      s"x205 selected ${s205.selectedPartitions.partitionCount} day " +
        "partitions, expected 7 of 30")
    // x207: the full scan sees all 30 day directories as ≥30 separate
    // files — the file-granularity parallelism a single-file table
    // cannot offer
    val s207 = scan("x207_part_day_scan")
    assert(s207.selectedPartitions.partitionCount == 30,
      s"x207 saw ${s207.selectedPartitions.partitionCount} partitions")
    assert(s207.selectedPartitions.totalNumberOfFiles >= 30L,
      s"x207 scans ${s207.selectedPartitions.totalNumberOfFiles} files — " +
        "expected at least one per day directory")
    // x206: the source IN filter prunes to 2 of the 20 source dirs
    val s206 = scan("x206_part_source_prune")
    assert(s206.partitionFilters.nonEmpty,
      "x206 lost its partition filter")
    assert(s206.selectedPartitions.partitionCount == 2,
      s"x206 selected ${s206.selectedPartitions.partitionCount} source " +
        "partitions, expected 2 of 20")
  }

  test("round-20 ingest family: the ingested-tree scans prune the " +
      "arriving directory; the appended tree reads all 20") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scans(name: String): Seq[FileSourceScanExec] =
      SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.sparkPlan.collect {
          case s: FileSourceScanExec => s
        }
    // x208: every hive-tree scan (the seen side appears once per
    // banded-signature/verify consumer) must carry the partition
    // filter and select 19 of the 20 source directories — the
    // arriving partition's footers are never opened by the corpus side
    val treeScans208 = scans("x208_ingest_dedup")
      .filter(_.partitionFilters.nonEmpty)
    assert(treeScans208.nonEmpty,
      "x208 lost its ingested-tree partition filter")
    treeScans208.foreach { s =>
      assert(s.selectedPartitions.partitionCount == 19,
        s"x208 tree scan selected ${s.selectedPartitions.partitionCount} " +
          "source partitions, expected 19 of 20")
    }
    // x210: the round-tripped tree scan sees all 20 directories
    // (19 standing + the appended arrival)
    val treeScans210 = scans("x210_ingest_append")
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(treeScans210.nonEmpty, "x210 lost its hive tree scan")
    treeScans210.foreach { s =>
      assert(s.selectedPartitions.partitionCount == 20,
        s"x210 saw ${s.selectedPartitions.partitionCount} partitions, " +
          "expected 20 after the append")
    }
  }

  test("LSH pair family: finalized plans keep their exchange, reused-" +
      "exchange and broadcast-join counts (sf0.01)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object Walk extends AdaptiveSparkPlanHelper
    // (Exchange, ReusedExchange, BroadcastHashJoin) nodes of each
    // query's finalized adaptive plan, recorded before the pair
    // generators moved onto the shared band-join steps: the shared
    // spelling must plan exactly as the hand-written one did
    val expected = Map(
      "x5_jaccard_pairs" -> (2, 1, 1),
      "x6_cosine_pairs" -> (1, 0, 1),
      "x8_minhash_lsh" -> (3, 2, 3),
      "x9_simhash" -> (2, 0, 1),
      "x12_neardup_pairs" -> (3, 2, 3),
      "x15_sign_lsh_pairs" -> (2, 1, 3),
      "x29_shingle_jaccard" -> (2, 1, 1),
      "x43_portable_minhash" -> (3, 1, 1),
      "x59_incremental_neardup" -> (4, 0, 3),
      "x71_portable_simhash" -> (2, 0, 1),
      "x72_portable_srp" -> (2, 0, 1))
    val got = expected.keys.map { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      spark.sparkContext.runJob(df.queryExecution.toRdd,
        (it: Iterator[InternalRow]) => { while (it.hasNext) it.next(); () })
      val plan = df.queryExecution.executedPlan
      name -> (
        Walk.collect(plan) { case e: ShuffleExchangeExec => e }.size,
        Walk.collect(plan) { case e: ReusedExchangeExec => e }.size,
        Walk.collect(plan) { case j: BroadcastHashJoinExec => j }.size)
    }.toMap
    val diff = expected.keys.toSeq.sorted.filter(n => got(n) != expected(n))
    if (diff.nonEmpty) fail(diff.map(n =>
      s"$n: expected ${expected(n)}, got ${got(n)}").mkString("\n"))
  }

  test("no declared query plans an unpartitioned window or cartesian product") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      val unpartitioned = df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$name plans an unpartitioned (single-partition) window")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }
}
