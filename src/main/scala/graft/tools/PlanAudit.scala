package graft.tools
import graft.{Queries => Q}
/** Prints physical-plan health checks for representative queries:
  * filter/column pushdown into the parquet scan, broadcast vs sort-merge
  * joins, and whole-stage codegen coverage. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    // the full extension surface (functions, GraftPrune, SQL DML parser)
    // — static conf, so this JVM is where the extension-built session
    // gets audited end to end
    val spark = graft.GraftSession.harness("8",
      "spark.sql.extensions" -> "graft.expressions.GraftExtensions")
    spark.sparkContext.setLogLevel("ERROR")
    def audit(name: String, checks: (String, String => Boolean)*): Unit = {
      val plan = Q.all(name)(spark, d).queryExecution.executedPlan.toString
      val results = checks.map { case (label, f) => s"$label=${if (f(plan)) "OK" else "MISS"}" }
      println(s"[plan] $name: ${results.mkString(" ")}")
      if (results.exists(_.endsWith("MISS"))) println(plan.take(3000))
    }
    audit("q01_agg_pushdown",
      "pushed_filter" -> (_.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")),
      "pruned_schema" -> (p => !p.contains("l_comment")),
      "codegen" -> (p => p.contains("WholeStageCodegen") || p.contains("*(") || p.contains("AdaptiveSparkPlan")))
    audit("q02_star_join",
      "broadcast_joins" -> (_.contains("BroadcastHashJoin")),
      "pruned_schema" -> (p => !p.contains("c_comment")))
    audit("q06_semi_join", "semi" -> (p => p.contains("LeftSemi")))
    audit("q07_anti_join", "anti" -> (p => p.contains("LeftAnti")))
    audit("q08_hwm_filter",
      "codegen" -> (p => p.contains("WholeStageCodegen") || p.contains("*(")))
    audit("q12_asof_join",
      "equi_key_join" -> (p => p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q10_scd2_history",
      "single_window_shuffle" -> (p => "hashpartitioning\\(user_id".r.findAllIn(p).size >= 1))
    audit("q15_missing_dates",
      "broadcast_anti" -> (p => p.contains("BroadcastHashJoin") && p.contains("LeftAnti")))
    // (?<![\w]) keeps band_hash# from matching the shingle column sh#
    audit("q24_lsh_pairs",
      "no_array_shuffle" -> (p => !"Exchange hashpartitioning[^\\n]*(?<![\\w])sh#".r.findFirstIn(p).isDefined))
    audit("q26_ngram_jaccard",
      "no_array_shuffle" -> (p => !"Exchange hashpartitioning[^\\n]*(?<![\\w])sh#".r.findFirstIn(p).isDefined))
    audit("q29_embedding_near_dup",
      "codegen_dot" -> (p => p.contains("graft_dot") || p.contains("WholeStageCodegen")),
      "no_all_pairs" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    // the corpus side must reach the list equi-join shuffle-free: every
    // hash exchange in the plan keys on query_id (the final top-k window)
    // and NEVER on a corpus column. Counting exchanges stopped working
    // when the corpus side became a persisted frame (its plan string
    // embeds the cached lineage, so the one window exchange prints more
    // than once); keying the assertion on the partitioning column pins
    // the actual invariant.
    def onlyQueryWindowExchanges(p: String): Boolean =
      "Exchange hashpartitioning\\((\\w+)#".r.findAllMatchIn(p)
        .forall(_.group(1) == "query_id")
    audit("q34_embedding_ivf_ann",
      "no_assignment_fanout" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
      "broadcast_probes" -> (_.contains("BroadcastHashJoin")),
      "single_exchange" -> onlyQueryWindowExchanges)
    audit("q60_pq_ann",
      // coarse assignment + PQ encoding are per-row projections over
      // literal codebooks: no fan-out join anywhere, probes broadcast, and
      // the corpus reaches the list equi-join shuffle-free
      "no_assignment_fanout" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
      "broadcast_probes" -> (_.contains("BroadcastHashJoin")),
      "single_exchange" -> onlyQueryWindowExchanges)
    audit("q61_heavy_hitters",
      // the sketch grid build must partial-aggregate map-side and the grid
      // must sit on the broadcast side of the estimation join
      "partial_agg" -> (_.contains("partial_count")),
      "broadcast_grid" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q63_bloom_semi",
      // the bloom probe must be a Filter on the big side (md5 bit tests in
      // the scan stage), with the residual exact semi join after it
      "bloom_prefilter" -> (_.contains("md5")),
      "residual_semi" -> (_.contains("LeftSemi")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q65_random_projection",
      // pure per-row projection over a literal sign matrix — no key-based
      // exchange anywhere
      "no_key_shuffle" -> (p => !p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning")))
    audit("q67_corpus_refine",
      // the refinery glues per-row stages with id equi-joins: no cartesian
      // anywhere, probe shingles broadcast, fingerprint agg partial
      "partial_agg" -> (_.contains("partial_")),
      "broadcast_probe" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q66_curriculum_deciles",
      // the cumulative window runs over the distinct-score HISTOGRAM, never
      // corpus rows; the assignment joins back as a plain equi-join
      "partial_agg" -> (_.contains("partial_count")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q64_importance",
      // both LMs are fixed bucket tables from combinable groupBys; the
      // scoring join must broadcast the B-row ratio table
      "partial_agg" -> (_.contains("partial_count")),
      "broadcast_ratio_table" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q62_cdc_chunks",
      // content-local cuts: the whole operator is a per-row fold + generator
      // — no key-based exchange end to end (the only Exchange is
      // Ops.spread's round-robin input rebalance)
      "no_key_shuffle" -> (p => !p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning")))
    audit("q35_salted_join",
      "equi_join_on_salt" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))

    // Northwind warehouse building blocks (audited as plans, without running
    // the two-cycle pipeline): the 3-way intermediate join must broadcast
    // its small sides, and the SCD2 merge must shuffle once on the business
    // key with no cartesian anywhere
    def auditDf(name: String, df: org.apache.spark.sql.DataFrame,
        checks: (String, String => Boolean)*): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val results = checks.map { case (label, f) => s"$label=${if (f(plan)) "OK" else "MISS"}" }
      println(s"[plan] $name: ${results.mkString(" ")}")
      if (results.exists(_.endsWith("MISS"))) println(plan.take(3000))
    }
    {
      import graft.northwind.{NorthwindSources => NS, NorthwindStaging => NG, NorthwindWarehouse => NW}
      import org.apache.spark.sql.functions.{lit, to_timestamp}
      val hwm = to_timestamp(lit("1900-01-01"))
      val prods = NG.stgProducts(NS.products(spark, d, 2))
      val supps = NG.stgSuppliers(NS.suppliers(spark, d, 2))
      val cats = NG.stgCategories(NS.categories(spark, d, 2))
      auditDf("nw_stg_dim_products", NW.stgDimProducts(spark, prods, supps, cats, hwm),
        "broadcast_dims" -> (_.contains("BroadcastHashJoin")),
        "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
      val custs = NW.stgDimCustomer(spark, NG.stgCustomers(NS.customers(spark, d, 2)), hwm)
      val dim = graft.scd.Scd2.fromHistory(custs, NW.dimCustomerCfg, "customer_sk")
      auditDf("nw_scd2_merge", graft.scd.Scd2.merge(dim, custs, NW.dimCustomerCfg, "customer_sk"),
        "key_shuffle" -> (p => "hashpartitioning\\(customer_id".r.findAllIn(p).size >= 1),
        "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    }
    audit("q45_decontaminate",
      "broadcast_probe_semi" -> (p => p.contains("BroadcastHashJoin") && p.contains("LeftSemi")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q43_corpus_split",
      // content-stable hashing is a pure projection: no exchange anywhere
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q44_token_packing",
      // the running-sum window partitions on the shard key, never globally
      "sharded_window" -> (p => "hashpartitioning\\(shard".r.findFirstIn(p).isDefined),
      "no_global_window" -> (p => !p.contains("SinglePartition, ")))
    audit("q47_sessionize",
      "key_shuffle" -> (p => "hashpartitioning\\(user_id".r.findAllIn(p).size >= 1),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q37_snapshot_incremental",
      "key_shuffle" -> (p => "hashpartitioning\\(user_id".r.findAllIn(p).size >= 1),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q49_segment_dedup",
      // the hot-segment set sits on the broadcast side of the drop anti-join
      "broadcast_anti" -> (p => p.contains("BroadcastHashJoin") && p.contains("LeftAnti")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q50_quality_filter",
      // rule flags are a pure per-row projection
      "no_shuffle" -> (p => !p.contains("Exchange hashpartitioning")))
    audit("q51_stratified_sample",
      // hash-threshold sampling is a pure per-row filter
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q52_tfidf_topk",
      // both groupBys partial-aggregate before their exchange
      "partial_agg" -> (_.contains("partial_count")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q53_kmeans_cluster",
      // assignment is a per-row argmax over literal centroids: no key
      // shuffle, no window, no join anywhere in the scoring plan
      "no_key_shuffle" -> (p => !p.contains("Exchange hashpartitioning")),
      "no_window" -> (p => !p.contains("Window")),
      "no_join" -> (p => !p.contains("Join")))
    audit("q54_semantic_dedup",
      // pair generation is EQUI on the cluster id — never all-pairs
      "no_all_pairs" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q55_distinct_sketch",
      // bucket-hit counting partial-aggregates before the exchange
      "partial_agg" -> (_.contains("partial_count")))
    audit("q56_cross_entropy",
      "partial_agg" -> (_.contains("partial_count")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q59_gram_matrix",
      // the dims² expansion partial-aggregates inside the scan stage
      "partial_agg" -> (_.contains("partial_sum")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q58_stratum_quota",
      // one window per stratum, never a global sort
      "stratum_window" -> (p => "hashpartitioning\\(source".r.findFirstIn(p).isDefined),
      "no_global_window" -> (p => !p.contains("SinglePartition, ")))
    audit("q69_pii_redact",
      // regex redaction is a pure per-row projection — no exchange anywhere
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q96_clean_markup",
      // markup scrub is the same shape: per-row regex kernels, no exchange
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q100_winsorize",
      // thresholds collapse to group grain (combinable) and broadcast back
      "partial_agg" -> (_.contains("partial_count")),
      "broadcast_thresholds" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q101_opt_out",
      // deletion lists broadcast; the corpus passes once
      "broadcast_lists" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q99_sql_surface",
      // the SQL front door must plan like the DataFrame q02: broadcast
      // dims, pruned columns
      "broadcast_joins" -> (_.contains("BroadcastHashJoin")),
      "pruned_schema" -> (p => !p.contains("c_comment")))
    audit("q98_quality_logit",
      // the linear scorer is a pure per-row projection — no exchange
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q97_knn_predict",
      // the label fetch is a broadcast equi-join of the |Q|·k neighbor
      // list against the corpus labels, and the vote count partial-
      // aggregates (the candidate stage is the documented brute-force
      // baseline — swap ivf/lsh in at scale)
      "broadcast_labels" -> (_.contains("BroadcastHashJoin")),
      "partial_votes" -> (_.contains("partial_count")))
    audit("q95_pq_rerank",
      // ADC winnows over broadcast probes; the re-rank vector fetch streams
      // the corpus through broadcast joins — never a cartesian fan-out
      "broadcast_refetch" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q70_mixture_weights",
      // the corpus collapses to stratum grain map-side; the normalization
      // window sees only #strata rows (its SinglePartition is by design)
      "partial_agg" -> (_.contains("partial_count")))
    audit("q71_rolling_window",
      // one key shuffle for the RANGE window, no global sort
      "key_shuffle" -> (p => "hashpartitioning\\(user_id".r.findFirstIn(p).isDefined),
      "no_global_window" -> (p => !p.contains("SinglePartition, ")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q72_pivot_counts",
      // Spark plans pivot two-phase: groupBy(day, type) count — combinable,
      // the only exchange that sees event-grain data — then the pivot-first
      // agg re-keyed on day alone over the already-aggregated rows. Both
      // exchanges carry ≤ days×types rows post-combine; anything beyond two
      // means the value-list pivot degraded to a distinct-scan plan
      "partial_agg" -> (_.contains("partial_")),
      "two_phase" -> (p => "Exchange hashpartitioning".r.findAllIn(p).size <= 2))
    audit("q73_rollup_revenue",
      // grouping sets expand map-side into one combinable aggregation
      "expand" -> (_.contains("Expand")),
      "partial_agg" -> (_.contains("partial_")))
    audit("q74_funnel",
      // per-step joins are equi on the key with the range as residual
      "equi_joins" -> (p => p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q86_outlier_flags",
      // group-grain thresholds broadcast; the stream passes once
      "broadcast_thresholds" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q87_fuzzy_match",
      // blocking keys the join EQUI with the edit distance as residual —
      // candidate pairs are block²-bounded, never an unkeyed cross product
      "equi_block_join" -> (p => p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q91_topk_aggregator",
      // the typed aggregator must partial-aggregate (map-side heap trim)
      // before its exchange — the scale win over the window formulation
      "partial_agg" -> (p => p.contains("partial_topkaggregator") || p.contains("partial_TopK")),
      "no_window_sort" -> (p => !p.contains("Window")))
    audit("q84_zorder_key",
      // the layout key is pure codegen'd bit arithmetic — no exchange
      "no_shuffle" -> (p => !p.contains("Exchange")))
    audit("q80_set_ops",
      // INTERSECT/EXCEPT must plan as aggregated semi/anti joins — one key
      // shuffle each, never a distinct-then-nested-loop detour
      "semi_and_anti" -> (p => p.contains("LeftSemi") && p.contains("LeftAnti")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q81_interval_join",
      // equi on the key, the time bound as residual — never a cross product
      "equi_key_join" -> (p => p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q78_group_quantiles",
      // the corpus collapses to (group, value) histogram cells map-side;
      // the CDF window partitions by group, never a global sort
      "partial_agg" -> (_.contains("partial_count")),
      "group_window" -> (p => "hashpartitioning\\(event_type".r.findFirstIn(p).isDefined),
      "no_global_window" -> (p => !p.contains("SinglePartition, ")))
    audit("q79_cube_revenue",
      // CUBE expands map-side into one combinable aggregation
      "expand" -> (_.contains("Expand")),
      "partial_agg" -> (_.contains("partial_")))
    audit("q75_session_window",
      // session_window is one key shuffle + sort, like q47's formulation
      "key_shuffle" -> (p => "hashpartitioning\\(user_id".r.findFirstIn(p).isDefined),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q104_pruned_scan",
      // the residual predicate still pushes into the (file-pruned) scan,
      // and the monthly rollup aggregates map-side
      "pushed_filter" -> (_.contains("PushedFilters: [IsNotNull(o_orderdate)")),
      "partial_agg" -> (_.contains("partial_")),
      "pruned_schema" -> (p => !p.contains("o_custkey")))
    audit("q105_dup_spans",
      // grams cross every exchange as xxhash64 LONGS — no token-array or
      // gram-string column may feed a hashpartitioning
      "no_array_shuffle" -> (p => !"Exchange hashpartitioning[^\\n]*__t#".r.findFirstIn(p).isDefined),
      "gram_agg_combinable" -> (_.contains("partial_count")),
      "doc_window" -> (p => "hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q106_dup_remove",
      "no_array_shuffle" -> (p => !"Exchange hashpartitioning[^\\n]*__t#".r.findFirstIn(p).isDefined),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q107_version_diff",
      // snapshot diff: NULL-safe key join, never a nested loop; unions of
      // three diffs stay combinable
      "key_join" -> (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q109_bpe_encode",
      // encode is a pure per-partition map: broadcast merges, no exchange
      "no_shuffle" -> (p => !p.contains("Exchange hashpartitioning")))
    audit("q110_range_join",
      // the whole point: the BETWEEN re-plans as a bucket EQUI join
      "equi_join" -> (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin")),
      "no_nested_loop" -> (p => !p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct")),
      "partial_agg" -> (_.contains("partial_")))
    audit("q111_quality_suite",
      "broadcast_parent" -> (_.contains("BroadcastHashJoin")),
      "anti_orphans" -> (_.contains("LeftAnti")),
      "partial_agg" -> (_.contains("partial_count")))
    audit("q112_gap_fill",
      // reporting-grain exchanges only; LOCF window keyed by priority,
      // never a global sort
      "key_window" -> (p => "hashpartitioning\\(o_orderpriority".r.findFirstIn(p).isDefined),
      "no_global_window" -> (p => !p.contains("SinglePartition, ")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
    audit("q113_unpivot",
      // melt is a per-row Expand feeding one combinable aggregation
      "expand" -> (_.contains("Expand")),
      "partial_agg" -> (_.contains("partial_")))
    audit("q115_k_anonymity",
      // one key shuffle for the cohort window; no join anywhere
      "key_window" -> (p => "hashpartitioning\\(o_orderpriority".r.findFirstIn(p).isDefined),
      "no_join" -> (p => !p.contains("Join")))
    audit("q117_bm25",
      // top-k is TakeOrderedAndProject (map-side partial heaps, never a
      // global sort); the query-term filter prunes the exploded postings
      // BEFORE their exchange; tf/score aggregates combine map-side; the
      // |Q|-sized df frame broadcasts back
      "topk_no_global_sort" -> (_.contains("TakeOrderedAndProject")),
      "postings_pruned" -> (_.contains("IN (spark,merge,window)")),
      "partial_agg" -> (_.contains("partial_count")),
      "broadcast_df" -> (_.contains("BroadcastHashJoin")))
    audit("q119_triangle_counts",
      // all three steps (orientation, wedge enumeration, closing) are
      // equi-joins — the degree-orientation bound only holds if nothing
      // degenerates to a cartesian/nested-loop; counts combine map-side
      "all_equi" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop")),
      "partial_agg" -> (_.contains("partial_count")))
    audit("q120_cohort_retention",
      // one user-keyed shuffle feeds both the distinct and the cohort
      // window; the final rollup partial-aggregates map-side
      "user_keyed" -> (p => "hashpartitioning\\(user_id".r.findFirstIn(p).isDefined),
      "partial_agg" -> (_.contains("partial_count")),
      "no_join" -> (p => !p.contains("Join")))
    audit("q121_lpa_communities",
      // per-round: edge×label equi-join, combinable (node,label) count,
      // per-node window — never a cartesian
      "all_equi" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop")),
      "partial_agg" -> (_.contains("partial_count")))
    audit("q122_event_transitions",
      // one user-keyed shuffle for the sequence window, then a combinable
      // (type,next) rollup; the normalizing window runs at matrix grain
      "user_keyed" -> (p => "hashpartitioning\\(user_id".r.findFirstIn(p).isDefined),
      "partial_agg" -> (_.contains("partial_count")),
      "no_join" -> (p => !p.contains("Join")))
    audit("q124_assoc_rules",
      // the pairing self-join is keyed on basket (equi — the cap bounds
      // its fan-out); pair counts and basket sizes combine map-side; the
      // item-sized support frames broadcast into the enrich joins
      "basket_equi" -> (p => "hashpartitioning\\(basket".r.findFirstIn(p).isDefined ||
        p.contains("BroadcastHashJoin")),
      "partial_agg" -> (_.contains("partial_count")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop")))
    audit("q127_ivf_index_ann",
      // the persisted-index query: probe side broadcasts, the postings
      // scan is an equi-join on list_id, never a cartesian; AnnIndexSpec
      // asserts the file skipping at the scan layer
      "broadcast_probes" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop")))
    audit("q130_group_ols",
      // one combinable pass: the five moment sums and the count partial-
      // aggregate map-side through a single group-grain exchange; the
      // closed form is a projection, so there is no join and no window
      "partial_agg" -> (p => p.contains("partial_sum") && p.contains("partial_count")),
      "single_exchange" -> (p => "Exchange hashpartitioning".r.findAllIn(p).size == 1),
      "no_join" -> (p => !p.contains("Join")),
      "no_window" -> (p => !p.contains("Window")))
    audit("q118_pagerank",
      // every power iteration: contribution sums combine map-side, the
      // node-sized rank frame broadcasts into the edge join (AQE), and no
      // step degenerates to a cartesian/nested-loop product
      "combinable_contrib" -> (_.contains("partial_sum")),
      "broadcast_ranks" -> (_.contains("BroadcastHashJoin")),
      "no_cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop")))
    locally {
      // the q118/q119/q121 EDGE BUILD, pinned: the hot-basket cap (a
      // sort-spillable window count at basket grain) filters BEFORE any
      // pairing, and the pairing itself is generate-based — no self-join
      // for a planner to mis-shape, per-basket fanout ≤ cap² by
      // construction, pair counts combine map-side
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      auditDf("q118_edge_build",
        graft.operators.Graph.basketEdges(li, "l_orderkey", "l_partkey", 64),
        "no_pairing_join" -> (p => !p.contains("Join")),
        "cap_before_pairing" -> (p => "__n#\\d+L? <= 64".r.findFirstIn(p).isDefined),
        "explode_pairing" -> (_.contains("Generate explode")),
        // both directions come from ONE explode pass — a union would
        // recompute the pairing subtree per branch (the r8 bench lesson)
        "single_pass_no_union" -> (p => !p.contains("Union")))
      auditDf("q119_edge_build",
        graft.operators.Graph.basketPairs(li, "l_orderkey", "l_partkey", 64),
        "no_pairing_join" -> (p => !p.contains("Join")),
        "cap_before_pairing" -> (p => "__n#\\d+L? <= 64".r.findFirstIn(p).isDefined),
        "explode_pairing" -> (_.contains("Generate explode")),
        "combinable_pair_count" -> (_.contains("partial_count")))
    }
    locally {
      // q118's ITERATION shape, pinned directly (the registry query's final
      // plan only shows the cached result): build the src-partitioned
      // cached edge list and one rank frame, then assert a single power
      // iteration (1) broadcasts the node-sized rank frame into the edge
      // join and (2) never re-exchanges the edge list — the only
      // ENSURE_REQUIREMENTS hash exchanges key on node-sized frames
      // (contrib's dst groupBy / the nd left join), never on src. The
      // one-time REPARTITION_BY_COL(src) build exchange is allowed — it is
      // the layout investment every later iteration reuses.
      import org.apache.spark.sql.functions.{col, count, lit, sum => fsum, coalesce}
      val li = spark.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).limit(20000)
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .repartition(col("src")).dropDuplicates("src", "dst").persist()
      val nd = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .join(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg")),
          Seq("node"), "left").na.fill(0L, Seq("out_deg")).persist()
      val n = nd.count()
      val ranks = nd.select(col("node"), col("out_deg"),
        lit(1.0 / n).cast("decimal(24,12)").as("rank")).persist()
      ranks.count(): Unit
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("rank"), col("out_deg")), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank").cast("double") / col("out_deg")).cast("decimal(24,12)").as("c"))
        .groupBy(col("node")).agg(fsum(col("c")).as("contrib"))
      val next = nd.join(contrib, Seq("node"), "left")
        .select(col("node"), col("out_deg"),
          (lit(0.03) + lit(0.85) * coalesce(col("contrib").cast("double"), lit(0.0)))
            .cast("decimal(24,12)").as("rank"))
      // collect() (NOT count()) finalizes THIS DataFrame's adaptive plan:
      // count() spawns a separate QueryExecution and would leave `next`'s
      // own plan at its initial (pre-AQE, sort-merge) shape
      next.collect(): Unit
      // walk the EXECUTED tree only — descending into finalized adaptive
      // plans and materialized query stages, never into a cached
      // relation's stored build plan or the textual "Initial Plan"
      // sections (both legitimately contain the one-time src exchange)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def flat(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
        case q: QueryStageExec => q +: flat(q.plan)
        case o => o +: o.children.flatMap(flat)
      }
      val nodes = flat(next.queryExecution.executedPlan).map(_.verboseString(25))
      val checks = Seq(
        "broadcast_ranks" -> nodes.exists(_.startsWith("BroadcastHashJoin")),
        "no_edge_reexchange" -> !nodes.exists(n =>
          n.startsWith("Exchange hashpartitioning(src#") && n.contains("ENSURE_REQUIREMENTS")),
        "combinable_contrib" -> nodes.exists(_.contains("partial_sum")),
        "no_cartesian" -> !nodes.exists(n =>
          n.startsWith("CartesianProduct") || n.startsWith("BroadcastNestedLoop")))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q118_iteration: ${results.mkString(" ")}")
      if (results.exists(_.endsWith("MISS"))) println(nodes.mkString("\n").take(3000))
      e.unpersist(); nd.unpersist(); ranks.unpersist(): Unit
    }
    locally {
      // bucketed incremental-dedup state (q77's big-state variant): the
      // standing fp table is read CO-LOCATED (Bucketed: true), the state
      // side reaches the anti-join with no exchange at all, and the only
      // hash exchange in the plan is the batch side shuffling to the
      // bucket count
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val tbl = "plan_audit_dedup_state"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val batch = graft.operators.Dedup.exact(
        docs.withColumn("text", coalesce(col("text"), lit(""))), "doc_id", "text")
        .select(col("fp"), col("keep_id"))
      graft.core.TableIO.writeBucketed(batch.limit(100), tbl, Seq("fp"), 8, Seq("fp"))
      val anti = batch.join(spark.table(tbl), Seq("fp"), "left_anti")
      anti.count(): Unit
      val plan = anti.queryExecution.executedPlan.toString
      val checks = Seq(
        "state_bucketed_scan" -> plan.contains("Bucketed: true"),
        "state_anti" -> plan.contains("LeftAnti"),
        "single_exchange" -> ("Exchange hashpartitioning".r.findAllIn(plan).size <= 1),
        "no_cartesian" -> (!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoop")))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q77_bucketed_state: ${results.mkString(" ")}")
      if (results.exists(_.endsWith("MISS"))) println(plan.take(3000))
      spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
    }
    locally {
      // q77's anti-join hides behind localCheckpoint in the returned plan,
      // so audit the factored freshness plan directly: the state side must
      // carry the batch-built bloom word-table probe in its own stage (the
      // element_at literal-array tests) BELOW the LeftAnti — the full
      // fingerprint history is pruned before any exchange
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val batch = graft.operators.Dedup.exact(
        docs.withColumn("text", coalesce(col("text"), lit(""))), "doc_id", "text")
        .select(col("fp"), col("keep_id"))
      val state = batch.limit(50) // stand-in for the persisted fp state
      val plan = graft.operators.Corpus.freshAgainstState(batch, state, 1 << 16)
        .queryExecution.executedPlan.toString
      val checks = Seq(
        "bloom_scan_probe" -> plan.contains("element_at"),
        "state_anti" -> plan.contains("LeftAnti"),
        "no_cartesian" -> (!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoop")))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q77_incremental_dedup: ${results.mkString(" ")}")
      if (results.exists(_.endsWith("MISS"))) println(plan.take(3000))
    }
    locally {
      // q140/q141's streaming source, audited at the PLANNING layer (no
      // query run): offsets are versions, a batch's partitions are exactly
      // the span's change-log files (never the snapshot), and admission
      // control bounds the batch end by version count and byte budget
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      import org.apache.spark.sql.types.StructType
      import graft.core.GraftTable
      import graft.sources.{GraftMicroBatchStream, GraftVersionOffset}
      val root = java.nio.file.Files.createTempDirectory("plan_stream").toString + "/t"
      val orders = spark.read.parquet(s"$d/orders.parquet").limit(2000)
      GraftTable.overwrite(orders.repartition(4), root)
      GraftTable.append(orders.limit(500).repartition(2), root)
      GraftTable.append(orders.limit(300).repartition(1), root)
      val addedAt = (1L to 3L).map(v =>
        GraftTable.manifestAt(root, v).changes.get.added.size)
      val snapshotFiles = GraftTable.filesOf(root,
        GraftTable.manifestAt(root, 3L)).size
      val schema = StructType.fromDDL(GraftTable.manifestAt(root, 3L).schemaDdl)
      def stream(maxV: Option[Long] = None, maxB: Option[Long] = None) =
        new GraftMicroBatchStream(root, schema, schema, false, None, maxV, maxB, false)
      val ms = stream()
      val full = ms.planInputPartitions(GraftVersionOffset(0), GraftVersionOffset(3))
      val mid = ms.planInputPartitions(GraftVersionOffset(1), GraftVersionOffset(2))
      val checks = Seq(
        "partitions_are_changed_files" -> (full.length == addedAt.sum &&
          mid.length == addedAt(1) && addedAt.sum == snapshotFiles),
        "mid_span_skips_snapshot" -> (mid.length < snapshotFiles),
        "version_admission" -> (stream(maxV = Some(1L))
          .latestOffset(GraftVersionOffset(0), ReadLimit.allAvailable())
          .asInstanceOf[GraftVersionOffset].version == 1L),
        "byte_admission_one_commit" -> (stream(maxB = Some(1L))
          .latestOffset(GraftVersionOffset(0), ReadLimit.allAvailable())
          .asInstanceOf[GraftVersionOffset].version == 1L),
        "byte_admission_uncapped" -> (stream(maxB = Some(Long.MaxValue))
          .latestOffset(GraftVersionOffset(0), ReadLimit.allAvailable())
          .asInstanceOf[GraftVersionOffset].version == 3L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q140_stream_source: ${results.mkString(" ")}")
    }
    locally {
      // q148/q149's batch format("graft") source: the EXECUTED scan's
      // input partitions must be exactly the stats/bloom-surviving files
      // (the GraftBatch filesPlanned metric vs the explicit
      // readPruned/readPrunedIn counts), with NO optimizer rule installed
      // — the skip comes from the scan's own split planning, nothing else
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[graft.plans.GraftPrune])
      val base = java.nio.file.Files.createTempDirectory("plan_batch_src").toString
      val rows = spark.range(0, 1600).selectExpr(
        "cast(id * 2 as int) AS k", "cast(id % 100 as double) AS x")
      def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        def find(p: SparkPlan): Seq[BatchScanExec] = p match {
          case a: AdaptiveSparkPlanExec => find(a.executedPlan)
          case q: QueryStageExec => find(q.plan)
          case b: BatchScanExec => Seq(b)
          case o => o.children.flatMap(find)
        }
        find(df.queryExecution.executedPlan).map(_.metrics("filesPlanned").value).sum
      }
      val rootR = s"$base/range"
      GraftTable.writeClustered(rows, rootR, col("k"), 16)
      val expR = GraftTable.readPruned(spark, rootR,
        Seq(GraftTable.ColRange("k", Some(200), Some(399)))).filesRead
      val nR = scanFiles(spark.read.format("graft").load(rootR)
        .filter(col("k") >= 200 && col("k") <= 399))
      val rootB = s"$base/bloom"
      GraftTable.overwrite(rows.repartition(16, col("k")), rootB, bloomCols = Seq("k"))
      val expB = GraftTable.readPrunedIn(spark, rootB, "k", Seq(34, 1040)).filesRead
      val nB = scanFiles(spark.read.format("graft").load(rootB)
        .filter(col("k").isin(34, 1040)))
      val checks = Seq(
        "no_rule_installed" -> !spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.plans.GraftPrune]),
        "range_scan_is_stats_survivors" -> (nR == expR && nR < 16),
        "bloom_scan_is_bloom_survivors" -> (nB == expB && nB < 16))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q148_batch_source: ${results.mkString(" ")}" +
        s" (range $nR/16 expect $expR; bloom $nB/16 expect $expB)")
    }
    locally {
      // q150-152's SQL DML, end to end through the EXTENSION-built
      // session: plain spark.sql text mutates the graft table via the
      // injected parser — the dialect-native proof a unit test of the
      // wrapper can't give (spark.sql.extensions is a static conf, so
      // only this JVM's context carries it)
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_sql_dml").toString + "/t"
      val orders = spark.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      GraftTable.overwrite(orders.limit(2000).repartition(4), root)
      val before = GraftTable.read(spark, root).count()
      spark.sql(s"DELETE FROM graft.`$root` WHERE o_orderstatus = 'F'")
      // force the snapshot counts NOW — the VACUUM below reclaims these
      // versions' files, so a lazy re-read later would hit deleted parquet
      val afterDeleteF = GraftTable.read(spark, root)
        .filter(col("o_orderstatus") === "F").count()
      val afterDeleteN = GraftTable.read(spark, root).count()
      spark.sql(s"UPDATE graft.`$root` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderstatus = 'P'")
      val doubledN = GraftTable.read(spark, root).count()
      GraftTable.read(spark, root).limit(100)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .createOrReplaceTempView("plan_dml_src")
      val vMerge = spark.sql(s"MERGE INTO graft.`$root` t USING plan_dml_src s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice")
      // the maintenance dialect: constraints, OPTIMIZE, VACUUM — all
      // through plain spark.sql in the extension session
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT pos_price " +
        "CHECK (o_totalprice > 0)")
      val hasCheck = GraftTable.currentManifest(root)
        .exists(_.checks.exists(_.contains("pos_price")))
      val opt = spark.sql(s"OPTIMIZE graft.`$root`").collect()
      val vac = spark.sql(s"VACUUM graft.`$root`").collect()
      // schema evolution through plain spark.sql in the same session
      spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (flag STRING)")
      spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN flag TO tag")
      val evolved = GraftTable.read(spark, root).columns.toSeq
      spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN tag")
      // and the basic write surface: INSERT INTO / CTAS natively (the
      // CTAS reads through a TVF — the read and write dialects compose)
      graft.plans.GraftSql.install(spark)
      val preIns = GraftTable.read(spark, root).count()
      spark.sql(s"INSERT INTO graft.`$root` SELECT -1, 'X', 1.0")
      val insOk = GraftTable.read(spark, root).count() == preIns + 1
      spark.sql(s"CREATE TABLE graft.`$root-ctas` AS " +
        s"SELECT * FROM graft_table('$root') WHERE o_totalprice > 0")
      val ctasOk = GraftTable.exists(s"$root-ctas") &&
        GraftTable.read(spark, s"$root-ctas").count() > 0
      val checks = Seq(
        "sql_insert_ran" -> insOk,
        "sql_ctas_ran" -> ctasOk,
        "sql_delete_applied" -> (afterDeleteF == 0L && afterDeleteN < before),
        "sql_update_applied" -> (doubledN == afterDeleteN),
        "sql_merge_ran" -> (vMerge != null && GraftTable.currentVersion(root).exists(_ >= 3L)),
        "sql_constraint_added" -> hasCheck,
        "sql_optimize_ran" -> (opt.length == 1 && opt(0).getInt(1) <= opt(0).getInt(0)),
        "sql_vacuum_ran" -> (vac.length == 1 && vac(0).getInt(0) >= 0),
        "sql_evolution_ran" -> (evolved.contains("tag") && !evolved.contains("flag") &&
          !GraftTable.read(spark, root).columns.contains("tag")),
        "parser_injected" -> spark.sessionState.sqlParser
          .isInstanceOf[graft.plans.GraftSqlParser])
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q150_sql_dml: ${results.mkString(" ")}")
    }
    locally {
      // q162/q163's catalog surface: named reads are a REAL DSv2
      // Scan→Batch (GraftBatch) — identical with or without extensions
      // (no analysis rule swaps the read; GraftCatalogSpec proves the
      // stock-session side with the analyzed-leaf + auto-broadcast
      // pins). Here: columnar v2 BatchScan, stats file-skipping at
      // split planning, manifest-true stats auto-broadcasting a small
      // named dim, grammar-native VERSION AS OF, and named DML text
      // through the parse-time rewrite
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_catalog_wh").toString
      spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      spark.sql("CREATE NAMESPACE graft.dwh")
      val root = s"$wh/dwh/orders"
      val rows = spark.range(0, 4096).selectExpr("cast(id as int) AS k",
        "cast(id % 7 as int) AS g")
      GraftTable.writeClustered(rows, root, col("k"), numFiles = 16,
        statsCols = Seq("k"))
      // the named read is a REAL DSv2 Batch now (GraftBatch): count the
      // files the scan's stats prune kept, and demand a columnar v2 plan
      def v2scans(df: org.apache.spark.sql.DataFrame)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
        df.collect() // execute so AQE finalizes the stages
        def find(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
          p match {
            case q: QueryStageExec => find(q.plan)
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
            case o => o.children.flatMap(find)
          }
        find(df.queryExecution.executedPlan)
      }
      val sliced = spark.table("graft.dwh.orders").filter(col("k") between (256, 511))
      val fs = v2scans(sliced)
      val expect = GraftTable.readPruned(spark, root,
        Seq(GraftTable.ColRange("k", Some(256), Some(511)))).filesRead
      val nFiles = fs.map(_.scan).collect {
        case s: graft.catalog.GraftNamedScan =>
          s.toBatch.asInstanceOf[graft.sources.GraftBatch].kept.length
      }.sum
      val planStr = sliced.queryExecution.executedPlan.toString
      // grammar-native time travel through the catalog name
      GraftTable.append(rows.selectExpr("k + 10000 AS k", "g"), root)
      val v1n = spark.sql(
        "SELECT count(*) FROM graft.dwh.orders VERSION AS OF 1").head().getLong(0)
      val headN = spark.table("graft.dwh.orders").count()
      // named DML text routes through the parse-time rewrite
      spark.sql("DELETE FROM graft.dwh.orders WHERE k >= 10000")
      val afterDel = spark.table("graft.dwh.orders").count()
      val checks = Seq(
        "catalog_read_vectorized" -> (fs.nonEmpty &&
          planStr.contains("ColumnarToRow") &&
          !planStr.contains("RowDataSourceScan")),
        "catalog_scan_skips_files" -> (nFiles == expect && nFiles < 16),
        "version_asof_native" -> (v1n == 4096L && headN == 8192L),
        "named_dml_routed" -> (afterDel == 4096L),
        "named_dim_autobroadcast_v2stats" -> {
          // v2 SupportsReportStatistics (no V1ScanWrapper to drop them):
          // a plain join against the small named dim must broadcast it
          val fact = spark.range(0, 50000).selectExpr(
            "cast(id % 4096 as int) AS k", "id AS x")
          val j = fact.join(spark.table("graft.dwh.orders"), "k")
          j.collect()
          j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
        })
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q162_catalog: ${results.mkString(" ")}" +
        s" (slice $nFiles/16 expect $expect)")
    }
    locally {
      // q159/q161's MOR read path through format("graft") in the
      // EXTENSION session: a deletion vector on ONE file must not
      // change how the others read — the one GraftBatch scan plans all
      // 16 files and its reader factory masks only the dirty file,
      // inside the columnar batch, so the executed plan is a vectorized
      // BatchScan, never a whole-relation RowDataSourceScan
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_morvec").toString + "/t"
      val rows = spark.range(0, 4096).selectExpr("cast(id as int) AS k",
        "cast(id % 7 as int) AS g")
      GraftTable.writeClustered(rows, root, col("k"), numFiles = 16,
        statsCols = Seq("k"))
      // one point delete -> exactly one file carries a vector
      GraftTable.deleteWhereMor(spark, root, col("k") === 100,
        pruneRanges = Seq(GraftTable.ColRange("k", Some(100), Some(100))))
      val dvd = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .count(_.dv.isDefined)
      val df = spark.read.format("graft").load(root)
      val n = df.collect().length.toLong
      def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
        p match {
          case q: QueryStageExec => find(q.plan)
          case b: BatchScanExec => Seq(b)
          case o => o.children.flatMap(find)
        }
      val planned = df.queryExecution.executedPlan
      val fs = find(planned)
      val planStr = planned.toString
      val kept = fs.map(_.scan).collect {
        case s: graft.catalog.GraftNamedScan =>
          s.toBatch.asInstanceOf[graft.sources.GraftBatch].kept
      }.flatten
      val checks = Seq(
        "one_file_dirty" -> (dvd == 1),
        "mor_scan_vectorized" -> (fs.nonEmpty && planStr.contains("ColumnarToRow") &&
          !planStr.contains("RowDataSourceScan")),
        // the clean files ride the same scan, unmasked
        "clean_branch_unfiltered" -> (kept.size == 16 && kept.count(_.dv.isDefined) == 1),
        // the mask is DvMaskBatchReader's, inside the columnar batch — a
        // Scala UDF filter here measured ~500 ns/row (SCALE.md, MOR read
        // amplification)
        "probe_codegen" -> (planStr.contains("ColumnarToRow") && !planStr.contains("UDF")),
        "complement_exact" -> (n == 4095L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q159_mor_vectorized: ${results.mkString(" ")} (scans=${fs.size})")
    }
    locally {
      // Named MOR reads stay COLUMNAR: on a 16-file snapshot where ONE
      // file carries a deletion vector, the v2 scan must still report
      // columnar scan-wide (the dv mask applies INSIDE the
      // ColumnarBatch — DvMaskBatchReader's selection-vector wrap), so
      // ColumnarToRow whole-stage fusion survives MOR churn. This is
      // the 100 TB shape: a steadily-churned fact always has SOME dv'd
      // files; per-row hand-off must not be the common case.
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_morcol_wh").toString
      spark.conf.set("spark.sql.catalog.gmc", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gmc.warehouse", wh)
      spark.sql("CREATE NAMESPACE gmc.ns")
      val root = s"$wh/ns/fact"
      GraftTable.writeClustered(spark.range(0, 16384).selectExpr(
        "cast(id as int) AS k", "id AS x"), root, col("k"), numFiles = 16,
        statsCols = Seq("k"))
      GraftTable.deleteWhereMor(spark, root, col("k") === 100,
        pruneRanges = Seq(GraftTable.ColRange("k", Some(100), Some(100))))
      val dvd = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .count(_.dv.isDefined)
      val named = spark.table("gmc.ns.fact")
      // collect THIS df (count() would plan separately — and the named
      // metadata-count path would answer it without scanning at all)
      val collected = named.collect()
      val n = collected.length.toLong
      val s = collected.map(_.getLong(1)).sum
      val planStr = named.queryExecution.executedPlan.toString
      val checks = Seq(
        "one_of_16_dirty" -> (dvd == 1),
        "named_mor_scan_columnar" -> (planStr.contains("ColumnarToRow") &&
          planStr.contains("BatchScan") && !planStr.contains("RowDataSourceScan")),
        "mask_exact" -> (n == 16383L && s == (0L until 16384L).sum - 100L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q164_mor_columnar: ${results.mkString(" ")} (dvd=$dvd/16)")
    }
    locally {
      // q173/q174's named change feed: a pruned `.changes` read must
      // plan EXACTLY the projected columns (SupportsPushDownRequiredColumns
      // on GraftChangesScan) — a CDF consumer reading 2 columns of a
      // wide table decodes 2 columns, not the table
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_cdfprune_wh").toString
      spark.conf.set("spark.sql.catalog.gcp", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gcp.warehouse", wh)
      spark.sql("CREATE NAMESPACE gcp.ns")
      val root = s"$wh/ns/t"
      GraftTable.overwrite(spark.range(0, 1000).selectExpr(
        "cast(id as int) AS k", "cast(id as string) AS a",
        "cast(id as string) AS b", "cast(id as string) AS c", "id AS x"), root)
      GraftTable.append(spark.range(1000, 1100).selectExpr(
        "cast(id as int) AS k", "cast(id as string) AS a",
        "cast(id as string) AS b", "cast(id as string) AS c", "id AS x"), root)
      val pruned = spark.table("gcp.ns.t.changes").select("k", "_commit_version")
      pruned.collect()
      val scanSchemas = pruned.queryExecution.executedPlan.collectLeaves().collect {
        case bse: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          bse.scan.readSchema().fieldNames.toSeq
      }
      val n = spark.table("gcp.ns.t.changes").count()
      // DATA-predicate pruning: the keyed CDF read must plan FEWER
      // files than the span total (per-file stats prove the other
      // changed files clean), and still answer exactly
      def cdfParts(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().collect {
          case bse: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            bse.inputRDD.getNumPartitions
        }.max
      }
      val statsRoot = s"$wh/ns/ts"
      (0 until 4).foreach { i =>
        GraftTable.append(spark.range(i * 100L, (i + 1) * 100L).selectExpr(
          "id AS k", "concat('v', id) AS v").coalesce(1), statsRoot,
          statsCols = Seq("k"))
      }
      val spanTotal = cdfParts(spark.table("gcp.ns.ts.changes"))
      val keyed = spark.table("gcp.ns.ts.changes")
        .filter(org.apache.spark.sql.functions.col("k") === 250)
      val keyedParts = cdfParts(keyed)
      val keyedRows = keyed.collect()
      val checks = Seq(
        "cdf_scan_schema_is_projection" -> (scanSchemas.nonEmpty &&
          scanSchemas.forall(_ == Seq("k", "_commit_version"))),
        "cdf_rows_exact" -> (n == 1100L),
        "cdf_data_prune_skips_files" -> (spanTotal == 4 && keyedParts == 1),
        "cdf_data_prune_exact" -> (keyedRows.length == 1 &&
          keyedRows.head.getString(1) == "v250"))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q174_cdf_prune: ${results.mkString(" ")} " +
        s"(schemas=${scanSchemas.map(_.mkString("+")).distinct.mkString(";")} " +
        s"keyedParts=$keyedParts/$spanTotal)")
    }
    locally {
      // q177's storage-partitioned join: two tables bucketed on the
      // join key (graft.bucketBy → v2 bucket(8, k) partitioning, the
      // catalog's bucket function binding the transform) must join with
      // ZERO exchange — no shuffle, no broadcast — under AQE. At 100 TB
      // this is THE fact⋈fact join cost; a broadcast can't save a join
      // where neither side fits.
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_spj_wh").toString
      spark.conf.set("spark.sql.catalog.gspj", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
      spark.sql("CREATE NAMESPACE gspj.ns")
      GraftTable.writeBucketed(spark.range(0, 40000).selectExpr(
        "cast(id % 2048 as int) AS k", "id AS x"), s"$wh/ns/fact_a", "k", 8)
      GraftTable.writeBucketed(spark.range(0, 20000).selectExpr(
        "cast(id % 2048 as int) AS k", "id AS y"), s"$wh/ns/fact_b", "k", 8)
      val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = spark.table("gspj.ns.fact_a").join(spark.table("gspj.ns.fact_b"), "k")
        val n = j.count()
        j.collect()
        val planStr = j.queryExecution.executedPlan.toString
        val checks = Seq(
          "spj_zero_exchange" -> !planStr.contains("Exchange"),
          "spj_v2_scans" -> (planStr.contains("BatchScan") &&
            !planStr.contains("RowDataSourceScan")),
          // 40000/2048 ≈ 19.5 rows per key on A, 20000/2048 ≈ 9.7 on B
          "spj_rows_exact" -> (n == (0 until 2048).map(k =>
            (0 until 40000).count(_ % 2048 == k).toLong *
              (0 until 20000).count(_ % 2048 == k)).sum))
        val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
        println(s"[plan] q177_spj: ${results.mkString(" ")} (rows=$n)")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)
    }
    locally {
      // SPJ SKEW ESCAPE: a hot bucket (the reference's dummy-member
      // key-0 attractor, models/dwh/fact_order.sql:17-19) must not
      // serialize its whole join into one task. With Spark's
      // partially-clustered distribution the big side's splits stay
      // UNgrouped (small side replicates per split): zero exchange
      // still, but the hot bucket executes as multiple tasks.
      import graft.core.GraftTable
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val wh = java.nio.file.Files.createTempDirectory("plan_spjskew_wh").toString
      spark.conf.set("spark.sql.catalog.gskew", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gskew.warehouse", wh)
      spark.sql("CREATE NAMESPACE gskew.ns")
      GraftTable.writeBucketed(spark.range(0, 120000).selectExpr(
        "cast(CASE WHEN id % 2 = 0 THEN 0 ELSE id % 1000 END as int) AS k",
        "id AS x", "repeat(cast(id as string), 8) AS pad"),
        s"$wh/ns/hotf", "k", 4)
      GraftTable.writeBucketed(spark.range(0, 1000).selectExpr(
        "cast(id as int) AS k", "cast(id % 7 as int) AS seg"), s"$wh/ns/hotd", "k", 4)
      // the skew escape (partiallyClusteredDistribution) is NOT set here
      // — it comes from the DEFAULT graft session bootstrap
      // (graft.GraftSession.RequiredConfs), which is the round-13 ask:
      // a hot bucket must multi-task without per-query opt-in
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.files.maxPartitionBytes" -> (128 * 1024).toString,
        "spark.sql.files.openCostInBytes" -> "0")
        .map { case (k, v) =>
          val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old }
      try {
        val j = spark.table("gskew.ns.hotf").join(spark.table("gskew.ns.hotd"), "k")
        val n = j.count()
        j.collect()
        val planStr = j.queryExecution.executedPlan.toString
        def scans(p: SparkPlan)
            : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: QueryStageExec => scans(q.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
          case o => o.children.flatMap(scans)
        }
        val joinParts = scans(j.queryExecution.executedPlan)
          .map(_.inputRDD.getNumPartitions).foldLeft(0)(math.max)
        val checks = Seq(
          "skew_zero_exchange" -> !planStr.contains("Exchange"),
          "skew_hot_bucket_multi_task" -> (joinParts > 4),
          "skew_rows_exact" -> (n == 120000L))
        val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
        println(s"[plan] spj_skew_escape: ${results.mkString(" ")} (parts=$joinParts)")
      } finally saved.foreach { case (k, old) =>
        old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    locally {
      // q178's as-of join over co-bucketed tables: the equi part rides
      // the storage-partitioned join, so the ONLY exchange in the plan
      // is the post-join aggregation's — the join itself moves nothing.
      // (The reference's fact⋈dim validity-window lookup,
      // models/dwh/fact_order.sql:37-42, at the 100 TB design point.)
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_spjasof_wh").toString
      spark.conf.set("spark.sql.catalog.gsa", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsa.warehouse", wh)
      spark.sql("CREATE NAMESPACE gsa.ns")
      GraftTable.writeBucketed(spark.range(0, 30000).selectExpr(
        "cast(id % 1024 as int) AS ck",
        "timestamp'1994-01-01' + make_interval(0, 0, 0, cast(id % 900 as int), 0, 0, 0) AS ts",
        "id AS x"), s"$wh/ns/fact", "ck", 8)
      GraftTable.writeBucketed(spark.range(0, 1024).selectExpr(
        "cast(id as int) AS ck", "cast(id % 7 as int) AS seg",
        "timestamp'1990-01-01' AS vf", "timestamp'1995-01-01' AS vt")
        .unionAll(spark.range(0, 1024).selectExpr(
          "cast(id as int) AS ck", "cast(id % 7 + 100 as int) AS seg",
          "timestamp'1995-01-01' AS vf", "timestamp'2999-01-01' AS vt")),
        s"$wh/ns/dim", "ck", 8)
      val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import org.apache.spark.sql.functions.{count, lit}
        val f = spark.table("gsa.ns.fact")
        val dd = spark.table("gsa.ns.dim")
        val asof = f.join(dd, f("ck") === dd("ck") &&
          f("ts") >= dd("vf") && f("ts") < dd("vt"))
          .groupBy(dd("seg")).agg(count(lit(1)).as("n"))
        val rows = asof.collect()
        val planStr = asof.queryExecution.executedPlan.toString
        val exchanges = planStr.linesIterator.filter(_.contains("Exchange")).toSeq
        val checks = Seq(
          "asof_join_zero_exchange" -> exchanges.forall(_.contains("hashpartitioning(seg")),
          "asof_v2_scans" -> (planStr.contains("BatchScan") &&
            !planStr.contains("RowDataSourceScan")),
          // every fact row matches exactly one validity window
          "asof_rows_exact" -> (rows.map(_.getLong(1)).sum == 30000L))
        val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
        println(s"[plan] q178_spj_asof: ${results.mkString(" ")}" +
          s" (exchanges=${exchanges.size})")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)
    }
    locally {
      // stock-SQL INSERT INTO a bucketed table rides the v2 batch
      // write's REQUIRED DISTRIBUTION (graft.sources.GraftWrite): the
      // insert's OWN plan carries the bucket hash exchange and the
      // in-bucket sort, the landed files are single-bucket (the
      // manifest records their ids), and the co-bucketed join AFTER a
      // plain SQL append still plans zero exchange — the declared
      // layout survives stock writes with no OPTIMIZE round-trip. At
      // 100 TB this is what keeps the nightly INSERT from silently
      // degrading every later fact⋈fact join back to a full shuffle.
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_insb_wh").toString
      spark.conf.set("spark.sql.catalog.gib", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gib.warehouse", wh)
      spark.sql("CREATE NAMESPACE gib.ns")
      GraftTable.writeBucketed(spark.range(0, 8000).selectExpr(
        "cast(id % 512 as int) AS k", "id AS x"), s"$wh/ns/fact", "k", 8)
      GraftTable.writeBucketed(spark.range(0, 512).selectExpr(
        "cast(id as int) AS k", "id AS y"), s"$wh/ns/dim", "k", 8)
      val ins = spark.sql(
        "INSERT INTO gib.ns.fact SELECT cast(id % 512 as int), id FROM range(8000, 20000)")
      val insPlan = ins.queryExecution.executedPlan.toString
      val live = GraftTable.filesOf(s"$wh/ns/fact",
        GraftTable.currentManifest(s"$wh/ns/fact").get).filter(_.rows > 0)
      val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = spark.table("gib.ns.fact").join(spark.table("gib.ns.dim"), "k")
        val n = j.count()
        j.collect()
        val jPlan = j.queryExecution.executedPlan.toString
        val checks = Seq(
          "insert_plan_bucket_exchange" ->
            insPlan.contains("Exchange hashpartitioning(k"),
          "insert_plan_inbucket_sort" -> insPlan.contains("Sort [k"),
          "insert_files_single_bucket" ->
            (live.nonEmpty && live.forall(_.stats.contains(GraftTable.BucketStatCol))),
          "post_insert_spj_zero_exchange" -> !jPlan.contains("Exchange"),
          "post_insert_rows_exact" -> (n == 20000L))
        val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
        println(s"[plan] insert_spj_layout: ${results.mkString(" ")} (files=${live.size})")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)
    }
    locally {
      // the footer-stats fast path: a plain overwrite with indexed
      // columns runs EXACTLY ONE Spark job — the staged write itself;
      // the stats pass is a driver-side footer fold, not a re-read.
      // A bloom column adds exactly one more (the bitmap aggregate).
      // With the footer path seam-disabled, the job-path fallback costs
      // a third. At 100 TB the difference is re-decoding up to 32
      // columns of every appended batch vs reading zero bytes of it.
      import graft.core.GraftTable
      val base = java.nio.file.Files.createTempDirectory("plan_footer").toString
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(): Unit
        }
      }
      def jobsDuring(body: => Unit): Int = {
        spark.sparkContext.addSparkListener(listener)
        try { jobs.set(0); body; Thread.sleep(2000); jobs.get }
        finally spark.sparkContext.removeSparkListener(listener)
      }
      val data = spark.range(0, 50000).selectExpr("id AS k",
        "concat('v', id) AS s", "timestamp_micros(id * 1000) AS ts")
      val statJobs = jobsDuring {
        GraftTable.overwrite(data, s"$base/t1", statsCols = Seq("k", "s", "ts")): Unit
      }
      val bloomJobs = jobsDuring {
        GraftTable.overwrite(data, s"$base/t2", statsCols = Seq("k", "s", "ts"),
          bloomCols = Seq("k")): Unit
      }
      GraftTable.disableFooterStatsForTests = true
      val fallbackJobs = try jobsDuring {
        GraftTable.overwrite(data, s"$base/t3", statsCols = Seq("k", "s", "ts")): Unit
      } finally { GraftTable.disableFooterStatsForTests = false }
      val m1 = GraftTable.currentManifest(s"$base/t1").get
      val statted = GraftTable.filesOf(s"$base/t1", m1).filter(_.rows > 0)
      // an exchange-bearing aggregate is 2 jobs under AQE (shuffle query
      // stage + final), so "one extra aggregate pass" reads as +2 jobs
      val checks = Seq(
        "footer_write_single_job" -> (statJobs == 1),
        "footer_blooms_one_extra_agg" -> (bloomJobs == statJobs + 2),
        "job_fallback_costs_a_rescan" -> (fallbackJobs == statJobs + 2),
        "footer_stats_complete" -> (statted.nonEmpty && statted.forall(fe =>
          Seq("k", "s", "ts").forall(fe.stats.contains))))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] footer_stats_path: ${results.mkString(" ")} " +
        s"(stat=$statJobs bloom=$bloomJobs fallback=$fallbackJobs)")
    }
    locally {
      // q154's multi-column z-order: after a 16-file relayout on the
      // auto-quantized Morton interleave, a 1/8 slice of EITHER
      // dimension must skip files — and the comparative claim: a
      // single-column sort on x leaves the y slice reading everything
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val base = java.nio.file.Files.createTempDirectory("plan_zorder2").toString
      val grid = spark.range(0, 64L * 64).selectExpr(
        "cast(id / 64 as int) AS x", "cast(id % 64 as int) AS y")
        .repartition(8) // shuffled: no incidental clustering
      def sliceReads(root: String, c: String): Int = GraftTable.readPruned(spark,
        root, Seq(GraftTable.ColRange(c, Some(0), Some(7)))).filesRead
      val rootZ = s"$base/z"
      GraftTable.overwrite(grid, rootZ, statsCols = Seq("x", "y"))
      // the dialect statement itself routes in the extension session
      val opt = spark.sql(s"OPTIMIZE graft.`$rootZ` ZORDER BY (x, y)").collect()
      GraftTable.writeClustered(GraftTable.read(spark, rootZ), rootZ,
        GraftTable.zorderClusterExpr(spark, rootZ, Seq("x", "y")), numFiles = 16,
        statsCols = Seq("x", "y"))
      val rootS = s"$base/sorted"
      GraftTable.writeClustered(grid, rootS, col("x"), numFiles = 16,
        statsCols = Seq("x", "y"))
      val (zx, zy) = (sliceReads(rootZ, "x"), sliceReads(rootZ, "y"))
      val sy = sliceReads(rootS, "y")
      val checks = Seq(
        "sql_zorder_multi_ran" -> (opt.length == 1),
        "x_slice_skips" -> (zx <= 8),
        "y_slice_skips" -> (zy <= 8),
        "single_sort_cannot" -> (sy == 16))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q154_zorder_multi: ${results.mkString(" ")}" +
        s" (z x=$zx/16 y=$zy/16; sorted y=$sy/16)")
    }
    locally {
      // q155's ANALYZE backfill: a metadata-only commit (data files
      // byte-untouched) that turns an unindexed clustered layout into a
      // pruning one — and the incremental claim: a second analyze with
      // nothing to do commits nothing
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_analyze").toString + "/t"
      val rows = spark.range(0, 4096).selectExpr(
        "cast(id as int) AS k", "cast(id / 16 as int) AS x")
      GraftTable.writeClustered(rows, root, col("x"), numFiles = 16,
        statsCols = Seq("k"))
      def slice() = GraftTable.readPruned(spark, root,
        Seq(GraftTable.ColRange("x", Some(0), Some(31))))
      def files() = Option(new java.io.File(root, "data").listFiles).get
        .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
      val before = slice().filesRead
      val snap = files()
      val v = spark.sql(s"ANALYZE graft.`$root` COMPUTE STATS FOR COLUMNS (x)")
        .collect()(0).getLong(0)
      val after = slice().filesRead
      val checks = Seq(
        "unindexed_reads_all" -> (before == 16),
        "backfill_prunes" -> (after <= 4),
        "no_data_rewrite" -> (files() == snap),
        "metadata_only_commit" -> (v == 2L),
        "idempotent_no_commit" -> (GraftTable.analyzeStats(spark, root, Seq("x")) == 2L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q155_analyze: ${results.mkString(" ")}" +
        s" (slice $before/16 -> $after/16)")
    }
    locally {
      // q156's bounded compaction: OPTIMIZE WHERE rewrites only the
      // stats window — carried files byte-untouched, and the commit's
      // change set is O(window), never O(table)
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_optwhere").toString + "/t"
      val rows = spark.range(0, 4096).selectExpr("cast(id as int) AS x",
        "cast(id % 97 as int) AS y")
      GraftTable.writeClustered(rows.filter(col("x") >= 512), root,
        col("x"), numFiles = 14, statsCols = Seq("x"))
      (0 until 4).foreach(i => GraftTable.append(
        rows.filter(col("x") < 512 && col("x") % 4 === i), root,
        statsCols = Seq("x")))
      def live() = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .map(fe => fe.path -> fe.bytes).toMap
      val before = live()
      // inclusive bound: `x < 512` would relax to `<= 512` and pull the
      // boundary archive file (min = 512) into the window — documented
      spark.sql(s"OPTIMIZE graft.`$root` WHERE x <= 511")
      val after = live()
      val m = GraftTable.currentManifest(root).get
      val carried = after.keySet.intersect(before.keySet)
      val removed = m.changes.map(_.removed.size).getOrElse(-1)
      val checks = Seq(
        "sql_where_ran" -> (m.op == "compact"),
        "archive_untouched" -> (carried.size == 14 &&
          carried.forall(n => after(n) == before(n))),
        "window_repacked" -> (after.size < before.size),
        "commit_is_o_window" -> (removed == before.size - 14 && removed < before.size),
        "rows_intact" -> (GraftTable.read(spark, root).count() == 4096))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q156_optimize_where: ${results.mkString(" ")}" +
        s" (files ${before.size} -> ${after.size}, removed $removed)")
    }
    locally {
      // q159/q160's merge-on-read delete: the scale claims, machine-
      // checked — zero data files rewritten, the commit costs sidecar
      // bytes (O(deleted rows)), a second delete merges into the same
      // file's vector, and REORG…PURGE restores the filter-free
      // vectorized read path
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_mor").toString + "/t"
      val rows = spark.range(0, 65536).selectExpr("cast(id as int) AS k",
        "repeat(uuid(), 4) AS payload")
      GraftTable.writeClustered(rows, root, col("k"), numFiles = 16,
        statsCols = Seq("k"))
      def dataFiles() = Option(new java.io.File(root, "data").listFiles).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
      def dvBytes() = Option(new java.io.File(root, "_dv").listFiles)
        .getOrElse(Array.empty[java.io.File]).map(_.length).sum
      val snap = dataFiles()
      val dataBytes = snap.map(_._3).sum
      spark.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES(" +
        "'graft.deletionVectors'='true')")
      spark.sql(s"DELETE FROM graft.`$root` WHERE k BETWEEN 100 AND 163")
      val dv1 = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .flatMap(_.dv)
      spark.sql(s"DELETE FROM graft.`$root` WHERE k BETWEEN 164 AND 227")
      val m2 = GraftTable.currentManifest(root).get
      val dv2 = GraftTable.filesOf(root, m2).flatMap(_.dv)
      val afterDeletes = dataFiles() // purge below legitimately rewrites
      val purged = spark.sql(s"REORG TABLE graft.`$root` APPLY (PURGE)")
        .collect()(0).getInt(0)
      val entriesAfter = GraftTable.filesOf(root,
        GraftTable.currentManifest(root).get)
      val checks = Seq(
        "sql_routed_mor" -> (m2.op == "delete_mor"),
        "no_data_rewrite" -> (afterDeletes == snap),
        "commit_is_sidecar_bytes" -> (dvBytes() > 0 && dvBytes() * 100 < dataBytes),
        "second_delete_merges" -> (dv1.size == 1 && dv2.size == 1 &&
          dv1.head.rows == 64 && dv2.head.rows == 128 &&
          dv2.head.path != dv1.head.path),
        "purge_rewrites_only_dvd" -> (purged == 1 &&
          entriesAfter.count(fe => !snap.exists(_._1 == fe.path.split('/').last)) == 1),
        "purge_restores_fast_path" -> entriesAfter.forall(_.dv.isEmpty),
        "rows_exact" -> (GraftTable.read(spark, root).count() == 65536 - 128))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q159_mor_delete: ${results.mkString(" ")}" +
        s" (dv ${dvBytes()} B vs data $dataBytes B)")
    }
    locally {
      // q166 / full-cover DML: a predicate-aligned DELETE drops whole
      // files from the manifest WITHOUT reading or rewriting them
      // (added=0, nothing new on disk), and REPLACE WHERE's commit is
      // removed-window + staged-source only, clean files byte-carried —
      // the 100 TB retention/recompute write shape, machine-checked.
      // Boundaries come from the manifest's own per-file k stats, so
      // the alignment is exact whatever the range partitioner chose.
      import org.apache.spark.sql.functions._
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_replw").toString + "/t"
      val rows = spark.range(0, 65536).selectExpr("cast(id as int) AS k",
        "repeat(uuid(), 4) AS payload")
      GraftTable.writeClustered(rows, root, col("k"), numFiles = 16,
        statsCols = Seq("k"))
      def dataFiles() = Option(new java.io.File(root, "data").listFiles).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
      val snap = dataFiles()
      val byMin = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .sortBy(_.stats("k").min.get.toLong)
      val cut1 = byMin(4).stats("k").min.get.toLong // files 0-3 wholly below
      val cut2 = byMin(8).stats("k").min.get.toLong // files 4-7 in [cut1, cut2)
      spark.sql(s"DELETE FROM graft.`$root` WHERE k < $cut1")
      val ch1 = GraftTable.currentManifest(root).get.changes.get
      val afterDel = dataFiles()
      val kept1 = spark.sql(s"SELECT count(*) FROM graft.`$root`").head().getLong(0)
      spark.range(cut1, cut2, 100).selectExpr("cast(id as int) AS k",
        "'R' AS payload").createOrReplaceTempView("pa_rw_src")
      val nRepl = (cut2 - cut1 + 99) / 100
      spark.sql(s"INSERT INTO graft.`$root` REPLACE WHERE k >= $cut1 AND k < $cut2 " +
        "SELECT k, payload FROM pa_rw_src")
      val m2 = GraftTable.currentManifest(root).get
      val ch2 = m2.changes.get
      val afterRepl = dataFiles()
      val carried = afterDel.map(_._1).toSet.intersect(afterRepl.map(_._1).toSet)
      val checks = Seq(
        "delete_drops_covered_files" -> (ch1.removed.size == 4 && ch1.added.isEmpty),
        "delete_zero_rewrite_io" -> (afterDel == snap),
        "replace_op_committed" -> (m2.op == "replace_where"),
        "replace_commit_is_window" -> (ch2.removed.size == 4 &&
          ch2.added.map(_.rows).sum == nRepl),
        "replace_carries_untouched" -> carried.forall(n =>
          afterRepl.find(_._1 == n) == afterDel.find(_._1 == n)),
        "rows_exact" -> (spark.sql(s"SELECT count(*) FROM graft.`$root`")
          .head().getLong(0) == kept1 - (cut2 - cut1) + nRepl))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q166_replace_where: ${results.mkString(" ")}" +
        s" (del removed=${ch1.removed.size}/added=${ch1.added.size}," +
        s" repl removed=${ch2.removed.size}/staged_rows=${ch2.added.map(_.rows).sum})")
    }
    locally {
      // DV-aware CHECK validation: addCheck's whole-table scan reads
      // through deletion-vector masks — a row that violates the
      // prospective check but is MOR-DELETED (masked, physically
      // present) must not block the constraint; a LIVE violation still
      // refuses. The contract, explicit: validation never re-validates
      // deleted positions.
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_dvcheck").toString + "/t"
      val rows = spark.range(0, 4096).selectExpr("cast(id as int) AS k",
        "cast(id as int) AS v")
      GraftTable.writeClustered(rows, root, col("k"), numFiles = 8,
        statsCols = Seq("k"))
      // mask every v >= 4000 via ONE vector commit — physically present,
      // logically gone
      GraftTable.deleteWhereMor(spark, root, col("v") >= 4000)
      val masked = GraftTable.filesOf(root, GraftTable.currentManifest(root).get)
        .flatMap(_.dv).map(_.rows).sum
      // the masked rows all violate this check; validation must pass
      val okAdd =
        try { GraftTable.addCheck(spark, root, "v_bound", "v < 4000"); true }
        catch { case _: Throwable => false }
      // a LIVE violating row (v = 3999) still refuses loudly
      val liveRefuses =
        try { GraftTable.addCheck(spark, root, "v_tight", "v < 3999"); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("violate") }
      // and the committed check enforces on future writes
      val enforced =
        try {
          GraftTable.append(spark.range(9000, 9001).selectExpr(
            "cast(id as int) AS k", "cast(id as int) AS v"), root)
          false
        } catch { case e: Throwable =>
          Option(e.getMessage).exists(_.contains("v_bound")) ||
            Option(e.getCause).flatMap(c => Option(c.getMessage))
              .exists(_.contains("v_bound"))
        }
      val checks = Seq(
        "masked_rows_present" -> (masked == 96L),
        "check_skips_dvd_positions" -> okAdd,
        "live_violation_refuses" -> liveRefuses,
        "check_enforced_after" -> enforced)
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] dv_check_validation: ${results.mkString(" ")}" +
        s" (masked=$masked)")
    }
    locally {
      // auto-broadcast from manifest sizes: the GraftBatch scan's
      // statistics answer from the manifest (zero file listings), so a graft dim
      // under the broadcast threshold broadcast-joins WITHOUT an
      // explicit broadcast() hint — checked on the PRE-AQE plan, so the
      // decision provably came from the manifest-reported size, not a
      // runtime AQE rescue. The CBO input that keeps 100 TB star joins
      // shuffle-free on the dim side.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import graft.core.GraftTable
      val base = java.nio.file.Files.createTempDirectory("plan_autobc").toString
      val dimP = s"$base/dim"; val factP = s"$base/fact"
      GraftTable.overwrite(
        spark.range(0, 100).selectExpr("id AS k", "concat('d', id) AS name"), dimP)
      GraftTable.overwrite(
        spark.range(0, 100000).selectExpr("id % 100 AS k", "id AS x"), factP)
      val j = spark.read.format("graft").load(factP)
        .join(spark.read.format("graft").load(dimP), "k")
      def findBhj(p: SparkPlan): Seq[BroadcastHashJoinExec] = p match {
        case b: BroadcastHashJoinExec => b +: b.children.flatMap(findBhj)
        case o => o.children.flatMap(findBhj)
      }
      val static = findBhj(j.queryExecution.sparkPlan)
      val checks = Seq(
        "manifest_size_drives_autobroadcast" -> static.nonEmpty,
        "join_answers" -> (j.count() == 100000L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] auto_broadcast: ${results.mkString(" ")}")
    }
    locally {
      // named-table metadata aggregates in the EXTENSION session: the
      // injected optimizer rule (or the scan's own aggregate pushdown)
      // folds the aggregate over the v2 relation's manifest entries —
      // `SELECT count(*) FROM gmeta.ns.t` by NAME plans zero file scans
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_cat_meta").toString
      spark.conf.set("spark.sql.catalog.gmeta", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gmeta.warehouse", wh)
      spark.sql("CREATE NAMESPACE gmeta.ns")
      GraftTable.overwrite(spark.range(0, 3000).selectExpr("id AS k"), s"$wh/ns/t")
      val agg = spark.sql("SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM gmeta.ns.t")
      val row = agg.collect().head
      def find(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case b: BatchScanExec => Seq(b)
        case o => o.children.flatMap(find)
      }
      val nScans = find(agg.queryExecution.executedPlan).size
      // named-dim auto-broadcast: the GraftBatch scan reports
      // manifest-true statistics — a small named dim must plan a
      // broadcast join PRE-AQE
      GraftTable.overwrite(spark.range(0, 200000).selectExpr(
        "id % 3000 AS k", "id AS x"), s"$wh/ns/fact")
      val j = spark.sql("SELECT * FROM gmeta.ns.fact f JOIN gmeta.ns.t d ON f.k = d.k")
      def findBhj(p: SparkPlan): Int = p match {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          1 + b.children.map(findBhj).sum
        case o => o.children.map(findBhj).sum
      }
      val bhj = findBhj(j.queryExecution.sparkPlan)
      // DV-aware zero-IO count: after a MOR delete on a NAMED table the
      // count(*) still folds (exact per-file liveRows) with no scan of
      // ANY kind in the plan, and answers the LIVE count — not the
      // stale physical one; min/max correctly fall back to a real scan
      GraftTable.setProperties(s"$wh/ns/t", Map("graft.deletionVectors" -> "true"))
      GraftTable.deleteWhereMor(spark, s"$wh/ns/t",
        org.apache.spark.sql.functions.col("k") >= 2990)
      def anyScans(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        def findAll(p: SparkPlan): Int = p match {
          case a: AdaptiveSparkPlanExec => findAll(a.executedPlan)
          case q: QueryStageExec => findAll(q.plan)
          case _: BatchScanExec => 1
          case o => o.children.map(findAll).sum
        }
        findAll(df.queryExecution.executedPlan)
      }
      val dvCount = spark.sql("SELECT count(*) AS n FROM gmeta.ns.t")
      val dvCountScans = anyScans(dvCount)
      val dvCountN = dvCount.collect().head.getLong(0)
      val dvMax = spark.sql("SELECT max(k) AS m FROM gmeta.ns.t")
      val dvMaxScans = anyScans(dvMax)
      val dvMaxV = dvMax.collect().head.getLong(0)
      val checks = Seq(
        "named_count_zero_scans" -> (nScans == 0),
        "named_values_exact" -> (row.getLong(0) == 3000L &&
          row.getLong(1) == 0L && row.getLong(2) == 2999L),
        "named_dim_autobroadcasts" -> (bhj > 0),
        "mor_named_count_zero_scans_exact" -> (dvCountScans == 0 && dvCountN == 2990L),
        "mor_named_minmax_keeps_real_scan" -> (dvMaxScans > 0 && dvMaxV == 2989L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] named_meta_agg: ${results.mkString(" ")}")
    }
    locally {
      // manifest NDV sketches driving CBO: the per-file bloom sidecars
      // double as distinct-count estimates surfaced through the named
      // scan's v2 column statistics — with join reorder on, a 3-way
      // join written in a PESSIMAL order (fact x mid first, the
      // 4-row-selective tiny dim last) must re-order to join through
      // tiny FIRST, from manifest cardinalities alone (no ANALYZE, no
      // hints). Broadcast is disabled so the order is the cost lever.
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_cbo_wh").toString
      spark.conf.set("spark.sql.catalog.gcbo", classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gcbo.warehouse", wh)
      spark.sql("CREATE NAMESPACE gcbo.ns")
      GraftTable.overwrite(spark.range(0, 200000).selectExpr(
        "id % 20000 AS k1", "id % 200 AS k2", "id AS payload"),
        s"$wh/ns/fact", bloomCols = Seq("k1", "k2"))
      GraftTable.overwrite(spark.range(0, 20000).selectExpr(
        "id AS k1", "id % 50 AS battr"), s"$wh/ns/mid", bloomCols = Seq("k1"))
      GraftTable.overwrite(spark.range(0, 4).selectExpr(
        "id AS k2", "id AS cattr"), s"$wh/ns/tiny", bloomCols = Seq("k2"))
      val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = spark.sql("SELECT count(*) AS n FROM gcbo.ns.fact f " +
          "JOIN gcbo.ns.mid m ON f.k1 = m.k1 " +
          "JOIN gcbo.ns.tiny t ON f.k2 = t.k2")
        val opt = q.queryExecution.optimizedPlan.treeString
        // the reordered tree joins tiny in the INNER subtree (it
        // appears above mid in the indented dump)
        val lines = opt.linesIterator.toSeq
        val tinyLine = lines.indexWhere(_.contains("gcbo.ns.tiny"))
        val midLine = lines.indexWhere(_.contains("gcbo.ns.mid"))
        val factStats = spark.table("gcbo.ns.fact").queryExecution
          .optimizedPlan.stats
        val ndvs = factStats.attributeStats.map { case (a, cs) =>
          a.name -> cs.distinctCount.map(_.toLong).getOrElse(-1L) }.toMap
        val checks = Seq(
          "cbo_joins_selective_dim_first" -> (tinyLine >= 0 && midLine >= 0 &&
            tinyLine < midLine),
          "join_answers" -> (q.head().getLong(0) == 4000L),
          "manifest_ndv_within_2pct" -> (
            math.abs(ndvs.getOrElse("k1", -1L) - 20000L) <= 400 &&
            math.abs(ndvs.getOrElse("k2", -1L) - 200L) <= 4),
          "rowcount_manifest_true" -> factStats.rowCount.contains(BigInt(200000)))
        val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
        println(s"[plan] cbo_ndv_reorder: ${results.mkString(" ")}" +
          s" (k1~${ndvs.getOrElse("k1", -1L)} k2~${ndvs.getOrElse("k2", -1L)})")
      } finally saved.foreach { case (k, v) =>
        v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
      }
    }
    locally {
      // q171's metadata-only aggregates: count/min/max over a graft
      // scan must plan ZERO file scans (the Aggregate collapses to a
      // constant-folded projection over the manifest fold), while
      // unsupported shapes (sum) and post-DV tables keep real plans
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
      import graft.core.GraftTable
      graft.plans.GraftPrune.install(spark)
      val root = java.nio.file.Files.createTempDirectory("plan_metaagg").toString + "/t"
      GraftTable.writeClustered(spark.range(0, 5000).selectExpr(
        "id AS k", "cast(id % 13 as double) AS x"), root, col("k"), 8,
        statsCols = Seq("k", "x"))
      def scans(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        def find(p: SparkPlan): Seq[BatchScanExec] = p match {
          case a: AdaptiveSparkPlanExec => find(a.executedPlan)
          case q: QueryStageExec => find(q.plan)
          case b: BatchScanExec => Seq(b)
          case o => o.children.flatMap(find)
        }
        find(df.queryExecution.executedPlan).size
      }
      val meta = GraftTable.read(spark, root).agg(count(lit(1)).as("n"),
        min(col("k")).as("mn"), max(col("x")).as("mx"))
      val metaScans = scans(meta)
      val metaRow = meta.collect().head
      val sumScans = scans(GraftTable.read(spark, root).agg(sum(col("k")).as("s")))
      GraftTable.setProperties(root, Map("graft.deletionVectors" -> "true"))
      GraftTable.deleteWhereMor(spark, root, col("k") >= 4990)
      val afterDv = GraftTable.read(spark, root).agg(count(lit(1)).as("n"),
        max(col("k")).as("m")).collect().head
      val checks = Seq(
        "agg_plans_zero_scans" -> (metaScans == 0),
        "agg_values_exact" -> (metaRow.getLong(0) == 5000L &&
          metaRow.getLong(1) == 0L && metaRow.getDouble(2) == 12.0),
        "sum_keeps_real_scan" -> (sumScans > 0),
        "dv_table_answers_post_delete" -> (afterDv.getLong(0) == 4990L &&
          afterDv.getLong(1) == 4989L))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[graft.plans.GraftPrune])
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q171_meta_agg: ${results.mkString(" ")}")
    }
    locally {
      // q179's FILTERED metadata aggregates in a TRULY stock session
      // (newSession: no extensions, no experimental rules): a
      // boundary-aligned WHERE must fold count/min/max from the
      // manifest with ZERO scan nodes of any kind (the exact-prune
      // claim removes the residual Filter, complete agg pushdown plans
      // a LocalTableScan); the straddling window keeps a real scan;
      // and a plain filtered SELECT under the claim carries no
      // FilterExec while returning exactly the predicate's rows
      import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_fmeta").toString
      (0 until 4).foreach { i =>
        val slice = spark.range(i * 1000L, (i + 1) * 1000L)
          .selectExpr("id AS k", "id * 3 AS v")
        if (i == 0) GraftTable.overwrite(slice.coalesce(1), s"$wh/ns/t")
        else GraftTable.append(slice.coalesce(1), s"$wh/ns/t")
      }
      val stock = spark.newSession()
      stock.conf.set("spark.sql.catalog.pfm", classOf[graft.catalog.GraftCatalog].getName)
      stock.conf.set("spark.sql.catalog.pfm.warehouse", wh)
      // the claim's DPP guard keys off the broadcast threshold; the
      // fixture is tiny, so run the no-broadcast analytics shape
      stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // this audit session's CONTEXT carries spark.sql.extensions, which
      // a newSession cannot shed — turn the injected rules off so the
      // pin proves the v2 pushdown path, not the extension rewrite
      stock.conf.set(graft.plans.GraftRules.Key, "false")
      def scansAndFilters(df: org.apache.spark.sql.DataFrame): (Int, Int, Boolean) = {
        df.collect()
        var local = false
        def walk(p: SparkPlan): (Int, Int) = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _: BatchScanExec => (1, 0)
          case f: FilterExec => val (s, n) = walk(f.child); (s, n + 1)
          case l: org.apache.spark.sql.execution.LocalTableScanExec =>
            local = true; (0, 0)
          case o => val r = o.children.map(walk); (r.map(_._1).sum, r.map(_._2).sum)
        }
        val (s, f) = walk(df.queryExecution.executedPlan)
        (s, f, local)
      }
      val clean = stock.sql(
        "SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM pfm.ns.t " +
          "WHERE k >= 1000 AND k <= 2999")
      val (cs, _, cLocal) = scansAndFilters(clean)
      val cRow = clean.collect().head
      val strad = stock.sql(
        "SELECT count(*) AS n FROM pfm.ns.t WHERE k >= 1001 AND k <= 2999")
      val (ss, _, _) = scansAndFilters(strad)
      val sel = stock.sql("SELECT k, v FROM pfm.ns.t WHERE k >= 1000 AND k <= 2999")
      val (selScans, selFilters, _) = scansAndFilters(sel)
      val checks = Seq(
        "stock_filtered_agg_zero_scans" -> (cs == 0 && cLocal),
        "stock_filtered_agg_exact" -> (cRow.getLong(0) == 2000L &&
          cRow.getLong(1) == 3000L && cRow.getLong(2) == 8997L),
        "straddler_keeps_real_scan" -> (ss > 0 &&
          strad.collect().head.getLong(0) == 1999L),
        "exact_prune_drops_filter_node" -> (selScans == 1 && selFilters == 0 &&
          sel.count() == 2000L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q179_meta_filtered_stock: ${results.mkString(" ")}")
      if (checks.exists(!_._2))
        println(s"[plan-debug] q179 clean plan:\n${clean.queryExecution.executedPlan}")
    }
    locally {
      // q181/q182: GROUPED metadata aggregates + IN-list exact prune in
      // a truly stock session — GROUP BY over a partition-shaped layout
      // (one single-valued file per enum value) folds per group from
      // the manifest (LocalTableScan, zero files); a multi-valued
      // layout bails to the real scan; IN over the partition column
      // folds, IN over the range-valued key stays advisory
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import graft.core.GraftTable
      val wh = java.nio.file.Files.createTempDirectory("plan_gmeta").toString
      (0 until 4).foreach { i =>
        val slice = spark.range(i * 1000L, (i + 1) * 1000L)
          .selectExpr(s"'e$i' AS part", "id AS k", "id * 3 AS v")
        if (i == 0) GraftTable.overwrite(slice.coalesce(1), s"$wh/ns/pp")
        else GraftTable.append(slice.coalesce(1), s"$wh/ns/pp")
      }
      GraftTable.overwrite(spark.range(0, 1000)
        .selectExpr("cast(id % 5 as int) AS g", "id AS x").coalesce(1), s"$wh/ns/mv")
      val stock = spark.newSession()
      stock.conf.set("spark.sql.catalog.pgm", classOf[graft.catalog.GraftCatalog].getName)
      stock.conf.set("spark.sql.catalog.pgm.warehouse", wh)
      stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      stock.conf.set(graft.plans.GraftRules.Key, "false")
      def scansAndLocal(df: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
        df.collect()
        var local = false
        def walk(p: SparkPlan): Int = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _: BatchScanExec => 1
          case _: org.apache.spark.sql.execution.LocalTableScanExec =>
            local = true; 0
          case o => o.children.map(walk).sum
        }
        (walk(df.queryExecution.executedPlan), local)
      }
      val grouped = stock.sql(
        "SELECT part, count(*) AS n, min(k) AS mn, max(k) AS mx " +
          "FROM pgm.ns.pp GROUP BY part")
      val (gs, gLocal) = scansAndLocal(grouped)
      val gRows = grouped.collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val multi = stock.sql("SELECT g, count(*) AS n FROM pgm.ns.mv GROUP BY g")
      val (ms, _) = scansAndLocal(multi)
      val inFold = stock.sql(
        "SELECT count(*) AS n, max(k) AS mx FROM pgm.ns.pp WHERE part IN ('e1', 'e3', 'zz')")
      val (is, iLocal) = scansAndLocal(inFold)
      val iRow = inFold.collect().head
      val inAdv = stock.sql("SELECT count(*) AS n FROM pgm.ns.pp WHERE k IN (1500, 1501)")
      val (as_, _) = scansAndLocal(inAdv)
      // OR-of-aligned-ranges folds through the tri-state tree; an OR
      // branch cutting through a file straddles and keeps a real scan
      val orFold = stock.sql(
        "SELECT count(*) AS n, max(k) AS mx FROM pgm.ns.pp WHERE k < 1000 OR k >= 3000")
      val (os, oLocal) = scansAndLocal(orFold)
      val oRow = orFold.collect().head
      val orStrad = stock.sql(
        "SELECT count(*) AS n FROM pgm.ns.pp WHERE k < 1100 OR k >= 3000")
      val (oss, _) = scansAndLocal(orStrad)
      // the MONOTONIC grouped fold (q184): GROUP BY date_trunc over
      // year-clustered files folds via the extension rule (this audit
      // session's extensions are context-wide; rules stay ON here);
      // a finer grain straddles every file and keeps the real scan
      (0 until 3).foreach { y =>
        GraftTable.append(spark.range(0, 500).selectExpr(
          s"timestamp'${2000 + y}-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, cast(id % 300 as int), 0, 0, 0) AS ts",
          s"id + ${y * 10000} AS v").coalesce(1), s"$wh/ns/yr")
      }
      import org.apache.spark.sql.functions.{col, count => fcount, date_trunc, lit, max => fmax}
      def truncAgg(unit: String) = spark.read.format("graft").load(s"$wh/ns/yr")
        .groupBy(date_trunc(unit, col("ts")).as("p"))
        .agg(fcount(lit(1)).as("n"), fmax(col("v")).as("mx"))
      val yearly = truncAgg("year")
      val (ys, yLocal) = scansAndLocal(yearly)
      val yRows = yearly.collect()
      val monthly = truncAgg("month")
      val (mos, _) = scansAndLocal(monthly)
      val checks = Seq(
        "or_ranges_claim_zero_scans" -> (os == 0 && oLocal &&
          oRow.getLong(0) == 2000L && oRow.getLong(1) == 3999L),
        "or_straddler_keeps_scan" -> (oss > 0 &&
          orStrad.collect().head.getLong(0) == 2100L),
        "trunc_group_zero_scans" -> (ys == 0 && yLocal),
        "trunc_group_exact" -> (yRows.length == 3 &&
          yRows.map(_.getLong(2)).sorted.sameElements(Array(499L, 10499L, 20499L))),
        "trunc_finer_grain_bails_to_scan" -> (mos > 0 &&
          monthly.collect().map(_.getLong(1)).sum == 1500L),
        "grouped_agg_zero_scans" -> (gs == 0 && gLocal),
        "grouped_agg_exact" -> (gRows == Map(
          "e0" -> ((1000L, 0L, 999L)), "e1" -> ((1000L, 1000L, 1999L)),
          "e2" -> ((1000L, 2000L, 2999L)), "e3" -> ((1000L, 3000L, 3999L)))),
        "multi_valued_group_bails_to_scan" -> (ms > 0 &&
          multi.collect().map(_.getLong(1)).sum == 1000L),
        "in_list_claim_zero_scans" -> (is == 0 && iLocal &&
          iRow.getLong(0) == 2000L && iRow.getLong(1) == 3999L),
        "in_list_advisory_keeps_scan" -> (as_ > 0 &&
          inAdv.collect().head.getLong(0) == 2L))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q181_q183_meta_folds: ${results.mkString(" ")}")
      if (checks.exists(!_._2))
        println(s"[plan-debug] grouped plan:\n${grouped.queryExecution.executedPlan}")
    }
    locally {
      // q170's dynamic file pruning: on a hash layout (min/max prune
      // NOTHING) the dim-driven key probe must bloom-skip most fact
      // files; the degrade contract past the cap must come back
      // unpruned, and the empty-dim short-circuit must scan zero files
      import org.apache.spark.sql.functions.col
      import graft.core.GraftTable
      val root = java.nio.file.Files.createTempDirectory("plan_dfp").toString + "/fact"
      val rows = spark.range(0, 8192).selectExpr("id AS k", "id % 97 AS m")
      GraftTable.overwrite(rows.repartition(16, col("k")), root, bloomCols = Seq("k"))
      val dim = spark.range(0, 3).selectExpr("id * 1000 + 7 AS k")
      val pruned = GraftTable.readPrunedByKeys(spark, root, "k", dim)
      val over = GraftTable.readPrunedByKeys(spark, root, "k",
        spark.range(0, 100).selectExpr("id AS k"), maxKeys = 10)
      val empty = GraftTable.readPrunedByKeys(spark, root, "k",
        spark.range(0).selectExpr("id AS k"))
      val joined = pruned.df.join(dim, "k").count()
      val checks = Seq(
        "dim_keys_bloom_skip" -> (pruned.filesTotal == 16 && pruned.filesRead <= 5),
        "join_complete_after_skip" -> (joined == 3L),
        "cap_degrades_unpruned" -> (over.filesRead == over.filesTotal),
        "empty_dim_scans_zero" -> (empty.filesRead == 0))
      val results = checks.map { case (l, ok) => s"$l=${if (ok) "OK" else "MISS"}" }
      println(s"[plan] q170_dynamic_prune: ${results.mkString(" ")}" +
        s" (pruned ${pruned.filesRead}/${pruned.filesTotal})")
    }
    spark.stop()
  }
}
