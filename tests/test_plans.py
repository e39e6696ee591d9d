"""Plan-shape regression tests (SURVEY.md §4): correctness tests prove
the answers are right; these prove the PLANS stay right — pushdown,
pruning, broadcast, TakeOrdered — the properties that decide whether a
query survives a 100x scale-up."""

from __future__ import annotations

from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from data_lake_with_spark_and_aws_s3_spark.plans import (
    count_exchanges,
    count_scans,
    has_broadcast_join,
    has_pushed_filter,
    has_take_ordered,
    read_schema_columns,
)

SF = "/root/testdata/sf0.01"


def test_q1_filter_pushdown_and_pruning(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    assert has_pushed_filter(df, "l_shipdate"), "date filter must reach the scan"
    (cols,) = read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"scan reads unprojected columns: {cols}"
    )
    assert count_exchanges(df) == 1  # partial->final agg only


def test_q3_broadcasts_dimensions(spark):
    df = REGISTRY["q3_join_topk"].fn(spark, SF)
    assert has_broadcast_join(df), "customer/orders side should broadcast at this scale"
    assert has_take_ordered(df), "top-10 must plan TakeOrderedAndProject, not global sort"


def test_global_topk_avoids_full_sort(spark):
    df = REGISTRY["q_global_topk"].fn(spark, SF)
    assert has_take_ordered(df)
    assert count_exchanges(df) == 0  # per-partition heaps + driver merge


def test_tumbling_single_shuffle(spark):
    df = REGISTRY["q_events_tumbling"].fn(spark, SF)
    assert count_exchanges(df) == 1


def test_semi_join_prunes_right_columns(spark):
    df = REGISTRY["q_semi_join"].fn(spark, SF)
    schemas = read_schema_columns(df)
    orders_scan = [s for s in schemas if any(c.startswith("o_") for c in s)]
    assert orders_scan and all(
        s <= {"o_custkey", "o_orderpriority"} for s in orders_scan
    ), f"semi join should read only join+filter columns from orders: {orders_scan}"


def test_theta_join_avoids_nested_loop(spark):
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_theta_join"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        "theta join must use the band/prefix-sum form, not an O(S*C) nested loop"
    )
    assert has_broadcast_join(df), "band-offset join should broadcast the tiny offsets side"


def test_hits_plan_grows_linearly(spark):
    """HITS normalizes each half-iteration with a node-sized max window.
    The broadcast-max crossJoin form referenced every raw frame twice,
    doubling the plan per level: 157 exchanges at 2 iterations."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_hits_hubs_authorities"].fn(spark, SF)
    assert count_exchanges(df) <= 32
    assert "BroadcastNestedLoopJoin" not in formatted_plan(df)


def test_keyless_lint_counts_over_empty_windows(spark):
    """A window with neither PARTITION BY nor ORDER BY (`OVER ()`)
    collapses to one task like an ordered keyless one; the lint counts
    both forms and neither keyed form. HITS normalizes each of its four
    half-iterations with one."""
    from data_lake_with_spark_and_aws_s3_spark.plans import count_keyless_windows

    df = spark.range(10).selectExpr("id", "id % 3 AS g")
    assert count_keyless_windows(df.selectExpr("id", "max(id) OVER () AS m")) == 1
    assert count_keyless_windows(df.selectExpr("row_number() OVER (ORDER BY id) AS r")) == 1
    assert count_keyless_windows(df.selectExpr("max(id) OVER (PARTITION BY g) AS m")) == 0
    assert count_keyless_windows(
        df.selectExpr("sum(id) OVER (PARTITION BY g ORDER BY id) AS m")
    ) == 0
    assert count_keyless_windows(REGISTRY["q_hits_hubs_authorities"].fn(spark, SF)) >= 4


def test_curation_single_fingerprint_scan(spark):
    """Canonical-doc selection must not recompute the md5-shingle scan:
    one documents scan, one fingerprint-keyed exchange — plus, since
    round 8, at most one ROUND-ROBIN exchange from the adaptive scan
    fan-out (loader.fan_out; a no-op on multi-split inputs). The
    key-partitioned exchange count is the contract: more than one
    would mean the fingerprint stage recomputes."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_scans,
        formatted_plan,
    )

    df = REGISTRY["q_curation_pipeline"].fn(spark, SF)
    assert count_scans(df) == 1, "fingerprint stage scanned documents twice"
    plan = formatted_plan(df)
    keyed = plan.count("hashpartitioning(")
    rr = plan.count("RoundRobinPartitioning(")
    assert keyed <= 1, "fingerprint stage shuffles more than once"
    assert count_exchanges(df) == keyed + rr and rr <= 1


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-set shingle table must broadcast — a shuffled join here
    would re-shuffle the whole training corpus at 100 TB."""
    df = REGISTRY["q_decontaminate"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_mapside_pipeline_ops_have_no_shuffle(spark):
    """hash split / repetition signals / PII redaction / chunking are
    per-row transforms: any Exchange in these plans is a bug."""
    for name in ("q_hash_split", "q_repetition_signals", "q_pii_redact", "q_doc_chunks"):
        df = REGISTRY[name].fn(spark, SF)
        assert count_exchanges(df) == 0, f"{name} plans a shuffle"


def test_simhash_single_shuffle(spark):
    df = REGISTRY["q_simhash"].fn(spark, SF)
    assert count_exchanges(df) == 1  # explode is map-side; one doc_id agg


def test_global_sort_range_partitions(spark):
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_global_sort"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Sort" in plan
    assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan, (
        "global sort must range-partition, not single-task sort"
    )


def test_q6_pushdown_no_join(spark):
    """Q6 is the pure scan-filter-agg query: all three predicates reach
    the parquet reader and the plan has no join at all."""
    df = REGISTRY["q6_forecast_revenue"].fn(spark, SF)
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_quantity")
    (cols,) = read_schema_columns(df)
    assert "l_orderkey" not in cols, f"scan reads unprojected columns: {cols}"
    assert count_exchanges(df) == 1  # partial->final global agg only


def test_q10_topk_and_broadcast(spark):
    df = REGISTRY["q10_returned_items"].fn(spark, SF)
    assert has_take_ordered(df), "top-20 must plan TakeOrderedAndProject"
    assert has_broadcast_join(df), "customer/nation dims must broadcast"
    assert has_pushed_filter(df, "l_returnflag")


def test_q18_aggregates_before_join(spark):
    """The HAVING pre-aggregate must shrink lineitem BEFORE the orders
    join: the plan's join inputs are aggregates, and the orderkey
    shuffle count stays bounded (agg + join reuse, sort for top-k is
    TakeOrdered not a global Exchange)."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q18_large_volume_customers"].fn(spark, SF)
    plan = formatted_plan(df)
    assert has_take_ordered(df)
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert count_scans(df) == 3  # lineitem, orders, customer — one each


def test_q11_fact_exchange_reused(spark):
    """Q11's global-total scalar re-aggregates the per-part result; the
    static plan prints the subtree twice, but AQE must reuse the
    per-part shuffle so the lineitem map stage runs ONCE."""
    from data_lake_with_spark_and_aws_s3_spark.plans import executed_plan

    df = REGISTRY["q11_important_parts"].fn(spark, SF)
    assert "ReusedExchange" in executed_plan(df), (
        "per-part aggregate shuffle not reused — lineitem scanned twice at runtime"
    )


def test_q15_single_fact_scan(spark):
    """The rank-window argmax form plans ONE lineitem subtree (the
    max-broadcast alternative duplicates it and AQE reuse doesn't
    fire) — lineitem + supplier, two scans total."""
    df = REGISTRY["q15_top_supplier"].fn(spark, SF)
    assert count_scans(df) == 2
    assert has_pushed_filter(df, "l_shipdate")


def test_lateral_topk_decorrelates(spark):
    """lateralJoin's per-outer-row LIMIT must decorrelate into a
    ranked join (Window + WindowGroupLimit + hash join), NOT a
    nested-loop subquery per customer."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_lateral_topk"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, "per-group limit not pushed below the sort"


# Queries whose BroadcastNestedLoopJoin is a reviewed, justified design:
# 1-row scalar broadcasts (watermark threshold, grand total, global avg),
# the deliberately guarded tiny cross join, and the broadcast
# query-batch x corpus scoring that the similarity operators document.
def test_interval_union_single_exchange(spark):
    """Sweep-line interval union: one user_id shuffle feeds both
    windows AND the island aggregate — zero extra exchanges."""
    df = REGISTRY["q_interval_union"].fn(spark, SF)
    assert count_exchanges(df) == 1


def test_gap_fill_keyed_plan(spark):
    """Grid generation must be executor-side (Generate/sequence), and
    both aggregates hash on user_id — no cartesian grid build."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_gap_fill"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Generate" in plan and "sequence(" in plan, "grid must come from sequence()"
    assert "CartesianProduct" not in plan
    # span agg shuffle + actuals agg shuffle + actuals broadcast back
    # onto the grid (counted: count_exchanges includes BroadcastExchange)
    assert count_exchanges(df) == 3
    assert has_broadcast_join(df)


def test_skyline_preaggregates_before_window(spark):
    """The sweep must consume the distinct-pair aggregate, not raw
    parts, and (round 7) run the running max TWO-PHASE: a range
    exchange feeds partition-parallel local maxima — never an
    Exchange SinglePartition over the pair frame; the only keyless
    window left is the <=16-row prefix-max one."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_keyless_windows_in,
        formatted_plan,
    )

    df = REGISTRY["q_skyline"].fn(spark, SF)
    plan = formatted_plan(df)
    # the range exchange sits BEHIND the pid-pinning localCheckpoint
    # (round-7 fix): downstream explain shows the pinned RDD feeding
    # both the local-max branch and the prefix-max branch
    assert plan.count("Scan ExistingRDD") >= 2, (
        "both branches must read the pinned (pid, row) frame"
    )
    assert count_keyless_windows_in(plan) == 1, (
        "expected exactly the <=16-row prefix-max window"
    )


def test_triangles_materialize_edges_once(spark):
    """Edges feed five plan branches; localCheckpoint must prevent the
    lineitem self-join from re-running — the final plan re-reads the
    checkpointed edge set, never the parquet."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_copurchase_triangles"].fn(spark, SF)
    plan = formatted_plan(df)
    parquet_scans = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    )
    assert parquet_scans == 0, "triangle plan rescans parquet (edges recomputed)"
    assert "Scan ExistingRDD" in plan  # all branches read the checkpointed edges


def test_zscore_broadcasts_stats(spark):
    """Per-user stats (150 rows at sf0.01) must broadcast back onto
    events — a shuffled join would re-shuffle the fact table."""
    df = REGISTRY["q_zscore_anomalies"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_attribution_equijoins_on_user(spark):
    """The touch-window join has a user_id equi component; the range
    predicate must ride on it, never a nested loop."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_attribution_touch"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


_NLJ_ALLOWED = {
    "q_late_data_filter",   # broadcast 1-row max-ts watermark scalar
    "q_streaming_chained_stateful_exec",  # broadcast 1-row max-hour sentinel guard
    "q_cross_join",         # guarded 5x3 demonstration
    "q_mixture_sample",     # broadcast 1-row corpus total
    "q11_important_parts",  # broadcast 1-row grand total
    "q22_idle_customers",   # broadcast 1-row global average
    "q_dq_constraints",     # 1-row checks x 1-row orphan count stitch
    "q_cosine_topk",        # broadcast query batch (documented exactness baseline)
    "q_ann_ivf",            # broadcast query batch x tiny codebook
    "q_ann_ivf_kmeans",     # broadcast query batch x tiny codebook
    "q_token_lift",         # broadcast 1-row corpus doc count
    "q_ljung_box",          # broadcast 1-row global-moment stitch onto the 5-row lag frame
    "q_ansari_bradley",     # broadcast 1-row pooled-N/midpoint stitch onto the value histogram
    "q_quade_test",         # broadcast 1-row treatment-total stitch onto the 1-row A frame
    "q_null_safe_join",     # four 1-row count frames stitched; both data joins hash-join
    "q_theil_decomposition",  # broadcast 1-row grand-total stitch onto the |segments| frame
    "q_cooks_distance",       # broadcast 1-row OLS-moment frame scored map-side per day
    "q_holm_bonferroni",      # broadcast 1-row family-total stitch onto the |nations| frame
    "q_cramer_von_mises",     # broadcast 1-row group-size stitch onto the CDF grid
    "q_fisher_method",        # broadcast 1-row family-total stitch onto the |nations| frame
    "q_copurchase_triangles",  # broadcast 1-row node/edge/triangle totals stitch
    "q_negative_sampling",  # broadcast anchor subsample x corpus (label != is the op)
    "q_cascade_delete",     # 1-row audit aggregates stitched (before/after/purged)
    "q_minhash_lsh",        # 1-row twin/precision/recall contract aggregates stitch
    "q_bm25_topk",          # broadcast 1-row corpus (n_docs, sum_dl) stats stitch
    "q_bigram_lm_score",    # broadcast 1-row vocabulary-size scalar stitch
    "q_cluster_aware_split",  # broadcast 1-row doc-stats x cluster-stats stitch
    "q_cached_reuse",       # broadcast 1-row customer-total scalar stitch
    "q_chi_square",         # broadcast 1-row n / marginal-count stitches
    "q_psi_drift",          # broadcast 1-row period-total stitch
    "q_ks_test",            # broadcast 1-row (n_a, n_b) sample-total stitch
    "q_ml_minhash_lsh",     # 1-row twin/recall contract aggregates stitch
    "q_dsir_select",        # broadcast 1-row (V, T_t, T_r) model-constants stitch
    "q_mrl_truncation_recall",  # broadcast query batch (q_cosine_topk pattern)
    "q_cohens_kappa",       # broadcast 1-row chance-agreement scalar stitch
    "q_modularity",         # broadcast 1-row edge-count (m) scalar stitch
    "q_rrf_fusion",         # inherits q_bm25_topk's 1-row corpus-stats stitch
    "q_naive_bayes_langid",  # broadcast 1-row vocabulary-size scalar stitch
    "q_precision_recall_f1",  # inherits the NB vocabulary-size scalar stitch
    "q_vocab_growth",       # broadcast 1-row max-doc-id bucketing scalar
    "q_kendall_tau_b",      # value-domain cell dominance join (|Q|x|D| cells,
                            # data-size independent) + 1-row scalar stitches
    "q_two_proportion_ztest",  # |sources|^2 pair grid on broadcast-sized stats
    "q_vocab_coverage",     # constant 4-row k-grid x top-k slice
                            # + broadcast 1-row corpus-totals stitch
    "q_wasserstein_1d",     # |sources| x |support| dense CDF grid
                            # (bounded value domains, broadcast-sized)
    "q_isotonic_calibration",  # |bins|^2 interval grid (constant 32 bins)
    "q_hill_tail_index",    # broadcast 1-row order-statistic cutoff stitch
    "q_rfm_segments",       # broadcast 1-row customer-count scalar (exact
                            # NTILE arithmetic needs N — r8 two-phase rewrite)
    "q_ccnet_perplexity_buckets",  # broadcast 1-row (N, V) LM-constants stitch
                                   # (inherited from _unigram_doc_ce)
    "q_cliffs_delta",       # broadcast 1-row source-pick / totals / pair-count
                            # stitches
    "q_kendall_w",          # |judges| grid broadcast + 1-row dims/S4 stitches
    "q_mrr_at_10",          # broadcast 5-query judgment batch (q_ndcg_at_10
                            # pattern) + 1-row MRR stitch
    "q_mood_median_test",   # broadcast 1-row N / grand-median / marginal
                            # stitches
    "q_jonckheere_terpstra",  # value-grid x |groups| broadcast completion +
                              # 1-row JT2/moment stitches
    "q_audio_vad_segments",   # broadcast 1-row corpus-energy threshold
    "q_consistent_resharding",  # keys x 80-vnode broadcast ring lookup
    "q_submodular_coverage",  # per-round broadcast 1-row coverage-count stitch
    "q_sax_symbols",        # broadcast 1-row quartile-breakpoint stitch
    "q_weighted_percentile",  # constant 5-row percentile grid x histogram
    "q_autocorrelation",    # constant 3-row lag grid x daily series
    "q_growth_accounting",  # broadcast 1-row corpus-edge week stitch
    "q_welch_ttest",        # broadcast 1-row group-moments stitch
    "q_quantile_treatment_effect",  # constant 9-row decile grid x cum histogram
    "q_storage_tiering",    # broadcast 1-row max-month scalar stitch
    "q_partition_prune_audit",  # broadcast 1-row max-date watermark stitch
    "q_equi_depth_stats",   # constant 8-row boundary grid x value histogram
    "q_rolling_quantile_reagg",  # broadcast 1-row month-limits stitch
    "q_time_to_convert",    # constant 9-row decile grid x lag histogram
    "q_ndcg_at_10",         # broadcast 5-row judgment queries x corpus scan
    "q_cuboid_selection",   # 8x8 cuboid-lattice subset grid + 1-row greedy picks
    "q_merkle_diff",        # broadcast 1-row localization-stats stitch
    "q_kmv_sketch",         # K x |types| sketch rows x |types| pair grid
    "q_freshness_sla",      # broadcast 1-row high-watermark stitch
    "q_mcnemar_test",       # broadcast 1-row corpus-median stitch
    "q_simpson_check",      # broadcast census-over-strata scalar stitch
    "q_good_turing",        # broadcast 1-row unseen-mass scalar stitch
    "q_ship_lag_deciles",   # constant 9-row decile grid x lag histogram
    "q_ops_report",         # inherits q_freshness_sla's 1-row watermark stitch
    "q_waterfill_budget",   # broadcast 1-row budget/level scalar stitches
    "q_bh_fdr",             # broadcast 1-row family-totals (N, X, m) stitch
    "q_shapley_attribution",  # 16-subset mask lattice x 16-row mask
                            # histogram (channel-count-bounded constants)
    "q_ngram_coverage_curve",  # constant 3-row fraction grid x eval grams
                            # + broadcast 1-row eval-count stitch
    "q_t_closeness",        # |QI groups| x |sources| audit grid
                            # + broadcast 1-row corpus-total stitch
    "q_rendezvous_sharding",  # keys x 9-node broadcast score grid
                            # (the consistent_resharding pattern)
    "q_attribution_report",  # inherits q_shapley_attribution's
                            # 16-subset mask-lattice grids
    "q_ann_recall_curve",   # broadcast query batch x 10-cell codebook
                            # + constant 4-row probe grid (q_cosine_topk
                            # exactness-baseline pattern)
    "q_lsh_parameter_curve",  # broadcast 1-row pooled-pairs stitch
    # round-6 additions — all the reviewed 1-row/constant-grid classes:
    "q_anova_oneway",       # broadcast 1-row grand-moments (N, SY, k) stitch
    "q_permutation_test",   # broadcast 1-row observed-moments stitch (x2:
                            # rate for the resample fan-out, extremes count)
    "q_knn_shapley",        # broadcast 30-row test panel x train corpus
                            # (q_cosine_topk exactness-baseline pattern)
    "q_target_encoding_loo",  # broadcast 1-row global-prior (N, S) stitch
    "q_woe_iv",             # broadcast 1-row goods/bads totals stitch
    "q_rank_biased_overlap",  # constant 10-row depth spine x <=20-row
                            # top-10 prefix overlap (both broadcast-sized)
    "q_kneser_ney_bigram",  # broadcast 1-row bigram-type-count (T) stitch
    "q_spacesaving_merge",  # candidate tokens x constant 8-shard cap grid
    "q_bradley_terry",      # broadcast 1-row rating-sum normalizer stitch
                            # per MM iteration (constant 12-item state)
    "q_friedman_test",      # broadcast 1-row (sum R^2, n-blocks) stitch
    "q_ab_test_report",     # broadcast 1-row last-checkpoint stitch
                            # (+ inherits q_welch_ttest's moments stitch)
    # round-7 additions (verified: each plans exactly the broadcast
    # 1-row/constant-grid stitch named; q_mmr_diversify's query stitch
    # and pair grid plan as BroadcastHashJoins after checkpointing, so
    # it needs no entry):
    "q_doc_perplexity_filter",  # broadcast 1-row (N, V) LM-totals stitch
    "q_rdd_sharp",          # broadcast 1-row jump stitch onto 2-row sides
    "q_iv_wald",            # broadcast 1-row arm-moments stitch
    "q_kruskal_wallis",     # broadcast 1-row totals + tie-term stitches
    "q_levene_test",        # broadcast 1-row grand-moments stitch
    "q_cochran_armitage",   # broadcast 1-row trend-moments stitch
    "q_systematic_pps_sample",  # broadcast 1-row total-weight stitch
    "q_bloom_fpp_curve",    # constant 3-row bit-size grid x build/probe
    "q_entropy_rate_bigram",  # broadcast 1-row corpus-rate stitch
    "q_cramers_v",          # broadcast 1-row N + (r, c) count stitches
    # round-8 session-2 additions (each verified to plan exactly the
    # named broadcast 1-row/constant stitch):
    "q_tost_equivalence",   # broadcast 1-row control-moments stitch
                            # (q_welch_ttest's 2-group pattern)
    "q_doremi_mixture",     # broadcast 1-row CE-floor + totals stitches
                            # onto the |sources|-row domain frame
    "q_video_scene_cuts",   # broadcast 1-row corpus-delta threshold
                            # (q_audio_vad_segments pattern)
    "q_map_at_10",          # broadcast 5-query judgment batch
                            # (q_ndcg_at_10 pattern) + 1-row MAP stitch
    "q_hard_negative_mining",  # broadcast 30-anchor batch x corpus scan
                               # (q_cosine_topk exactness-baseline pattern)
    "q_horvitz_thompson",   # broadcast 1-row W / m design-constant
                            # stitches onto the sample frame
    "q_tukey_hsd",          # k x k pair grid on the 5-row group-moment
                            # table + 1-row totals stitch
    "q_jl_distortion",      # 20-vector sample pair grid (constant,
                            # broadcast-sized; the audit's whole input)
    "q_bm25_parameter_curve",  # inherits q_bm25_topk's 1-row corpus
                               # (n_docs, sum_dl) stats stitch x3 combos
}
# Row-at-a-time Python is banned except the deliberate UDTF demos
# (q_udtf_table_argument streams ordered partitions through a stateful
# UDTF — the row-at-a-time delivery IS the exercised contract).
_ROW_PYTHON_ALLOWED = {
    "q_python_udtf",
    "q_python_udtf_analyze",
    "q_udtf_table_argument",
}

# Keyless windows (`OVER (ORDER BY ...)` with no PARTITION BY) plan as
# Exchange SinglePartition + ONE task holding every row that reaches
# them — the single-task collapse trap (VERDICT r6 #2/#3). Every
# registered plan is walked; a keyless Window exec is allowed ONLY
# here, with the bounded-frame argument written down. Acceptable
# classes: <= num_partitions two-phase prefix offsets, calendar/bin/
# threshold/constant grids, value-domain histograms, post-limit
# constant frames, dim-sized post-aggregation frames with a documented
# tradeoff. Anything data-proportional must use TakeOrderedAndProject
# (orderBy+limit) or the _twophase.py range-partition idiom instead.
_KEYLESS_WINDOW_ALLOWED = {
    # --- two-phase prefix offsets: <= 16 per-partition rows ---
    "q_global_row_number": "<=16 two-phase prefix-offset rows (sorts.py idiom)",
    "q_gini_revenue": "<=16 two-phase prefix-offset rows",
    "q_ks_test": "<=16 two-phase prefix-offset rows",
    "q_sprt_boundary": "<=16 two-phase prefix-offset rows (r7 rewrite)",
    "q_zipf_slope": "<=16 two-phase prefix-offset rows (_twophase.py, r7 rewrite)",
    "q_skyline": "<=16 two-phase prefix-max rows (r7 rewrite)",
    # --- calendar / daily / monthly frames ---
    "q_binseg_split": "daily revenue series — calendar-bounded frame",
    "q_runs_test": "daily sign sequence — calendar-bounded frame",
    "q_sax_symbols": "daily series + 1-row breakpoint stitch",
    "q_kaplan_meier": "distinct event days — calendar-bounded",
    "q_nelson_aalen": "distinct event days — calendar-bounded",
    "q_vocab_growth": "corpus growth buckets — constant bucket grid",
    "q_compaction_bins": "monthly partition manifest — calendar-bounded",
    "q_waterfill_budget": "month x source allocation grid",
    # --- value-domain histograms (distinct values, not rows) ---
    "q_auc_mann_whitney": "distinct-length histogram frame (value-domain)",
    "q_decile_lift": "distinct-score histogram frame (value-domain)",
    "q_mcnemar_test": "distinct-length histogram median (r7 rewrite)",
    "q_quantile_normalize": "distinct-value CDF frames + ppm grid forward fill",
    "q_wasserstein_1d": "bounded value-domain dense CDF grid",
    "q_weighted_percentile": "value histogram x constant percentile grid",
    "q_join_key_skew_audit": "frequency-of-frequency histogram frames",
    # --- constant / small grids and stitches ---
    "q_bh_fdr": "|nations|-row hypothesis family",
    "q_bradley_terry": "constant 12-item rating state per MM iteration",
    "q_brier_decomposition": "constant calibration-bin grid",
    "q_roc_youden": "threshold-grid frames (ROC table)",
    "q_isotonic_calibration": "constant 32-bin PAV grid",
    "q_time_to_convert": "constant 9-row decile grid",
    "q_hamilton_apportionment": "|sources| remainder rows",
    "q_neyman_allocation": "|strata| allocation rows",
    "q_theta_join": "band-count offset table (constant bands)",
    "q_spacesaving_merge": "<= 8 shards x k candidate rows (constant)",
    "q_rank_biased_overlap": "<=10 rows post-TakeOrderedAndProject (r7 rewrite)",
    "q_curriculum_interleave": "limit(60) precedes the window — constant 60 rows",
    "q_vocab_coverage": "top-10000 limit precedes the window — constant frame",
    "q_approx_top_k": "sketch output <= maxItemsTracked=10k rows by construction",
    "q_ab_test_report": "inherits component queries' bounded stitch windows",
    # --- round-8 session-3 additions ---
    "q_ansari_bradley": "<=16 two-phase prefix-offset rows (_twophase.py)",
    "q_brunner_munzel": "<=16 two-phase prefix-offset rows (_twophase.py)",
    "q_holm_bonferroni": "|nations|-row hypothesis family (the q_bh_fdr justification)",
    "q_cramer_von_mises": "<=16 two-phase prefix-offset rows (_twophase.py)",
    "q_quade_test": (
        "|event-type|-row block-range ranking — taxonomy-bounded (5 rows "
        "at any SF; appears 2x because the S frame feeds both reductions)"
    ),
    # --- round-7 additions ---
    "q_kruskal_wallis": "<=16 two-phase prefix-offset rows (_twophase.py)",
    "q_err_at_k": "windows over the <=10-row post-TakeOrdered prefix",
    "q_page_hinkley": "daily revenue series — calendar-bounded frame",
    "q_systematic_pps_sample": (
        "<=16 two-phase prefix-offset rows (_twophase.py)"
    ),
    "q_horvitz_thompson": (
        "<=16 two-phase prefix-offset rows (inherits the "
        "q_systematic_pps_sample re-derivation)"
    ),
    # --- round-8 additions ---
    "q_rfm_segments": (
        "<=16 two-phase prefix-offset rows x3 (_twophase.py, r8 "
        "rewrite of the customer-dim ntile windows — VERDICT r7 #2)"
    ),
    "q_mood_median_test": "<=16 two-phase prefix-offset rows (_twophase.py)",
    "q_cliffs_delta": "distinct-length histogram frame (value-domain)",
    "q_wilcoxon_signed_rank": (
        "distinct |d| histogram frame (value-domain, q_cliffs_delta "
        "pattern; pairs are calendar days)"
    ),
    # --- dim-sized post-aggregation frames with documented tradeoff ---
    "q15_top_supplier": (
        "supplier-dim post-aggregation frame; docstring documents the "
        "measured double-scan cost of the max+join alternative"
    ),
    "q_hits_hubs_authorities": (
        "max(raw) OVER () per half-iteration over the node-sized frame: "
        "|customer| or |supplier| rows, so it grows with SF (the "
        "q15_top_supplier tradeoff; pagerank._hits_normalized docstring)"
    ),
    # --- OVER () totals over category- or value-domain frames ---
    "q_histogram": "share total over 20 price buckets ([0, 500k) / 25k width)",
    "q_hierarchical_share": "world total over the 25-row (region, nation) frame",
    "q_naive_bayes_langid": "prior total over the 5-row per-language frame",
    "q_precision_recall_f1": (
        "q_naive_bayes_langid's 5-row prior total, twice: the confusion "
        "matrix feeds both the tp/fp and the fn branch"
    ),
    "q_class_reweight": "N and K totals over the 5-row per-language counts",
    "q_mutual_information": (
        "N and MI totals over the |langs| x |sources| cells (<= 5 x 20)"
    ),
    "q_diff_in_diff": "DiD estimator sum over the 4-row 2x2 cell table",
    "q_temperature_mixture": "share totals over the 20-row per-source table",
    "q_post_stratification": "grand total and n_langs over the 5-row marginal",
    "q_consistent_resharding": (
        "totals over the <= 8 x 10 (old shard, new shard) movement matrix"
    ),
    "q_benford_digits": "chi-square N over the <= 9 leading-digit rows",
    "q_calibration_ece": "ECE totals over the <= 10 confidence-bin rows",
    "q_woe_iv": "IV total over the 5-row o_orderpriority bin table",
}


def test_registry_wide_plan_lint(spark):
    """Global plan-shape net over EVERY registered query: no
    CartesianProduct ever; BroadcastNestedLoopJoin only where a
    reviewed justification exists (see allowlist); row-at-a-time
    Python (BatchEvalPython) only in the deliberate UDTF. A new query
    that accidentally plans a quadratic join or a pickled-row UDF
    fails here before it ever ships. Round 7 adds the keyless-window
    walk (VERDICT r6 #3): a Window exec with an empty partition spec
    is a single-task collapse and must carry a written bounded-frame
    justification in _KEYLESS_WINDOW_ALLOWED."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_keyless_windows_in,
        formatted_plan,
    )

    offenders = []
    for name, spec in REGISTRY.items():
        plan = formatted_plan(spec.fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _NLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
        if "BatchEvalPython" in plan and name not in _ROW_PYTHON_ALLOWED:
            offenders.append((name, "BatchEvalPython (row-at-a-time Python)"))
        if (
            name not in _KEYLESS_WINDOW_ALLOWED
            and count_keyless_windows_in(plan) > 0
        ):
            offenders.append((name, "keyless Window (single-task collapse)"))
    assert not offenders, f"unjustified plan shapes: {offenders}"


def test_r7_topk_rewrites_plan_take_ordered(spark):
    """VERDICT r6 #3 + round-7 sweep: every top-k-of-an-unbounded-frame
    stage must plan TakeOrderedAndProject (per-partition heaps), with
    no keyless window over the data-proportional frame."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_keyless_windows_in,
        formatted_plan,
    )

    no_window_at_all = [
        "q_kneser_ney_bigram",
        "q_knn_shapley",
        "q_pagerank",
        "q_cms_heavy_hitters",
        "q_token_lift",
        "q_weighted_sample",
    ]
    for name in no_window_at_all:
        df = REGISTRY[name].fn(spark, SF)
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k not TakeOrdered"
        assert count_keyless_windows_in(plan) == 0, (
            f"{name}: keyless window survived the rewrite"
        )
    # RBO keeps two <=10-row rank windows AFTER its TakeOrdered limits,
    # plus the OVER () RBO_min total over the constant 10-row depth spine
    df = REGISTRY["q_rank_biased_overlap"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_keyless_windows_in(plan) == 3


def test_sprt_two_phase_no_fact_table_window(spark):
    """VERDICT r6 #2: the SPRT trajectory must come from the two-phase
    range-partition idiom — the only keyless window left is the
    <=16-row prefix-offset one, never a window over the events scan."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_keyless_windows_in,
        formatted_plan,
    )

    df = REGISTRY["q_sprt_boundary"].fn(spark, SF)
    plan = formatted_plan(df)
    assert count_keyless_windows_in(plan) == 1, (
        "expected exactly the <=16-row offset window"
    )
    # the range exchange sits BEHIND the pid-pinning localCheckpoint
    # (round-7 fix) — downstream explain shows the pinned RDD feeding
    # both the local-window branch and the offsets branch
    assert plan.count("Scan ExistingRDD") >= 2, (
        "both branches must read the pinned (pid, row) frame"
    )


def test_bloom_semijoin_broadcasts_filter(spark):
    """The hand-built bloom table (<=128 rows) must broadcast to the
    probe side — the whole point of a semi-join reduction is that the
    probe table never shuffles."""
    df = REGISTRY["q_bloom_semijoin"].fn(spark, SF)
    assert has_broadcast_join(df), "bloom word table must broadcast"


def test_regr_diagnostics_single_aggregate_pass(spark):
    """All moments + all builtin stats must come from ONE partial->
    final aggregate over the scan (one exchange) — not one pass per
    statistic."""
    df = REGISTRY["q_regr_diagnostics"].fn(spark, SF)
    assert count_scans(df) == 1
    assert count_exchanges(df) == 1


def test_runtime_bloom_filter_injection(spark):
    """Spark's built-in runtime row-level filtering (the engine-native
    version of q_bloom_semijoin): with the optimizer's bloom filter
    enabled and a selective build side, a shuffle join probe scan gets
    a might_contain(bloom_agg(...)) predicate injected at planning
    time. This is a 100 TB lever — at local scale we force it by
    lowering the thresholds and disabling broadcast."""
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF, "orders").filter(F.col("o_totalprice") > 490_000)
        li = load_table(spark, SF, "lineitem")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter not injected; optimized plan:\n" + plan[:2000]
        )
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_aqe_runtime_broadcast_conversion(spark):
    """AQE's runtime join demotion: with compile-time broadcast
    disabled (static threshold -1) but the ADAPTIVE threshold set,
    the planner emits a sort-merge join and AQE converts it to a
    broadcast hash join at runtime once the supplier side's actual
    shuffle size is known — the mechanism that saves fact-dim joins
    whose dimension-size estimates are wrong at 100 TB."""
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        s = load_table(spark, SF, "supplier")
        j = (
            li.join(s, li.l_suppkey == s.s_suppkey)
            .groupBy("s_nationkey")
            .count()
        )
        j.collect()  # run it so AQE finalizes the plan
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, (
            "AQE did not convert the SMJ to broadcast:\n" + final[:1500]
        )
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_ann_pq_broadcasts_codebook_and_lut(spark):
    """PQ's joins must all be broadcast (codebook, ADC LUT, query
    batch): a shuffled or nested-loop join anywhere in the encode/ADC
    path would move the corpus for data that fits in one task."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_ann_pq"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ann_srp_banded_join_is_equi(spark):
    """SRP candidate generation must be the banded EQUI-join (explode
    to (band, value) rows, one hash join) — an OR-predicate nested
    loop over signatures is the trap the oracle is allowed but the
    engine is not."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_ann_srp"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_repeated_ngram_df_join_not_broadcast_corpus(spark):
    """The gram-df join joins two O(total-positions) relations; at
    test scale Spark may pick any equi strategy, but it must never
    plan a nested loop or cartesian (the df relation is 1:1 with gram
    keys, so the join can only be equi)."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_repeated_ngram_profile"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides written with bucketBy(8, key)+sortBy: the sort-merge
    join subtree must read 'Bucketed: true' scans and contain ZERO
    Exchange nodes — bucket layout replaces the join shuffle."""
    from data_lake_with_spark_and_aws_s3_spark.operators.layout import (
        bucketed_join_frame,
    )
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = bucketed_join_frame(spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle at read time"
    assert plan.count("Bucketed: true") == 2, "both scans must be bucketed reads"


def test_label_propagation_round_is_edge_shuffle(spark):
    """Each LPA round must be keyed joins/aggregates over the edge list
    — no cartesian, no nested-loop, no row-Python."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    plan = formatted_plan(REGISTRY["q_label_propagation"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_arrow_udf_is_arrow_eval_with_pushdown(spark):
    """useArrow=True must plan ArrowEvalPython (batch transfer), never
    BatchEvalPython; the p_size filter must still reach the scan."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_arrow_scalar_udf"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert has_pushed_filter(df, "p_size"), "filter must not be fenced by the UDF"


def test_mad_outliers_broadcasts_stats(spark):
    """The per-group median/MAD stats tables are a handful of rows —
    they must broadcast; the events table must never shuffle for the
    final comparison join."""
    df = REGISTRY["q_mad_outliers"].fn(spark, SF)
    assert has_broadcast_join(df), "median/MAD stats must broadcast"


def test_cached_reuse_reads_memory_twice(spark):
    """Both consumers of the cached rollup must read InMemoryTableScan
    (one materialization, two in-memory reads); the orders parquet
    appears in the cached relation only."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_cached_reuse"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, "both branches must hit the cache"


def test_ks_and_gini_use_range_partitioned_ranking(spark):
    """KS cumulative counts and Gini ranks must use the two-phase
    range-partition + broadcast-offsets form (q_global_row_number's
    pattern). Since the round-7 pid-pinning fix the range exchange
    lives BEHIND a localCheckpoint (both branches must read one pinned
    pid assignment — see _twophase.py), so downstream explain shows
    the checkpointed RDD feeding both branches instead of the
    rangepartitioning node: assert the pinned-scan shape, the
    broadcast offsets, and that the only keyless window left is the
    <=16-row offsets table."""
    from data_lake_with_spark_and_aws_s3_spark.plans import (
        count_keyless_windows_in,
        formatted_plan,
    )

    for name in ("q_ks_test", "q_gini_revenue"):
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        assert plan.count("Scan ExistingRDD") >= 2, (
            f"{name}: both branches must read the pinned (pid, row) frame"
        )
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
            f"{name}: offsets must broadcast"
        )
        assert count_keyless_windows_in(plan) == 1, (
            f"{name}: expected exactly the <=16-row offsets window"
        )


def test_agg_pushdown_served_from_footers(spark):
    """q_agg_pushdown_stats must show PushedAggregation on a V2
    BatchScan — the whole point is that MIN/MAX/COUNT come from
    parquet footers, not a row scan. (formatted_plan hides the scan's
    pushed-aggregate annotation, so inspect executedPlan directly.)"""
    df = REGISTRY["q_agg_pushdown_stats"].fn(spark, SF)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation:" in s and "BatchScan" in s


def test_session5_operator_exchange_budgets(spark):
    """Shuffle budgets for the session-5 operators, pinning each
    docstring's plan claim (counts include BroadcastExchange — the
    broadcast of a vocab/stat side is part of the budget):

    - funnel: one user_id window exchange + the 1-row global collapse
    - cohorts: user window + (cohort, offset) aggregate
    - k-anonymity / soft-dedup / bootstrap: a single keyed shuffle
    - OOV: vocab distinct + vocab broadcast + lang aggregate
    - gopher: (doc,tok) aggregate + doc aggregate + join broadcast
    - CDC chunking: doc window + (doc,chunk) agg + digest df agg +
      final doc agg (the digest join side broadcasts at this scale)
    """
    budgets = {
        "q_event_funnel": 2,
        "q_retention_cohorts": 2,
        "q_k_anonymity": 1,
        "q_soft_dedup_weight": 1,
        "q_poisson_bootstrap": 1,
        "q_vocab_oov_rate": 3,
        "q_gopher_rules": 3,
        "q_cdc_chunking": 4,
    }
    bad = {}
    for name, budget in budgets.items():
        n = count_exchanges(REGISTRY[name].fn(spark, SF))
        if n > budget:
            bad[name] = (n, budget)
    assert not bad, f"exchange budget exceeded (got, budget): {bad}"


def test_vocab_oov_broadcasts_vocabulary(spark):
    """The training vocabulary (bounded by |vocab|) must broadcast —
    a shuffled join would re-shuffle every corpus token at 100 TB."""
    assert has_broadcast_join(REGISTRY["q_vocab_oov_rate"].fn(spark, SF))


def test_parameterized_sql_pushes_bound_literals(spark):
    """Named-parameter binding must fold into scan pushdown exactly
    like hand-written constants — otherwise parameterization would
    cost partition pruning at scale."""
    df = REGISTRY["q_parameterized_sql"].fn(spark, SF)
    assert has_pushed_filter(df, "o_totalprice"), (
        "bound :cut literal must reach PushedFilters"
    )


def test_curriculum_interleave_uses_take_ordered(spark):
    """The 60-position slice must plan TakeOrderedAndProject — a
    global sort materialization here would be the single-partition
    trap the docstring promises to avoid."""
    df = REGISTRY["q_curriculum_interleave"].fn(spark, SF)
    assert has_take_ordered(df)


def test_power_mde_single_moment_pass(spark):
    """MDE sizing is one broadcast join + one moment aggregate: the
    plan must broadcast the dimension and keep exchanges to the
    aggregate's partial->final pair."""
    df = REGISTRY["q_power_mde"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 2


def test_join_cardinality_never_joins(spark):
    """The cardinality audit derives sum n(k)^2 from frequency
    moments — the plan must contain NO join at all."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_join_cardinality_estimate"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, "audit must not materialize any join"


def test_storage_tiering_partition_grain_rollup(spark):
    """Tiering reads the FACT TABLE once: the checkpointed ~84-row
    partition rollup feeds both the max-month scalar and the tier
    rollup (those branches scan the checkpoint RDD, not parquet)."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_storage_tiering"].fn(spark, SF)
    plan = formatted_plan(df)
    parquet_scans = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Scan parquet" in line.strip().split(") ", 1)[-1]
    )
    # The eager localCheckpoint materializes the ~84-row rollup when the
    # query is built, so the downstream plan reads the checkpoint RDD and
    # shows ZERO parquet scans — the fact table was read exactly once, at
    # checkpoint time.
    assert parquet_scans == 0, f"fact table re-scanned {parquet_scans}x"
    assert "ExistingRDD" in plan, "both branches must read the checkpoint"


def test_ipw_no_broadcast_of_facts(spark):
    """IPW is two hash aggregates and one key-partitioned join — no
    cartesian, no data-sized broadcast, bounded exchanges."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_ipw_ate"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_exchanges(df) <= 5


def test_conformal_broadcasts_model_tables(spark):
    """The segment model and qhat tables are |segments|-sized and must
    come back as broadcast joins, never shuffled joins."""
    df = REGISTRY["q_conformal_interval"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_keyword_tagging_broadcasts_gazetteer(spark):
    """The gazetteer is dictionary-sized: its join onto the exploded
    token stream must be a broadcast hash join (no shuffle of corpus
    tokens to co-locate with 18 dictionary rows)."""
    df = REGISTRY["q_keyword_tagging"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_group_order_all_single_aggregate(spark):
    """GROUP BY ALL must plan exactly like its spelled-out twin: one
    partial/final hash-aggregate pair (plus the ORDER BY ALL range
    exchange), nothing extra."""
    df = REGISTRY["q_group_order_all"].fn(spark, SF)
    assert count_exchanges(df) <= 2


def test_ndcg_window_group_limit(spark):
    """The top-10 cut under both ranking windows must push into
    WindowGroupLimit (per-partition heaps), not rank-then-filter the
    full judged set."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_ndcg_at_10"].fn(spark, SF)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_ece_broadcasts_model(spark):
    """The |sources|-row rate model must broadcast back onto the scan."""
    df = REGISTRY["q_calibration_ece"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_audience_overlap_no_user_pairs(spark):
    """The intersection join is keyed on user_id (shuffle bounded by
    the distinct (user, type) projection) — no cartesian, no NLJ."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_audience_overlap"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_dbscan_no_point_self_join(spark):
    """All density machinery is cell-granular: the plan must not
    contain a cartesian/NLJ anywhere, and the point-level verdict
    join must be a broadcast."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_grid_dbscan"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_broadcast_join(df)


def test_cuboid_selection_single_cube_pass(spark):
    """The only data-sized stage is ONE cube pass over documents: the
    checkpointed 8-row lattice feeds every greedy round, so the final
    plan reads no parquet at all."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_cuboid_selection"].fn(spark, SF)
    plan = formatted_plan(df)
    parquet_scans = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Scan parquet" in line.strip().split(") ", 1)[-1]
    )
    assert parquet_scans == 0, f"lattice rounds re-scanned parquet {parquet_scans}x"
    assert "ExistingRDD" in plan


def test_merkle_single_scan(spark):
    """Both replicas derive from ONE orders scan (the divergence is an
    expression): the leaf table is checkpointed when the query is
    built, so the downstream tree/probe plan reads only the
    checkpoint RDD — zero parquet scans."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_merkle_diff"].fn(spark, SF)
    plan = formatted_plan(df)
    parquet_scans = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Scan parquet" in line.strip().split(") ", 1)[-1]
    )
    assert parquet_scans == 0, f"orders re-scanned {parquet_scans}x"
    assert "ExistingRDD" in plan


def test_forecast_backtest_single_exchange_chain(spark):
    """Daily aggregate, one per-type window sort, final rollup —
    bounded exchanges, no join at all."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_forecast_backtest"].fn(spark, SF)
    assert "Join" not in formatted_plan(df)
    assert count_exchanges(df) <= 3


def test_multi_band_single_scan(spark):
    """Eight conditional band counts must plan ONE scan and ONE
    partial/final exchange — not Q88's eight self-joined subqueries —
    with the shared filter pushed to the reader."""
    df = REGISTRY["q_multi_band_scan"].fn(spark, SF)
    assert count_scans(df) == 1
    assert count_exchanges(df) == 1
    assert has_pushed_filter(df, "event_type")


def test_multi_distinct_uses_expand(spark):
    """Multiple COUNT(DISTINCT) granularities compile to one scan
    feeding an Expand node, never one scan per distinct column."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_multi_distinct_expand"].fn(spark, SF)
    assert count_scans(df) == 1
    assert "Expand" in formatted_plan(df)


def test_salted_aggregation_two_stages(spark):
    """Salted agg must plan exactly two exchanges: (key, salt) then
    key — and no join."""
    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan

    df = REGISTRY["q_salted_aggregation"].fn(spark, SF)
    assert count_exchanges(df) == 2
    assert "Join" not in formatted_plan(df)
