"""Determinism audit (SURVEY.md §5): every hash-checked query must
produce identical results under different shuffle partitioning — this
catches missing window/limit tie-breaks and order-dependent float
aggregation, the #1 predicted hash-parity failure mode."""

from __future__ import annotations

import pytest

from etl_intraday_bidask_spark.registry import load_all_operators
from tests.conftest import SF_SMALL

# Battery tier (VERDICT r14 item 6): the per-op partition-invariance
# audit (~3.5 min) is builder cadence; the certification companion is
# tools/invariance_sweep.py over the full registry each round.
pytestmark = pytest.mark.battery

REGISTRY = load_all_operators()

# The operators where partitioning could plausibly leak into results:
# ordered windows, global limits, float aggregation, joins with
# nondeterministic row choice, approximate/sampled ops.
AUDITED = [
    "agg_pricing_summary",
    "join_asof_bidask",
    "join_sortmerge_facts",
    "limit_global_topk",
    "win_topk_per_group",
    "win_moving_avg",
    "win_rank_dense_ntile",
    "stream_session_30m",
    "stream_ohlc_bars",
    "dedup_near_jaccard",
    "knn_cosine_topk",
    "knn_sim_join_blocked",
    "udaf_grouped_pandas",
    "text_langid_ngram",
    "text_fingerprint_rolling",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_lsh_bucketed",
    "agg_percentiles",
    "win_first_last_nth",
    "text_tfidf_topk",
    "q3_shipping_priority",
    "dedup_fuzzy_levenshtein",
    "merge_upsert_scd1",
    "agg_listagg_sorted",
    "knn_ivf_coarse",
    "bidask_effective_spread",
    "win_time_range_frame",
    "knn_ivf_kmeans",
    # Round-2 wave-2 ops where partitioning could plausibly leak:
    "sessionize_gaps_islands",
    "join_asof_forward",
    "anomaly_zscore",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "win_cume_dist",
    "win_range_frame_dist",
    "text_unigram_logprob",
    "embed_centroid_stats",
    "dedup_connected_components",
    "dedup_keep_canonical",
    "sort_zorder_layout",
    "rollup_time_hierarchy",
    "udtf_mapinarrow",
    # Round-2 wave-3 ops with top-k tie-breaks / outer-join classification:
    "q10_returned_items",
    "cdc_snapshot_diff",
    # Round-2 wave-4 ops: scalar-threshold compare, window cumsum packing,
    # float affine quantization — all must be partitioning-invariant:
    "q22_dormant_high_balance",
    "pack_token_sequences",
    "embed_quantize_int8",
    # Iterative fixed-point graph numeric — must be partitioning-invariant:
    "graph_pagerank_fixedpoint",
    # Exact-integer regression slope — the op exists precisely because the
    # builtin regr_slope is NOT partitioning-invariant:
    "win_regression_slope_exact",
    # Running-sum crossing statistic — invariance argued in the op docstring,
    # asserted here:
    "agg_weighted_median",
    # Round-4 additions where partitioning could plausibly leak: bucketed
    # local-front skyline, flag-aggregate Q21, ordered windows (drawdown,
    # streaks, TWA, YoY, tolerance as-of), interpolated medians, exact-max
    # ties, iterative integer matvec, float-threshold range search:
    "skyline_pareto_2d",
    "q21_sole_late_supplier",
    "win_drawdown_max",
    "win_streak_longest",
    "bidask_twa_quote",
    "win_yoy_nation_revenue",
    "join_asof_tolerance",
    "agg_median_abs_deviation",
    "q15_top_supplier",
    "q13_order_count_distribution",
    "embed_power_iteration",
    "knn_range_search",
    # Round-5 additions where partitioning could plausibly leak: window-min
    # + float-ordered limit (Q2), dynamic pivot column discovery, hash-rank
    # sampling windows, top-k tie-breaks, LOCF/forward-frame windows over
    # merged streams, rolling/power-sum float chains, bucketed pair dedup:
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q20_promotion_part_suppliers",
    "sql_pivot_dynamic_values",
    "join_interval_overlap_bucketed",
    "agg_bitmap_distinct_rollup",
    "agg_skew_kurtosis_exact",
    "text_entropy_token",
    "dedup_minhash_est_error",
    "sample_reservoir_per_key",
    "corpus_source_quota_cap",
    "text_winsorize_quality",
    "text_ngram_topk_per_lang",
    "bidask_ofi_hourly",
    "win_gap_fill_locf",
    "cep_pattern_absence",
    "win_rolling_corr_24h",
    "win_pattern_vshape",
    "bidask_quote_staleness",
    # Wave-B (registered r6) partition-sensitive reps: bounded window
    # frames, global rank/ntile anchors, and top-k tie-breaks.
    "win_median_sliding_hourly",
    "orders_market_basket_lift",
    "orders_rfm_segments",
    "agg_histogram_equi_depth",
    "agg_heavy_hitters_cms",
    "win_rank_migration",
    # Wave-C (registered r7, this round's grading window): iterative
    # peeling, remainder/rank allocations, kNN and path top-k ties,
    # hash-set reconciliation — the classes where partitioning could
    # plausibly leak into results.
    "graph_kcore_peel",
    "sample_largest_remainder_alloc",
    "sample_purged_time_folds",
    "cep_top_paths",
    "stream_topk_per_window",
    "embed_hubness_reverse_knn",
    "dedup_lsh_band_sweep",
    "graph_link_prediction_jaccard",
    "orders_seasonal_index_monthly",
    "etl_merkle_reconcile",
    # staged_r8..r11 leak-prone classes: per-user rank ties, global
    # deciles, LOO encodings, iterative fixpoints, median-of-slopes,
    # survival products.
    "eval_ndcg_at5_per_user",
    "eval_recall_at_k_per_user",
    "eval_mrr_first_purchase",
    "eval_lift_gain_deciles",
    "eval_spearman_value_vs_time",
    "sample_negative_hard_mining",
    "feature_target_encode_loo",
    "sample_group_kfold",
    "corpus_dup_threshold_curve",
    "ts_changepoint_binseg",
    "gov_k_anonymity_census",
    "attr_markov_removal_effect",
    "events_kaplan_meier_weekly",
    "ts_theil_sen_slope_daily",
    "ts_runs_test_exact",
    "graph_rich_club_topdeg",
    "bidask_anchored_vwap_monthly",
]


@pytest.mark.parametrize("name", AUDITED)
def test_shuffle_partition_invariance(spark, name):
    fn = REGISTRY[name].spark_fn
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert a == b, f"{name}: result depends on shuffle partitioning"
