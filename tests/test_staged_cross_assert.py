"""Cross-assertions between INDEPENDENT operators of the staged_r*
modules: identities that must hold between ops computed by different
code paths. A shared bug can survive one op's oracle (both sides wrong
the same way) but not an identity against a differently-constructed
op — the same defense-in-depth as tests/test_cross_assert.py."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_intraday_bidask_spark.tables import load
from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY


def test_pareto_and_gini_agree_on_population(spark):
    """Both concentration ops aggregate the same customer-revenue
    grain; their per-nation customer counts must match exactly."""
    pareto = {
        r["n_name"]: r["n_customers"]
        for r in REGISTRY["agg_pareto_cumshare"].spark_fn(
            spark, SF_SMALL
        ).collect()
    }
    gini = {
        r["n_name"]: r["n_customers"]
        for r in REGISTRY["agg_gini_concentration"].spark_fn(
            spark, SF_SMALL
        ).collect()
    }
    assert pareto == gini


def test_triangle_count_matches_clustering_coefficient(spark):
    """graph_triangle_count (wave A) and graph_clustering_coefficient
    (wave C) build the co-purchase graph independently; their triangle
    censuses must agree."""
    tri = REGISTRY["graph_triangle_count"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    cc = REGISTRY["graph_clustering_coefficient"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert tri["n_triangles"] == cc["n_triangles"]
    # Every triangle contributes three wedges (closed triads), so the
    # wedge census bounds the triangle census: n_triads >= 3*n_triangles.
    assert cc["n_triads"] >= 3 * cc["n_triangles"]


def test_degree_distribution_accounts_for_all_vertices(spark):
    """The degree histogram's node total must equal the triangle op's
    vertex census, and the CCDF at the minimum degree must equal the
    total (every node has at least the minimum degree)."""
    tri = REGISTRY["graph_triangle_count"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    hist = REGISTRY["graph_degree_distribution"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert sum(r["n_nodes"] for r in hist) == tri["n_vertices"]
    assert hist[0]["n_nodes_at_least"] == tri["n_vertices"]


def test_revenue_bridge_reconciles_to_direct_totals(spark):
    """The bridge's category deltas must sum to the directly-computed
    1996-minus-1995 revenue difference, exactly (integer cents)."""
    bridge = REGISTRY["orders_revenue_bridge"].spark_fn(
        spark, SF_SMALL
    ).collect()
    orders = load(spark, SF_SMALL, "orders")
    from etl_intraday_bidask_spark.functions.parity import scaled_long

    direct = orders.groupBy(F.year("o_orderdate").alias("y")).agg(
        F.sum(scaled_long("o_totalprice", 100)).alias("cents")
    )
    by_year = {r["y"]: r["cents"] for r in direct.collect()}
    expected = by_year.get(1996, 0) - by_year.get(1995, 0)
    got = round(sum(r["delta_revenue"] for r in bridge) * 100)
    assert got == expected


def test_transition_matrix_counts_all_lag_pairs(spark):
    """Total transitions == n_events - n_users_with_events (every
    event except each user's first contributes exactly one pair)."""
    trans = REGISTRY["cep_transition_matrix"].spark_fn(
        spark, SF_SMALL
    ).collect()
    ev = load(spark, SF_SMALL, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in trans) == n_events - n_users


def test_bar_resample_always_consistent(spark):
    """The OHLCV merge identity must hold for every hour — a single
    inconsistent bar means the merge rule is wrong."""
    bars = REGISTRY["bidask_bar_resample_check"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert bars, "no bars produced"
    assert all(r["resample_consistent"] == 1 for r in bars)


def test_largest_remainder_alloc_sums_to_budget(spark):
    """Hamilton allocation must hand out exactly the 1000-seat budget."""
    alloc = REGISTRY["sample_largest_remainder_alloc"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert sum(r["alloc"] for r in alloc) == 1000


def test_active_users_dau_matches_cumulative_uniques_day_one(spark):
    """On the first observed day, DAU == that day's new-user count in
    the cumulative-uniques curve (everyone active is new)."""
    act = REGISTRY["events_active_users_rolling"].spark_fn(
        spark, SF_SMALL
    ).collect()
    cum = REGISTRY["events_cumulative_uniques"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert act[0]["day_us"] == cum[0]["day_us"]
    assert act[0]["dau"] == cum[0]["n_new"] == cum[0]["cumulative_uniques"]


# ---- wave D/E cross-assertions (round 6) ---------------------------


def test_auc_rank_identity_holds(spark):
    """The Mann-Whitney rank-sum route and the direct doubled-U route
    must compute the same 2U on the real fixture (the op grades the
    flag; this pins it true)."""
    row = REGISTRY["eval_auc_rank_identity"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert row["identity_holds"] == 1
    assert row["u2_from_ranks"] == row["u2_direct"]


def test_auc_consistent_across_ops(spark):
    """eval_auc_exact, the rank-identity op, and the KS op all reduce
    the same scored stream: class totals must agree everywhere."""
    auc = REGISTRY["eval_auc_exact"].spark_fn(spark, SF_SMALL).collect()[0]
    ks = REGISTRY["eval_ks_statistic"].spark_fn(spark, SF_SMALL).collect()[0]
    ident = REGISTRY["eval_auc_rank_identity"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert auc["n_pos"] == ks["n_pos"] == ident["n_pos"]
    assert auc["n_neg"] == ks["n_neg"] == ident["n_neg"]
    assert auc["u2"] == ident["u2_direct"]


def test_markov_removal_effect_bounds(spark):
    """Removing a channel can only lose conversion probability, and
    probabilities stay in [0, 1e6] ppm."""
    row = REGISTRY["attr_markov_removal_effect"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert 0 <= row["conv_removed_ppm"] <= row["conv_base_ppm"] <= 1000000
    assert row["removal_effect_ppm"] == (
        row["conv_base_ppm"] - row["conv_removed_ppm"]
    )


def test_attribution_credit_conservation(spark):
    """Linear multi-touch credit sums to 10000 bp per converting path
    up to integral-division flooring: total credit must be within
    n_paths * (max touches per path) bp of exact, and never exceed
    exact."""
    rows = REGISTRY["attr_linear_multitouch"].spark_fn(
        spark, SF_SMALL
    ).collect()
    total_credit = sum(r["credit_sum_bp"] for r in rows)
    # Reconstruct the number of credited paths from the U-shaped op's
    # role census: 'first' appears exactly once per path.
    roles = {
        r["role"]: r
        for r in REGISTRY["attr_position_u_shaped"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    n_paths = roles["first"]["n_touches"]
    assert total_credit <= 10000 * n_paths
    # flooring loses < 1 bp per touch
    n_touches = sum(r["n_touches"] for r in rows)
    assert total_credit > 10000 * n_paths - n_touches


def test_pacf_closed_form_from_graded_acf(spark):
    """PACF(2) = (r2 - r1^2)/(1 - r1^2) derived from the graded r1/r2
    must be a valid partial correlation (|phi22| <= 1) — the
    Durbin-Levinson sanity the op's docstring promises."""
    row = REGISTRY["ts_pacf_lag2_exact"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    r1, r2 = row["r1"], row["r2"]
    assert r1 is not None and r2 is not None
    phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    assert -1.0 <= phi22 <= 1.0


def test_little_law_identity_holds(spark):
    """The sweep-line integral must equal the per-order duration sum
    on the real fixture (the op grades the flag; this pins it)."""
    row = REGISTRY["orders_little_law_identity"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert row["identity_holds"] == 1


def test_coverage_and_gini_read_same_lists(spark):
    """Catalog coverage and exposure Gini run over the same top-5
    lists: exposed-part counts must agree."""
    c = REGISTRY["eval_catalog_coverage_topk"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    g = REGISTRY["eval_exposure_gini_topk"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert c["n_exposed"] == g["n_exposed_parts"]


def test_vpin_imbalance_bounded_by_volume(spark):
    """|buy - sell| per bucket can never exceed bucket volume, so the
    aggregate imbalance is bounded by total volume and VPIN <= 10000
    bp."""
    row = REGISTRY["bidask_vpin_volume_buckets"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert row["sum_abs_imbalance"] <= row["total_volume"]
    assert 0 <= row["vpin_floor_bp"] <= 10000


def test_stl_seasonal_components_sum_near_zero(spark):
    """Centered-MA detrending makes the seasonal components sum to ~0
    across the 24 hours (each d_scaled is a deviation from a local
    24-window mean): the total seasonal mass must be tiny relative to
    the series scale."""
    rows = REGISTRY["ts_stl_lite_hourly"].spark_fn(
        spark, SF_SMALL
    ).collect()
    total = sum(r["seasonal_sum_scaled"] for r in rows)
    mass = sum(abs(r["seasonal_sum_scaled"]) for r in rows)
    assert mass == 0 or abs(total) * 10 < mass


def test_k_anonymity_rows_reconcile(spark):
    """The k-bucket census must account for every customer row."""
    import duckdb

    rows = REGISTRY["gov_k_anonymity_census"].spark_fn(
        spark, SF_SMALL
    ).collect()
    con = duckdb.connect()
    n = con.sql(
        f"SELECT count(*) FROM read_parquet('{SF_SMALL}/customer.parquet')"
    ).fetchone()[0]
    con.close()
    assert sum(r["n_rows"] for r in rows) == n


# ---- wave G (round 7, operators/staged_r11.py) ---------------------


def test_timeout_sensitivity_monotone_and_anchored(spark):
    """Session counts must be monotone non-increasing in the timeout,
    and the 30-minute row must equal the independently-computed
    session count from events_session_bounce_rate (different code
    path: VALUES fan-out over gap counts vs full sessionization)."""

    rows = {
        r["timeout_min"]: r["n_sessions"]
        for r in REGISTRY["sessionize_timeout_sensitivity"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    assert rows[10] >= rows[30] >= rows[60] > 0
    bounce = (
        REGISTRY["events_session_bounce_rate"]
        .spark_fn(spark, SF_SMALL)
        .agg(F.sum("n_sessions"))
        .collect()[0][0]
    )
    assert bounce == rows[30], (
        f"30m sessionizations disagree: sweep {rows[30]} vs "
        f"bounce-rate op {bounce}"
    )


def test_trimmed_mean_within_priority_extremes(spark):
    """The 10% trimmed mean must lie within [min, max] of each
    priority's order values, and keep 80%(+-rounding) of rows."""

    base = (
        load(spark, SF_SMALL, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    bounds = {r["o_orderpriority"]: r for r in base}
    for r in (
        REGISTRY["agg_trimmed_mean_exact"].spark_fn(spark, SF_SMALL).collect()
    ):
        b = bounds[r["priority"]]
        assert b["lo"] <= r["trimmed_mean"] <= b["hi"]
        assert abs(r["n_kept"] - 0.8 * b["n"]) <= 2


def test_vocab_coverage_and_hapax_read_same_vocab(spark):
    """text_vocab_coverage_topk and text_hapax_legomena_ratio reduce
    the same (lang, type) grain independently; vocab sizes and token
    totals must agree, and top1000 coverage must dominate top100."""

    cov = {
        r["lang"]: r
        for r in REGISTRY["text_vocab_coverage_topk"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    hap = {
        r["lang"]: r
        for r in REGISTRY["text_hapax_legomena_ratio"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    assert set(cov) == set(hap)
    for lang in cov:
        assert cov[lang]["vocab_size"] == hap[lang]["vocab_size"]
        assert cov[lang]["n_tokens"] == hap[lang]["n_tokens"]
        assert cov[lang]["top100_bp"] <= cov[lang]["top1000_bp"] <= 10000


def test_mann_whitney_u_bounds(spark):
    """2U is bounded by [0, 2*n_a*n_b] and the centered statistic is
    consistent with its definition."""

    r = (
        REGISTRY["agg_mann_whitney_u_exact"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert 0 <= r["u2"] <= 2 * r["n_a"] * r["n_b"]
    assert r["u2_centered"] == r["u2"] - r["n_a"] * r["n_b"]


def test_kappa_bounded_and_cells_reconcile(spark):
    """Cohen's kappa in [-1, 1]; the 2x2 cells sum to n."""

    r = (
        REGISTRY["eval_cohens_kappa_rules"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert r["n11"] + r["n00"] + r["n10"] + r["n01"] == r["n"]
    assert -1.0 <= r["cohens_kappa"] <= 1.0


def test_interval_union_bounded_by_naive_sum(spark):
    """Merged coverage can never exceed 5 minutes per event (the
    unmerged total) nor fall below 5 minutes per user."""

    cov = (
        REGISTRY["events_interval_union_coverage"]
        .spark_fn(spark, SF_SMALL)
        .agg(F.sum("total_minutes"), F.sum("n_users"))
        .collect()[0]
    )
    ev = load(spark, SF_SMALL, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert cov[1] == n_users
    assert 5 * n_users <= cov[0] <= 5 * n_events


def test_new_vs_repeat_reconciles_with_monthly_revenue(spark):
    """new_cents + repeat_cents must equal the month's total revenue
    (computed independently), every month."""
    from etl_intraday_bidask_spark.functions.parity import scaled_long

    op = {
        r["month_us"]: r["new_cents"] + r["repeat_cents"]
        for r in REGISTRY["orders_new_vs_repeat_monthly"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    base = {
        r["m"]: r["cents"]
        for r in load(spark, SF_SMALL, "orders")
        .groupBy(
            F.unix_micros(F.date_trunc("month", "o_orderdate")).alias("m")
        )
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
        .collect()
    }
    assert op == base


def test_fiscal_445_conserves_revenue_and_orders(spark):
    """The 4-4-5 mapping is a partition of all orders: period totals
    must sum to the global totals, and periods run 1..12."""
    from etl_intraday_bidask_spark.functions.parity import scaled_long

    df = REGISTRY["orders_fiscal_445_calendar"].spark_fn(spark, SF_SMALL)
    agg = df.agg(
        F.sum("n_orders"), F.sum("revenue_cents"), F.min("fiscal_period"),
        F.max("fiscal_period"),
    ).collect()[0]
    base = (
        load(spark, SF_SMALL, "orders")
        .agg(
            F.count(F.lit(1)),
            F.sum(scaled_long("o_totalprice", 100)),
        )
        .collect()[0]
    )
    assert agg[0] == base[0] and agg[1] == base[1]
    assert 1 <= agg[2] and agg[3] <= 12


def test_backlog_sweep_ends_at_zero_or_open(spark):
    """The backlog series never goes negative, and the final value
    equals the count of orders whose completion month is their order
    month subtracted out — i.e. 0 when every order eventually ships
    within the data window (+1/-1 deltas cancel)."""

    rows = (
        REGISTRY["orders_backlog_timeseries"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert all(r["backlog"] >= 0 for r in rows)
    assert rows[-1]["backlog"] == 0


def test_simhash_balance_and_prune_consistency(spark):
    """Every SimHash plane covers all vectors; the norm-bound prune
    report's candidate census matches the embeddings table."""

    n_vec = load(spark, SF_SMALL, "embeddings").count()
    bal = (
        REGISTRY["embed_simhash_bit_balance"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(bal) == 16
    assert all(r["n_vectors"] == n_vec for r in bal)
    prune = (
        REGISTRY["knn_norm_bound_prune"].spark_fn(spark, SF_SMALL).collect()[0]
    )
    assert prune["n_candidates"] == n_vec - 1
    assert 0 <= prune["n_prunable"] <= prune["n_candidates"]
