"""Oracle parity for the operators defined in ``operators/staged_r10.py``,
one parametrized drive through ``tests.test_parity.assert_oracle_parity``,
plus pins that the driver's value hash alone cannot make."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, assert_oracle_parity, module_keys

KEYS = module_keys("staged_r10")


@pytest.mark.parametrize("name", KEYS)
def test_staged_r10_parity(spark, duck_small, name):
    assert_oracle_parity(spark, duck_small, name)


def test_wave_f_activated():
    """Every operator defined in staged_r10 is registered: 50 keys."""
    assert len(KEYS) == 50


def test_state_store_rows_match_distinct_keys(spark):
    """The engine-reported dedup state rows must equal the number of
    distinct (user_id, event_type) keys — the deterministic subset of
    the rows-only metrics op."""
    from etl_intraday_bidask_spark.tables import load

    rows = REGISTRY["stream_state_store_metrics"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert rows, "no state operator metrics captured"
    n_keys = (
        load(spark, SF_SMALL, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert max(r["state_rows_total"] for r in rows) == n_keys
    assert sum(r["state_rows_updated"] for r in rows) == n_keys


def test_reorder_policy_cross_consistent(spark):
    """EOQ/reorder-point and safety-stock ops reduce the same daily
    demand grain over the same top-10 parts: part sets and demand
    totals must agree."""
    eoq = {
        r["l_partkey"]: r
        for r in REGISTRY["parts_eoq_reorder_point"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    ss = {
        r["l_partkey"]: r
        for r in REGISTRY["parts_safety_stock_plan"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    assert set(eoq) == set(ss)
    for k in eoq:
        assert eoq[k]["total_qty"] == ss[k]["total_qty"]
        assert eoq[k]["n_days"] == ss[k]["n_days"]


def test_km_at_risk_monotone(spark):
    """Kaplan-Meier at-risk counts can only shrink with k, deaths are
    bounded by at-risk, and survival factors live in [0, 1e6] ppm."""
    rows = REGISTRY["events_kaplan_meier_weekly"].spark_fn(
        spark, SF_SMALL
    ).collect()
    prev = None
    for r in sorted(rows, key=lambda x: x["week_k"]):
        assert 0 <= r["n_dead"] <= r["n_risk"]
        assert 0 <= r["factor_ppm"] <= 1000000
        if prev is not None:
            assert r["n_risk"] <= prev
        prev = r["n_risk"]


def test_precision_curve_monotone_slots(spark):
    """P@k slots and hits are non-decreasing in k (supersets)."""
    rows = sorted(
        REGISTRY["eval_precision_at_k_curve"]
        .spark_fn(spark, SF_SMALL)
        .collect(),
        key=lambda r: r["k"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["slots"] <= b["slots"]
        assert a["hits"] <= b["hits"]


def test_score_histogram_totals_match_auc(spark):
    """The class-conditional histograms and the AUC op reduce the same
    scored stream: class totals must agree."""

    hist = REGISTRY["eval_score_histogram_by_class"].spark_fn(
        spark, SF_SMALL
    ).collect()
    auc = REGISTRY["eval_auc_exact"].spark_fn(spark, SF_SMALL).collect()[0]
    assert sum(r["n_pos"] for r in hist) == auc["n_pos"]
    assert sum(r["n_neg"] for r in hist) == auc["n_neg"]


def test_simpson_diversity_in_range(spark):
    rows = REGISTRY["events_simpson_diversity"].spark_fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r["simpson_diversity_ppm"] < 1000000


def test_checkpoint_recovery_conserves_events(spark):
    """The recovered streaming state must account for every event —
    the exactly-once census cross-checked against the batch count."""
    from etl_intraday_bidask_spark.tables import load

    rows = REGISTRY["stream_checkpoint_recovery"].spark_fn(
        spark, SF_SMALL
    ).collect()
    n_total = load(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total


def test_set_semantics_orderings(spark):
    """UNION <= UNION ALL; INTERSECT <= min side; EXCEPT <= distinct
    side — the lattice every engine must respect."""
    r = REGISTRY["sql_set_dedup_semantics"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert r["union_distinct"] <= r["union_all"]
    assert r["intersect_distinct"] <= r["a_distinct"]
    assert r["except_distinct"] <= r["a_distinct"]
    assert r["a_distinct"] <= r["a_all"]
