"""Oracle parity for the operators defined in ``operators/staged_r12.py``,
one parametrized drive through ``tests.test_parity.assert_oracle_parity``,
plus pins that the driver's value hash alone cannot make."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, assert_oracle_parity, module_keys

KEYS = module_keys("staged_r12")


# Battery tier: this parametrized parity sweep carries the battery's
# single slowest test (embed_pca_top2_deflation, ~4 min); the module's
# shape pins stay in the default tier.
@pytest.mark.battery
@pytest.mark.parametrize("name", KEYS)
def test_staged_r12_parity(spark, duck_small, name):
    assert_oracle_parity(spark, duck_small, name)


def test_wave_h_activated():
    """Every operator defined in staged_r12 is registered (50); 49 carry
    oracles and source_binaryfile_manifest is rows-only by declared
    design (pinned by test_binaryfile_manifest_matches_ground_truth)."""
    assert len(KEYS) == 50
    rows_only = [k for k in KEYS if REGISTRY[k].oracle_sql is None]
    assert rows_only == ["source_binaryfile_manifest"]


def test_binaryfile_manifest_matches_ground_truth(spark):
    """Pin the rows-only binaryFile manifest to filesystem-independent
    ground truth (house rule: rows-only ops carry a direct pin): one
    shard file per lang, and each lang's byte total must equal
    sum(n_chars) + n_docs (the text writer terminates every line with
    one newline)."""
    import pyspark.sql.functions as F

    from etl_intraday_bidask_spark.tables import load

    out = {
        r["lang"]: r.asDict()
        for r in REGISTRY["source_binaryfile_manifest"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    docs = load(spark, SF_SMALL, "documents")
    stats = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("chars"), F.count(F.lit(1)).alias("n")
    ).collect()
    assert len(out) == len(stats)
    for r in stats:
        got = out[r["lang"]]
        assert got["n_files"] == 1, f"{r['lang']}: expected one shard"
        assert got["total_bytes"] == r["chars"] + r["n"]


def test_kendall_tau_pair_accounting(spark):
    """Cross-assert: concordant + discordant + all tie classes must
    equal the total pair count, and tau-b must sit in [-1, 1]."""
    row = (
        REGISTRY["agg_kendall_tau_daily"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert (
        row["c"] + row["d"] + row["tx"] + row["ty"] + row["txy"]
        == row["n_pairs"]
    )
    if row["tau_b"] is not None:
        assert -1.0 <= row["tau_b"] <= 1.0


def test_t_closeness_bounded_and_nonvacuous(spark):
    """EMD in floor bp is bounded by construction (cum shares differ by
    at most 1 per band) and the fixture segments genuinely differ from
    global (nonzero somewhere) — a flat-zero table would mean the
    cross-multiplication collapsed."""
    rows = (
        REGISTRY["gov_t_closeness_audit"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) == 5
    assert all(0 <= r["t_closeness_bp"] <= 10000 for r in rows)
    assert sum(r["emd_num"] for r in rows) > 0


def test_scd2_audit_catches_injected_defects(spark):
    """Vacuous-grade house rule: the SCD2 invariants hold on the
    engine's own output (violations all zero), so the AUDIT LOGIC is
    proven on an injected-defect frame — a broken chain, a double-
    current key, and an inverted span must each be counted."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    rows = [
        # key 1: clean 2-version history
        (1, 100, 200, False),
        (1, 200, None, True),
        # key 2: chain break (200 != 250) and double-current
        (2, 100, 200, False),
        (2, 250, None, True),
        (2, 300, None, True),
        # key 3: inverted span + open non-current
        (3, 400, 300, False),
        (3, 500, None, False),
    ]
    scd = spark.createDataFrame(
        rows,
        "c_custkey int, valid_from_s long, valid_to_s long, "
        "is_current boolean",
    )
    w = Window.partitionBy("c_custkey").orderBy("valid_from_s")
    seq = scd.select(
        "*", F.lead("valid_from_s").over(w).alias("next_from")
    )
    per_key = seq.groupBy("c_custkey").agg(
        F.sum(
            F.when(
                F.col("is_current") & F.col("valid_to_s").isNull(), 1
            ).otherwise(0)
        ).alias("n_current"),
        F.sum(
            F.when(
                F.col("next_from").isNotNull()
                & (F.col("valid_to_s") != F.col("next_from")),
                1,
            ).otherwise(0)
        ).alias("n_chain_breaks"),
        F.sum(
            F.when(
                F.col("valid_to_s").isNotNull()
                & (F.col("valid_to_s") <= F.col("valid_from_s")),
                1,
            ).otherwise(0)
        ).alias("n_inverted_spans"),
        F.sum(
            F.when(
                F.col("valid_to_s").isNull() & ~F.col("is_current"), 1
            ).otherwise(0)
        ).alias("n_open_noncurrent"),
    )
    got = {r["c_custkey"]: r.asDict() for r in per_key.collect()}
    assert got[1]["n_current"] == 1 and got[1]["n_chain_breaks"] == 0
    assert got[2]["n_current"] == 2 and got[2]["n_chain_breaks"] >= 1
    assert got[3]["n_inverted_spans"] == 1
    assert got[3]["n_open_noncurrent"] == 1
    # and the real fixture audit reports clean invariants with real totals
    audit = (
        REGISTRY["etl_scd2_integrity_audit"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert audit["n_keys"] > 0 and audit["n_multi_version_keys"] > 0
    assert audit["n_keys_bad_current"] == 0
    assert audit["n_chain_breaks"] == 0


def test_mode_sliding_tie_break_pinned(spark):
    """The sliding mode's lexicographic tie-break is pinned on a
    synthetic frame where the trailing window contains a 2-2 tie:
    the smaller event_type must win on BOTH the fold and a naive
    recomputation."""
    import datetime

    import pyspark.sql.functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, base + datetime.timedelta(minutes=i), t)
        for i, t in enumerate(["b", "b", "a", "a", "c"])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    df.createOrReplaceTempView("mode_pin_events")
    # reuse the op's fold via a direct re-expression on this frame
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    frame = df.select(
        "event_id",
        F.sort_array(F.collect_list("event_type").over(w)).alias("fr"),
    )
    out = frame.where(F.col("event_id") == 4).select("fr").collect()[0]
    assert out["fr"] == ["a", "a", "b", "b", "c"]
    # Drive the REAL op's fold on this synthetic frame by swapping the
    # events table through the load memo, and assert the 2-2 tie at
    # event 4 resolves to the lexicographically smaller type with the
    # tied count — the strict-> incumbent comparison under test.
    from etl_intraday_bidask_spark import tables

    df_full = df.withColumn("value", F.lit(1.0)).withColumn(
        "props", F.lit('{"k": 1}')
    )
    memo = tables.load_memo(spark)
    key = ("/synthetic/mode_pin", "events")
    memo[key] = df_full
    try:
        rows = {
            r["event_id"]: r.asDict()
            for r in REGISTRY["win_mode_sliding"]
            .spark_fn(spark, "/synthetic/mode_pin")
            .collect()
        }
    finally:
        del memo[key]
    assert rows[4]["mode_type"] == "a", "tie must go to the smaller type"
    assert rows[4]["mode_n"] == 2
    assert rows[1]["mode_type"] == "b" and rows[1]["mode_n"] == 2
    full = (
        REGISTRY["win_mode_sliding"].spark_fn(spark, SF_SMALL).limit(1)
    )
    assert full.columns == ["user_id", "event_id", "mode_type", "mode_n"]


def test_quant_recall_bounds(spark):
    """recall@10 is a 0..1 ratio of an exact 0..10 overlap."""
    row = (
        REGISTRY["embed_quant_recall_ab"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert 0 <= row["n_overlap"] <= 10
    assert row["recall_at_10"] == row["n_overlap"] / 10.0


def test_holt_fold_matches_python_recurrence(spark):
    """The in-engine Holt fold must equal a driver-side recomputation
    of the textbook recurrence on the collected daily series (dyadic
    alpha/beta, so equality is exact, not approximate)."""
    import pyspark.sql.functions as F

    from etl_intraday_bidask_spark.functions.parity import scaled_long
    from etl_intraday_bidask_spark.tables import load

    daily = (
        load(spark, SF_SMALL, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").alias("d"))
        .agg(F.sum(scaled_long("value", 100)).alias("x"))
        .orderBy("d")
        .collect()
    )
    xs = [float(r["x"]) for r in daily]
    lvl, tr = xs[1], xs[1] - xs[0]
    for x in xs[2:]:
        new_l = 0.5 * x + 0.5 * (lvl + tr)
        tr = 0.5 * (new_l - lvl) + 0.5 * tr
        lvl = new_l
    row = (
        REGISTRY["ts_holt_linear_fold"]
        .spark_fn(spark, SF_SMALL)
        .collect()[0]
    )
    assert row["level"] == lvl
    assert row["trend"] == tr
    assert row["forecast_1"] == lvl + tr


def test_microprice_dev_bounded_by_half_spread(spark):
    """|microprice - mid| can never exceed half the quoted spread (the
    microprice is a convex combination of lo and hi) — a bound the
    exact integer algebra must respect on every hour."""
    rows = (
        REGISTRY["bidask_microprice_deviation"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        if r["microprice_dev_cents"] is not None:
            half = (r["hi_cents"] - r["lo_cents"]) / 2.0
            assert abs(r["microprice_dev_cents"]) <= half + 1e-9


def test_effective_spread_within_quoted(spark):
    """Every trade prints inside [lo, hi], so the effective/quoted
    ratio is bounded by 10000 bp and the doubled effective sum by
    n * 2 * quoted."""
    rows = (
        REGISTRY["bidask_effective_over_quoted"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        if r["eff_over_quoted_bp"] is not None:
            assert 0 <= r["eff_over_quoted_bp"] <= 10000
        assert r["eff_sum_x2"] <= r["n_trades"] * 2 * r["quoted_cents"]


def test_word_length_totals_match_gini_totals(spark):
    """Cross-op identity: the word-length profile and the token Gini
    both reduce the same non-empty token stream, so their per-lang
    token totals must be equal."""
    from collections import defaultdict

    prof = defaultdict(int)
    for r in (
        REGISTRY["text_word_length_profile"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    ):
        prof[r["lang"]] += r["n_tokens"]
    gini = {
        r["lang"]: r["n_tokens"]
        for r in REGISTRY["text_token_gini_by_lang"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    assert dict(prof) == gini


def test_heaps_checkpoints_monotone_and_complete(spark):
    """Vocabulary size is nondecreasing in the doc-count cap, and the
    final checkpoint equals the corpus-wide distinct token count."""
    import pyspark.sql.functions as F

    from etl_intraday_bidask_spark.tables import load

    rows = sorted(
        REGISTRY["corpus_heaps_law_checkpoints"]
        .spark_fn(spark, SF_SMALL)
        .collect(),
        key=lambda r: r["n_docs_cap"],
    )
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes)
    docs = load(spark, SF_SMALL, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .select("t")
        .distinct()
        .count()
    )
    assert sizes[-1] == vocab


def test_scc_ids_and_sizes_consistent(spark):
    """SCC ids are canonical minima (id <= every member, and the id
    node belongs to its own component) and the size column is the
    actual member count."""
    from collections import Counter

    rows = (
        REGISTRY["graph_scc_transition_bounded"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) > 0
    by_id = Counter(r["scc_id"] for r in rows)
    nodes = {r["node"] for r in rows}
    for r in rows:
        assert r["scc_id"] <= r["node"]
        assert r["scc_id"] in nodes
        assert r["scc_size"] == by_id[r["scc_id"]]


def test_late_data_dropped_monotone_in_watermark(spark):
    """A longer watermark can only drop FEWER events — the sweep's
    operating curve must be nonincreasing."""
    rows = sorted(
        REGISTRY["etl_late_data_impact"]
        .spark_fn(spark, SF_SMALL)
        .collect(),
        key=lambda r: r["wm_minutes"],
    )
    dropped = [r["n_dropped"] for r in rows]
    assert dropped == sorted(dropped, reverse=True)
