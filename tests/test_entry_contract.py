"""Driver-contract tests for ``__spark_entry__``: the grading driver
verifies exactly the first 50 keys of ``queries()`` each round, so the
iteration order IS part of the runtime surface (VERDICT.md round 1:
51 operators went unverified purely because of registration order)."""

from __future__ import annotations

import glob
import json
import os
import re

import __spark_entry__ as entry
from etl_intraday_bidask_spark.registry import load_all_operators

REPO = os.path.dirname(os.path.abspath(entry.__file__))


def test_queries_covers_registry_exactly():
    registry = load_all_operators()
    qs = entry.queries()
    assert set(qs) == set(registry)
    oracles = entry.oracle_sql()
    assert set(oracles) == {
        n for n, s in registry.items() if s.oracle_sql is not None
    }


def test_rotation_prefers_least_recently_graded():
    keys = ["a", "b", "c", "d"]
    history = {"a": [1, 2], "b": [1], "d": [2]}
    order = entry.rotation_order(keys, history)
    # c never graded -> first; b graded once in r1 before d's once in r2;
    # a graded twice -> last.
    assert order == ["c", "b", "d", "a"]


def test_rotation_breaks_history_ties_by_name():
    """Keys with the same (failed, times graded, last round) sort by
    name, whatever order they arrive in."""
    history = {"b": [3], "a": [3], "c": [1, 3], "d": [2]}
    order = entry.rotation_order(["c", "z", "b", "a", "y", "d"], history)
    assert order == ["y", "z", "d", "a", "b", "c"]
    order = entry.rotation_order(["d", "b", "a"], history, failed={"b", "a"})
    assert order == ["a", "b", "d"]


def test_rotation_puts_failed_keys_first():
    """A key whose latest grade FAILED must lead the window — even ahead
    of never-graded keys — so regressions re-prove themselves next round
    (VERDICT round 3, item 4)."""
    keys = ["a", "b", "c", "d"]
    history = {"a": [1, 2], "b": [1], "d": [2]}
    order = entry.rotation_order(keys, history, failed={"a"})
    assert order == ["a", "c", "b", "d"]


def test_latest_failures_reads_most_recent_grade():
    """_grading_record's failed set: an op that ERRed in its most recent
    grade is failed; one that failed earlier but passed later is not.
    Verified against the real CORRECTNESS history."""
    _, fails = entry._grading_record()
    latest_grade: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for k, v in json.load(f).items():
                latest_grade[k] = max(
                    latest_grade.get(k, (0, {})), (rnd, v),
                    key=lambda t: t[0],
                )
    for k in fails:
        _, v = latest_grade[k]
        assert v.get("err") not in (None, "no_oracle") or any(
            v.get(f) is False
            for f in ("rows_match", "schema_match", "hash_match")
        ), f"{k} flagged failed but latest grade is green"


def test_rotation_is_deterministic_and_total():
    registry = load_all_operators()
    history = entry._grading_record()[0]
    o1 = entry.rotation_order(list(registry), history)
    o2 = entry.rotation_order(list(reversed(list(registry))), history)
    assert o1 == o2
    assert sorted(o1) == sorted(registry)


# Canonical post-load dtypes for the ten fixture tables. One fixture
# regeneration (round 3: TIMESTAMP(NANOS) → µs NTZ) silently flipped 17
# operators from green to AnalysisException with zero code change; this
# contract turns the next such drift into a 1-second failure naming the
# exact column. events.ts is pinned STRICTLY to 'timestamp' — that is
# what tables.load's normalization guarantees, so this test fails if the
# normalization is removed. o_orderdate/l_shipdate are pinned STRICTLY
# to 'timestamp_ntz' since round 5: tables.normalize_date_ntz
# canonicalizes them at the load boundary (a flip in the parquet
# physical type lands here first — the fix belongs in that normalizer,
# not in operators).
_FLEX_DATE = {"timestamp_ntz"}
_CANONICAL_DTYPES = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", _FLEX_DATE),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", _FLEX_DATE),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_fixture_schema_contract(spark):
    """Every loaded table's dtypes must match the canonical contract;
    in particular events.ts must come out of tables.load as TimestampType
    no matter the parquet physical type the fixtures currently use."""
    from etl_intraday_bidask_spark.tables import load

    import tests.conftest as cf

    problems = []
    for name, expected in _CANONICAL_DTYPES.items():
        actual = load(spark, cf.SF_SMALL, name).dtypes
        if len(actual) != len(expected):
            problems.append(f"{name}: {len(actual)} cols != {len(expected)}")
            continue
        for (acol, adt), (ecol, edt) in zip(actual, expected):
            ok = acol == ecol and (
                adt in edt if isinstance(edt, set) else adt == edt
            )
            if not ok:
                problems.append(f"{name}.{acol}: {adt!r} != {ecol}:{edt!r}")
    assert not problems, "fixture schema drift:\n" + "\n".join(problems)


def test_streaming_replay_ts_normalized(spark):
    """The streaming replay reader must apply the same event-time
    canonicalization as the batch loader (round-3 NTZ break hit both)."""
    from etl_intraday_bidask_spark.streaming.replay import _read_events_stream

    import tests.conftest as cf

    stream = _read_events_stream(spark, cf.SF_SMALL)
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_survey_inventory_count_matches_registry():
    """SURVEY.md §2 is the binding contract; its declared inventory count
    must equal the executable registry so the table and code cannot
    drift silently."""
    registry = load_all_operators()
    with open(os.path.join(REPO, "SURVEY.md")) as f:
        survey = f.read()
    m = re.search(r"\*\*Inventory size: (\d+) declared operators\*\*", survey)
    assert m, "SURVEY.md inventory line missing"
    declared = int(m.group(1))
    assert declared == len(registry), (
        f"SURVEY declares {declared} operators but the registry has "
        f"{len(registry)} — update the SURVEY §2 inventory line"
    )
    m2 = re.search(r"\((\d+) hash-checked, (\d+) rows-only", survey)
    assert m2, "SURVEY.md hash/rows split missing"
    hash_checked = sum(
        1 for s in registry.values() if s.oracle_sql is not None
    )
    assert int(m2.group(1)) == hash_checked
    assert int(m2.group(2)) == len(registry) - hash_checked


def test_regenerated_fixture_simulation(spark, tmp_path):
    """Simulates the next fixture regeneration (the round-3 incident,
    VERDICT r4 item 5): orders re-shipped with each date physical shape
    the fixtures have ever used — TIMESTAMP(NANOS), tz-adjusted µs,
    µs NTZ (current), and DATE — must all load to the canonical
    timestamp_ntz with identical wall-clock values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_intraday_bidask_spark import tables

    import tests.conftest as cf

    src = pq.read_table(f"{cf.SF_SMALL}/orders.parquet")
    idx = src.schema.get_field_index("o_orderdate")
    base = src.column("o_orderdate").cast(pa.timestamp("us"))

    variants = {
        "ntz_us": base,
        "nanos": base.cast(pa.timestamp("ns")),
        "tz_us": base.cast(pa.timestamp("us", tz="UTC")),
        "date": base.cast(pa.date32()),
    }
    expected = None
    for tag, col in variants.items():
        tab = src.set_column(idx, pa.field("o_orderdate", col.type), col)
        d = tmp_path / tag
        d.mkdir()
        pq.write_table(tab, d / "orders.parquet", version="2.6")
        loaded = tables.load(spark, str(d), "orders")
        assert dict(loaded.dtypes)["o_orderdate"] == "timestamp_ntz", (
            f"variant {tag}: o_orderdate loaded as "
            f"{dict(loaded.dtypes)['o_orderdate']}, not timestamp_ntz — "
            "see tables.normalize_date_ntz"
        )
        vals = sorted(
            r[0].isoformat()[:19]
            for r in loaded.select("o_orderdate").limit(50).collect()
        )
        if expected is None:
            expected = vals
        else:
            assert vals == expected, f"variant {tag}: wall-clock drift"


def test_window_invariant_failed_then_never_then_stalest():
    """The generic rotation invariant, valid for ANY on-disk grading
    history (the round-5 verdict flagged the previous hardcoded-round
    guards going stale the moment the driver wrote its artifact): the
    window leads with latest-failed keys, then never-graded keys, then
    everything else in ascending (times graded, last round graded)."""
    registry = load_all_operators()
    history, failed = entry._grading_record()
    order = entry.rotation_order(list(registry), history, failed)
    assert sorted(order) == sorted(registry)
    n_failed = len(failed & set(registry))
    assert set(order[:n_failed]) == failed & set(registry)
    never = {k for k in registry if k not in history and k not in failed}
    assert set(order[n_failed : n_failed + len(never)]) == never
    rest = order[n_failed + len(never) :]
    staleness = [(len(history[k]), max(history[k])) for k in rest]
    assert staleness == sorted(staleness), (
        "graded keys not in least-recently-graded order"
    )


def test_rotation_cannot_starve_any_key():
    """Simulate grading forward from the real on-disk history: within
    ceil(N/50)+1 rounds every registered key gets (re)graded at least
    once — the rotation has no starvation hole, whatever the current
    state."""
    registry = load_all_operators()
    history = {k: list(v) for k, v in entry._grading_record()[0].items()}
    cur = max((r for rs in history.values() for r in rs), default=0)
    rounds_needed = -(-len(registry) // 50) + 1
    for r in range(cur + 1, cur + 1 + rounds_needed):
        order = entry.rotation_order(list(registry), history, set())
        for k in order[:50]:
            history.setdefault(k, []).append(r)
    stale = [k for k in registry if max(history.get(k, [0])) <= cur]
    assert not stale, f"keys starved over {rounds_needed} rounds: {stale}"


def test_embeddings_nonzero_norm_precondition():
    """The cosine family (functions/vector.py:cosine) divides by the
    norm product; a zero-norm embedding would crash Spark-side (ANSI
    divide-by-zero) while DuckDB yields NaN — a silent parity
    divergence class. The generator draws continuous vectors, so zero
    norms cannot occur; this tripwire turns a hypothetical fixture
    drift into a named 1-second failure instead of 12 cryptic op
    crashes (same pattern as the asof duplicate-timestamp armor)."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n_zero = con.sql(f"""
            SELECT count(*) FROM (
                SELECT list_aggregate(
                    list_transform(embedding, x -> CAST(x AS DOUBLE)
                                   * CAST(x AS DOUBLE)), 'sum') AS sq
                FROM read_parquet('/root/testdata/{sf}/embeddings.parquet')
            ) WHERE sq = 0 OR sq IS NULL
        """).fetchone()[0]
        assert n_zero == 0, (
            f"{sf}: {n_zero} zero-norm/null embeddings — the cosine "
            "family needs a degenerate-vector policy before grading"
        )
    con.close()


def test_events_ts_unique_precondition():
    """stream_ohlc_bars picks open/close via min_by/max_by on raw ts,
    which is engine-defined under duplicate timestamps; the fixture
    generator emits distinct ts (verified at all three SFs), and this
    tripwire names the precondition so a regenerated fixture with µs
    birthday collisions (expected ~2 per 100k rows for a uniform
    generator — today's generator de-duplicates) fails here first,
    pointing at the (ts, event_id) composite-key fix."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n_dup = con.sql(f"""
            SELECT count(*) FROM (
                SELECT ts FROM
                    read_parquet('/root/testdata/{sf}/events.parquet')
                GROUP BY ts HAVING count(*) > 1)
        """).fetchone()[0]
        assert n_dup == 0, (
            f"{sf}: {n_dup} duplicate event timestamps — switch "
            "stream_ohlc_bars open/close to the (ts, event_id) "
            "composite key on BOTH engines before grading"
        )
    con.close()
