"""Oracle parity for the operators defined in ``operators/staged_r6.py``
and ``operators/staged_r6b.py``, one parametrized drive through
``tests.test_parity.assert_oracle_parity``, plus pins that the
driver's value hash alone cannot make."""

from __future__ import annotations

import pytest

from tests.test_parity import (
    REGISTRY,
    assert_oracle_parity,
    module_keys,
    normalize,
)

KEYS = module_keys("staged_r6", "staged_r6b")


@pytest.mark.parametrize("name", KEYS)
def test_staged_parity(spark, duck_small, name):
    assert_oracle_parity(spark, duck_small, name)


def test_wave_b_activated():
    """Every operator defined in staged_r6 (35) and staged_r6b (15) is
    registered."""
    assert len(module_keys("staged_r6")) == 35
    assert len(module_keys("staged_r6b")) == 15
    assert len(KEYS) == 50


def test_dedup_cross_source_exact_nonvacuous(spark, tmp_path):
    """The driver's r6 grade for dedup_cross_source_exact was a
    0-rows-vs-0-rows match (the sf0.01 fixtures happen to contain no
    cross-source exact duplicates), i.e. vacuous (VERDICT r6 item 4 /
    next-round item 7). This pins a parity case on a corpus WITH
    injected duplicates: 3 dup groups spanning 1-3 sources plus
    singleton noise, Spark vs the op's own DuckDB oracle, non-empty
    result asserted."""
    import duckdb

    rows = []
    # Group A: 3 exact copies across 3 sources; B: 2 copies, 2 sources;
    # C: 2 copies within ONE source (n_sources=1 must still count).
    for i, src in enumerate(["web", "books", "code"]):
        rows.append((100 + i, "the quick brown fox", "en", src, 19))
    for i, src in enumerate(["web", "wiki"]):
        rows.append((200 + i, "lorem ipsum dolor", "en", src, 17))
    for i in range(2):
        rows.append((300 + i, "same-source dup", "en", "web", 15))
    for i in range(5):  # singleton noise must NOT appear in the output
        rows.append((400 + i, f"unique text {i}", "en", "web", 13))
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)


    spec = REGISTRY["dedup_cross_source_exact"]
    df = spec.spark_fn(spark, str(tmp_path))
    s_rows, s_cols = df.collect(), df.columns
    assert len(s_rows) == 3, f"expected 3 dup-shape groups, got {s_rows}"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    rel = con.sql(spec.oracle_sql)
    d_rows, d_cols = rel.fetchall(), list(rel.columns)
    assert sorted(s_cols) == sorted(d_cols)
    assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols)
    con.close()
