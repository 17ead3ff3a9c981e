"""Oracle parity for the operators defined in ``operators/staged_r9.py``,
one parametrized drive through ``tests.test_parity.assert_oracle_parity``,
plus pins that the driver's value hash alone cannot make."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, assert_oracle_parity, module_keys

KEYS = module_keys("staged_r9")


@pytest.mark.parametrize("name", KEYS)
def test_staged_r9_parity(spark, duck_small, name):
    assert_oracle_parity(spark, duck_small, name)


def test_wave_e_activated():
    """Every operator defined in staged_r9 is registered: 50 keys."""
    assert len(KEYS) == 50


def test_metadata_size_audit_matches_filesystem(spark):
    """Pin the rows-only _metadata audit to ground truth: the reported
    file_bytes must equal the actual on-disk parquet size and n_rows
    the actual row count."""
    import os

    import duckdb

    rows = (
        REGISTRY["scan_metadata_size_audit"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    path = os.path.join(SF_SMALL, "lineitem.parquet")
    assert r["file_bytes"] == os.path.getsize(path)
    con = duckdb.connect()
    n = con.sql(
        f"SELECT count(*) FROM read_parquet('{path}')"
    ).fetchone()[0]
    con.close()
    assert r["n_rows"] == n
