"""Registry-wide dtype policy, checked without executing anything.

For every operator with an oracle, the Spark plan's output dtypes and
the DuckDB oracle's column types must agree in kind, and no oracle
column may be HUGEINT. pandas coerces int128 to float64, which is how
`dedup_simhash` hash-failed in round 1; an uncast correlated
`sum(BIGINT)` divisor in `subquery_correlated_scalar` once slipped a
HUGEINT share column past a value-only check. This module runs in the
default tier, so a dtype drift anywhere in the registry fails Tier-1.

Scalar columns get the full engine-kind comparison from test_parity;
nested types (array/map/struct) only assert the HUGEINT ban, since the
verbatim-kind clause would false-positive on spelling (`array<bigint>`
vs `BIGINT[]`).

Cheap by construction: Spark dtypes come from plan analysis and
DuckDB types from relation planning — nothing executes.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import HASH_CHECKED, REGISTRY, _SPARK_KIND, _duck_kind


def _is_nested(t: str) -> bool:
    t = t.lower()
    if t.startswith("decimal"):  # parenthesized but scalar
        return False
    return any(k in t for k in ("array", "map", "struct", "[]", "(", "<"))


@pytest.mark.parametrize("name", HASH_CHECKED)
def test_staged_dtype_parity(spark, duck_small, name):
    spec = REGISTRY[name]
    s_types = dict(spec.spark_fn(spark, SF_SMALL).dtypes)
    rel = duck_small.sql(spec.oracle_sql)
    d_types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}

    assert sorted(s_types) == sorted(d_types), (
        f"{name}: column names differ: {sorted(s_types)} vs {sorted(d_types)}"
    )
    huge = [c for c, t in d_types.items() if "HUGEINT" in t]
    assert not huge, (
        f"{name}: oracle columns {huge} are HUGEINT — cast to BIGINT "
        "(pandas coerces int128 to float64 in the driver's hasher)"
    )
    for c, st in s_types.items():
        dt = d_types[c]
        if _is_nested(st) or _is_nested(dt):
            continue
        sk = _SPARK_KIND.get(st, st)
        dk = _duck_kind(dt)
        assert sk == dk, (
            f"{name}.{c}: dtype kind differs: spark {st} ({sk}) "
            f"vs duckdb {dt} ({dk})"
        )
