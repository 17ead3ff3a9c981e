"""Fuzzed oracle parity for the embedding/cosine family: adversarial
vector fixtures built from COLLINEAR patterns (scaled copies of a few
base patterns), so exact duplicate vectors, cosine == +/-1.0 ties, and
single-label degenerate blocks all occur with high probability — the
tie-break and exact-ordering surface the smooth fixture distribution
never exercises. Zero-norm vectors are excluded by construction: the
cosine family's documented precondition
(tests/test_entry_contract.py::test_embeddings_nonzero_norm_precondition)
makes them a fixture-contract violation, not an operator bug.

Deterministic (derandomize=True), small example counts — same budget
discipline as tests/test_fuzz_parity.py.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_intraday_bidask_spark.registry import load_all_operators
from etl_intraday_bidask_spark.tables import TABLE_NAMES
from tests.conftest import SF_SMALL
from tests.test_parity import normalize

# Battery tier (VERDICT r14 item 6): fuzzed embedding parity is
# builder cadence, same discipline as tests/test_fuzz_parity.py.
pytestmark = pytest.mark.battery

REGISTRY = load_all_operators()
DIM = 64

REGISTERED_EMB_OPS = [
    "knn_cosine_topk",
    "knn_range_search",
    "dedup_embedding_cosine",
    "embed_centroid_stats",
]
WAVE_EMB_OPS = [
    "embed_norm_histogram",     # wave C
    "embed_drift_split_halves", # wave C
    "embed_class_separation",   # wave B
    # wave D (round 6): dim variance ranks collinear patterns with
    # exact integer numerators; centroid shift divides by per-half
    # counts (cross-multiplied) — both tie-break-sensitive on
    # duplicate vectors.
    "embed_dim_variance_topk",
    "embed_centroid_shift_drift",
    # wave E (round 6): Hamming ranking of exactly-collinear sketches
    # (identical signatures => distance ties broken on vec_id);
    # matryoshka prefixes of collinear vectors stay collinear; int4
    # codes of scaled copies are IDENTICAL (scale cancels), so the
    # error audit sees maximal duplicate structure.
    "embed_sign_hamming_ann",
    "embed_matryoshka_recall",
    "embed_int4_quant_error",
]


def _pattern(k: int, i: int) -> float:
    # deterministic nonzero 64-dim base pattern; bounded magnitude
    return ((i * (k + 3) + k) % 7 - 3) / 4.0 or 0.25


# (label, pattern_idx, scale_millis != 0) — scaled copies of the same
# pattern are exactly collinear (cosine +/-1), same scale => duplicates.
emb_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 3),
        st.integers(-4, 4).filter(lambda x: x != 0),
    ),
    min_size=2,
    max_size=40,
)


def _stage_embeddings(tmpdir: str, rows) -> str:
    vecs = [
        [_pattern(k, i) * sm / 4.0 for i in range(DIM)]
        for (_, k, sm) in rows
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(rows)), pa.int64()),
            "embedding": pa.array(
                vecs, pa.list_(pa.float32())
            ),
            "label": pa.array([r[0] for r in rows], pa.int32()),
        }
    )
    os.makedirs(tmpdir, exist_ok=True)
    pq.write_table(tbl, os.path.join(tmpdir, "embeddings.parquet"))
    for name in TABLE_NAMES:
        dst = os.path.join(tmpdir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_SMALL, f"{name}.parquet"), dst)
    return tmpdir


def _assert_emb_parity(spark, variant: str) -> None:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{variant}/{name}.parquet')"
        )
    try:
        for op in REGISTERED_EMB_OPS + WAVE_EMB_OPS:
            spec = REGISTRY[op]
            df = spec.spark_fn(spark, variant)
            s_rows, s_cols = df.collect(), df.columns
            rel = con.sql(spec.oracle_sql)
            d_rows, d_cols = rel.fetchall(), list(rel.columns)
            assert len(s_rows) == len(d_rows), (
                f"{op}: rows {len(s_rows)} vs {len(d_rows)} on emb fuzz"
            )
            assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols), (
                f"{op}: engines diverge on emb fuzz fixture"
            )
    finally:
        con.close()


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=emb_strategy)
def test_embedding_ops_fuzzed_parity(spark, tmp_path_factory, rows):
    variant = _stage_embeddings(
        str(tmp_path_factory.mktemp("fuzz_emb")), rows
    )
    _assert_emb_parity(spark, variant)
