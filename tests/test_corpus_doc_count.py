"""text_tfidf_topk's corpus-size fold on corpora the fixtures don't ship.

``_corpus_doc_count`` reads the documents count from parquet footers
when the footer statistics prove ``doc_id`` null-free, and otherwise
falls back to ``COUNT(DISTINCT doc_id)`` in Spark. These tests write
small corpora to a temp directory: a nested column ahead of ``doc_id``
(footer column lookup) and a duplicated ``doc_id`` (the key invariant
the footer cannot check).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_intraday_bidask_spark.operators.text_analysis import _corpus_doc_count
from etl_intraday_bidask_spark.registry import REGISTRY
from tests.test_parity import normalize

TEXTS = [
    "spark join window",
    "join sort merge merge",
    "window spark scan",
    "scan sort",
    "merge spark join join",
]


def _write_documents(d, doc_ids, texts, meta_b=None) -> str:
    """Write ``{d}/documents.parquet`` with a struct column ``meta``
    placed BEFORE ``doc_id``, so the Arrow field index of doc_id (1)
    differs from its parquet leaf-column index (2)."""
    n = len(doc_ids)
    meta_b = meta_b if meta_b is not None else [f"m{i}" for i in range(n)]
    table = pa.table({
        "meta": pa.array(
            [{"a": i, "b": b} for i, b in enumerate(meta_b)],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["src0"] * n, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, f"{d}/documents.parquet")
    return str(d)


def _duck_scalar(sql: str):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


def _no_footer(monkeypatch) -> None:
    """Make the footer read fail, so _corpus_doc_count takes its fallback."""

    def unreadable(*_a, **_k):
        raise OSError("footer read disabled by test")

    monkeypatch.setattr("pyarrow.dataset.dataset", unreadable)


def test_footer_fold_finds_doc_id_after_nested_column(tmp_path):
    # meta.b (leaf 1, the Arrow index of doc_id) has a null; doc_id has
    # none. Reading leaf 1's statistics would see the null and fall
    # back; spark=None makes any fallback raise.
    sf = _write_documents(
        tmp_path, list(range(5)), TEXTS, meta_b=["x", None, "y", "z", "w"]
    )
    assert _corpus_doc_count(None, sf) == 5


def test_footer_fold_sees_doc_id_nulls_after_nested_column(spark, tmp_path):
    # The converse: doc_id has a null, meta.b has none. The footer must
    # refuse (a null-bearing doc_id is not a key) and the fallback must
    # return the declared COUNT(DISTINCT doc_id).
    sf = _write_documents(tmp_path, [0, 1, None, 3, 4], TEXTS)
    want = _duck_scalar(
        f"SELECT count(DISTINCT doc_id) FROM read_parquet('{sf}/documents.parquet')"
    )
    assert _corpus_doc_count(spark, sf) == want == 4


def test_duplicate_doc_id_diverges_only_in_footer_count(spark, tmp_path, monkeypatch):
    # A re-ingested document: doc_id 3 appears twice. Footers carry row
    # counts, not distinct counts, so the fast path counts it twice;
    # the fallback computes the declared semantic.
    sf = _write_documents(
        tmp_path, [0, 1, 2, 3, 4, 3], TEXTS + ["scan sort"]
    )
    want = _duck_scalar(
        f"SELECT count(DISTINCT doc_id) FROM read_parquet('{sf}/documents.parquet')"
    )
    assert want == 5
    assert _corpus_doc_count(None, sf) == 6  # footer fast path: rows
    _no_footer(monkeypatch)
    assert _corpus_doc_count(spark, sf) == want  # fallback: distinct


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="text_tfidf_topk requires unique doc_id: the footer fold counts "
    "rows for n_docs and the df branch counts rows per token, where the "
    "oracle counts DISTINCT doc_id in both",
)
@pytest.mark.parametrize("footer", [True, False], ids=["footer", "fallback"])
def test_tfidf_topk_duplicate_doc_id(spark, tmp_path, monkeypatch, footer):
    sf = _write_documents(
        tmp_path, [0, 1, 2, 3, 4, 3], TEXTS + ["scan sort"]
    )
    if not footer:
        _no_footer(monkeypatch)
    spec = REGISTRY["text_tfidf_topk"]
    df = spec.spark_fn(spark, sf)
    got = normalize([tuple(r) for r in df.collect()], df.columns)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        rel = con.sql(spec.oracle_sql)
        want = normalize(rel.fetchall(), list(rel.columns))
    finally:
        con.close()
    assert got == want
