"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All operators live in ``etl_intraday_bidask_spark`` (see SURVEY.md §2
for the declared contract); this module just adapts the registry to the
driver's three-function interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_intraday_bidask_spark.registry import load_all_operators


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all_operators()
    return registry["agg_pricing_summary"].spark_fn(spark, "/root/testdata/sf0.001")


def _grading_record() -> tuple[dict[str, list[int]], set[str]]:
    """One pass over the CORRECTNESS_r*.json files in the repo root (next
    to this file, where the driver writes them). Returns

    - operator -> sorted rounds in which the driver graded it, and
    - the keys whose MOST RECENT grade was a failure (an error or any
      rows/schema/hash mismatch). These are regressions that must
      re-prove themselves: the rotation puts them first instead of
      treating the failed grade as a completed one (which would bench
      them for two rounds)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rounds.append((int(m.group(1)), json.load(f)))
        except (OSError, ValueError):
            continue
    history: dict[str, list[int]] = {}
    latest_failed: dict[str, bool] = {}
    for rnd, graded in sorted(rounds, key=lambda t: t[0]):
        for key, v in graded.items():
            history.setdefault(key, []).append(rnd)
            latest_failed[key] = isinstance(v, dict) and (
                v.get("err") not in (None, "no_oracle")
                or any(
                    v.get(f) is False
                    for f in ("rows_match", "schema_match", "hash_match")
                )
            )
    return history, {k for k, failed in latest_failed.items() if failed}


def rotation_order(
    keys: list[str],
    history: dict[str, list[int]],
    failed: frozenset[str] | set[str] = frozenset(),
) -> list[str]:
    """Least-recently-graded-first ordering: keys whose latest grade FAILED
    lead (regressions re-prove themselves next round), then ascending
    (times graded, last round graded) — so never-graded keys come before
    any graded one — and ties break on name, fully deterministic. Each
    round the driver grades the first 50 keys, so this rotates stale keys
    into the window automatically as CORRECTNESS files accumulate."""
    return sorted(
        keys,
        key=lambda k: (
            k not in failed,
            len(history.get(k, ())),
            max(history.get(k, ()), default=0),
            k,
        ),
    )


def _ordered_registry():
    registry = load_all_operators()
    order = rotation_order(list(registry), *_grading_record())
    return {n: registry[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark_fn for name, spec in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every hash-checked operator; rows-only ops
    (sinks, approx sketches, watermark behavior) are omitted."""
    return {
        name: spec.oracle_sql
        for name, spec in _ordered_registry().items()
        if spec.oracle_sql is not None
    }
