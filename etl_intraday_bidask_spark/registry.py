"""Query registry — the single source of truth for SURVEY.md §2.

Every declared operator registers a :class:`QuerySpec` holding

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the idiomatic PySpark plan;
- ``oracle_sql`` — the equivalent DuckDB SQL over the pre-registered
  views (``None`` for inherently non-SQL-expressible ops, which the
  driver grades rows-only);
- ``description`` — what the operator computes and why it is in-surface.

``__spark_entry__.py`` exposes this registry to the grading driver, and
``tests/test_parity.py`` parametrizes over it, so implementing an
operator in one place wires the harness, the tests, and the bench.

Hash-parity discipline (SURVEY.md §1.3, binding for every spec):
- every floating aggregate is ``round(expr, 4)`` identically on both
  sides; exact-integer aggregates are left alone;
- raw ``events.ts`` is never emitted (ns parquet vs µs Spark) — always
  ``date_trunc`` or epoch seconds on both sides;
- window/limit queries carry a total-order tie-break;
- computed integer columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: SparkFn
    oracle_sql: str | None
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle_sql: str | None, description: str = ""
) -> Callable[[SparkFn], SparkFn]:
    """Decorator: register ``fn`` as the PySpark side of operator ``name``.

    The only way an operator enters :data:`REGISTRY`; a duplicate name
    raises."""

    def deco(fn: SparkFn) -> SparkFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator registration: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle_sql, description)
        return fn

    return deco


def load_all_operators() -> dict[str, QuerySpec]:
    """Import every operator module (triggering registration) and return
    the populated registry."""
    # Imported lazily so that importing the package root stays cheap.
    from etl_intraday_bidask_spark import operators  # noqa: F401

    return REGISTRY
