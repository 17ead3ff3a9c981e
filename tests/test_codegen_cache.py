"""Warm passes reuse the generated code of earlier ones.

Spark compiles each generated class with Janino once and keeps it in a
JVM-wide cache bounded by ``spark.sql.codegen.cache.maxEntries``. At
Spark's default of 100 entries, one pass over the 11 headline operators
(~130 distinct classes) evicts its own classes and every repeated pass
recompiles ~90 of them. ``build_spark`` sizes the cache above that
working set; this pins the conf and checks a repeated headline pass
compiles nothing, after an oracle check of the first pass.
"""

from __future__ import annotations

from bench import HEADLINE
from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, normalize, run_duck, run_spark


def _janino_compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_build_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_repeated_headline_pass_compiles_nothing(spark, duck_small):
    for name in HEADLINE:
        rows, cols, _ = run_spark(spark, name, SF_SMALL)
        got = normalize([tuple(r) for r in rows], cols)
        if REGISTRY[name].oracle_sql is None:
            assert got, f"{name}: rows-only operator returned no rows"
            continue
        d_rows, d_cols, _ = run_duck(duck_small, name)
        assert got == normalize(d_rows, d_cols), f"{name}: oracle mismatch"
    before = _janino_compiles(spark)
    for name in HEADLINE:
        run_spark(spark, name, SF_SMALL)
    assert _janino_compiles(spark) - before == 0
