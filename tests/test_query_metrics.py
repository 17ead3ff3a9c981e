"""The per-query record of etl_intraday_bidask_spark.metrics.measure,
checked against a plan whose shape is known: with AQE off,
``range(4 partitions) -> groupBy(id % 7).count()`` is one job of two
stages (4 map tasks, then one reduce task per shuffle partition)
joined by one shuffle exchange, and collects 7 rows."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_intraday_bidask_spark.metrics import measure


@pytest.fixture
def aqe_off(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


def two_stage(spark):
    return spark.range(1000, numPartitions=4).groupBy(F.col("id") % 7).count()


def test_record_of_a_two_stage_plan(aqe_off):
    spark = aqe_off
    rec = measure(spark, lambda: two_stage(spark))
    assert (rec["jobs"], rec["stages"], rec["exchanges"]) == (1, 2, 1), rec
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert rec["tasks"] == 4 + shuffle, rec
    assert rec["shuffle_write_bytes"] == rec["shuffle_read_bytes"] > 0, rec
    assert rec["rows"] == 7
    for key in ("build_ms", "collect_ms", "analysis_ms", "optimization_ms",
                "planning_ms", "run_ms", "cpu_ms", "gc_ms",
                "peak_exec_mem_bytes", "mem_spill_bytes", "disk_spill_bytes"):
        assert rec[key] >= 0, (key, rec)


def test_each_record_holds_only_its_own_jobs(aqe_off):
    spark = aqe_off
    first = measure(spark, lambda: two_stage(spark))
    spark.range(10).groupBy("id").count().collect()  # unmeasured job
    spark.sparkContext.setJobGroup("caller", "caller's own group")
    second = measure(spark, lambda: two_stage(spark))
    assert (second["jobs"], second["stages"]) == (1, 2), second
    assert second["shuffle_write_bytes"] == first["shuffle_write_bytes"]
    # The caller's job group survives the measurement.
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == "caller"
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
