"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen
so the same plans survive a 1000-executor / 100 TB deployment (SURVEY.md
§4): AQE on for runtime coalescing + skew-join splitting, UTC session
timezone for hash parity with the DuckDB oracle, Arrow enabled for the
pandas-UDF surface.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's JVM-wide cache of Janino-compiled generated classes
# (Spark's default: 100). One pass over the 11 headline operators
# generates ~130 distinct classes, so at 100 every repeated pass
# recompiled ~90 of them. 2000 leaves wide headroom over a session's
# working set at 14 MB more Metaspace than 100 (README.md).
CODEGEN_CACHE_ENTRIES = 2000


def build_spark(
    app_name: str = "etl-intraday-bidask-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` should be sized so a shuffle partition fits in
    executor memory at the target scale; at local fixture scale a small
    number avoids scheduling overhead, and AQE coalesces further at
    runtime. On a real cluster leave it high (e.g. 2000 for 100 TB) and
    let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Hash parity with the DuckDB oracle: timestamps interpreted in UTC
        # on both sides (SURVEY.md §1.3).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce post-shuffle partitions and split skewed joins at
        # runtime — the 100 TB story for skewed user_id / token keys.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the pandas-UDF surface (vectorized Python boundary).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's reader
        # rejects; read it as LongType nanos and convert to µs Timestamp
        # in tables.load (lossless — fixture values are µs-precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # A static SQL conf: it only takes effect when the session is
        # built, so it cannot join the runtime confs that
        # tables.ensure_session_confs re-asserts on a bare session.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
