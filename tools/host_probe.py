"""30-second host-health probe: is THIS window fit for bench numbers?

Round 11 lost most of a session's bench windows to a degraded
microVM host: suite walls swung 2.60-6.75 s with nothing running
locally (load ~0, no steal-time growth), warmed floors read 65-154 ms
against the 64-75 ms of rounds 9-10, and the only reliable tell was
symmetric — DuckDB's live anchors moved 2.8x in lockstep with Spark
(BASELINE.md round-11 addendum). The bench artifact already embeds
that symmetry per run; this probe gives the PRE-flight version so a
session can skip timing work in a bad window instead of discovering
it four minutes later.

Three numbers, one JSON line:
  - py_loop_ms: a fixed 10M-iteration pure-Python loop (interpreter
    throughput; ~600-1000 ms on a healthy core, >1500 degraded).
  - duck_scan_ms: DuckDB aggregating lineitem sf0.1 (the
    agg_pricing_summary oracle shape) — engine-independent compute
    throughput on the same fixture the bench reads.
  - spark_floor_ms: cold-session dispatch floor (median of 15
    spark.range(1).count() after 5 warm-ups) — the bench floor's
    cold twin; healthy windows read <=120 cold / <=80 warmed.

Verdict field: "ok" when all three are inside the healthy bands
above, else "degraded" with the failing fields named. The bands are
this machine's round-9..11 measurements, not universal constants —
recalibrate them if the fixture host changes. bench.py and
crossover_bench.py grade their warmed sessions with ``verdict`` and
``warmed_floor_ms`` below.

Usage: python tools/host_probe.py [--skip-spark]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEALTHY = {"py_loop_ms": 1500.0, "duck_scan_ms": 250.0, "spark_floor_ms": 120.0}

# Warmed-session dispatch-floor bands (single source of truth — ADVICE
# r13: bench.py and tools/crossover_bench.py previously each carried
# these as literals, so a recalibration could silently desynchronize
# the two probes' verdicts). Recalibration provenance: BASELINE.md
# round-13 addendum (healthy <=95 from rounds 9-12 receipts; workable
# <=160 = the JVM-dispatch-degraded-but-one-sidedly-evaluable tier).
WARMED_FLOOR_HEALTHY_MS = 95.0
WARMED_FLOOR_WORKABLE_MS = 160.0
# The healthy bands ``verdict`` grades a warmed session against.
WARMED_HEALTHY = {
    "py_loop_ms": HEALTHY["py_loop_ms"],
    "duck_scan_ms": HEALTHY["duck_scan_ms"],
    "warmed_floor_ms": WARMED_FLOOR_HEALTHY_MS,
}


def py_loop_ms() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    assert s == 49999995000000
    return (time.perf_counter() - t0) * 1000


def duck_scan_ms(sf_dir: str = SF_DIR) -> float:
    import duckdb

    con = duckdb.connect()
    q = (
        "SELECT l_returnflag, l_linestatus, count(*), "
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet') "
        "GROUP BY 1, 2"
    )
    con.execute(q).fetchall()  # warm (footer + page cache)
    xs = []
    for _ in range(5):
        t0 = time.perf_counter()
        con.execute(q).fetchall()
        xs.append(time.perf_counter() - t0)
    return statistics.median(xs) * 1000


def preflight(sf_dir: str = SF_DIR) -> dict:
    """The python-loop and DuckDB-scan legs, before any JVM exists."""
    out = {"py_loop_ms": round(py_loop_ms(), 1)}
    try:
        out["duck_scan_ms"] = round(duck_scan_ms(sf_dir), 1)
    except Exception as ex:  # fixture missing on a foreign checkout
        out["duck_scan_ms"] = None
        out["duck_error"] = type(ex).__name__
    return out


def warmed_floor_ms(spark) -> float:
    """Dispatch floor of a session: median of 15 spark.range(1).count()."""
    xs = []
    for _ in range(15):
        t0 = time.perf_counter()
        spark.range(1).count()
        xs.append(time.perf_counter() - t0)
    return round(statistics.median(xs) * 1000, 1)


def spark_floor_ms() -> float:
    from etl_intraday_bidask_spark.session import build_spark

    spark = build_spark(app_name="host-probe", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for _ in range(5):
        spark.range(1).count()
    return warmed_floor_ms(spark)


def verdict(probe: dict) -> str:
    """Three-way verdict on a probe with ``py_loop_ms``,
    ``duck_scan_ms`` and (once a session is warm) ``warmed_floor_ms``.

    A window whose ONLY excursion is a warmed floor in (HEALTHY,
    WORKABLE] is ``jvm_degraded``: JVM-dispatch-path degradation
    penalizes only Spark's side of a live Spark/DuckDB ratio, so a bar
    stays one-sidedly evaluable on it. Any other excursion, or a failed
    DuckDB leg (``duck_scan_ms`` None: no DuckDB evidence for the
    window), is ``degraded``.
    """
    if probe.get("duck_scan_ms") is None:
        return "degraded:duck_error"
    bad = [
        k
        for k, lim in WARMED_HEALTHY.items()
        if isinstance(probe.get(k), (int, float)) and probe[k] > lim
    ]
    if bad == ["warmed_floor_ms"] and probe[bad[0]] <= WARMED_FLOOR_WORKABLE_MS:
        return "jvm_degraded:warmed_floor_ms"
    return "degraded:" + ",".join(bad) if bad else "ok"


def main() -> None:
    out = preflight()
    if "--skip-spark" not in sys.argv:
        out["spark_floor_ms"] = spark_floor_ms()
    bad = [
        k
        for k, lim in HEALTHY.items()
        if isinstance(out.get(k), (int, float)) and out[k] > lim
    ]
    out["verdict"] = "degraded:" + ",".join(bad) if bad else "ok"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
