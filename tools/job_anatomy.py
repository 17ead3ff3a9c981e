"""Per-headline-query AQE job anatomy at the bench scale factor.

Round-9 decomposed the per-query dispatch FLOOR (Catalyst planning +
collect socket + one 2-stage probe job, ~67-80 ms idle, see
BASELINE.md "Round-9 addendum: the floor decomposed to its three
terms"). This tool measures the other half of the composition story:
how many AQE jobs each headline query executes. Under adaptive
execution every shuffle or broadcast materialization point becomes its
own scheduler job; SERIALIZED job levels each pay a fresh
job-submission round (the dispatch study's probe-job bracket: ~27-42
ms) that the single-floor subtraction in bench.py's `marginal` does
NOT remove.

For every headline query this prints:
  - jobs:          AQE jobs executed, counted as the global job-ID
                   delta between two sentinel jobs bracketing the
                   probe run (round-10 ADVICE: job-GROUP attribution
                   is unreliable — AQE broadcast-exchange jobs are
                   submitted from cached driver thread pools that can
                   retain whichever job group first created them, so
                   a group count can leak across queries; Spark job
                   IDs are one global monotone counter, so the
                   sentinel delta is exact regardless of submitting
                   thread)
  - wall/marginal: bench.py's protocol (toPandas materialization,
                   median of N, same spark.range(1).count() floor)
  - adj_lo/adj_hi: marginal minus (jobs - 1) x the probe-job bracket
                   [27, 42] ms — the band of engine work left after
                   the UNSUBTRACTED extra job levels are accounted
                   for. A NEGATIVE adj_hi is itself a finding: the
                   query's jobs overlap (concurrent broadcast leaf
                   builds), so even the low-end per-job estimate
                   over-subtracts — i.e. the query is fully
                   dispatch-composition-bound at this SF.

plus one JSON line with everything, for BASELINE.md addenda.

Usage: python tools/job_anatomy.py [--sf SF_DIR]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Probe-job submission bracket measured in round 9 (BASELINE.md,
# "Round-9 addendum: the floor decomposed to its three terms"): a
# trivial 2-stage job costs 27-42 ms end to end once planning and the
# collect socket are excluded.
JOB_MS_LO, JOB_MS_HI = 27.0, 42.0


def count_jobs(spark, st, thunk) -> int:
    """Scheduler jobs submitted by ``thunk``, by sentinel job-ID delta.

    Two `spark.range(1).count()` sentinels bracket the probe; each runs
    under its own fresh job group set from THIS thread (main-thread
    setJobGroup attribution is reliable — the round-10 ADVICE hazard is
    only the cached AQE broadcast thread pools, whose jobs still land
    between the sentinels in the global ID sequence no matter which
    group they carry). jobs = min(after-sentinel IDs) − max(before-
    sentinel IDs) − 1. Requires no concurrent foreign job submission —
    true for this single-threaded tool by construction.
    """
    sc = spark.sparkContext
    tok = count_jobs._seq = getattr(count_jobs, "_seq", 0) + 1
    g_before, g_after = f"anatomy_sent_{tok}a", f"anatomy_sent_{tok}b"
    sc.setJobGroup(g_before, "sentinel-before")
    spark.range(1).count()
    before = max(st.getJobIdsForGroup(g_before))
    sc.setJobGroup(f"anatomy_probe_{tok}", "probe")
    thunk()
    sc.setJobGroup(g_after, "sentinel-after")
    spark.range(1).count()
    after = min(st.getJobIdsForGroup(g_after))
    return after - before - 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    from etl_intraday_bidask_spark.registry import load_all_operators
    from etl_intraday_bidask_spark.session import build_spark

    from bench import HEADLINE  # single source of truth for the suite

    spark = build_spark(app_name="job-anatomy")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    st = sc.statusTracker()
    registry = load_all_operators()

    # Warm-up: bench.py's protocol (two full suite passes).
    for _ in range(2):
        for name in HEADLINE:
            registry[name].spark_fn(spark, sf_dir).toPandas()

    # Floor: identical probe to bench.py.
    floor_samples = []
    for _ in range(15):
        t0 = time.perf_counter()
        spark.range(1).count()
        floor_samples.append(time.perf_counter() - t0)
    floor_ms = statistics.median(floor_samples) * 1000

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    out = {}
    for name in HEADLINE:
        fn = registry[name].spark_fn
        jobs = count_jobs(
            spark, st, lambda: fn(spark, sf_dir).toPandas()
        )
        walls = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            walls.append(time.perf_counter() - t0)
        wall_ms = statistics.median(walls) * 1000
        marginal_ms = wall_ms - floor_ms
        extra = max(0, jobs - 1)
        out[name] = {
            "jobs": jobs,
            "wall_ms": round(wall_ms, 1),
            "marginal_ms": round(marginal_ms, 1),
            "adj_lo_ms": round(marginal_ms - extra * JOB_MS_HI, 1),
            "adj_hi_ms": round(marginal_ms - extra * JOB_MS_LO, 1),
        }
        print(
            f"{name:24s} jobs={jobs:2d} wall={wall_ms:6.1f} "
            f"marginal={marginal_ms:6.1f} "
            f"adj=[{out[name]['adj_lo_ms']:6.1f}, "
            f"{out[name]['adj_hi_ms']:6.1f}]",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "job_anatomy",
                "sf_dir": sf_dir,
                "floor_ms": round(floor_ms, 1),
                "probe_job_bracket_ms": [JOB_MS_LO, JOB_MS_HI],
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
