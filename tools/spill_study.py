"""Spill study: what happens when an operator's working set exceeds
execution memory — the cost class the capacity math in SCALE.md §10
budgets against, measured instead of asserted.

At 100 TB a shuffle partition that misses its size budget does not
fail; Spark's sort, hash-aggregate, and sort-merge-join operators
degrade to external (spilling) algorithms: UnsafeExternalSorter and
the HashAggregate sort-based fallback write sorted runs to local disk
and merge them. The engineering claims worth evidence are

  1. answers do not change under memory pressure — a spilling run
     returns byte-identical results to a roomy one;
  2. the degradation is bounded — wall grows by a small factor, not
     an OOM cliff, because spill IO is sequential and the merge is
     single-pass;
  3. the metrics exist to SEE it (memory/diskBytesSpilled per stage),
     which is what a capacity dashboard would alert on.

Method: one fixture (12M rows, a 64-char incompressible payload,
~11M-distinct grouping key — generated by DuckDB into parquet), three
memory-hungry workloads, each run in TWO fresh JVMs whose only
difference is driver (== local-mode executor) memory:

  tight  (1 GB heap → ~400 MB unified execution pool, far below the
          ~900 MB payload working set)  → must spill to finish;
  roomy  (6 GB heap)                    → fits, expected zero spill.

  a) sort_global   : total-order sort of the payload (noop sink) —
                     UnsafeExternalSorter spill path.
  b) agg_highcard  : groupBy over ~11M distinct keys carrying a
                     max(payload) — HashAggregate's sort-based
                     fallback spill path.
  c) join_sortmerge: self-join on the key with broadcast disabled —
                     both SMJ sort children under pressure at once.

Each workload runs once under etl_intraday_bidask_spark.metrics.measure,
so its wall and spill bytes come from its own record, read from the
status store for that action's job group alone. Each child prints one
JSON line; the parent asserts the fingerprints are identical across
memory settings and emits the combined record for BASELINE.md.
sort_global's fingerprint includes an explicit sortedness proof (zero
within-partition inversions + non-overlapping range-partition bounds)
computed in an untimed verification re-sort after the measured one.

Usage: python tools/spill_study.py          (one JSON line on stdout)
       SPARK_GRAFT_SPILL_ROWS=2000000 ...   (scaled-down, for tests)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(os.environ.get("SPARK_GRAFT_SPILL_ROWS", str(12_000_000)))
TIGHT_MEM = os.environ.get("SPARK_GRAFT_SPILL_TIGHT", "1g")
ROOMY_MEM = os.environ.get("SPARK_GRAFT_SPILL_ROOMY", "6g")
# Modest parallelism: fewer, larger tasks make the per-task share of
# the execution pool realistic for a cluster executor slot.
CORES = int(os.environ.get("SPARK_GRAFT_SPILL_CORES", "8"))


def generate(d: str) -> None:
    """12M rows × ~72 B: md5||md5 payload is incompressible on purpose
    so the in-memory working set tracks the on-disk size."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT CAST(hash(i) % {max(N_ROWS * 9 // 10, 1)} AS BIGINT) AS k,
                   md5(CAST(i AS VARCHAR)) || md5(CAST(i * 7 AS VARCHAR))
                       AS payload
            FROM (SELECT unnest(range({N_ROWS})) AS i)
        ) TO '{d}/spill_fact.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 200000)
        """
    )
    con.close()


def child(mem: str, data_dir: str) -> None:
    """Run the three workloads in THIS process's fresh JVM at `mem`."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from etl_intraday_bidask_spark.metrics import measure

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName(f"spill-study-{mem}")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(CORES * 2))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # The study measures the STATIC spill paths; AQE off keeps the
        # partition layout identical across the two memory settings.
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    fact = spark.read.parquet(f"{data_dir}/spill_fact.parquet")
    fact.count()  # warm: JIT + page-cache the input once

    def noop_sink(df):
        df.write.format("noop").mode("overwrite").save()
        return []

    def verify_sorted():
        """Prove the spilled sort actually SORTED (untimed, after the
        measured sort). Output partitions of an orderBy are
        range-ordered and monotonically_increasing_id preserves
        within-partition row order, so sortedness == zero
        within-partition inversions + non-overlapping partition [min,
        max] ranges in pid order. A content-only fingerprint would be
        vacuously identical even if the external-sort merge scrambled
        row order (round-7 review finding)."""
        from pyspark.sql import Window

        rows = fact.orderBy("payload").select(
            "k",
            "payload",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
        prev = F.lag("payload").over(
            Window.partitionBy("pid").orderBy("mid")
        )
        inversions = (
            rows.select((prev > F.col("payload")).alias("bad"))
            .where(F.col("bad"))
            .count()
        )
        ranges = sorted(
            rows.groupBy("pid")
            .agg(
                F.min("payload").alias("lo"),
                F.max("payload").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash("k", "payload")).alias("h"),
            )
            .collect(),
            key=lambda r: r["pid"],
        )
        overlaps = sum(
            1
            for i in range(1, len(ranges))
            if ranges[i]["lo"] < ranges[i - 1]["hi"]
        )
        assert inversions == 0 and overlaps == 0, (
            f"sort violated: {inversions} inversions, "
            f"{overlaps} overlapping partition ranges"
        )
        n = sum(r["n"] for r in ranges)
        h = sum(r["h"] for r in ranges)
        return n, h, "sorted"

    def agg_highcard():
        return (
            fact.groupBy("k")
            .agg(F.max("payload").alias("mx"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash("k", "mx")).alias("h"),
            )
        )

    def join_sortmerge():
        right = fact.groupBy("k").agg(F.min("payload").alias("canon"))
        return fact.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("k", "payload", "canon")).alias("h"),
        )

    got: list = []

    def collect(df):
        got[:] = df.collect()
        return got

    out: dict = {"mem": mem}
    for name, build, action in (
        ("sort_global", lambda: fact.orderBy("payload"), noop_sink),
        ("agg_highcard", agg_highcard, collect),
        ("join_sortmerge", join_sortmerge, collect),
    ):
        rec = measure(spark, build, action)
        fp = verify_sorted() if name == "sort_global" else (got[0]["n"], got[0]["h"])
        out[name] = {
            "wall_sec": round((rec["build_ms"] + rec["collect_ms"]) / 1000, 3),
            "mem_spilled_mb": round(rec["mem_spill_bytes"] / 1e6, 1),
            "disk_spilled_mb": round(rec["disk_spill_bytes"] / 1e6, 1),
            "fingerprint": list(fp),
        }
    spark.stop()
    print("SPILL_CHILD " + json.dumps(out))


def main() -> None:
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3])
        return

    tmp = tempfile.mkdtemp(prefix="spill_study_")
    generate(tmp)

    runs: dict[str, dict] = {}
    for mem in (TIGHT_MEM, ROOMY_MEM):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", mem, tmp],
            capture_output=True,
            text=True,
            timeout=3600,
            env=os.environ,
        )
        line = [
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("SPILL_CHILD ")
        ]
        if not line:
            raise RuntimeError(
                f"child {mem} produced no record:\n{proc.stdout[-2000:]}"
                f"\n{proc.stderr[-2000:]}"
            )
        runs[mem] = json.loads(line[-1][len("SPILL_CHILD ") :])

    tight, roomy = runs[TIGHT_MEM], runs[ROOMY_MEM]
    workloads = ("sort_global", "agg_highcard", "join_sortmerge")
    for w in workloads:
        assert tight[w]["fingerprint"] == roomy[w]["fingerprint"], (
            w,
            tight[w]["fingerprint"],
            roomy[w]["fingerprint"],
        )

    out = {
        "metric": "spill_study",
        "n_rows": N_ROWS,
        "tight_mem": TIGHT_MEM,
        "roomy_mem": ROOMY_MEM,
        "cores": CORES,
        "results_identical": True,
        "workloads": {
            w: {
                "wall_tight_sec": tight[w]["wall_sec"],
                "wall_roomy_sec": roomy[w]["wall_sec"],
                "degradation_x": round(
                    tight[w]["wall_sec"] / max(roomy[w]["wall_sec"], 1e-9), 2
                ),
                "disk_spilled_tight_mb": tight[w]["disk_spilled_mb"],
                "disk_spilled_roomy_mb": roomy[w]["disk_spilled_mb"],
                "mem_spilled_tight_mb": tight[w]["mem_spilled_mb"],
            }
            for w in workloads
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
