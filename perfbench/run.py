"""Closed-loop benchmark of the engine's registry operators.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 \
        --seconds 12 --trace 0

One client thread runs passes back to back; a pass calls every operator
of the workload once, in an order shuffled by the seed, and collects
each result with ``toPandas``. The first (cold) pass is reported on its
own; after ``WARMUP_PASSES`` untimed passes, timed passes repeat until
``--seconds`` have elapsed. The inputs are the engine's sf0.1 fixture
tables, kept in ``data/sf0.1``; the seed only shuffles the operator
order. Results are checked outside the timed intervals: each operator's
first result against its DuckDB oracle, and every later result against
the first.

Every end-to-end time is reported in reference-host seconds: the run
times a fixed pure-Python loop before set-up, between passes and after
the JVM has exited, and scales each measured time by the reference loop
time over the mean loop time, so a slow spell of a shared host does
not read as a slower program. The times as measured are printed and
recorded too.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with spans and counters on and prints the per-layer metrics.
The last stdout line is one JSON object; the lines before it name every
metric with its unit, the seed and the deployment. README.md explains
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from metrics import OpLog

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF01 = os.path.join(HERE, "data", "sf0.1")  # the engine's shipped sf0.1 tables
PACKAGE = "etl_intraday_bidask_spark"

HEADLINE = (
    "agg_pricing_summary",
    "join_broadcast_dims",
    "win_topk_per_group",
    "stream_tumbling_1h",
    "stream_session_30m",
    "agg_rollup",
    "json_get",
    "array_explode_tokens",
    "knn_cosine_topk",
    "join_asof_bidask",
    "text_tfidf_topk",
)
INGEST = (
    "etl_star_pipeline",
    "sink_parquet_partitioned",
    "sink_partition_overwrite_dynamic",
    "sink_json_lines_partitioned",
    "scan_partition_pruned",
    "stream_foreachbatch_compact",
)


@dataclass
class PassRun:
    """What the passes on one session leave behind."""

    passes: list[dict]
    first: dict  # operator -> its first (cold-pass) result frame
    log: OpLog
    rss_mb: float
    steal: float
    jobs: list[dict] | None = None  # status store, traced run only
    stages: list[dict] | None = None
    batches: list[tuple[float, float]] | None = None


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    tables: tuple[str, ...]  # loaded during set-up, as a job would
    row_group_rows: int | None  # None = the shipped files, one row group each


WORKLOADS = {
    "interactive_sf01": Workload(
        HEADLINE,
        ("region", "nation", "customer", "orders", "lineitem", "events",
         "documents", "embeddings"),
        row_group_rows=None,
    ),
    "etl_ingest": Workload(
        INGEST,
        ("region", "nation", "customer", "orders", "lineitem", "events",
         "documents"),
        row_group_rows=100_000,
    ),
}
# Passes after the cold one that are checked but not timed: the JIT is
# still compiling hardest through them. On 4 cores an interactive_sf01
# pass used 21-32 core-s cold, then 9-13, 7-10 and 6-9, and 4.5-6 from
# the fifth pass on. Two, not more, so that a run stays short enough for
# a set of runs to fit its time budget on a slow host.
WARMUP_PASSES = 2
# Calibration loop timings taken before set-up and after the JVM has
# exited, and after every pass but the cold one (outside the pass's
# timed interval). About 0.05 s each on a quiet host.
CALIB_SAMPLES = 5
CALIB_PER_PASS = 3

E2E_UNITS = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "round_s.p50": "s",
    "cpu_s.p50": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def deploy(work: str) -> dict[str, str]:
    """Pin the deployment: one task thread per core the process may use,
    and every scratch path (Spark local dirs, Python and JVM temp files)
    inside the work directory. No engine conf is touched."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
    }
    os.environ.update(settings)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return settings


class Session:
    """One set-up: a fresh JVM and session, with the workload's tables loaded."""

    def __init__(self, wl: Workload, data_dir: str, tracer) -> None:
        from etl_intraday_bidask_spark import tables
        from etl_intraday_bidask_spark.session import build_spark

        t0 = time.perf_counter()
        with tracer.span("session.build_spark"):
            self.spark = build_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("tables.load"):
            for name in wl.tables:
                tables.load(self.spark, data_dir, name)
        self.build_s = t1 - t0
        self.load_s = time.perf_counter() - t1


def make_call(spark, specs: dict, data_dir: str, tracer):
    """The timed body of one operator call, traced or not."""
    if tracer is None:
        def call(name: str, op_id: str):
            return specs[name].spark_fn(spark, data_dir).toPandas()

        return call

    sc = spark.sparkContext

    def traced(name: str, op_id: str):
        with tracer.overhead():
            sc.setJobGroup(op_id, name)
        with tracer.span("op", op_id):
            with tracer.span("operators.build", op_id):
                df = specs[name].spark_fn(spark, data_dir)
            with tracer.span("catalyst.plan", op_id):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("execute.collect", op_id):
                return df.toPandas()

    return traced


def run_pass(idx: int, order: list[str], call, log, probe):
    """One closed-loop pass. Only the operator calls are inside the timed
    interval; ``probe()`` (a dict of cumulative counters) is read around
    it and the result checks run after it."""
    rec = {"pass": idx, "order": order, "op_ms": {}, "rows": 0}
    before = probe()
    rec["start"] = time.time()
    results = {}
    t_pass = time.perf_counter()
    for name in order:
        t0 = time.perf_counter()
        try:
            results[name] = call(name, f"{idx}/{name}")
        except Exception as exc:  # an operator failure is a result, not a crash
            log.raised(name, exc)
            traceback.print_exc(file=sys.stderr)
        rec["op_ms"][name] = (time.perf_counter() - t0) * 1000
    rec["wall_s"] = time.perf_counter() - t_pass
    rec["end"] = time.time()
    after = probe()
    rec.update({k: after[k] - v for k, v in before.items()})
    for name, pdf in results.items():
        log.returned(name, pdf)
        rec["rows"] += len(pdf)
    return rec, results


def check_oracles(specs: dict, first: dict, data_dir: str, log) -> int:
    """Compare each operator's first result with its DuckDB oracle on the
    same files. Operators without an oracle must return rows."""
    import duckdb

    from etl_intraday_bidask_spark.tables import TABLE_NAMES
    from metrics import frame_rows
    from tests.test_parity import normalize

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        checked = 0
        for name, pdf in first.items():
            sql = specs[name].oracle_sql
            if sql is None:
                if len(pdf) == 0:
                    log.oracle_mismatch(name, "rows-only operator returned no rows")
                continue
            rel = con.sql(sql)
            want = normalize(rel.fetchall(), list(rel.columns))
            got = normalize(frame_rows(pdf), list(pdf.columns))
            checked += 1
            if got != want:
                log.oracle_mismatch(
                    name, f"oracle mismatch ({len(got)} rows vs {len(want)})"
                )
        return checked
    finally:
        con.close()


def prepare_data(wl: Workload, work: str) -> str:
    """The directory the workload reads. With ``row_group_rows`` set, a
    DuckDB copy of the shipped tables into the work directory that keeps
    every column's type and splits the files into row groups of that
    many rows, so scans run as several tasks (the recipe of
    ``tools/crossover_bench.py``, without its replication)."""
    if wl.row_group_rows is None:
        return SF01
    import duckdb

    from etl_intraday_bidask_spark.tables import TABLE_NAMES

    out = os.path.join(work, "data")
    os.makedirs(out)
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF01}/{t}.parquet')) "
                f"TO '{out}/{t}.parquet' "
                f"(FORMAT parquet, ROW_GROUP_SIZE {wl.row_group_rows})"
            )
    finally:
        con.close()
    return out


def run_passes(args, wl: Workload, spark, specs: dict, data_dir: str, tracer):
    """The cold pass, the warm-up passes and the timed passes on one session."""
    from metrics import OpLog, calib_loop_ms, cpu_counters, steal_frac, tree_cpu_s
    from probes import SparkCounters, StreamProgress

    counters = SparkCounters(spark)
    listener = None
    if args.trace:
        listener = StreamProgress(tracer)
        spark.streams.addListener(listener)
    call = make_call(spark, specs, data_dir, tracer if args.trace else None)
    me = os.getpid()

    def probe() -> dict:
        got = {"tree_cpu_s": tree_cpu_s(me)}
        with open("/proc/stat") as fh:
            got["steal_j"], got["total_j"] = cpu_counters(fh.read())
        if args.trace:
            got["gc_ms"] = counters.gc_ms()
            got["jit_ms"] = counters.jit_ms()
        return got

    rng = random.Random(args.seed)
    log = OpLog()
    passes: list[dict] = []
    first: dict = {}
    with open("/proc/stat") as fh:
        steal0 = cpu_counters(fh.read())
    t_timed = None
    while t_timed is None or time.perf_counter() - t_timed < args.seconds:
        if len(passes) == 1 + WARMUP_PASSES:
            t_timed = time.perf_counter()
        order = list(wl.ops)
        rng.shuffle(order)
        rec, results = run_pass(len(passes), order, call, log, probe)
        rec["hwm_mb"] = counters.rss_peak_mb()
        if passes:  # the JIT is still compiling hard just after the cold pass
            rec["calib_ms"] = [calib_loop_ms() for _ in range(CALIB_PER_PASS)]
        passes.append(rec)
        if len(passes) == 1:
            first = results
    with open("/proc/stat") as fh:
        steal = steal_frac(steal0, cpu_counters(fh.read()))
    out = PassRun(passes, first, log, counters.rss_peak_mb(), steal)
    if args.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        out.jobs, out.stages = counters.status_store()
        out.batches = listener.batches
        spark.streams.removeListener(listener)
    return out


def run(args: argparse.Namespace, work: str) -> dict:
    wl = WORKLOADS[args.workload]
    settings = deploy(work)
    sys.path.insert(0, ROOT)

    from metrics import calib_loop_ms, host_scale, p50
    from probes import Tracer, stop_session

    t0 = time.perf_counter()
    calib = [calib_loop_ms() for _ in range(CALIB_SAMPLES)]
    calib_s = time.perf_counter() - t0

    # Set-up spans are recorded in every run (a handful of clock reads);
    # operator spans and counters only in the traced run.
    tracer = Tracer()
    t0 = time.perf_counter()
    with tracer.span("registry.load_all_operators"):
        from etl_intraday_bidask_spark.registry import load_all_operators

        registry = load_all_operators()
    registry_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("fixtures.prepare"):
        data_dir = prepare_data(wl, work)
    gen_s = time.perf_counter() - t0
    data_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir)
    )
    before_session_s = time.perf_counter() - T_START - calib_s

    specs = {name: registry[name] for name in wl.ops}
    session = Session(wl, data_dir, tracer)
    try:
        pr = run_passes(args, wl, session.spark, specs, data_dir, tracer)
    finally:
        stop_session(session.spark)
    calib += [ms for p in pr.passes for ms in p.get("calib_ms", ())]
    calib += [calib_loop_ms() for _ in range(CALIB_SAMPLES)]
    scale = host_scale(calib)
    py_ms = sum(calib) / len(calib)
    passes, log = pr.passes, pr.log
    oracles = check_oracles(specs, pr.first, data_dir, log)
    pr.first = {}
    warm = passes[1 + WARMUP_PASSES:]
    round_p50, n_warm = p50([p["wall_s"] for p in warm])
    measured = {
        "setup_s": before_session_s + session.build_s + session.load_s,
        "cold_cpu_s": passes[0]["tree_cpu_s"],
        "round_s.p50": round_p50,
        "cpu_s.p50": p50([p["tree_cpu_s"] for p in warm])[0],
    }
    e2e = {k: v * scale for k, v in measured.items()}
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "deployment": {
            "SPARK_GRAFT_CPUS": settings["SPARK_GRAFT_CPUS"],
            "SPARK_LOCAL_DIRS": os.path.relpath(settings["SPARK_LOCAL_DIRS"], ROOT),
        },
        "host": {
            "steal_frac": pr.steal,
            "py_loop_ms": py_ms,
            "scale": scale,
            "calib_ms": calib,
        },
        "rss_peak_mb": pr.rss_mb,
        "fixtures": {"bytes": data_bytes, "row_group_rows": wl.row_group_rows},
        "setup": {"registry_s": registry_s, "gen_s": gen_s,
                  "build_s": session.build_s, "load_s": session.load_s},
        "warm_passes": n_warm,
        "oracles_checked": oracles,
        "log": log,
        "e2e": e2e,
        "e2e_measured": measured,
        "cold_round_s": passes[0]["wall_s"],
        "passes": passes,
    }
    out["spans"] = tracer.spans
    if args.trace:
        from metrics import trace_layers

        out["layers"] = trace_layers(
            passes, tracer.spans, pr.jobs, pr.stages, pr.batches,
            ops=[o for w in WORKLOADS.values() for o in w.ops],
            warm_from=1 + WARMUP_PASSES,
        )
        out["layers"].update({
            "cold_round_s": passes[0]["wall_s"],
            "session.build_s": session.build_s,
            "registry.load_s": registry_s,
            "fixtures.gen_s": gen_s,
            "tables.load_ms": session.load_s * 1000,
            "host.steal_frac": out["host"]["steal_frac"],
            "host.py_loop_ms": py_ms,
            "jvm.rss_peak_mb": pr.rss_mb,
            "trace.overhead_frac": tracer.overhead_s
            / sum(p["wall_s"] for p in passes),
            "error_rate": log.error_rate,
        })
    return out


def report(out: dict, per_layer: list[dict]) -> dict:
    """Print the human-readable record and return the result object."""
    from metrics import CALIB_REF_MS

    log = out["log"]
    print(f"# perfbench workload={out['workload']} seed={out['seed']} "
          f"trace={out['trace']} seconds={out['seconds']}")
    print("# deployment " + " ".join(f"{k}={v}" for k, v in out["deployment"].items()))
    print(f"# host steal_frac={out['host']['steal_frac']:.5f} "
          f"py_loop_ms={out['host']['py_loop_ms']:.1f} "
          f"(mean of {len(out['host']['calib_ms'])} calibration loops, "
          f"reference {CALIB_REF_MS} ms)")
    print(f"# times below are reference-host s = measured s x {out['host']['scale']:.4f}; "
          "measured: " + " ".join(f"{k}={v:.4f}" for k, v in out["e2e_measured"].items()))
    print(f"# fixtures sf0.1 {out['fixtures']['bytes'] / 1e6:.1f} MB "
          f"row_group_rows={out['fixtures']['row_group_rows']}")
    print(f"# cold pass wall {out['cold_round_s']:.4f} s as measured "
          "(cold_round_s; not bounded, see README)")
    print(f"# jvm rss_peak_mb={out['rss_peak_mb']:.1f} (VmHWM; not bounded, see README)")
    print(f"# calls attempted={log.attempted} failed={log.failed} "
          f"oracles_checked={out['oracles_checked']}")
    for err in log.errors:
        print(f"# error {err}")
    if out["trace"]:
        layers = out["layers"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in per_layer}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["e2e"].items()}
    notes = {
        "round_s.p50": f"n={out['warm_passes']} warm passes",
        "cpu_s.p50": f"n={out['warm_passes']} warm passes",
    }
    for name, m in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name:<40} {m['value']:>14.6g} {m['unit']}{note}")
    if "error_rate" not in metrics:
        print(f"{'error_rate':<40} {log.error_rate:>14.6g} ratio")
    return {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    record = {k: v for k, v in out.items() if k != "log"}
    record["errors"] = out["log"].errors
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(runs, name), "w") as fh:
        json.dump(record, fh)
    result = report(out, per_layer)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
