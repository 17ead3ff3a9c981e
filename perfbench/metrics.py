"""Metric reduction for the benchmark: pure functions over /proc text,
pass records and operator outcomes. Nothing here needs Spark, so the
reductions are tested on their own (``test_metrics.py``)."""

from __future__ import annotations

import bisect
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

CLK_TCK = os.sysconf("SC_CLK_TCK")


def p50(values: list[float]) -> tuple[float, int]:
    """Median and sample count; a timing is never reported without its n."""
    if not values:
        raise ValueError("p50 of no samples")
    return statistics.median(values), len(values)


# --- /proc -----------------------------------------------------------------


def _stat_fields(stat_text: str) -> list[str]:
    # The command name may contain spaces and ')': split after the last ')'.
    return stat_text.rsplit(")", 1)[1].split()


def stat_ppid(stat_text: str) -> int:
    return int(_stat_fields(stat_text)[1])


def stat_cpu_ticks(stat_text: str) -> int:
    """utime + stime + cutime + cstime of one ``/proc/<pid>/stat`` line.

    The ``c*`` fields hold reaped children, so summing them over the live
    processes of a tree counts every process of the tree exactly once.
    """
    f = _stat_fields(stat_text)
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_stats(root_pid: int, proc: str = "/proc") -> dict[int, str]:
    """``stat`` text of ``root_pid`` and every live descendant."""
    stats: dict[int, str] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(os.path.join(proc, entry, "stat")) as fh:
                stats[int(entry)] = fh.read()
        except OSError:  # exited between listdir and open
            continue
    children: dict[int, list[int]] = {}
    for pid, text in stats.items():
        children.setdefault(stat_ppid(text), []).append(pid)
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root_pid: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants."""
    ticks = sum(stat_cpu_ticks(t) for t in tree_stats(root_pid, proc).values())
    return ticks / CLK_TCK


def cpu_counters(proc_stat_text: str) -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    for line in proc_stat_text.splitlines():
        if line.startswith("cpu "):
            vals = [int(v) for v in line.split()[1:]]
            # guest and guest_nice are already inside user and nice.
            return vals[7], sum(vals[:8])
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time over a window that the hypervisor stole."""
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def vm_hwm_mb(status_text: str) -> float:
    """Peak resident set (``VmHWM``) from ``/proc/<pid>/status``, in MB."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise ValueError("no VmHWM line")


# --- host speed --------------------------------------------------------------

# Iterations of the calibration loop, and its time on the reference host
# (the 4-core host the bounds were set on, in a quiet spell).
CALIB_LOOPS = 2_000_000
CALIB_REF_MS = 50.0


def calib_loop_ms(loops: int = CALIB_LOOPS) -> float:
    """One timing of a fixed pure-Python loop: the host's speed, with no
    engine code in it. It is the benchmark's own copy of the
    ``tools/host_probe.py`` loop, so a change to the repository cannot
    change what it measures."""
    t0 = time.perf_counter()
    s = 0
    for i in range(loops):
        s += i
    if s != loops * (loops - 1) // 2:
        raise AssertionError("calibration loop miscounted")
    return (time.perf_counter() - t0) * 1000


def host_scale(samples_ms: list[float]) -> float:
    """Factor that turns a time measured on this host into reference-host
    time: the reference loop time over the mean of the run's calibration
    samples. A host twice as slow gives 0.5.

    The mean, not the fastest or the median: a shared host's speed swings
    from one second to the next, a pass runs through all of it, and the
    mean of samples spread over the run is the loop's counterpart."""
    if not samples_ms:
        raise ValueError("no calibration samples")
    return CALIB_REF_MS / statistics.fmean(samples_ms)


# --- operator outcomes -------------------------------------------------------


def fingerprint(pdf: pd.DataFrame) -> tuple:
    """Row-order-insensitive identity of a result frame: columns, row
    count and the wrapping sum of per-row hashes."""
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return tuple(pdf.columns), len(pdf), int(h.sum(dtype="uint64"))


@dataclass
class OpLog:
    """Every operator call of a run: raises, and results that differ from
    the operator's first result or from its oracle. ``error_rate`` counts
    a call once however it failed."""

    attempted: int = 0
    failed: int = 0
    first: dict[str, tuple] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def raised(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{name}: raised {type(exc).__name__}: {exc}"[:500])

    def returned(self, name: str, pdf: pd.DataFrame) -> bool:
        """Record a result; a later result must equal the first one."""
        self.attempted += 1
        fp = fingerprint(pdf)
        if self.first.setdefault(name, fp) == fp:
            return True
        self.failed += 1
        self.errors.append(f"{name}: result differs from its first result")
        return False

    def oracle_mismatch(self, name: str, why: str) -> None:
        """The first result disagreed with its oracle: that call failed."""
        self.failed += 1
        self.errors.append(f"{name}: {why}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Python rows of a collected frame, nulls as ``None`` (the shape
    DuckDB's ``fetchall`` returns) so both sides share one canonicalizer."""
    return list(
        pdf.astype(object).where(pdf.notna(), None).itertuples(index=False, name=None)
    )


# --- traced-run reduction ----------------------------------------------------


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


PASS_LAYERS = (
    "operators.build_ms", "catalyst.plan_ms", "execute.collect_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.run_s", "executor.cpu_s", "jvm.gc_ms", "jvm.jit_ms",
    "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
    "collect.rows", "collect.driver_ms", "sink.output_mb",
    "streaming.batches", "streaming.trigger_ms",
    "pass.wall_ms", "pass.remainder_ms",
)


def _pass_of(op_id: str | None) -> int | None:
    """Pass index of an operator-call id ``"<pass>/<op>"``."""
    if not op_id or "/" not in op_id:
        return None
    head = op_id.split("/", 1)[0]
    return int(head) if head.isdigit() else None


def trace_layers(
    passes: list[dict],
    spans: list[dict],
    jobs: list[dict],
    stages: list[dict],
    batches: list[tuple[float, float]],
    ops: list[str],
    warm_from: int = 1,
) -> dict[str, float]:
    """Per-layer metrics of a traced run: each layer's total per pass,
    reduced to the median over the timed warm passes (``passes[warm_from:]``).

    Jobs carry the operator-call id as their job group. A job with
    another group (Structured Streaming runs its micro-batch jobs,
    ``foreachBatch`` writes included, under the query's run id) belongs
    to the operator call whose span holds its submission time. A stage
    counts towards the first job that lists it, and only if it ran. Collection
    time on the driver is the ``toPandas`` span minus the union of the
    call's job intervals inside it. ``pass.remainder_ms`` is the pass wall
    not covered by the build, plan and collect spans.
    """
    per = {p["pass"]: dict.fromkeys(PASS_LAYERS, 0.0) for p in passes}
    collect_iv: dict[str, tuple[float, float]] = {}
    for s in spans:
        idx = _pass_of(s["op"])
        if idx is None or s["name"] == "op":
            continue
        per[idx][s["name"] + "_ms"] += (s["end"] - s["start"]) * 1000
        if s["name"] == "execute.collect":
            collect_iv[s["op"]] = (s["start"], s["end"])
    op_spans = sorted((s["start"], s["end"], s["op"]) for s in spans
                      if s["name"] == "op" and _pass_of(s["op"]) is not None)
    op_starts = [start for start, _, _ in op_spans]

    def op_of(job: dict) -> str | None:
        if _pass_of(job.get("jobGroup")) is not None:
            return job["jobGroup"]
        t = (job.get("submissionTime") or 0) / 1000
        i = bisect.bisect_right(op_starts, t) - 1
        return op_spans[i][2] if i >= 0 and t <= op_spans[i][1] else None

    job_iv: dict[str, list[tuple[float, float]]] = {}
    stage_pass: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        op_id = op_of(j)
        idx = _pass_of(op_id)
        if idx is None:
            continue
        per[idx]["scheduler.jobs"] += 1
        if j.get("submissionTime") and j.get("completionTime"):
            job_iv.setdefault(op_id, []).append(
                (j["submissionTime"] / 1000, j["completionTime"] / 1000)
            )
        for sid in j["stageIds"]:
            stage_pass.setdefault(sid, idx)
    for st in stages:
        idx = stage_pass.get(st["stageId"])
        if idx is None or st["status"] == "SKIPPED":
            continue
        p = per[idx]
        p["scheduler.stages"] += 1
        p["scheduler.tasks"] += st["numCompleteTasks"]
        p["executor.run_s"] += st["executorRunTime"] / 1e3
        p["executor.cpu_s"] += st["executorCpuTime"] / 1e9
        p["shuffle.write_mb"] += st["shuffleWriteBytes"] / 1e6
        p["shuffle.read_mb"] += st["shuffleReadBytes"] / 1e6
        p["spill.mb"] += st["diskBytesSpilled"] / 1e6
        p["sink.output_mb"] += st["outputBytes"] / 1e6
    for op_id, (s, e) in collect_iv.items():
        inside = [(max(a, s), min(b, e)) for a, b in job_iv.get(op_id, ())
                  if b > s and a < e]
        per[_pass_of(op_id)]["collect.driver_ms"] += (e - s - union_ms(inside)) * 1000
    for p in passes:
        q = per[p["pass"]]
        q["jvm.gc_ms"] = p.get("gc_ms", 0)
        q["jvm.jit_ms"] = p.get("jit_ms", 0)
        q["collect.rows"] = p["rows"]
        q["pass.wall_ms"] = p["wall_s"] * 1000
        q["pass.remainder_ms"] = q["pass.wall_ms"] - sum(
            q[k] for k in ("operators.build_ms", "catalyst.plan_ms",
                           "execute.collect_ms"))
        for start, trigger_ms in batches:
            if p["start"] <= start <= p["end"]:
                q["streaming.batches"] += 1
                q["streaming.trigger_ms"] += trigger_ms
    warm = [per[p["pass"]] for p in passes[warm_from:]]
    out = {k: statistics.median(w[k] for w in warm) for k in PASS_LAYERS}
    for op in ops:
        ms = [p["op_ms"][op] for p in passes[warm_from:] if op in p["op_ms"]]
        out[f"op.{op}.p50_ms"] = statistics.median(ms) if ms else 0.0
    return out
