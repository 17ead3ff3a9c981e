"""Tests of the benchmark's metric reduction; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/test_metrics.py``.
"""

from __future__ import annotations

import pandas as pd
import pytest

import metrics
from metrics import (
    OpLog,
    cpu_counters,
    host_scale,
    p50,
    steal_frac,
    trace_layers,
    tree_cpu_s,
    vm_hwm_mb,
)
from run import run_pass


def test_p50_reports_median_and_sample_count():
    assert p50([3.0, 1.0, 2.0]) == (2.0, 3)
    assert p50([4.0, 1.0, 3.0, 2.0]) == (2.5, 4)
    with pytest.raises(ValueError):
        p50([])


def test_host_scale_is_reference_over_mean_sample():
    ref = metrics.CALIB_REF_MS
    assert host_scale([ref]) == 1.0
    # a host twice as slow, on average over the run, halves every time
    assert host_scale([ref, 2 * ref, 3 * ref]) == 0.5
    with pytest.raises(ValueError):
        host_scale([])
    assert metrics.calib_loop_ms(1000) > 0


def _stat(pid: int, ppid: int, ticks: tuple[int, int, int, int], comm="python3") -> str:
    u, s, cu, cs = ticks
    rest = " ".join(["0"] * 30)
    return f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 {u} {s} {cu} {cs} {rest}\n"


def _write_proc(root, procs: dict[int, str]) -> str:
    for pid, text in procs.items():
        d = root / str(pid)
        d.mkdir(exist_ok=True)
        (d / "stat").write_text(text)
    (root / "self").mkdir(exist_ok=True)  # non-numeric entries are skipped
    return str(root)


def test_tree_cpu_counts_root_and_descendants_only(tmp_path):
    proc = _write_proc(tmp_path, {
        100: _stat(100, 1, (10, 5, 0, 0)),
        200: _stat(200, 100, (40, 10, 7, 3), comm="java) (x y"),  # hostile comm
        300: _stat(300, 200, (1, 1, 0, 0)),
        400: _stat(400, 1, (999, 999, 0, 0)),  # not in the tree
    })
    before = tree_cpu_s(100, proc)
    assert before == pytest.approx((15 + 60 + 2) / metrics.CLK_TCK)
    _write_proc(tmp_path, {
        200: _stat(200, 100, (140, 10, 7, 3)),
        300: _stat(300, 200, (1, 21, 0, 0)),
    })
    assert tree_cpu_s(100, proc) - before == pytest.approx(120 / metrics.CLK_TCK)


def test_tree_cpu_of_exited_root_is_zero(tmp_path):
    proc = _write_proc(tmp_path, {400: _stat(400, 1, (5, 5, 0, 0))})
    assert tree_cpu_s(100, proc) == 0


def test_steal_delta_over_a_window():
    def stat(user, system, idle, steal):
        return (f"cpu  {user} 0 {system} {idle} 0 0 0 {steal} 7 0\n"
                f"cpu0 {user} 0 {system} {idle} 0 0 0 {steal} 7 0\nintr 1\n")

    before = cpu_counters(stat(100, 50, 800, 50))
    after = cpu_counters(stat(300, 100, 1000, 100))
    assert before == (50, 1000)  # guest time is not counted twice
    assert steal_frac(before, after) == pytest.approx(50 / 500)
    assert steal_frac(after, after) == 0.0
    with pytest.raises(ValueError):
        cpu_counters("intr 1\n")


def test_vm_hwm():
    assert vm_hwm_mb("Name:\tjava\nVmHWM:\t  2097152 kB\nVmRSS:\t 1 kB\n") == 2048.0


class FakeOps:
    """``ok`` always returns the same frame, ``boom`` raises, ``drift``
    returns a different frame from its second call on."""

    def __init__(self):
        self.calls = {"ok": 0, "boom": 0, "drift": 0}

    def __call__(self, name: str, op_id: str) -> pd.DataFrame:
        self.calls[name] += 1
        if name == "boom":
            raise RuntimeError("operator failed")
        if name == "drift":
            return pd.DataFrame({"k": [1, 2], "v": [0.5, float(self.calls[name] > 1)]})
        return pd.DataFrame({"k": [1, 2, 3], "s": ["a", "b", None]})


def test_error_rate_counts_raising_and_mismatching_calls(capsys):
    log, ops = OpLog(), FakeOps()
    ticks = iter(range(100))
    order = ["ok", "boom", "drift"]
    for idx in range(2):
        rec, results = run_pass(idx, order, ops, log, lambda: {"cpu": next(ticks)})
        assert rec["cpu"] == 1
        assert set(rec["op_ms"]) == set(order)
        assert set(results) == {"ok", "drift"}
    assert log.attempted == 6
    # boom twice, drift once (its second result differs from its first)
    assert log.failed == 3
    assert log.error_rate == pytest.approx(0.5)
    log.oracle_mismatch("ok", "oracle mismatch")
    assert log.failed == 4 and log.attempted == 6
    assert "RuntimeError" in capsys.readouterr().err


def test_fingerprint_ignores_row_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    b = a.iloc[::-1].reset_index(drop=True)
    c = a.assign(v=[0.1, 0.2, 0.30000001])
    assert metrics.fingerprint(a) == metrics.fingerprint(b)
    assert metrics.fingerprint(a) != metrics.fingerprint(c)


def test_frame_rows_turns_nulls_into_none():
    pdf = pd.DataFrame({"i": [1, 2], "f": [1.5, None], "s": ["x", None]})
    assert metrics.frame_rows(pdf) == [(1, 1.5, "x"), (2, None, None)]


def test_union_of_overlapping_intervals():
    assert metrics.union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    assert metrics.union_ms([]) == 0


def test_trace_layers_attributes_jobs_stages_and_collect_time():
    passes = [
        {"pass": p, "start": 10.0 * p, "end": 10.0 * p + 9, "wall_s": 1.0,
         "rows": 7, "gc_ms": 3, "jit_ms": 5 * p, "op_ms": {"q": 900.0 + p}}
        for p in range(3)
    ]
    spans = []
    for p in range(3):
        t = 10.0 * p
        spans += [
            {"name": "op", "op": f"{p}/q", "start": t, "end": t + 1.0},
            {"name": "operators.build", "op": f"{p}/q", "start": t, "end": t + 0.1},
            {"name": "catalyst.plan", "op": f"{p}/q", "start": t + 0.1, "end": t + 0.2},
            {"name": "execute.collect", "op": f"{p}/q", "start": t + 0.2, "end": t + 1.0},
        ]
    jobs, stages = [], []
    for p in range(3):
        t = 10_000 * p
        jobs.append({"jobId": 2 * p, "jobGroup": f"{p}/q", "stageIds": [3 * p, 3 * p + 1],
                     "submissionTime": t + 200, "completionTime": t + 500})
        jobs.append({"jobId": 2 * p + 1, "jobGroup": f"{p}/q",
                     "stageIds": [3 * p + 1, 3 * p + 2],
                     "submissionTime": t + 400, "completionTime": t + 700})
        for sid, status in ((3 * p, "COMPLETE"), (3 * p + 1, "COMPLETE"),
                            (3 * p + 2, "SKIPPED")):
            stages.append({
                "stageId": sid, "status": status, "numCompleteTasks": 4,
                "executorRunTime": 1000, "executorCpuTime": 5e8,
                "shuffleWriteBytes": 2e6, "shuffleReadBytes": 1e6,
                "diskBytesSpilled": 0, "outputBytes": 3e6,
            })
    # A streaming micro-batch job runs under the query's run id as its
    # group; it belongs to the call whose span holds its submission.
    jobs.append({"jobId": 7, "jobGroup": "run-id-of-a-query", "stageIds": [9],
                 "submissionTime": 20_300, "completionTime": 20_600})
    stages.append({
        "stageId": 9, "status": "COMPLETE", "numCompleteTasks": 1,
        "executorRunTime": 0, "executorCpuTime": 0, "shuffleWriteBytes": 0,
        "shuffleReadBytes": 0, "diskBytesSpilled": 0, "outputBytes": 10e6,
    })
    # Jobs outside every call's span (set-up, checks) count nowhere.
    jobs.append({"jobId": 99, "jobGroup": None, "stageIds": [99],
                 "submissionTime": 1, "completionTime": 2})
    jobs.append({"jobId": 98, "jobGroup": "other-run-id", "stageIds": [98],
                 "submissionTime": 25_000, "completionTime": 25_100})
    batches = [(20.5, 40.0), (20.6, 60.0), (0.5, 1000.0)]
    out = trace_layers(passes, spans, jobs, stages, batches, ops=["q", "absent"])
    # Medians over the warm passes 1 and 2; pass 2 also ran the streaming job.
    assert out["scheduler.jobs"] == 2.5
    assert out["scheduler.stages"] == 2.5  # a reused stage counts once, skipped not at all
    assert out["scheduler.tasks"] == 8.5
    assert out["executor.cpu_s"] == pytest.approx(1.0)
    assert out["sink.output_mb"] == pytest.approx(11.0)  # (6 + 16) / 2
    # collect span 800 ms, jobs cover 200..700 ms of it (the streaming
    # job's 300..600 ms in pass 2 lies inside that)
    assert out["collect.driver_ms"] == pytest.approx(300.0)
    assert out["pass.wall_ms"] == pytest.approx(1000.0)
    assert out["pass.remainder_ms"] == pytest.approx(0.0, abs=1e-6)
    assert out["jvm.gc_ms"] == 3
    assert out["jvm.jit_ms"] == 7.5
    # the cold pass's batch is excluded; one warm pass of two had batches
    assert out["streaming.batches"] == 1.0
    assert out["op.q.p50_ms"] == pytest.approx(901.5)
    assert out["op.absent.p50_ms"] == 0.0

