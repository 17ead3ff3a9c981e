"""Unit pins for bench.bar_reading (the bar_r14 reading: json_get
excluded as a named engine constant, BASELINE.md round-14 addendum)
and for tools.host_probe.verdict, the window verdict that gates it.
Pure-python: no SparkSession needed.

Pinned here because the bar is the driver-visible perf verdict; a
silent change to its thresholds or evaluability rules would change
what "pass" means mid-series without a diff anyone reviews.
"""

from __future__ import annotations

import bench
from tools import host_probe


# A synthetic healthy window: 11 headliners, most at parity.
MARGINAL = {f"q{i}": 0.100 for i in range(10)}
MARGINAL["json_get"] = 0.300
LIVE = {f"q{i}": 0.100 for i in range(10)}
LIVE["json_get"] = 0.020  # 15x live marginal — the engine constant


def test_bar_exclusion_changes_key_not_threshold():
    bar = bench.bar_reading(MARGINAL, LIVE, "ok")
    assert bar["excluded_engine_constants"] == ["json_get"]
    assert "suite_marginal_ratio_live_excl" in bar
    assert bar["suite_marginal_ratio_live_excl"] == 1.0
    # The >=6 count threshold is ABSOLUTE — exclusion shrinks the
    # universe to 10 but never the bar.
    assert bar["queries_le_2x_live_marginal"] == 10
    assert bar["pass"] is True


def test_bar_fail_on_ok_window_is_recorded_false():
    slow = {n: v * 10 for n, v in MARGINAL.items()}
    bar = bench.bar_reading(slow, LIVE, "ok")
    assert bar["pass"] is False
    assert not bar["suite_ok"]


def test_jvm_degraded_pass_is_conservative_valid():
    bar = bench.bar_reading(MARGINAL, LIVE, "jvm_degraded:warmed_floor_ms")
    assert bar["pass"] is True
    assert "conservative-valid" in bar["note"]


def test_jvm_degraded_fail_is_null_not_false():
    slow = {n: v * 10 for n, v in MARGINAL.items()}
    bar = bench.bar_reading(slow, LIVE, "jvm_degraded:warmed_floor_ms")
    assert bar["pass"] is None
    assert "indistinguishable" in bar["note"]


def test_degraded_window_is_never_evaluable():
    bar = bench.bar_reading(MARGINAL, LIVE, "degraded:warmed_floor_ms")
    assert bar["pass"] is None
    # Even a would-be pass stays null: absolute numbers grade the host.
    assert bar["suite_ok"] and bar["queries_ok"]


def test_no_anchors_is_explicit_not_missing():
    bar = bench.bar_reading(MARGINAL, {}, "ok")
    assert bar["pass"] is None
    assert "not evaluable" in bar["note"]


def test_exclusion_of_every_anchor_degrades_to_not_evaluable():
    only = {"json_get": 0.020}
    bar = bench.bar_reading(MARGINAL, only, "ok")
    assert bar["pass"] is None


def test_suite_threshold_boundary():
    # ratio exactly 2.8 passes; 2.81 fails (rounded reading is the bar).
    m = {f"q{i}": 0.280 for i in range(7)}
    a = {f"q{i}": 0.100 for i in range(7)}
    bar = bench.bar_reading(m, a, "ok")
    assert bar["suite_ok"] and bar["queries_le_2x_live_marginal"] == 0
    assert bar["pass"] is False  # queries_ok fails: 0 < 6


# A probe inside every band; each verdict test moves one leg.
PROBE = {"py_loop_ms": 800.0, "duck_scan_ms": 120.0, "warmed_floor_ms": 70.0}


def test_verdict_ok_inside_every_band():
    assert host_probe.verdict(PROBE) == "ok"
    # Pre-flight: no warmed floor yet, graded on the legs it has.
    pre = {k: v for k, v in PROBE.items() if k != "warmed_floor_ms"}
    assert host_probe.verdict(pre) == "ok"


def test_verdict_floor_only_excursion_is_jvm_degraded():
    probe = {**PROBE, "warmed_floor_ms": host_probe.WARMED_FLOOR_WORKABLE_MS}
    assert host_probe.verdict(probe) == "jvm_degraded:warmed_floor_ms"


def test_verdict_hard_degraded_names_failing_legs():
    floor = {**PROBE, "warmed_floor_ms": host_probe.WARMED_FLOOR_WORKABLE_MS + 1}
    assert host_probe.verdict(floor) == "degraded:warmed_floor_ms"
    # A floor excursion with another leg bad is never jvm-only.
    both = {**PROBE, "py_loop_ms": 2000.0, "warmed_floor_ms": 120.0}
    assert host_probe.verdict(both) == "degraded:py_loop_ms,warmed_floor_ms"


def test_verdict_missing_duck_leg_is_degraded():
    # A swallowed DuckDB failure leaves None, which no band check sees:
    # the window has no DuckDB evidence, so it cannot read "ok".
    probe = {**PROBE, "duck_scan_ms": None, "duck_error": "IOException"}
    assert host_probe.verdict(probe) == "degraded:duck_error"
