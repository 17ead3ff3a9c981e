"""Optimizer-rule-exclusion A/B (round 14, guide §1.2 step 3).

The round-13 floor decomposition measured per-STATEMENT Catalyst
analyze/optimize at ~40% of the dispatch floor (~19% of suite wall at
sf0.1), and rounds 9–13 A/B'd and REFUSED the levers that trade plan
quality for planning time (constraint-propagation off loses scan-level
isnotnull pushdown; AQE off is already the bench default). One lever was
never tried: `spark.sql.optimizer.excludedRules` for rules that are
measurably expensive and have ZERO effective runs on all 11 headline
plans — excluding a rule that never fires cannot change any intermediate
plan, so this is planning-TIME, not plan-shape, by construction.

The candidate list comes from `RuleExecutor.dumpTimeSpent()` over warmed
suite passes (re-profiled by this tool, step 1, so the receipt is
self-contained): PruneFilters, SchemaPruning (datasources),
FoldablePropagation, PushVariantIntoScan, NullPropagation — together
~15% of total rule time with 0 effective runs on this workload.

Protocol (one warmed bench-shaped session, quiet host):
  1. re-profile rule time + effective-run counts (receipt for the list);
  2. PLAN-IDENTITY GATE: `explain('formatted')` for every headliner with
     the exclusion OFF vs ON, normalized (expr-ids/plan-ids stripped) —
     any diff aborts the A/B (the lever's admission rule is "no plan may
     change");
  3. interleaved timed suites, OFF/ON alternating each round (order
     flipped every round so host drift cancels), per-query medians.

Usage:  python tools/rule_exclusion_ab.py [--sf SF_DIR] [--rounds N]
Output: human table on stderr, one JSON line on stdout.

Verdict goes to OPTIMIZATION_r14.md; if adopted, bench.py gains the
exclusion behind SPARK_GRAFT_EXCLUDED_RULES (default per the verdict)
and the driver's correctness runs stay on a vanilla session either way.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Rules with zero effective runs on the 11 headline plans (re-verified by
# step 1 below every time this tool runs). Full class names as shipped in
# Spark 4.1.2 (spark-catalyst / spark-sql jars).
EXCLUDED_RULES = ",".join(
    [
        "org.apache.spark.sql.catalyst.optimizer.PruneFilters",
        "org.apache.spark.sql.execution.datasources.SchemaPruning",
        "org.apache.spark.sql.catalyst.optimizer.FoldablePropagation",
        "org.apache.spark.sql.execution.datasources.PushVariantIntoScan",
        "org.apache.spark.sql.catalyst.optimizer.NullPropagation",
    ]
)

_ID_RE = re.compile(r"#\d+|plan_id=\d+|Statistics\([^)]*\)")


def _short(rule: str) -> str:
    """Display name of a rule class (its last dotted component)."""
    return rule.rsplit(".", 1)[-1]


# "<rule class>  <effective ns> / <total ns>  <eff runs> / <runs>"
# (QueryExecutionMetering column order: Effective X / Total X)
_DUMP_RE = re.compile(r"(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$")


def rule_profile(dump: str, candidates: set[str]) -> tuple[dict, int]:
    """Time and run counts of each candidate rule in a
    ``RuleExecutor.dumpTimeSpent()`` dump, keyed by FULL class name
    (Spark ships same-named rules in different packages, e.g. two
    SchemaPruning variants), plus the total time in ns of all rules."""
    profile = {}
    total_ns = 0
    for line in dump.splitlines():
        m = _DUMP_RE.match(line.strip())
        if not m:
            continue
        name, _eff_ns, tot, eff_runs, runs = m.groups()
        total_ns += int(tot)
        if name in candidates:
            profile[name] = {
                "total_ms": round(int(tot) / 1e6, 1),
                "runs": int(runs),
                "effective_runs": int(eff_runs),
            }
    return profile, total_ns


def _normalized_plan(df) -> str:
    """explain('formatted') with expr-ids / plan-ids / stats stripped."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return _ID_RE.sub("", plan)


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
    rounds = 7
    if "--rounds" in sys.argv:
        rounds = int(sys.argv[sys.argv.index("--rounds") + 1])

    from bench import HEADLINE
    from etl_intraday_bidask_spark.registry import load_all_operators
    from etl_intraday_bidask_spark.session import build_spark

    registry = load_all_operators()
    # Bench-config session (bench.py mirror: shuffle 4, AQE off, 4 MB
    # splits) — the A/B must measure the config the bench actually runs.
    spark = build_spark(app_name="rule-exclusion-ab", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4194304")

    def suite_once(timings=None):
        for name in HEADLINE:
            t0 = time.perf_counter()
            registry[name].spark_fn(spark, sf_dir).toPandas()
            if timings is not None:
                timings.setdefault(name, []).append(time.perf_counter() - t0)

    # Warm-up: 2 suite passes (JIT, codegen cache, page cache) — same as
    # bench.py; run with the exclusion OFF (the continuity config).
    for _ in range(2):
        suite_once()

    # ---- step 1: rule-time profile receipt (quiet-host re-measure) ----
    jvm = spark._sc._jvm
    rule_exec = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    rule_exec.resetMetrics()
    suite_once()
    dump = rule_exec.dumpTimeSpent()
    # ADVICE r14: candidates are matched and keyed by full class name;
    # names are shortened only for printing.
    candidates = set(EXCLUDED_RULES.split(","))
    profile, total_ns = rule_profile(dump, candidates)
    # ADVICE r14: the zero-effective gate must not pass VACUOUSLY — if
    # the dump format drifted or a candidate never appears in the
    # metering map, `all()` over a partial profile would print a clean
    # receipt with 0 ms candidates. Require every candidate parsed.
    if len(profile) != len(candidates):
        missing = sorted(c for c in candidates if c not in profile)
        print(
            f"# ABORT: rule-time profile incomplete — candidates absent "
            f"from dumpTimeSpent: {[_short(c) for c in missing]}",
            file=sys.stderr,
        )
        print(
            json.dumps(
                {"verdict": "abort:profile_incomplete", "missing": missing}
            )
        )
        spark.stop()
        sys.exit(2)
    candidate_ms = sum(p["total_ms"] for p in profile.values())
    noneffective = all(p["effective_runs"] == 0 for p in profile.values())
    print(
        f"# rule profile (1 suite pass): total rule time "
        f"{total_ns / 1e6:.0f} ms, candidates {candidate_ms:.0f} ms "
        f"({100 * candidate_ms * 1e6 / max(total_ns, 1):.1f}%), "
        f"all zero-effective: {noneffective}",
        file=sys.stderr,
    )
    for k, v in sorted(profile.items()):
        print(f"#   {_short(k)}: {v}", file=sys.stderr)
    if not noneffective:
        print(
            "# ABORT: a candidate rule had effective runs on this "
            "workload — the zero-effect admission claim fails",
            file=sys.stderr,
        )
        print(json.dumps({"verdict": "abort:effective_runs", **profile}))
        spark.stop()
        sys.exit(2)

    # ---- step 2: plan-identity gate ----
    diffs = []
    for name in HEADLINE:
        fn = registry[name].spark_fn
        spark.conf.unset("spark.sql.optimizer.excludedRules")
        off = _normalized_plan(fn(spark, sf_dir))
        spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
        on = _normalized_plan(fn(spark, sf_dir))
        spark.conf.unset("spark.sql.optimizer.excludedRules")
        if off != on:
            diffs.append(name)
    print(
        f"# plan-identity gate: {len(HEADLINE) - len(diffs)}/"
        f"{len(HEADLINE)} identical"
        + (f", DIFFS: {diffs}" if diffs else ""),
        file=sys.stderr,
    )
    if diffs:
        print(json.dumps({"verdict": "abort:plan_diff", "diffs": diffs}))
        spark.stop()
        sys.exit(2)

    # ---- step 2b: exclusion-took-effect check (ADVICE r14) ----
    # spark.sql.optimizer.excludedRules silently IGNORES any rule Spark
    # classes as non-excludable (warning only), so the ON leg could
    # quietly measure a partial exclusion. Prove the conf took effect:
    # with the exclusion ON, candidate rules must record ZERO runs.
    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
    rule_exec.resetMetrics()
    suite_once()
    on_dump = rule_exec.dumpTimeSpent()
    spark.conf.unset("spark.sql.optimizer.excludedRules")
    on_profile, _ = rule_profile(on_dump, candidates)
    leaked = [
        f"{_short(name)}:{p['runs']}"
        for name, p in sorted(on_profile.items())
        if p["runs"] > 0
    ]
    if leaked:
        print(
            f"# ABORT: exclusion ignored for {leaked} — the ON leg "
            "would measure a partial exclusion",
            file=sys.stderr,
        )
        print(json.dumps({"verdict": "abort:exclusion_ignored", "leaked": leaked}))
        spark.stop()
        sys.exit(2)
    print("# exclusion-took-effect check: candidate runs 0 in ON mode",
          file=sys.stderr)

    # ---- step 3: interleaved timed suites ----
    t_off: dict[str, list[float]] = {}
    t_on: dict[str, list[float]] = {}
    for r in range(rounds):
        order = [("off", t_off), ("on", t_on)]
        if r % 2 == 1:
            order.reverse()
        for mode, sink in order:
            if mode == "on":
                spark.conf.set(
                    "spark.sql.optimizer.excludedRules", EXCLUDED_RULES
                )
            else:
                spark.conf.unset("spark.sql.optimizer.excludedRules")
            suite_once(sink)
    spark.conf.unset("spark.sql.optimizer.excludedRules")

    med = lambda xs: statistics.median(xs)  # noqa: E731
    result = {"rounds": rounds, "per_query_ms": {}}
    suite_off = suite_on = 0.0
    for name in HEADLINE:
        mo, mn = med(t_off[name]) * 1000, med(t_on[name]) * 1000
        suite_off += mo
        suite_on += mn
        result["per_query_ms"][name] = {
            "off": round(mo, 1),
            "on": round(mn, 1),
            "delta_ms": round(mn - mo, 1),
        }
        print(
            f"# {name}: off {mo:.1f} ms, on {mn:.1f} ms, "
            f"delta {mn - mo:+.1f} ms",
            file=sys.stderr,
        )
    result["suite_off_ms"] = round(suite_off, 1)
    result["suite_on_ms"] = round(suite_on, 1)
    result["suite_delta_ms"] = round(suite_on - suite_off, 1)
    result["suite_delta_pct"] = round(
        100 * (suite_on - suite_off) / suite_off, 2
    )
    result["rule_profile"] = profile
    # ADVICE r14: derive from HEADLINE — the gate above aborted on any
    # diff, so by this point identity is total by construction.
    result["plan_identity"] = f"{len(HEADLINE)}/{len(HEADLINE)}"
    print(
        f"# suite: off {suite_off:.0f} ms, on {suite_on:.0f} ms "
        f"({result['suite_delta_pct']:+.2f}%)",
        file=sys.stderr,
    )
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
