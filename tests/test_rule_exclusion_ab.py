"""The rule-time receipt of tools/rule_exclusion_ab.py, parsed from a
canned ``RuleExecutor.dumpTimeSpent()`` dump (no Spark session)."""

from __future__ import annotations

from tools.rule_exclusion_ab import rule_profile

DATASOURCES = "org.apache.spark.sql.execution.datasources.SchemaPruning"
OPTIMIZER = "org.apache.spark.sql.catalyst.optimizer.SchemaPruning"

DUMP = f"""
=== Metrics of Analyzer/Optimizer Rules ===
Total number of runs: 18
Total time: 0.01 seconds

Rule                                   Effective Time / Total Time                     Effective Runs / Total Runs

org.apache.spark.sql.catalyst.optimizer.PruneFilters  0 / 5000000  0 / 9
{DATASOURCES}  0 / 3000000  0 / 4
{OPTIMIZER}  1000000 / 2000000  1 / 5
"""


def test_profile_keeps_candidates_that_share_a_short_name():
    profile, total_ns = rule_profile(DUMP, {DATASOURCES, OPTIMIZER})
    assert profile == {
        DATASOURCES: {"total_ms": 3.0, "runs": 4, "effective_runs": 0},
        OPTIMIZER: {"total_ms": 2.0, "runs": 5, "effective_runs": 1},
    }
    assert total_ns == 10_000_000
