"""What one query did, read from Spark's own status store.

``measure(spark, build)`` runs one action under a fresh job group,
drains the listener bus, and returns one record:

- ``build_ms``: Python plan construction (the ``build`` thunk);
- ``collect_ms``: wall time of the action (``toPandas()`` unless the
  caller passes another), Catalyst's optimization and planning included;
- ``analysis_ms``, ``optimization_ms``, ``planning_ms``: Catalyst's
  phases from ``queryExecution().tracker()``;
- ``exchanges``: shuffle and broadcast exchanges in the executed plan,
  found by walking it (under AQE, through the final plan and its query
  stages; a reused exchange is not counted twice);
- ``jobs``, ``stages``, ``tasks``: what the scheduler ran for the group
  (skipped stages excluded);
- ``run_ms``, ``cpu_ms``, ``gc_ms``: executor run, CPU and JVM GC time;
- ``shuffle_read_bytes``, ``shuffle_write_bytes``;
- ``mem_spill_bytes``, ``disk_spill_bytes``;
- ``peak_exec_mem_bytes``: the largest per-stage peak execution memory
  (Spark sums its tasks' peaks per stage, so this bounds the stage's
  concurrent peak from above);
- ``rows``: rows the action returned.

The status store is filled whether or not the UI runs, so this works
on any session, including a bare ``SparkSession.builder`` one. Reading
it costs a drain and a few calls over the Py4J gateway: keep
``measure`` out of timed loops. Every job the thunk submits counts,
plan construction's included; broadcast and AQE stage jobs inherit the
group from the submitting thread.
"""

from __future__ import annotations

import itertools
import json
import time

from pyspark.sql import DataFrame, SparkSession

_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)
_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_seq = itertools.count()


def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    return mapper


def _count_exchanges(jvm, plan) -> int:
    """Exchange nodes in a physical plan, its subqueries and, under
    AQE, its final plan and query stages."""
    cls = jvm.java.lang.Class.forName
    exchange = cls("org.apache.spark.sql.execution.exchange.Exchange")
    adaptive = cls("org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec")
    stage = cls("org.apache.spark.sql.execution.adaptive.QueryStageExec")
    n, todo = 0, [plan]
    while todo:
        node = todo.pop()
        if exchange.isInstance(node):
            n += 1
        if adaptive.isInstance(node):
            todo.append(node.executedPlan())
        elif stage.isInstance(node):
            todo.append(node.plan())
        for seq in (node.children(), node.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                todo.append(it.next())
    return n


def _to_pandas(df: DataFrame):
    return df.toPandas()


def measure(spark: SparkSession, build, action=_to_pandas) -> dict:
    """Build a DataFrame with ``build()``, run ``action`` on it under a
    fresh job group, and return what it did (module docstring).

    ``action(df)`` returns the rows it materialized (anything ``len``
    takes; an empty list for a sink such as a noop write).
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    group = f"metrics.measure.{next(_seq)}"
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, "metrics.measure")
    try:
        t0 = time.perf_counter()
        df: DataFrame = build()
        t1 = time.perf_counter()
        rows = len(action(df))
        t2 = time.perf_counter()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()

    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    rec: dict = {
        "build_ms": round((t1 - t0) * 1000, 1),
        "collect_ms": round((t2 - t1) * 1000, 1),
    }
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        rec[f"{phase}_ms"] = got.get().durationMs() if got.isDefined() else 0
    rec["exchanges"] = _count_exchanges(jvm, qe.executedPlan())

    store, mapper = jsc.statusStore(), _mapper(jvm)
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids = set()
    for jid in job_ids:
        stage_ids.update(json.loads(mapper.writeValueAsString(store.job(jid)))["stageIds"])
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = [
        attempt
        for sid in sorted(stage_ids)
        for attempt in json.loads(mapper.writeValueAsString(
            store.stageData(sid, False, None, False, no_quantiles)
        ))
        if attempt["status"] != "SKIPPED"
    ]
    rec["jobs"] = len(job_ids)
    rec["stages"] = len(stages)
    for key, field in _STAGE_SUMS.items():
        rec[key] = sum(st[field] for st in stages)
    rec["cpu_ms"] = round(rec["cpu_ms"] / 1e6, 1)  # the store keeps ns
    rec["peak_exec_mem_bytes"] = max((st["peakExecutionMemory"] for st in stages), default=0)
    rec["rows"] = rows
    return rec
