"""Readers for the counters Spark, the JVM and the streaming engine
already keep, plus the in-memory span recorder of the traced run.

Everything here observes the engine from outside: it reads Spark's
status store (populated with the UI off), the JVM's GC MX beans and
``/proc``, and registers a ``StreamingQueryListener`` of its own. No
engine conf is changed.
"""

from __future__ import annotations

import json
import os
import subprocess
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from metrics import tree_stats, vm_hwm_mb


class Tracer:
    """Spans at each layer boundary, kept in memory and written at the end.

    A span is ``{id, parent, name, op, start, end}`` with epoch-second
    times, so spans line up with the status store's job timestamps.
    ``overhead_s`` accumulates the time spent in tracing-only calls made
    inside a pass.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "op": op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0


class StreamProgress(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self, tracer: Tracer) -> None:
        self.batches: list[tuple[float, float]] = []  # (epoch start, trigger ms)
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._tracer.overhead():
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append(
                (start.timestamp(), float(p.durationMs.get("triggerExecution", 0)))
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkCounters:
    """Counters of one live session's JVM."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self.jvm_pid = int(self._jvm.ProcessHandle.current().pid())

    def jit_ms(self) -> int:
        """Time the JIT compilers have spent compiling since JVM start."""
        mx = self._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return mx.getTotalCompilationTime()

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def rss_peak_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            return vm_hwm_mb(fh.read())

    def status_store(self) -> tuple[list[dict], list[dict]]:
        """All retained jobs and stages, serialised JVM-side in one call each."""
        jvm = self._jvm
        store = self._sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)
        ))
        return jobs, stages


def stop_session(spark: SparkSession, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM, and wait until the JVM and the
    Python workers it started have exited: ``spark.stop()`` alone leaves
    the JVM running after the benchmark process ends."""
    gateway = SparkContext._gateway
    jvm_pid = int(gateway.jvm.ProcessHandle.current().pid())
    spark.stop()
    workers = [p for p in tree_stats(jvm_pid) if p != jvm_pid]
    gateway.shutdown()
    proc = gateway.proc
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark workers {workers} outlived their JVM")
        time.sleep(0.05)

