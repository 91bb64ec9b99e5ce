"""Spans and Spark counters for the traced run.

The benchmark never edits the program: it records spans around the calls
it makes into each layer, and reads Spark's own status tracker, status
store and ``StreamingQueryListener`` for counts. Everything here is a
no-op unless tracing is on, so the untraced run measures the program
alone.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from collections import defaultdict
from typing import Iterator

from pyspark.sql import DataFrameReader, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent) kept in memory, plus per-layer
    samples and counts. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(sid)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid][2] = t1
            self.samples[name].append(t1 - self.spans[sid][1])

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    def summary(self) -> dict:
        """Per span name: count, total, and self time (total minus the
        part covered by child spans)."""
        child: dict[int, float] = defaultdict(float)
        for _name, t0, t1, parent in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, dict] = {}
        for sid, (name, t0, t1, _parent) in enumerate(self.spans):
            s = out.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            s["count"] += 1
            s["total_s"] += t1 - t0
            s["self_s"] += (t1 - t0) - child[sid]
        return out


class SparkCounters:
    """Jobs, tasks and stage metrics per job group, read from the status
    tracker and the status store of the running SparkContext."""

    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._tags = itertools.count()

    @contextlib.contextmanager
    def group(self, label: str) -> Iterator[str | None]:
        """Run the block under a fresh job group and yield its tag (None
        when counting is off). Read the group's totals with
        :meth:`totals` once the timed region is over."""
        if not self.enabled:
            yield None
            return
        tag = f"{label}#{next(self._tags)}"
        self.sc.setJobGroup(tag, label)
        try:
            yield tag
        finally:
            self.sc._jsc.clearJobGroup()

    def totals(self, tag: str) -> dict:
        """Jobs, tasks, executor CPU and GC seconds, shuffle and spill
        bytes of the job group ``tag``."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(tag)
        t = {"jobs": len(jobs), "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = self._store.stageData(
                    sid, False, self._no_list, False, self._no_quantiles)
                if attempts.isEmpty():
                    continue
                sd = attempts.head()
                t["tasks"] += sd.numCompleteTasks()
                t["cpu_s"] += sd.executorCpuTime() / 1e9
                t["gc_s"] += sd.jvmGcTime() / 1e3
                t["shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return t


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase of ``df``'s own query
    execution (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1e3
    return out


def cached_scans(df) -> int:
    """In-memory (persisted) relation scans in ``df``'s executed plan."""
    return df._jdf.queryExecution().executedPlan().toString().count("InMemoryTableScan")


def persisted_bytes(spark: SparkSession) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@contextlib.contextmanager
def count_reads(tracer: Tracer, name: str) -> Iterator[None]:
    """Count file-source reads (``DataFrameReader.parquet`` and ``.load``)
    started inside the block."""
    if not tracer.enabled:
        yield
        return
    orig_parquet, orig_load = DataFrameReader.parquet, DataFrameReader.load

    def parquet(self, *a, **k):
        tracer.add(name, 1)
        return orig_parquet(self, *a, **k)

    def load(self, *a, **k):
        tracer.add(name, 1)
        return orig_load(self, *a, **k)

    DataFrameReader.parquet, DataFrameReader.load = parquet, load
    try:
        yield
    finally:
        DataFrameReader.parquet, DataFrameReader.load = orig_parquet, orig_load


class ProgressListener(StreamingQueryListener):
    """Micro-batch count and state rows from streaming query progress."""

    def __init__(self) -> None:
        self.batches = 0
        self.state_rows = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        if p.stateOperators:
            self.state_rows = sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def peak_rss_mb(spark: SparkSession) -> float:
    """High-water resident set of this Python process plus the Spark JVM."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
