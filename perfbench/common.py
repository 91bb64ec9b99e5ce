"""State shared by the workloads of one benchmark run."""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import SparkSession

from perfbench.trace import SparkCounters, Tracer, catalyst_phases, count_reads

#: a traced query's spans must cover its wall time to within this share
COVERAGE_TOLERANCE = 0.10


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    seconds: float
    work: str  # scratch directory of this run, inside the checkout
    scale: dict
    tracer: Tracer
    counters: SparkCounters
    cores: int
    attempted: int = 0
    failed: int = 0
    passes: int = 0
    errors: list[str] = field(default_factory=list)
    coverage: list[float] = field(default_factory=list)  # unexplained share per traced call
    samples: dict = field(default_factory=dict)  # raw timings behind the end-to-end metrics

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)

    def attempt(self, fn, what: str):
        """Run an untimed operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # recorded and reported, the run goes on
            self.fail(f"{what}: {type(e).__name__}: {e}")
            return None

    def check(self, ok: bool, why: str) -> None:
        """Count one correctness check; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.fail(why)

    def e2e(self, cold_s: float, passes: list[float], throughput: float,
            samples: dict) -> dict:
        """End-to-end metrics: the time of the workload's unit of work on
        new input, the median whole pass, and the throughput; ``samples``
        are the raw timings behind them, kept in the run record."""
        if not passes:
            raise RuntimeError("no pass completed: " + "; ".join(self.errors[:3]))
        self.samples = samples
        return {"cold_s": cold_s, "pass_s": statistics.median(passes),
                "throughput": throughput}

    @contextlib.contextmanager
    def untraced(self) -> Iterator[None]:
        """Run the block with spans and Spark counters off (a warm-up)."""
        tracer, counting = self.tracer, self.counters.enabled
        self.tracer, self.counters.enabled = Tracer(False), False
        try:
            yield
        finally:
            self.tracer, self.counters.enabled = tracer, counting


def plan_call(ctx: Ctx, build, label: str):
    """Time one query the way a caller sees it: build the plan, then
    collect the result through the pandas/Arrow path.

    Traced, the call is split into plan construction, Catalyst
    optimization + planning (read from the query's own execution) and
    execution + collection, and the spans must add up to the wall time.
    Returns (wall seconds, DataFrame, pandas result); an exception
    propagates to the caller."""
    tr, sc = ctx.tracer, ctx.counters
    t0 = time.perf_counter()
    with tr.span(label):
        with tr.span("plans.construct"), count_reads(tr, "plans.parquet_reads"), \
                sc.group("construct") as construct_tag:
            df = build()
        t1 = time.perf_counter()
        with tr.span("exec.collect"), sc.group("collect") as collect_tag:
            pdf = df.toPandas()
        t2 = time.perf_counter()
    wall = time.perf_counter() - t0
    if tr.enabled:
        cg, xg = sc.totals(construct_tag), sc.totals(collect_tag)
        ph = catalyst_phases(df)
        for k, v in ph.items():
            tr.add(f"catalyst.{k}_s", v)
        tr.add("plans.construct_s", t1 - t0)
        tr.add("plans.construct_jobs", cg["jobs"])
        tr.add("exec.jobs", xg["jobs"])
        for k in ("tasks", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            tr.add(f"exec.{k}", cg[k] + xg[k])
        tr.add("exec.collect_s", (t2 - t1) - ph["optimization"] - ph["planning"])
        tr.add("exec.wall_s", wall)
        explained = (t1 - t0) + (t2 - t1)  # construct + (plan + execute/collect)
        ctx.coverage.append(abs(wall - explained) / wall)
    return wall, df, pdf
