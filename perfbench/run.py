"""Benchmark entry point.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Run from the repository root. One closed loop: a single client thread
issues each call and waits for it, on ``local[nproc]`` with
``spark.sql.shuffle.partitions = nproc``. Inputs are generated from
``--seed``; every result is checked. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The exit code is non-zero when any operation failed or
returned a wrong result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("olap", "etl_daily")
SETUPS = 5  # session builds per run; setup_s is their median
CHILD_GRACE_S = 30.0  # how long child processes get to end before they are killed
PR_SET_CHILD_SUBREAPER = 36
SCALES = {
    # sf: scale factor of the OLAP tables (lineitem = 6M x sf)
    "full": {"sf": 0.02, "backfill_days": 14, "wind_days": 1, "max_days": 4, "min_days": 2},
    # tiny inputs for the benchmark's own tests
    "smoke": {"sf": 0.001, "backfill_days": 2, "wind_days": 1, "max_days": 3, "min_days": 3},
}

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "throughput": "1/s"}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.construct_s": "s", "plans.construct_jobs": "count", "plans.parquet_reads": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.collect_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.cpu_util": "ratio",
    "cache.persisted_bytes": "bytes", "cache.warm_cached_scans": "count",
    "cache.release_s": "s", "cache.warm_pass_s": "s",
    "sources.parse_uscrn_s": "s", "sources.nws_html_s": "s",
    "warehouse.write_staging_s": "s", "warehouse.append_main_s": "s",
    "warehouse.table_exists_s": "s", "warehouse.jobs_per_load": "count",
    "warehouse.append_ratio": "ratio", "warehouse.replay_s": "s",
    "warehouse.main_partitions": "count", "warehouse.main_files": "count",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.state_rows": "count",
    "analytics.report_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.coverage_max": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    return ap.parse_args(argv)


def pin_environment(work: str, cores: int) -> None:
    """Everything Spark and Python write goes under ``work``; the core
    count is set explicitly instead of inheriting session.py's default."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_DF_DEBUGGING", None)


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def build_sessions(cores: int, work: str):
    """Build the session SETUPS times (the first launch starts the JVM);
    each build is timed through its first job. Returns the live session,
    setup seconds per build and get_spark seconds per build."""
    from alaska_etl_spark.session import get_spark

    setup, get = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                          extra_conf=spark_conf(work))
        t1 = time.perf_counter()
        spark.range(1).collect()
        setup.append(time.perf_counter() - t0)
        get.append(t1 - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup, get


def environment(args, cores: int, load1: float, spark) -> dict:
    import duckdb

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                text=True, cwd=ROOT, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "master": f"local[{cores}]",
        "shuffle_partitions": cores, "loadavg_1m_at_start": load1,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "git_commit": commit,
    }


def layer_metrics(ctx, get_spark_s: list[float]) -> dict[str, float]:
    """Per-layer metrics of a traced run, each per pass (one pass = one
    round of the workload's operation set)."""
    from perfbench.trace import peak_rss_mb

    tr, n = ctx.tracer, max(ctx.passes, 1)
    c, s = tr.counts, tr.samples
    span = tr.summary()

    def per_pass(name: str) -> float:
        return c.get(name, 0.0) / n

    def span_per_pass(name: str) -> float:
        return span.get(name, {}).get("total_s", 0.0) / n

    def med(name: str) -> float:
        return statistics.median(s[name]) if s.get(name) else 0.0

    cpu = c.get("exec.cpu_s", 0.0)
    busy = c.get("exec.wall_s", 0.0)
    staged = c.get("warehouse.rows_staged", 0.0)
    m = {
        "session.get_spark_s": statistics.median(get_spark_s),
        "plans.construct_s": per_pass("plans.construct_s"),
        "plans.construct_jobs": per_pass("plans.construct_jobs"),
        "plans.parquet_reads": per_pass("plans.parquet_reads"),
        "catalyst.analysis_s": per_pass("catalyst.analysis_s"),
        "catalyst.optimization_s": per_pass("catalyst.optimization_s"),
        "catalyst.planning_s": per_pass("catalyst.planning_s"),
        "exec.jobs": per_pass("exec.jobs"),
        "exec.tasks": per_pass("exec.tasks"),
        "exec.collect_s": per_pass("exec.collect_s"),
        "exec.executor_cpu_s": per_pass("exec.cpu_s"),
        "exec.gc_s": per_pass("exec.gc_s"),
        "exec.shuffle_read_bytes": per_pass("exec.shuffle_read_bytes"),
        "exec.shuffle_write_bytes": per_pass("exec.shuffle_write_bytes"),
        "exec.spill_bytes": per_pass("exec.spill_bytes"),
        "exec.cpu_util": cpu / (busy * ctx.cores) if busy else 0.0,
        "cache.persisted_bytes": per_pass("cache.persisted_bytes"),
        "cache.warm_cached_scans": per_pass("cache.warm_cached_scans"),
        "cache.release_s": span_per_pass("cache.release"),
        "cache.warm_pass_s": per_pass("cache.warm_pass_s"),
        "sources.parse_uscrn_s": med("sources.parse_uscrn_s"),
        "sources.nws_html_s": span_per_pass("sources.nws_html"),
        "warehouse.write_staging_s": span_per_pass("warehouse.write_staging"),
        "warehouse.append_main_s": span_per_pass("warehouse.append_main"),
        "warehouse.table_exists_s": span_per_pass("warehouse.table_exists"),
        "warehouse.jobs_per_load": med("warehouse.jobs_per_load"),
        "warehouse.append_ratio": c.get("warehouse.rows_appended", 0.0) / staged if staged else 0.0,
        "warehouse.replay_s": med("warehouse.replay_s"),
        "warehouse.main_partitions": c.get("warehouse.main_partitions", 0.0),
        "warehouse.main_files": c.get("warehouse.main_files", 0.0),
        "streaming.drain_s": span_per_pass("streaming.drain"),
        "streaming.batches": per_pass("streaming.batches"),
        "streaming.state_rows": c.get("streaming.state_rows", 0.0),
        "analytics.report_s": med("analytics.report_s"),
        "process.peak_rss_mb": peak_rss_mb(ctx.spark),
        "trace.coverage_max": max(ctx.coverage, default=0.0),
    }
    assert set(m) == set(LAYER_UNITS)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    load1 = os.getloadavg()[0]
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    if not os.path.isdir(os.path.join(ROOT, "alaska_etl_spark")):
        print(f"no alaska_etl_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cores)
    sys.path.insert(0, ROOT)
    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        return run(args, cores, load1, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def run(args, cores: int, load1: float, work: str) -> int:
    from perfbench.common import COVERAGE_TOLERANCE, Ctx
    from perfbench.trace import SparkCounters, Tracer

    spark, setup_s, get_spark_s = build_sessions(cores, work)
    env = environment(args, cores, load1, spark)
    print("environment " + json.dumps(env), file=sys.stderr)
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
              scale=SCALES[args.scale], tracer=tracer,
              counters=SparkCounters(spark, bool(args.trace)), cores=cores)
    if args.workload == "etl_daily":
        from perfbench.etl import etl_daily as workload
    else:
        from perfbench.olap import olap as workload
    e2e = workload(ctx)
    e2e["setup_s"] = statistics.median(setup_s)
    if args.trace:
        metrics = layer_metrics(ctx, get_spark_s)
        units = LAYER_UNITS
        ctx.check(metrics["trace.coverage_max"] <= COVERAGE_TOLERANCE,
                  f"traced spans leave {metrics['trace.coverage_max']:.0%} of a "
                  "query's wall time unexplained")
    else:
        metrics, units = e2e, E2E_UNITS
    write_record(args, env, ctx, e2e, metrics)
    stop_spark()  # before the result line: a printed result means nothing is left running
    for why in ctx.errors:
        print(f"FAILED: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0 if ctx.failed == 0 else 1


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


def adopt_orphans() -> None:
    """Become the child subreaper (Linux), so that processes the JVM
    forks and orphans are re-parented here and :func:`reap_children`
    can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_spark() -> None:
    """Stop the active session, then end the JVM by closing its stdin and
    wait for it and every other child process. Safe to call more than
    once, and before any session exists. The Py4J gateway is not closed
    first: with a streaming listener registered, closing it can block."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=CHILD_GRACE_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        reap_children()


def reap_children() -> None:
    """Wait for every child process to end; kill the ones still running
    after CHILD_GRACE_S."""
    deadline = time.monotonic() + CHILD_GRACE_S
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.02)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def write_record(args, env: dict, ctx, e2e: dict, metrics: dict) -> None:
    """Keep this run's record next to the checkout's other runs. A traced
    run also writes the per-layer JSON, with the tracing overhead against
    the untraced run of the same workload and seed when one exists."""
    record = {"environment": env, "end_to_end": e2e, "samples": ctx.samples,
              "attempted": ctx.attempted, "failed": ctx.failed, "errors": ctx.errors}
    base = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")
    if args.trace:
        record["per_layer"] = metrics
        record["spans"] = ctx.tracer.summary()
        try:
            with open(base + "-e2e.json") as f:
                untraced = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        except (OSError, KeyError, ValueError):
            record["tracing_overhead"] = None
        path = base + "-layers.json"
    else:
        path = base + "-e2e.json"
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
