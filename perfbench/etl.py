"""The ``etl_daily`` workload: the reference's own cron traffic.

One pass is a catch-up run of the daily job:

1. a backfill of hourly USCRN lines through ``pipelines.run_uscrn`` and
   of 5-minute wind through ``stream_wind_readings -> stream_hourly_wind
   -> run_available_now``;
2. daily increments, each one that day's USCRN file, that day's wind
   file drained by the stream, and one NWS snapshot (69 HTML pages
   through ``fetch_forecast_tables -> run_nws``);
3. a replay of every loaded day's USCRN file, which must append 0 rows;
4. ``run_forecast_report`` over the warehouse.

It is the only workload that writes, and the only one that reaches
``sources/``, ``plans/warehouse.py``, ``streaming/`` and
``plans/analytics.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import Counter
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from alaska_etl_spark import pipelines
from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.sources.nws_html import fetch_forecast_tables
from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from alaska_etl_spark.sources.wind import parse_wind_lines
from alaska_etl_spark.streaming.incremental import (
    run_available_now,
    stream_hourly_wind,
    stream_wind_readings,
)

from perfbench import gen
from perfbench.common import plan_call
from perfbench.trace import ProgressListener

LOCATIONS_DDL = "station_location string, wbanno string, longitude double, latitude double"


class TracedWarehouse(Warehouse):
    """The program's Warehouse with spans and job counts around the
    protocol steps; with tracing off it only forwards."""

    def __init__(self, ctx, root: str) -> None:
        super().__init__(ctx.spark, root)
        self.ctx = ctx
        self.load_tags: list[str] = []  # job group of every load, counted after the pass

    def write_staging(self, df, table):
        with self.ctx.tracer.span("warehouse.write_staging"):
            return super().write_staging(df, table)

    def append_main(self, table, **kwargs):
        with self.ctx.tracer.span("warehouse.append_main"):
            return super().append_main(table, **kwargs)

    def table_exists(self, table):
        with self.ctx.tracer.span("warehouse.table_exists"):
            return super().table_exists(table)

    def load(self, df, table, **kwargs):
        with self.ctx.counters.group("load") as tag:
            super().load(df, table, **kwargs)
        if tag is not None:
            self.load_tags.append(tag)


class Etl:
    """One warehouse, its stream checkpoint and the station dim."""

    def __init__(self, ctx, root: str, inputs: gen.EtlInputs) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.inputs = inputs
        self.wh = TracedWarehouse(ctx, f"{root}/warehouse")
        self.wind_out = f"{root}/warehouse/uscrn_wind_hourly"
        self.ckpt = f"{root}/checkpoints/uscrn_wind"
        self.loc = self.spark.createDataFrame(gen.STATIONS, LOCATIONS_DDL)
        self.staged = 0  # rows parsed into staging by every USCRN load

    def uscrn(self, paths: str | list[str]) -> None:
        with self.ctx.tracer.span("pipelines.run_uscrn"):
            m = pipelines.run_uscrn(self.spark, self.wh, self.spark.read.text(paths), self.loc)
        self.staged += m["n_rows"]

    def drain_wind(self) -> None:
        with self.ctx.tracer.span("streaming.drain"):
            readings = stream_wind_readings(self.spark, self.inputs.wind_dir, self.loc)
            run_available_now(stream_hourly_wind(readings), self.wind_out, self.ckpt)

    def nws(self, snap: gen.NwsSnapshot) -> None:
        with self.ctx.tracer.span("sources.nws_html"):
            tables = fetch_forecast_tables(snap.fetch, gen.nws_locations())
        with self.ctx.tracer.span("pipelines.run_nws"):
            pipelines.run_nws(self.spark, self.wh, tables, year=snap.first_hour.year)

    def report(self):
        return plan_call(self.ctx, lambda: pipelines.run_forecast_report(self.wh),
                         "analytics.report")

    def main_rows(self) -> int:
        return self.wh.read("uscrn").count()


def expected_report(inputs: gen.EtlInputs, n_days: int) -> Counter:
    """(station, lead bucket) -> matched forecast hours after ``n_days``
    increments: a forecast hour matches when its UTC hour has been
    loaded; lead time is UTC forecast hour minus the AKST snapshot stamp,
    the program's own definition."""
    first = datetime.combine(gen.BASE_DAY, datetime.min.time())
    loaded_end = datetime.combine(inputs.days[n_days - 1].day, datetime.min.time()) \
        + timedelta(days=1)
    per_station: Counter = Counter()
    for day in inputs.days[:n_days]:
        snap = day.nws
        for h in range(48 * len(gen.AHEAD_HOURS)):
            utc = snap.first_hour + timedelta(hours=h) + gen.AKST_OFFSET
            lead = (utc - snap.last_update).total_seconds() / 3600.0
            if first <= utc < loaded_end and lead >= 0:
                per_station[int(math.floor(lead / 24) * 24)] += 1
    return Counter({(name, b): n for name, *_ in gen.STATIONS for b, n in per_station.items()})


def etl_daily(ctx) -> dict:
    sc = ctx.scale
    root = f"{ctx.work}/etl"
    inputs = gen.write_etl_inputs(
        f"{root}/in", ctx.seed, backfill_days=sc["backfill_days"],
        wind_days=sc["wind_days"], n_days=sc["max_days"])
    tr = ctx.tracer
    listener = None
    if tr.enabled:
        listener = ProgressListener()
        ctx.spark.streams.addListener(listener)
    e = Etl(ctx, root, inputs)
    loaded: list[gen.DayInputs] = []
    increments: list[float] = []
    ctx.attempted += 1  # the pass; an exception in it ends the run
    start = time.perf_counter()
    with tr.span("etl.backfill"):
        e.uscrn(inputs.uscrn_backfill)
        e.drain_wind()
    for day in inputs.days:
        # the day's wind file arrives in the stream's source directory
        shutil.copy(day.wind_file, inputs.wind_dir)
        t0 = time.perf_counter()
        with tr.span("etl.increment"):
            e.uscrn(day.uscrn_file)
            e.drain_wind()
            e.nws(day.nws)
        increments.append(time.perf_counter() - t0)
        loaded.append(day)
        if len(loaded) >= sc["min_days"] and time.perf_counter() - start >= ctx.seconds:
            break
    t0 = time.perf_counter()
    with tr.span("etl.replay"):
        e.uscrn([d.uscrn_file for d in loaded])
    t1 = time.perf_counter()
    _, _, report = e.report()
    pass_s = time.perf_counter() - start

    landed = e.main_rows()
    ctx.check(landed == inputs.uscrn_backfill_valid + sum(d.uscrn_valid for d in loaded),
              "landed USCRN rows != valid generated lines (did the replay append?)")
    got = Counter({(r.station_location, int(r.lead_bucket)): int(r.n_matched)
                   for r in report.itertuples()})
    ctx.check(got == expected_report(inputs, len(loaded)),
              "report rows != expected station x lead-bucket set")
    bad = ctx.attempt(
        lambda: parse_wind_lines(ctx.spark.read.text(inputs.wind_dir), e.loc)
        .agg(F.count(F.lit(1)), F.sum(F.col("bad_row").cast("long"))).first(),
        "wind bad-row count")
    want = (inputs.wind_backfill_lines + sum(d.wind_lines for d in loaded),
            inputs.wind_backfill_bad + sum(d.wind_bad for d in loaded))
    ctx.check(bad is not None and (bad[0], bad[1]) == want,
              f"wind: (rows, bad rows) {bad} != generated {want}")
    if tr.enabled:
        tr.sample("warehouse.replay_s", t1 - t0)
        tr.sample("analytics.report_s", pass_s - (t1 - start))
        tr.add("warehouse.rows_staged", e.staged)
        tr.add("warehouse.rows_appended", landed)
        _trace_end(ctx, e, listener, loaded)
    ctx.passes = 1
    # the mean, not the median: the few increments of a run get faster as
    # the JIT warms, and their mean varies less from run to run
    cold_s = statistics.fmean(increments)
    # input rows landed per second of the pass. Not the backfill's own rate:
    # the backfill is the first work of a fresh JVM, and its rate alone
    # varied by a sixth from run to run.
    rows = landed + want[0]
    return ctx.e2e(cold_s, [pass_s], rows / pass_s,
                   {"cold_s": increments, "pass_s": [pass_s]})


def _trace_end(ctx, e: Etl, listener: ProgressListener, loaded: list[gen.DayInputs]) -> None:
    """Untimed probes of the traced run: the parse layer alone over each
    loaded day's file, and the shape of the landed main table."""
    tr = ctx.tracer
    for tag in e.wh.load_tags:
        tr.sample("warehouse.jobs_per_load", ctx.counters.totals(tag)["jobs"])
    for day in loaded:
        t0 = time.perf_counter()
        parse_uscrn_lines(ctx.spark.read.text(day.uscrn_file), e.loc) \
            .write.format("noop").mode("overwrite").save()
        tr.sample("sources.parse_uscrn_s", time.perf_counter() - t0)
    main = e.wh._path("uscrn")
    parts = [d for d in os.listdir(main) if d.startswith("utc_date=")]
    files = sum(1 for _r, _d, fs in os.walk(main) for f in fs if f.endswith(".parquet"))
    tr.add("warehouse.main_partitions", len(parts))
    tr.add("warehouse.main_files", files)
    tr.add("streaming.batches", listener.batches)
    tr.add("streaming.state_rows", listener.state_rows)
    ctx.spark.streams.removeListener(listener)
