"""USCRN hourly ingest: S4/S5 parse + filter, F2 sentinel/convert,
F3 datetime compose, P2 soil drop, J1 dim join, A5 deterministic dedup
(FIXTURES §5 invariants 1, 4, 6)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from tests.conftest import uscrn_line


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_parse_basic_row(spark, locations):
    df = parse_uscrn_lines(_lines(spark, [uscrn_line()]), locations)
    row = df.collect()[0]
    assert row.station_location == "Fairbanks_11_NE"
    assert row.wbanno == "26494"
    assert row.crx_vn == "2.623"
    assert row.utc_datetime == dt.datetime(2023, 1, 15, 12, 0)
    assert row.lst_datetime == dt.datetime(2023, 1, 15, 3, 0)
    # -10 C -> 14 F (intended semantics; reference never assigned, SURVEY §7.4)
    assert abs(row.t_calc - 14.0) < 1e-9
    assert abs(row.rh_hr_avg - 70.0) < 1e-9


def test_soil_columns_dropped(spark, locations):
    df = parse_uscrn_lines(_lines(spark, [uscrn_line()]), locations)
    assert not [c for c in df.columns if "soil" in c]
    assert len(df.columns) == 27  # 28-col table minus the audit column


def test_prefix_filter_drops_unknown_wbanno(spark, locations):
    rows = [uscrn_line(), uscrn_line(wbanno="99999")]
    df = parse_uscrn_lines(_lines(spark, rows), locations)
    assert df.count() == 1


def test_malformed_line_dropped(spark, locations):
    rows = [uscrn_line(), "26494 20230115 1200 truncated"]
    df = parse_uscrn_lines(_lines(spark, rows), locations)
    assert df.count() == 1


def test_sentinel_never_wins_max(spark, locations):
    """FIXTURES §5 invariant 1: a -9999 must not survive conversion nor
    win a max."""
    rows = [
        uscrn_line(utc_time=1100, t_max=-9999.0),
        uscrn_line(utc_time=1200, t_max=-5.0),
    ]
    df = parse_uscrn_lines(_lines(spark, rows), locations)
    vals = {r.utc_datetime.hour: r.t_max for r in df.collect()}
    assert vals[11] is None
    mx = df.agg(F.max("t_max")).collect()[0][0]
    assert abs(mx - (-5.0 * 9 / 5 + 32)) < 1e-9


def test_convert_flag_off_keeps_celsius(spark, locations):
    df = parse_uscrn_lines(_lines(spark, [uscrn_line(t_calc=10.0)]), locations, convert_to_f=False)
    assert abs(df.collect()[0].t_calc - 10.0) < 1e-9


def test_dedup_deterministic(spark, locations):
    """FIXTURES §5 invariant 4: one row per (wbanno, utc_datetime),
    lowest (lst_datetime, crx_vn) kept regardless of input order."""
    a = uscrn_line(crx_vn="2.623", t_calc=1.0)
    b = uscrn_line(crx_vn="1.001", t_calc=2.0)
    for rows in ([a, b], [b, a]):
        df = parse_uscrn_lines(_lines(spark, rows), locations)
        out = df.collect()
        assert len(out) == 1
        assert out[0].crx_vn == "1.001"


def _semi_left_parse(lines, locations, *, dedup):
    """The former plan of ``parse_uscrn_lines``: a left-semi join on the
    line prefix, per-column ``withColumn`` conversions, then a left join
    for the station name. The single inner join must match it on every
    dim."""
    from alaska_etl_spark.functions.conversions import c_to_f, compose_datetime, nullify_sentinel
    from alaska_etl_spark.operators.dedup import dedup_keep_first
    from alaska_etl_spark.schemas import USCRN_RAW_FIELDS
    from alaska_etl_spark.sources.uscrn import _MEASURE_COLS, _ORDER, _STRING_COLS, _TEMP_COLS

    df = (
        lines.withColumn("wbanno", F.substring(F.trim("value"), 1, 5))
        .join(F.broadcast(locations.select("wbanno")), "wbanno", "left_semi")
        .withColumn("_toks", F.split(F.trim("value"), r"\s+"))
        .filter(F.size("_toks") == len(USCRN_RAW_FIELDS))
    )
    cols = []
    for i, name in enumerate(USCRN_RAW_FIELDS[1:], start=1):
        c = F.col("_toks").getItem(i)
        if name in _STRING_COLS:
            c = c.cast("string")
        elif name in ("utc_date", "utc_time", "lst_date", "lst_time"):
            c = c.cast("bigint")
        else:
            c = c.cast("double")
        cols.append(c.alias(name))
    df = df.select("wbanno", *cols)
    for c in _TEMP_COLS:
        df = df.withColumn(c, c_to_f(c))
    for c in _MEASURE_COLS:
        df = df.withColumn(c, nullify_sentinel(c))
    df = (
        df.withColumn("utc_datetime", compose_datetime("utc_date", "utc_time"))
        .withColumn("lst_datetime", compose_datetime("lst_date", "lst_time"))
        .drop("utc_date", "utc_time", "lst_date", "lst_time")
    )
    df = df.select([c for c in df.columns if "soil" not in c])
    df = df.join(F.broadcast(locations.select("wbanno", "station_location")), "wbanno", "left")
    df = df.select(_ORDER)
    if dedup:
        df = dedup_keep_first(df, keys=["wbanno", "utc_datetime"], order_by=["lst_datetime", "crx_vn"])
    return df


_DIM = "station_location string, wbanno string, longitude double, latitude double"


@pytest.mark.parametrize(
    "dim_rows, dedups",
    [
        ([("Fairbanks_11_NE", "26494", -147.5, 64.9), ("Utqiagvik", "27516", -156.6, 71.3)],
         [False, True]),
        # duplicated wbanno: both forms multiply the matching lines (no
        # dedup: which station name survives it is a tie)
        ([("Fairbanks_11_NE", "26494", -147.5, 64.9), ("Fairbanks_alias", "26494", -147.5, 64.9)],
         [False]),
        # null wbanno: matches no line in either form
        ([("Fairbanks_11_NE", "26494", -147.5, 64.9), ("Nowhere", None, 0.0, 0.0)],
         [False, True]),
    ],
    ids=["unique", "duplicated_wbanno", "null_wbanno"],
)
def test_single_join_matches_semi_plus_left_join(spark, dim_rows, dedups):
    dim = spark.createDataFrame(dim_rows, _DIM)
    lines = spark.createDataFrame(
        [
            (uscrn_line(),),
            (uscrn_line(utc_time=1300, t_max=-9999.0),),
            (uscrn_line(crx_vn="1.001"),),  # same key, a dedup candidate
            (uscrn_line(wbanno="27516", lat=71.3),),
            (uscrn_line(wbanno="99999"),),  # unknown station
            ("26494 20230115 1200 truncated",),  # short line
            ("",),
            (None,),
        ],
        "value string",
    )
    for dedup in dedups:
        new = parse_uscrn_lines(lines, dim, dedup=dedup)
        old = _semi_left_parse(lines, dim, dedup=dedup)
        assert new.schema == old.schema
        got = sorted(new.collect())
        assert got == sorted(old.collect())
        assert got  # the comparison saw rows


def test_parse_plan_joins_the_dim_once(spark, locations):
    df = parse_uscrn_lines(_lines(spark, [uscrn_line()]), locations)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert sum(1 for ln in plan.splitlines() if "Join " in ln) == 1
