"""NWS forecast-table ingest: landscape tables → typed snapshot rows
(SURVEY §2.1 S7-S9, §2.8 U3, §2.6 W1, §2.9 F5/F6).

The scraped NWS page carries the forecast "landscape": one row per
attribute, one column per forecast hour, in two 24-hour half-tables per
(location, AheadHour page) (reference airflow/dags/utils/utils.py:180-231).
The reference transposes dict-side (``transpose_as_dict``) and
forward-fills the sparse Date row with an in-place list walk
(utils/utils.py:144-149). Here:

- the *parser* (:func:`parse_landscape_tables`) is deliberately plain
  driver Python — it turns scraped cell lists into long-format tuples
  ``(location, last_update, seq, attr, value)`` with an explicit ingest
  sequence, because forward fill needs an order Spark will not invent
  (SURVEY §7.4);
- everything after is one Spark plan: pivot (groupBy+pivot with explicit
  attribute values → single pass), window forward-fill, year-aware
  datetime composition (year is an injected parameter, fixing the
  reference's ``datetime.now().year`` Dec→Jan rollover bug,
  nws_dag.py:97-100), fixed-offset UTC, typed casts, deterministic dedup.
"""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alaska_etl_spark.functions.cleaning import normalize_column_name
from alaska_etl_spark.functions.conversions import fixed_offset_utc
from alaska_etl_spark.operators.dedup import dedup_keep_first

#: landscape attribute rows, scrape order (FIXTURES §3)
NWS_ATTRS = [
    "Date",
    "Hour (AKST)",
    "Temperature (°F)",
    "Dewpoint (°F)",
    "Wind Chill (°F)",
    "Surface Wind (mph)",
    "Wind Dir",
    "Gust",
    "Sky Cover (%)",
    "Precipitation Potential (%)",
    "Relative Humidity (%)",
    "Rain",
    "Thunder",
    "Snow",
    "Freezing Rain",
    "Sleet",
    "Fog",
]

_INT_COLS = ["temperature_f", "dewpoint_f", "wind_chill_f", "surface_wind_mph", "gust", "sky_cover_pct"]
_FLOAT_COLS = ["precipitation_potential_pct", "relative_humidity_pct"]
_FLAG_COLS = ["rain", "thunder", "snow", "freezing_rain", "sleet", "fog"]

_LONG_DDL = "location string, last_update string, seq long, attr string, value string"
_LONG_COLS = ["location", "last_update", "seq", "attr", "value"]


def parse_landscape_tables(tables: Iterable[dict[str, Any]]) -> list[tuple]:
    """Scraped landscape tables → long tuples.

    Each input dict: ``{"location": str, "last_update": str
    ('M/D/YYYY H:mm' page timestamp), "pages": [ {"rows":
    [[attr, v1, ... v24], ...]} , ...]}`` — ``pages`` in AheadHour order
    (0, 48, 96), each page's rows covering its half-tables already
    concatenated (the reference merges the two 24 h halves the same way,
    utils/utils.py:194-195). A page dict may carry its own
    ``last_update`` (the per-page ``Last Update:`` stamp, as
    :func:`~alaska_etl_spark.sources.nws_html.fetch_forecast_tables`
    emits) which overrides the table-level one for that page's rows —
    mirroring the reference's per-soup stamping.

    Output tuples: (location, last_update, seq, attr, value) where seq
    is the global forecast-hour position across pages — the explicit
    order the forward fill and dedup windows run over.
    """
    out: list[tuple] = []
    for tbl in tables:
        loc = tbl["location"]
        tbl_update = tbl["last_update"]
        seq_base = 0
        for page in tbl["pages"]:
            last_update = page.get("last_update", tbl_update)
            width = 0
            for row in page["rows"]:
                attr, values = row[0], row[1:]
                width = max(width, len(values))
                for i, v in enumerate(values):
                    out.append((loc, last_update, seq_base + i, attr, v))
            seq_base += width
    return out


def forecast_long_df(spark, tables: Iterable[dict[str, Any]]) -> DataFrame:
    """The long tuples as a DataFrame. A full scrape is ~56k tuples; they
    reach the JVM as one Arrow table, not as one pickled and
    schema-verified row each."""
    cols = list(zip(*parse_landscape_tables(tables))) or [()] * len(_LONG_COLS)
    table = pa.Table.from_arrays([pa.array(c) for c in cols], names=_LONG_COLS)
    return spark.createDataFrame(table, _LONG_DDL)


def pivot_forecast(long_df: DataFrame, *, year: int) -> DataFrame:
    """Long attribute rows → one typed row per (location, snapshot,
    forecast hour). ``year`` is the calendar year of each snapshot's
    *first* forecast day; later days that wrap past Dec 31 get
    ``year + 1`` (rollover handled by comparing month to the window's
    first month — the reference's wall-clock year injection could not,
    SURVEY §7.4)."""
    # a single-aggregate pivot names each column by its pivot value
    wide = (
        long_df.groupBy("location", "last_update", "seq")
        .pivot("attr", NWS_ATTRS)
        .agg(F.first("value"))
        .toDF("location", "last_update", "seq", *[normalize_column_name(a) for a in NWS_ATTRS])
    )

    upto = Window.partitionBy("location", "last_update").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, 0
    )

    # W1 forward fill of the sparse Date header row over the explicit seq
    wide = wide.withColumn(
        "date", F.last(F.nullif(F.trim("date"), F.lit("")), ignorenulls=True).over(upto)
    )

    month = F.split("date", "/").getItem(0).cast("int")
    row_year = F.lit(year) + F.when(month < F.first(month).over(upto), 1).otherwise(0)
    lst = F.to_timestamp_ntz(
        F.concat_ws(
            " ",
            F.concat_ws("/", F.col("date"), row_year.cast("string")),
            F.concat(F.col("hour_akst").cast("int").cast("string"), F.lit(":00")),
        ),
        F.lit("M/d/yyyy H:mm"),
    )

    # P8 sentinel fills (reference nws_dag.py:94): '' gust → 0; '' elsewhere → NULL
    def typed(c: str, type_: str):
        v = F.when(F.trim(c) == "", "0").otherwise(F.col(c)) if c == "gust" else F.col(c)
        return F.nullif(F.trim(v), F.lit("")).cast(type_).alias(c)

    # '--' & co. stay as strings on the outlook flag columns (SURVEY §1.2)
    out = wide.select(
        "location",
        fixed_offset_utc(lst).alias("utc_datetime"),
        lst.alias("lst_datetime"),
        *[typed(c, "bigint") for c in _INT_COLS[:4]],
        "wind_dir",
        *[typed(c, "bigint") for c in _INT_COLS[4:]],
        *[typed(c, "double") for c in _FLOAT_COLS],
        *_FLAG_COLS,
        F.to_timestamp_ntz("last_update", F.lit("M/d/yyyy H:mm")).alias("last_update_nws"),
        "seq",
    )

    # A5 deterministic dedup: overlapping AheadHour pages repeat boundary
    # hours (reference nws_dag.py:106-111); keep the earliest seq.
    out = dedup_keep_first(
        out,
        keys=["location", "utc_datetime", "lst_datetime"],
        order_by=["seq"],
    ).drop("seq")
    return out
