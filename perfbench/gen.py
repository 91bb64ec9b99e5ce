"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from one integer
seed; the same seed gives byte-identical files. Two families:

- ``write_olap_tables``: the TPC-H-ish star plus the ``events`` and
  ``documents`` tables the registered queries read, as one parquet file
  per table, with the value domains of the repository's test tables
  (TESTDATA.md) at a chosen scale factor.
- ``EtlInputs``: the reference's own daily traffic for 23 Alaska
  stations -- raw 38-field USCRN hourly lines, 5-minute wind lines and
  NWS MapClick "digital" HTML pages served by an in-process ``fetch``.

Generation runs outside every timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# OLAP tables
# --------------------------------------------------------------------------

OLAP_TABLES = (
    "region nation customer supplier part orders lineitem events documents".split()
)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en carries 2/6 of documents
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def _days(start: str, n: np.ndarray) -> np.ndarray:
    """Midnight timestamps ``n`` days after ``start`` (microseconds)."""
    return (np.datetime64(start, "D") + n).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
    )


def olap_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(2_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents over a 30-word vocabulary, 10-89 words each;
    5% are a near-duplicate of an earlier document (its text plus the
    marker word ``dup``) so the similarity joins have real pairs."""
    lengths = rng.integers(10, 90, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    n_dup = n // 20
    targets = rng.choice(np.arange(1, n), n_dup, replace=False)
    for t in targets:
        src = int(rng.integers(0, t))
        texts[t] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_olap_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table of ``OLAP_TABLES`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    size = olap_sizes(sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731

    _write(out_dir, "region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    n = size["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })
    n = size["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n), 2),
    })
    n = size["part"]
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })
    n_orders = size["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, size["customer"], n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_orders)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    n = size["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, size["part"], n),
        "l_suppkey": rng.integers(0, size["supplier"], n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n)),
    })
    n = size["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(100, n // 66), n),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(100.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })
    _write(out_dir, "documents", _documents(rng, size["documents"]))


# --------------------------------------------------------------------------
# ETL inputs: USCRN hourly, 5-minute wind, NWS digital pages
# --------------------------------------------------------------------------

#: (station_location, wbanno, longitude, latitude) for the 23-station dim
STATIONS = [
    (f"AK_Station_{i:02d}", f"{26400 + 7 * i}",
     round(-168.0 + 1.6 * i, 4), round(54.0 + 0.75 * i, 4))
    for i in range(23)
]
UNKNOWN_WBANNO = "99999"  # a station that is not in the dim
AKST_OFFSET = timedelta(hours=9)  # utc = lst + 9 h
BASE_DAY = date(2023, 1, 1)  # first backfilled day (UTC)
WIND_BAD_SHARE = 0.019  # share of wind lines with wind_flag = 3
JUNK_PER_DAY = 6  # unknown-station lines per day file, plus the same number of short lines


def uscrn_line(wbanno, utc_date, utc_time, lst_date, lst_time, lon, lat, t_calc,
               t_hr_avg, t_max, t_min, p_calc, solarad, sur_temp, rh) -> str:
    """One raw 38-field USCRN hourly line (the layout of
    ``tests/conftest.uscrn_line``)."""
    return (
        f"{wbanno} {utc_date} {utc_time} {lst_date} {lst_time} 2.623 {lon} {lat} "
        f"{t_calc} {t_hr_avg} {t_max} {t_min} {p_calc} "
        f"{solarad} 0 {solarad} 0 {solarad} 0 R {sur_temp} 0 {sur_temp} 0 {sur_temp} 0 "
        f"{rh} 0 -99.0 -99.0 -99.0 -99.0 -99.0 -9999.0 -9999.0 -9999.0 -9999.0 -9999.0"
    )


def wind_line(wbanno, utc_date, utc_time, lst_date, lst_time, lon, lat, wind, flag) -> str:
    """One subhourly line: keys at positions 0-4, wind speed and flag last."""
    return (
        f"{wbanno} {utc_date} {utc_time} {lst_date} {lst_time} 2.623 {lon} {lat} "
        f"1.2 {wind} {flag}"
    )


def _time_keys(day: date, step_minutes: int) -> list[tuple[str, int, str, int]]:
    """(utc_date, utc_time, lst_date, lst_time) for each step of a UTC day."""
    start = datetime(day.year, day.month, day.day)
    out = []
    for m in range(0, 24 * 60, step_minutes):
        utc = start + timedelta(minutes=m)
        lst = utc - AKST_OFFSET
        out.append((f"{utc:%Y%m%d}", utc.hour * 100 + utc.minute,
                    f"{lst:%Y%m%d}", lst.hour * 100 + lst.minute))
    return out


def _uscrn_day(rng: np.random.Generator, day: date) -> tuple[list[str], int]:
    """All 23 x 24 lines of one UTC day, plus junk lines the parser must
    drop (unknown station, truncated line). Returns (lines, n_valid)."""
    n = len(STATIONS) * 24
    t = np.round(rng.normal(-5.0, 12.0, n), 1)
    spread = rng.uniform(0.2, 3.0, n)
    cols = [
        t, np.round(t - 0.5, 1), np.round(t + spread, 1), np.round(t - spread, 1),
        np.round(np.where(rng.random(n) < 0.8, 0.0, rng.exponential(1.5, n)), 1),
        np.round(rng.uniform(0.0, 400.0, n), 1),
        np.round(t + rng.normal(0.0, 2.0, n), 1),
        np.round(rng.uniform(30.0, 100.0, n), 1),
    ]
    values = list(zip(*(c.tolist() for c in cols)))
    keys = _time_keys(day, 60)
    lines = []
    k = 0
    for _name, wbanno, lon, lat in STATIONS:
        for key in keys:
            lines.append(uscrn_line(wbanno, *key, lon, lat, *values[k]))
            k += 1
    n_valid = len(lines)
    for _ in range(JUNK_PER_DAY):
        at = int(rng.integers(0, len(lines)))
        unknown = UNKNOWN_WBANNO + lines[at][5:]
        short = " ".join(lines[at].split()[:20])
        lines.insert(at, unknown)
        lines.insert(int(rng.integers(0, len(lines))), short)
    return lines, n_valid


def _wind_day(rng: np.random.Generator, day: date) -> tuple[list[str], int]:
    """All 23 x 288 five-minute readings of one UTC day; about 1.9% carry
    ``wind_flag = 3``. Returns (lines, n_bad)."""
    n = len(STATIONS) * 288
    speed = np.round(rng.gamma(2.0, 2.0, n), 1).tolist()
    bad = rng.random(n) < WIND_BAD_SHARE
    flags = np.where(bad, "3", "0").tolist()
    keys = _time_keys(day, 5)
    lines = []
    k = 0
    for _name, wbanno, lon, lat in STATIONS:
        for key in keys:
            lines.append(wind_line(wbanno, *key, lon, lat, speed[k], flags[k]))
            k += 1
    return lines, int(bad.sum())


# -- NWS MapClick "digital" pages (layout of tools/make_nws_fixture.py) -----

_NWS_ATTRS = [
    "Date", "Hour (AKST)", "Temperature (°F)", "Dewpoint (°F)", "Wind Chill (°F)",
    "Surface Wind (mph)", "Wind Dir", "Gust", "Sky Cover (%)",
    "Precipitation Potential (%)", "Relative Humidity (%)", "Rain", "Thunder",
    "Snow", "Freezing Rain", "Sleet", "Fog",
]
_DIRS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]
_DIVIDER = '<tr><td colspan="25" class="divider">&nbsp;</td></tr>'
AHEAD_HOURS = (0, 48, 96)


def _half_table(rng: np.random.Generator, start: datetime) -> list[str]:
    hours = [start + timedelta(hours=i) for i in range(24)]
    temp = rng.integers(-30, 40, 24)
    rows = []
    for attr in _NWS_ATTRS:
        cells = [f'<td class="grey" width="5%"><font size="-1"><b>{attr}</b></font></td>']
        prev_day = None
        for i, ts in enumerate(hours):
            if attr == "Date":
                v = f"{ts.month}/{ts.day}" if ts.day != prev_day else ""
                prev_day = ts.day
            elif attr == "Hour (AKST)":
                v = f"{ts.hour:02d}"
            elif attr == "Temperature (°F)":
                v = str(int(temp[i]))
            elif attr in ("Dewpoint (°F)", "Wind Chill (°F)"):
                v = str(int(temp[i]) - int(rng.integers(0, 12)))
            elif attr == "Surface Wind (mph)":
                v = str(int(rng.integers(0, 25)))
            elif attr == "Wind Dir":
                v = _DIRS[int(rng.integers(0, 8))]
            elif attr == "Gust":
                v = str(int(rng.integers(20, 40))) if rng.random() < 0.2 else ""
            elif attr in ("Sky Cover (%)", "Precipitation Potential (%)"):
                v = str(int(rng.integers(0, 101)))
            elif attr == "Relative Humidity (%)":
                v = str(int(rng.integers(30, 101)))
            else:
                v = "--" if rng.random() < 0.75 else "Chc"
            cells.append(f'<td align="center"><font size="-1">{v}</font></td>')
        rows.append('<tr align="center">' + "".join(cells) + "</tr>")
    return rows


def nws_page(rng: np.random.Generator, station: str, start: datetime,
             last_update: datetime) -> str:
    """One 48-hour digital page: five header tables (one nested) before
    the forecast table at ``find_all("table")`` index 5."""
    rows = [_DIVIDER, *_half_table(rng, start), _DIVIDER,
            *_half_table(rng, start + timedelta(hours=24))]
    stamp = last_update.strftime("%I:%M %p").lstrip("0").lower()
    stamp = f"{stamp} AKST {last_update:%b} {last_update.day}, {last_update.year}"
    return (
        "<!DOCTYPE html>\n<html><head><title>NWS - tabular forecast</title></head>\n<body>\n"
        '<table width="100%" class="header"><tr><td>\n'
        '  <table class="nav"><tr><td><a href="https://www.weather.gov">weather.gov</a>'
        "</td></tr></table>\n</td><td>National Weather Service</td></tr></table>\n"
        '<table class="search"><tr><td><form>Local forecast by "City, St"</form></td></tr></table>\n'
        f'<table width="100%"><tr>\n  <td><b>{station}</b></td>\n'
        f'  <td align="right">Last Update: {stamp}</td>\n</tr></table>\n'
        "<table><tr><td>&lt;&lt; Previous 2 Days</td><td>Next 2 Days &gt;&gt;</td></tr></table>\n"
        '<table cellspacing="2" width="100%">' + "".join(rows) + "</table>\n"
        "<p>Forecast prepared by NWS</p>\n</body></html>\n"
    )


@dataclass
class NwsSnapshot:
    """One day's forecast scrape: 23 stations x 3 pages, keyed by URL."""

    day: date
    last_update: datetime  # AKST wall clock, minute precision
    first_hour: datetime  # first forecast hour, AKST wall clock
    pages: dict[str, str] = field(default_factory=dict)

    def fetch(self, url: str) -> str:
        """In-process stand-in for the HTTP fetch of ``sources/fetch.py``."""
        return self.pages[url]


def _nws_snapshot(rng: np.random.Generator, day: date) -> NwsSnapshot:
    from alaska_etl_spark.sources.nws_html import digital_forecast_url

    # issued early in the AKST morning of ``day``; forecasts start on the next hour
    last_update = datetime(day.year, day.month, day.day, 2, int(rng.integers(0, 60)))
    first_hour = last_update.replace(minute=0) + timedelta(hours=1)
    snap = NwsSnapshot(day, last_update, first_hour)
    for name, _wbanno, lon, lat in STATIONS:
        url = digital_forecast_url(lat, lon)
        for hr in AHEAD_HOURS:
            snap.pages[url + f"&AheadHour={hr}"] = nws_page(
                rng, name, first_hour + timedelta(hours=hr), last_update)
    return snap


def nws_locations() -> list[tuple[str, float, float]]:
    return [(name, lat, lon) for name, _w, lon, lat in STATIONS]


@dataclass
class DayInputs:
    day: date
    uscrn_file: str
    uscrn_valid: int
    wind_file: str
    wind_lines: int
    wind_bad: int
    nws: NwsSnapshot


@dataclass
class EtlInputs:
    """Files for a backfill of ``backfill_days`` USCRN days and
    ``wind_days`` wind days, then ``n_days`` daily increments."""

    root: str
    uscrn_backfill: str  # directory, one file per station
    uscrn_backfill_valid: int
    wind_dir: str  # streaming source directory (backfill files are in it already)
    wind_backfill_lines: int
    wind_backfill_bad: int
    days: list[DayInputs]


def write_etl_inputs(root: str, seed: int, *, backfill_days: int, wind_days: int,
                     n_days: int) -> EtlInputs:
    rng = np.random.default_rng(seed)
    bf_dir = os.path.join(root, "uscrn_backfill")
    wind_dir = os.path.join(root, "wind_src")
    inc_dir = os.path.join(root, "wind_incoming")
    day_dir = os.path.join(root, "uscrn_daily")
    for d in (bf_dir, wind_dir, inc_dir, day_dir):
        os.makedirs(d, exist_ok=True)

    per_station: dict[str, list[str]] = {w: [] for _n, w, _lo, _la in STATIONS}
    junk: list[str] = []
    bf_valid = 0
    for i in range(backfill_days):
        lines, n_valid = _uscrn_day(rng, BASE_DAY + timedelta(days=i))
        bf_valid += n_valid
        for ln in lines:
            (per_station.get(ln[:5]) or junk).append(ln)
    for wbanno, lines in per_station.items():
        _write_lines(os.path.join(bf_dir, f"CRNH0203-AK-{wbanno}.txt"), lines)
    _write_lines(os.path.join(bf_dir, "CRNH0203-AK-unmatched.txt"), junk)

    wind_lines = wind_bad = 0
    wind_start = BASE_DAY + timedelta(days=backfill_days - wind_days)
    for i in range(wind_days):
        day = wind_start + timedelta(days=i)
        lines, n_bad = _wind_day(rng, day)
        _write_lines(os.path.join(wind_dir, f"CRNS0101-05-{day:%Y%m%d}.txt"), lines)
        wind_lines += len(lines)
        wind_bad += n_bad

    days = []
    for i in range(n_days):
        day = BASE_DAY + timedelta(days=backfill_days + i)
        u_lines, u_valid = _uscrn_day(rng, day)
        u_path = os.path.join(day_dir, f"CRNH0203-{day:%Y%m%d}.txt")
        _write_lines(u_path, u_lines)
        w_lines, w_bad = _wind_day(rng, day)
        w_path = os.path.join(inc_dir, f"CRNS0101-05-{day:%Y%m%d}.txt")
        _write_lines(w_path, w_lines)
        days.append(DayInputs(day, u_path, u_valid, w_path, len(w_lines), w_bad,
                              _nws_snapshot(rng, day)))
    return EtlInputs(root, bf_dir, bf_valid, wind_dir, wind_lines, wind_bad, days)


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(lines))
        f.write("\n")
