"""The benchmark's own tests: input determinism, metric naming, and a
tiny smoke run of every workload in both modes.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _same_tree(a: Path, b: Path) -> bool:
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return files_a == files_b and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files_a)


def test_olap_tables_are_deterministic(tmp_path):
    gen.write_olap_tables(str(tmp_path / "a"), 7, 0.001)
    gen.write_olap_tables(str(tmp_path / "b"), 7, 0.001)
    gen.write_olap_tables(str(tmp_path / "c"), 8, 0.001)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def _etl(root: Path, seed: int) -> gen.EtlInputs:
    return gen.write_etl_inputs(str(root), seed, backfill_days=2, wind_days=1, n_days=2)


def test_etl_inputs_are_deterministic(tmp_path):
    a, b, c = _etl(tmp_path / "a", 7), _etl(tmp_path / "b", 7), _etl(tmp_path / "c", 8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert [d.nws.pages for d in a.days] == [d.nws.pages for d in b.days]
    assert [d.nws.pages for d in a.days] != [d.nws.pages for d in c.days]


def test_uscrn_line_layout_matches_the_test_fixture():
    from tests.conftest import uscrn_line as fixture_line

    values = dict(wbanno="26494", utc_date=20230115, utc_time=1200, lst_date=20230115,
                  lst_time=300, lon=-147.5, lat=64.9, t_calc=-10.0, t_hr_avg=-11.5,
                  t_max=-9.0, t_min=-12.0, p_calc=0.0, solarad=120.0, sur_temp=-15.0,
                  rh=70.0)
    ours = gen.uscrn_line(*values.values())
    assert ours == fixture_line(**values)
    assert len(ours.split()) == 38


def test_etl_day_shapes(tmp_path):
    inputs = _etl(tmp_path, 3)
    day = inputs.days[0]
    lines = Path(day.uscrn_file).read_text().splitlines()
    assert day.uscrn_valid == 23 * 24
    assert len(lines) == 23 * 24 + 2 * gen.JUNK_PER_DAY
    junk = [ln for ln in lines if ln.startswith(gen.UNKNOWN_WBANNO) or len(ln.split()) != 38]
    assert len(junk) == 2 * gen.JUNK_PER_DAY
    assert day.wind_lines == 23 * 288
    assert abs(day.wind_bad / day.wind_lines - gen.WIND_BAD_SHARE) < 0.006
    assert len(day.nws.pages) == 23 * len(gen.AHEAD_HOURS)


def test_nws_pages_parse_with_the_program():
    from alaska_etl_spark.sources.nws_html import fetch_forecast_tables

    snap = gen._nws_snapshot(np.random.default_rng(1), gen.BASE_DAY)
    tables = fetch_forecast_tables(snap.fetch, gen.nws_locations()[:2])
    assert [t["location"] for t in tables] == [s[0] for s in gen.STATIONS[:2]]
    t = snap.last_update
    assert tables[0]["last_update"] == f"{t.month}/{t.day}/{t.year} {t.hour}:{t.minute:02d}"
    assert all(len(p["rows"]) == 17 and len(p["rows"][0]) == 49 for p in tables[0]["pages"])


def test_metric_names_and_units():
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m for m in BENCHMARK["per_layer"]}
    assert set(e2e) == set(E2E_UNITS)
    assert set(layers) == set(LAYER_UNITS)
    for name, m in {**e2e, **layers}.items():
        assert NAME.fullmatch(name) and len(name) <= 64
        assert m["unit"] == {**E2E_UNITS, **LAYER_UNITS}[name]
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    units = LAYER_UNITS if trace else E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, *BENCHMARK["command"][1:], "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
