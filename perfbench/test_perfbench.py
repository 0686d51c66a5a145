"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench -q

The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from pyspark.sql import Row

from perfbench import gen, medallion, stats

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(100))
    value, pct = stats.tail(xs)
    assert value == 89 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 89 / 99)
    value, pct = stats.tail(list(range(22)))
    assert value == 11 and sum(x > value for x in range(22)) == 10
    # no percentile above the median has 10 samples beyond it
    assert stats.tail(list(range(21))) == (None, None)
    assert stats.tail([3.0, 1.0, 2.0]) == (None, None)


def test_metric_names_and_units():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics]
    stats.check_names(names)
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in SPEC["end_to_end"])} in SPEC["end_to_end"]
    with pytest.raises(ValueError):
        stats.check_names(["ok.name", "bad name"])
    with pytest.raises(ValueError):
        stats.check_names(["_leading_underscore"])


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_analytics_inputs_depend_only_on_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_analytics_inputs(tmp_path / name, seed, scale=0.01)
    a, b, c = (_digests(tmp_path / n) for n in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def _medallion_days(tmp_path: Path, seed: int, tag: str) -> dict[str, str]:
    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES

    src = gen.MedallionSource(TABLES, seed, scale=0.01)
    out = {}
    for day in (0, 1):
        d = tmp_path / tag / f"day{day}"
        src.write(src.extract(day), d)
        out.update({f"{day}/{k}": v for k, v in _digests(d).items()})
    return out


def test_medallion_extracts_depend_only_on_seed(tmp_path):
    a = _medallion_days(tmp_path, 7, "a")
    assert a == _medallion_days(tmp_path, 7, "b")
    c = _medallion_days(tmp_path, 8, "c")
    assert all(a[k] != c[k] for k in a if not k.endswith("dim_date.parquet"))


def test_medallion_model_contract():
    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES

    src = gen.MedallionSource(TABLES, 3, scale=0.01)
    day0 = src.extract(0)
    src.extract(1)
    deleted = set(src.deleted["dim_user"])
    assert not deleted
    src.delete_statements()
    deleted = src.deleted["dim_user"]
    day2 = src.extract(2)
    users = [dict(r) for r in src.gold_rows("dim_user").elements()]
    assert all(u["user_id"] is not None for u in users)  # NULL keys dropped
    stale = [r for r in day2["dim_user"] if r[-1] < gen.T0]
    assert stale and all(  # stale rows never become versions
        (u["user_id"], u["updated_at"]) != (s[0], s[-1]) for s in stale for u in users)
    for k in deleted:  # deleted users: no open version, last closed at its start
        versions = sorted((u for u in users if u["user_id"] == k), key=lambda u: u["__START_AT"])
        assert versions[-1]["__END_AT"] == versions[-1]["__START_AT"]
    open_keys = [u["user_id"] for u in users if u["__END_AT"] is None]
    assert len(open_keys) == len(set(open_keys)) == len(src._live("dim_user"))
    assert len(day0["dim_date"]) == len(src.gold_rows("dim_date"))  # day 2 date was stale


def test_medallion_check_counts_duplicate_rows():
    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES

    src = gen.MedallionSource(TABLES, 3, scale=0.01)
    src.extract(0)
    for table in ("dim_artist", "fact_stream"):  # SCD2 versions, SCD1 rows
        want = src.gold_rows(table)
        rows = [Row(**dict(t)) for t in want.elements()]
        assert medallion._rows(rows) == want
        assert medallion._rows(rows + rows[:1]) != want  # one row written twice


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert "correct" not in out.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["analytics", "medallion"])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert [m["name"] for m in wanted] == list(result["metrics"])
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    notes = json.loads(lines[-2])["perfbench"]
    assert notes["seed"] == 5 and notes["nproc"] >= 1 and notes["input_rows"]
    assert not list((ROOT / ".perfbench").glob("run-*"))  # work directory removed
