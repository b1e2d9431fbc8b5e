"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload once on tiny inputs (sf0.001, 2
landed files) through the same command the benchmark is run with.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_medallion_feed_matches_its_ground_truth(tmp_path):
    feed = datagen.MedallionFeed(str(tmp_path / "landing"), seed=5)
    paths = [feed.land() for _ in range(3)]
    rows = []
    for p in paths:
        with open(p) as f:
            part = list(csv.DictReader(f))
        assert len(part) == datagen.ROWS_PER_FILE
        assert tuple(part[0]) == datagen.COLUMNS
        rows += part
    t = feed.truth
    assert t.rows == len(rows) == 3 * datagen.ROWS_PER_FILE
    assert t.outcome_sum == sum(int(r["Outcome"]) for r in rows)
    for c in datagen.IMPUTED:
        assert t.zeros[c] == sum(float(r[c]) == 0 for r in rows) > 0
    assert any(all(float(r[c]) == 0 for c in datagen.IMPUTED) for r in rows)
    for col, edges in (("Age", (29, 30, 59, 60)), ("BMI", (18.4, 30.0))):
        assert {float(e) for e in edges} <= {float(r[col]) for r in rows}
    again = datagen.MedallionFeed(str(tmp_path / "again"), seed=5)
    with open(again.land()) as a, open(paths[0]) as b:
        assert a.read() == b.read()


def test_query_inputs_are_the_fixture_tables():
    from diabetes_etl_spark.sources.tables import FIXTURE_TABLES

    for sf in ("sf0.01", "sf0.001"):
        names = {f.removesuffix(".parquet") for f in os.listdir(os.path.join(BENCH, "data", sf))}
        assert names == set(FIXTURE_TABLES)


def test_tail_is_never_below_p90_and_keeps_ten_beyond_when_it_can():
    assert run.tail([float(i) for i in range(1, 17)]) == (90.0, 14.5)
    pct, value = run.tail([float(i) for i in range(1, 201)])
    assert pct == 95.0 and 190 < value < 191
    assert sum(x > value for x in range(1, 201)) == 10


@pytest.mark.parametrize("workload", ["relational_sql", "llm_corpus", "medallion_refresh"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", "0", "--smoke")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_smoke_run_prints_every_per_layer_metric():
    proc = _run(ROOT, "--workload", "medallion_refresh", "--seed", "3",
                "--seconds", "1", "--trace", "1", "--smoke")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    layers = {k: v["value"] for k, v in result["metrics"].items()}
    assert layers["spark.jobs"] > 0 and layers["pipeline.initial_build_s"] > 0
    assert layers["trace_overhead_ratio"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "relational_sql", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert "{" not in proc.stdout
