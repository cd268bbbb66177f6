"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at sf0.01 for a short run
(about a minute each); the rest are fast unit tests of the helpers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from checks import KeyModel, Oracle  # noqa: E402
from run import quantile, tail  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_every_workload(workload):
    spec = _spec()
    proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "1", "--sf", "0.01")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    # "# <name> = <value> <unit>" lines: every end-to-end metric, never 0
    printed = {}
    for ln in lines[:-1]:
        if " = " in ln:
            _, name, _, value, unit = ln.split()
            printed[name] = (float(value), unit)
    for m in spec["end_to_end"]:
        value, unit = printed[m["name"]]
        assert unit == m["unit"] and value > 0, m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "olap_read", "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tail_keeps_ten_samples_beyond():
    vals = [float(i) for i in range(1, 101)]
    pct, value = tail(vals)
    assert pct == 90.0 and value == pytest.approx(quantile(vals, 0.9))
    assert tail(vals[:22])[0] == pytest.approx(100.0 * 12 / 22)
    # below twenty samples: p90
    assert tail(vals[:11]) == (90.0, pytest.approx(quantile(vals[:11], 0.9)))


def test_quantile_is_a_smoothed_order_statistic():
    vals = [float(i) for i in range(1, 102)]
    assert quantile(vals, 0.5) == pytest.approx(51.0, abs=0.01)
    assert quantile(vals, 0.9) == pytest.approx(91.0, abs=0.5)
    assert quantile([2.0] * 30, 0.5) == pytest.approx(2.0)


def test_oracle_reports_a_wrong_result(tmp_path):
    sf_dir = fixtures.ensure(str(tmp_path), 0.001)
    oracle = Oracle(sf_dir)
    sql = "SELECT r_name, r_regionkey FROM region"
    right = oracle.con.execute(sql).fetchdf()
    assert oracle.mismatch("q", sql, right.iloc[::-1]) is None
    assert "row count" in oracle.mismatch("q", sql, right.iloc[1:])
    assert "value mismatch" in oracle.mismatch("q", sql, right.assign(r_name="x"))
    oracle.close()


def test_key_model_tracks_versions():
    m = KeyModel()
    m.upsert(np.array([1, 2, 3]), np.array([10, 20, 30]))
    m.commit(0)
    m.upsert(np.array([3, 4]), np.array([31, 40]))
    assert m.delete_range(1, 2) == 2
    m.commit(1)
    assert m.versions[0] == (3, 6, 60)
    assert m.versions[1] == (2, 7, 71)
    assert m.summary(3, 9) == (2, 7, 71)
    assert m.summary(4, 4) == (1, 4, 40)
    assert m.summary(5, 9) == (0, 0, 0)
