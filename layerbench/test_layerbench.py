"""Self-tests of the benchmark harness. They start Spark, so they live here
rather than in the engine's test suite. Run from the repository root:

    python3 -m pytest layerbench/test_layerbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import workloads  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "layerbench/run.py", "--seconds", "15", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _status() -> list[str]:
    """``git status`` including ignored paths, except bytecode caches."""
    out = subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout
    return [line for line in out.splitlines() if "__pycache__" not in line]


def test_run_leaves_checkout_unchanged():
    """A run keeps every scratch path in its work directory and removes
    it: the tree (ignored files included) looks the same afterwards."""
    before = _status()
    proc = _run(ROOT, "--workload", "catalog_ingest", "--seed", "1", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-2000:]
    *_, detail, last = proc.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"]
    # the JSON-lines entries are misdetected as GeoJSON: their detection
    # ops and reads fail
    assert result["failed"] > 0
    assert result["metrics"]["datatypes.top1_accuracy"]["value"] < 1
    errors = json.loads(detail)["detail"]["errors"]
    assert any(v.startswith("Misdetected") for k, v in errors.items() if k.startswith("detect:"))
    assert any(v.startswith("FileNotFoundError") for k, v in errors.items() if k.startswith("read:"))
    # a traced run writes its spans out in the detail record
    spans = json.loads(detail)["detail"]["spans"]
    ids = {s["id"] for s in spans}
    assert {"op", "datatypes.recommend", "readers.read"} <= {s["name"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert _status() == before


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark directory, a run exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "layerbench"), tmp_path / "layerbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "tabular", "--seed", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_oracle_sql_rounds_decimal_sums_once():
    sql = "SELECT CAST(SUM(CAST(a * (1 - b) AS DECIMAL(28,8))) AS DOUBLE) AS s FROM t"
    assert workloads.oracle_sql(sql) == (
        "SELECT CAST(CAST(SUM(CAST(a * (1 - b) AS DECIMAL(28,8))) AS VARCHAR)"
        " AS DOUBLE) AS s FROM t")


def test_detection_check_looks_at_every_value():
    d = {"format": "csv", "files": 2}
    good = ("CSV", ["FileStream", "PatternCSV", "SparkCSV"], "CSV")
    check_ = workloads.detected(d)
    assert check_([good, good]) is None
    assert check_([good]) is not None
    assert check_([good, ("CSV", ["FileStream"], "CSV")]) is not None
    assert check_([good, ("CSV", good[1], "Text")]) is not None
    assert check_([good, ("JSONFile", good[1], "CSV")]) is not None


@pytest.mark.parametrize("got,want,ok", [
    ({"a": [1, 2]}, {"a": [2, 1]}, True),
    ({"a": [1, 2]}, {"a": [1, 3]}, False),
    ({"a": [1.0]}, {"a": [1.0000000000000002]}, False),
])
def test_mismatch_is_exact_and_order_insensitive(got, want, ok):
    import pandas as pd

    assert (check.mismatch(pd.DataFrame(got), pd.DataFrame(want)) is None) == ok
