"""Self-tests of the benchmark.

The fast tests need no Spark session. The end-to-end tests run the
benchmark itself (about five minutes on a 4-core host) and are enabled
with ``PERFBENCH_E2E=1``:

    python3 -m pytest perfbench/tests -q
    PERFBENCH_E2E=1 python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import report  # noqa: E402
from checks import Oracle  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
e2e = pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")


def test_metric_names_and_units_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(report.PER_LAYER)
    for m in SPEC["per_layer"]:
        want = "higher" if m["name"] in report.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_corrupted_expectation_is_a_mismatch(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    import pyarrow as pa

    tables = tmp_path / "tables-sf0-seed1-t"
    tables.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), tables / "t.parquet")
    sql, frame = "SELECT x FROM t", pd.DataFrame({"x": [3, 1, 2]})
    assert Oracle(tmp_path, tables, corrupt=False).check("q", sql, frame) == ""
    assert "values differ" in Oracle(tmp_path, tables, corrupt=True).check("q", sql, frame)


def _run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@e2e
def test_printed_metrics_match_benchmark_json():
    result = _run("analytics", 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert list(result["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert result["correct"] and result["failed"] == 0


@e2e
def test_corrupted_expected_hash_raises_error_rate():
    result = _run("analytics", 0, "--corrupt-expected")
    assert not result["correct"]
    assert result["failed"] >= 1


@e2e
@pytest.mark.parametrize(
    "workload, metric", [("analytics", "memo.builds"), ("prism_etl", "pipeline.plan_executions")]
)
def test_two_traced_runs_agree_on_counts(workload, metric):
    first, second = _run(workload, 1), _run(workload, 1)
    assert list(first["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    assert first["metrics"][metric]["value"] > 0
    assert first["metrics"][metric] == second["metrics"][metric]
