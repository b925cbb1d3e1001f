"""Smoke tests for the benchmark at sf0.001: metric names, units and the
correctness checks of every workload, pinned against BENCHMARK.json.

Run from the repository root: ``python -m pytest lakebench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, workload: str, trace: int, seconds: int = 1) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, "lakebench/run.py", "--workload", workload,
            "--seed", "0", "--seconds", str(seconds), "--trace", str(trace), "--smoke",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    return out


def _units(metrics: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_and_checks(workload):
    out = _result(_run(ROOT, workload, trace=0))
    assert _units(out["metrics"]) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", ["batch_elt", "stream_ingest"])
def test_per_layer_metrics(workload):
    # A few seconds, so that stream batches start inside the timed window.
    out = _result(_run(ROOT, workload, trace=1, seconds=3))
    assert _units(out["metrics"]) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    value = {name: m["value"] for name, m in out["metrics"].items()}
    assert value["session.start_s"] > 0
    if workload == "batch_elt":
        assert value["spark.jobs"] > 0 and value["queries.build_s"] > 0
        assert 0 < value["spark.plan_s"] and 0 < value["spark.execute_s"]
        assert value["plans.pipeline_run_s"] > 0 and value["plans.pipeline_tasks"] > 0
        assert value["tables.commits"] == 0 and value["streaming.bronze.batches"] == 0
    else:
        assert value["tables.commits"] > 0 and value["streaming.bronze.batches"] > 0
        assert value["operators.relational_s"] == 0


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "lakebench",
        ignore=shutil.ignore_patterns("out", "__pycache__"),
    )
    proc = _run(str(tmp_path), "batch_elt", trace=0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_fixtures_follow_the_seed():
    sys.path.insert(0, HERE)
    import fixtures

    a, b, c = (fixtures.tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    # the parquet timestamp type of the fixture files
    for table, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        assert str(a[table].schema.field(col).type) == "timestamp[us]"
