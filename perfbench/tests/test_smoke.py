"""Smoke test of the benchmark harness: every workload for a few seconds at
sf 0.001, so a broken harness fails fast.

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "5",
         "--trace", str(trace), "--sf", "0.001"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["dashboard_reads", "ingest_live", "analytics_batch"])
def test_workload_runs_and_checks(workload):
    report, result = bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = [m["name"] for m in SPEC["end_to_end"]]
    assert list(result["metrics"]) == names
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m["name"], got)
    assert report["nproc"] >= 1 and report["sf"] == 0.001 and report["commit"]


@pytest.mark.parametrize("workload", ["dashboard_reads", "ingest_live", "analytics_batch"])
def test_traced_run_reports_layers(workload):
    report, result = bench(workload, trace=1)
    assert result["correct"], report
    assert list(result["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    # the report line carries every layer figure, listed or not
    layers = {k: v["value"] for k, v in report["layers"].items()}
    assert layers["setup.spark_s"] > 0 and layers["setup.load_s"] > 0
    assert "trace.overhead_ms" in layers and layers["traced.p50_ms"] > 0
    if workload == "analytics_batch":
        assert layers["batch.nsdb_groupby_sum.jobs"] >= 1
        return
    assert "traced" in report and layers["read_ops"] >= 1
    assert layers["spark.jobs_per_op"] > 0
    # both load the write path: dashboard_reads in the write phase that
    # ends its traced run
    assert layers["write_ops"] >= 1 and layers["write.parquet_ms"] > 0
    assert layers["http.wire_ms"] > 0 and layers["subscribe.pushes_per_write"] >= 1
    if workload == "dashboard_reads":
        assert layers["grpc.wire_ms"] > 0 and 0 < layers["engine.cache_hit_ratio"] < 1
        assert report["write_phase"]["acked_writes"]["value"] >= 1
