"""Tiny-size runs of every workload: all checks pass and every metric
that BENCHMARK.json names is reported."""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))

TINY = {
    "INGEST": {
        "sensors": 64,
        "ticks": 16,
        "read_sensors": 4,
        "warmup": 1,
        "compact_txns": 4,
    },
    "LOOKUP": {
        "commits": 3,
        "sensors": 64,
        "ticks": 32,
        "range_ticks": 8,
        "range_sensors": 4,
        "points": 3,
        "warmup": 1,
    },
}


@pytest.fixture
def tiny(monkeypatch):
    for name, sizes in TINY.items():
        monkeypatch.setattr(workloads, name, sizes)


@pytest.mark.parametrize("workload", ["ingest", "lookup"])
def test_workload_passes_its_checks(spark, tmp_path, tiny, workload):
    start = time.perf_counter()
    b = workloads.Bench(spark, str(tmp_path), seed=3, seconds=0, trace=False)
    shape = workloads.WORKLOADS[workload](b)
    assert b.failed == 0 and b.attempted > 0
    # the timed count is fixed up front, not by how fast the ops ran
    for kind in (shape["op"], shape["read"]):
        assert len(b.samples[kind]) == workloads.MIN_SAMPLES
    metrics = workloads.end_to_end(b, shape, process_start=start)
    assert sorted(metrics) == sorted(m["name"] for m in SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        value, unit, _notes = metrics[m["name"]]
        assert value > 0 and unit == m["unit"]
    assert metrics["setup_s"][0] > b.build_s > 0


def test_traced_run_reports_every_layer_metric(spark, tmp_path, tiny):
    b = workloads.Bench(spark, str(tmp_path), seed=4, seconds=0, trace=True)
    b.tracer.install()
    try:
        shape = workloads.lookup(b)
    finally:
        b.tracer.uninstall()
    assert b.failed == 0
    metrics = workloads.per_layer(b, shape)
    assert sorted(metrics) == sorted(m["name"] for m in SPEC["per_layer"])
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]][1] == m["unit"]
    assert metrics["transaction.files_per_commit"][0] > 0
    assert 0 < metrics["stats.txn_keep_ratio"][0] < 1
    assert metrics["spark.jobs_per_op"][0] >= 1
    # the traced run ends with a compaction, so its layers are timed
    assert metrics["database.compact_ms"][0] > 0


def test_run_fails_without_the_store_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "storebench")
    proc = subprocess.run(
        [sys.executable, "storebench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
