"""End-to-end checks of the benchmark runner."""

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: traced layers must account for an op's wall time within this share
RECONCILE_TOLERANCE = 0.25


def test_exits_2_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "freeze_online",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def traced_freeze():
    """One traced freeze_online run (one set of two calls)."""
    from perfbench import run

    args = argparse.Namespace(workload="freeze_online", seed=3, seconds=0, trace=1)
    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    try:
        yield run.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_traced_layers_reconcile_with_op_wall(traced_freeze):
    per_op = traced_freeze["trace"]["per_op"]
    assert len(per_op) == 2
    for row in per_op:
        assert row["ok"]
        accounted = row["api.construct_ms"] + row["spark.job_span_ms"]
        assert accounted <= row["wall_ms"] * 1.01
        assert row["driver.unattributed_ms"] <= RECONCILE_TOLERANCE * row["wall_ms"]


def test_traced_run_reports_every_layer(traced_freeze):
    from perfbench import run

    layers = traced_freeze["layers"]
    assert set(run.PER_LAYER) <= set(layers)
    assert layers["sources.posts"] == 3010
    assert layers["io.files"] == 30
    assert layers["spark.jobs"] > 0 and layers["spark.tasks"] > 0
    assert layers["api.construct_ms"] == 0  # freeze builds and runs in one call
    line = run.report(traced_freeze, trace=True)
    json.dumps(line)
    assert line["correct"] and line["failed"] == 0


def test_tracer_uninstall_restores_entry_points(traced_freeze):
    from cryo_spark import io, readcache

    assert io.write_chunked.__module__ == "cryo_spark.io"
    assert readcache.read_parquet_cached.__module__ == "cryo_spark.readcache"
