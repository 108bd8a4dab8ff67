"""Tiny-size end-to-end runs of every workload through the command line.

Each run starts its own Spark session, so this file takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import layers
from perfbench.run import END_TO_END

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["ingest", "maintain"])
def test_tiny_run_is_correct_and_reports_every_metric(workload):
    p = _run(REPO, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tiny_traced_run_reports_every_layer():
    p = _run(REPO, "--workload", "ingest", "--seed", "3", "--seconds", "1",
             "--trace", "1", "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True
    assert {k: v["unit"] for k, v in out["metrics"].items()} == layers.PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["streaming.ingest_batch.jobs"] > 0
    assert m["table.writer.stage_dataframe.files"] > 0
    assert m["maintenance.optimize.jobs"] == 0  # ingest never reaches maintenance


def test_fails_without_printing_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "--workload", "ingest", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
