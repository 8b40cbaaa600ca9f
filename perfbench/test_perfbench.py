"""The benchmark's own test.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs each workload at tiny size (a few operations) through the command
line and pins the metric names and units, the seed argument and the
result line; the full-size runs are the benchmark itself.
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

import datagen  # noqa: E402
import metrics  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("# detail ")
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and isinstance(out["failed"], int)
    return out


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == ["registry", "ingest_search"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_inputs_follow_the_seed(tmp_path):
    a = datagen.event_rows(np.random.default_rng(7), 100)
    b = datagen.event_rows(np.random.default_rng(7), 100)
    c = datagen.event_rows(np.random.default_rng(8), 100)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["ts"], c["ts"])
    rows = datagen.generate(str(tmp_path), 0.001, 42)
    assert rows["lineitem"] == 6000 and set(rows) == set(datagen.TABLES)


def test_seed_is_required():
    proc = _run("--workload", "registry", "--seconds", "1")
    assert proc.returncode != 0 and "--seed" in proc.stderr


@pytest.mark.parametrize("workload,trace", [("registry", 0), ("ingest_search", 1)])
def test_tiny_run(workload, trace):
    out = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace), "--scale", "tiny"))
    assert out["correct"] is True
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_refuses_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "registry", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
