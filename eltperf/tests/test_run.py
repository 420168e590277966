"""End-to-end tests of the benchmark runner (they start Spark; minutes).

    python -m pytest eltperf/tests/test_run.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from run import _alive  # noqa: E402


def _bench(cwd: str, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "eltperf/run.py", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def _result(stdout: str):
    try:
        return json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def test_benchmark_json_lists_the_per_layer_metrics():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.METRICS


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "eltperf", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "--workload", "clone_prune", "--seed", "1", "--seconds", "1", "--trace", "0",
               timeout=180)
    assert p.returncode != 0
    assert _result(p.stdout) is None


def _processes_mentioning(text: str) -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if text.encode() in f.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_traced_run_is_correct_complete_and_leaves_nothing_behind():
    before = set(os.listdir(ROOT))
    p = _bench(ROOT, "--workload", "clone_prune", "--seed", "5", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-2000:]
    result = _result(p.stdout)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert sorted(result["metrics"]) == sorted(name for name, _, _ in layers.METRICS)
    details = json.load(open(os.path.join(ROOT, ".eltperf", "runs", "clone_prune-seed5-trace1.json")))
    assert details["stopped_pids"][0] == details["host"]["jvm_pid"]
    assert not any(_alive(pid) for pid in details["stopped_pids"])
    assert not _processes_mentioning(details["work"])
    assert not os.path.exists(details["work"])
    assert set(os.listdir(ROOT)) - before <= {".eltperf"}
    # every span closed inside the run, children inside their parents
    spans = details["spans"]
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
