"""End-to-end smoke runs of every workload on a small star schema, and
the benchmark's failure when the engine is absent.  Slow: several
minutes in all, since each run starts its own Spark driver."""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, RUN, *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_is_correct_and_reports_every_layer(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "0",
             "--trace", "1", "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 3 * len(WORKLOADS[workload].queries)
    assert set(result["metrics"]) == set(metrics.PER_LAYER)
    for name, m in result["metrics"].items():
        assert m["unit"] == metrics.PER_LAYER[name][0]
        assert math.isfinite(m["value"]), name
    for name in metrics.END_TO_END:
        assert name in p.stdout  # the summary prints the end-to-end metrics too
    assert "failed_frac" in p.stdout
    assert "latency_tail_s" in p.stdout and "trace overhead per query" in p.stdout

    spans = [json.loads(line) for line in open(
        os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-s1.jsonl"))]
    by_id = {s["id"]: s for s in spans}
    parent_kind = {"setup": "run", "pass": "run", "execution": ("setup", "pass"),
                   "build": "execution", "action": "execution", "job": ("build", "action")}
    for s in spans:
        if s["kind"] == "run":
            assert s["parent"] is None
        else:
            assert by_id[s["parent"]]["kind"] in parent_kind[s["kind"]], s
    assert any(s["kind"] == "job" for s in spans)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "mr_wordcount", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_benchmark_json_declares_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert declared == metrics.END_TO_END
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert declared == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
