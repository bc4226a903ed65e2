"""Smoke runs of the benchmark at its small size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload (the two in ``BENCHMARK.json`` and ``report_serving``) runs
end to end through ``run.py --size smoke`` and must pass all of its output
checks and print every metric ``BENCHMARK.json`` names.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_passes_its_checks(workload):
    proc = _run(ROOT, workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, proc.stdout
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]


def test_traced_run_reports_every_layer_metric():
    proc = _run(ROOT, "report_serving", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"], proc.stdout
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert res["metrics"]["report.exec_s"]["value"] > 0


def test_benchmark_lists_harness_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "cron_ingest", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_generator_is_deterministic(tmp_path):
    for run in ("a", "b"):
        logs = gen.LogStream(5, str(tmp_path / run / "logs"), 120, 60)
        counts = [logs.next_cycle() for _ in range(3)]
        gen.write_corpus(5, str(tmp_path / run / "corpus"), 80, 40)
        gen.ReportDims.generate(5, 8).write(str(tmp_path / run / "dims"))
        if run == "a":
            first = counts
    assert counts == first
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    for sub in ("logs", "corpus", "dims"):
        names = os.listdir(tmp_path / "a" / sub)
        match, mismatch, errors = filecmp.cmpfiles(
            tmp_path / "a" / sub, tmp_path / "b" / sub, names, shallow=False)
        assert not mismatch and not errors and len(match) == len(names)
    assert not cmp.left_only and not cmp.right_only
