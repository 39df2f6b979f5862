"""Smoke tests of the benchmark itself, at minimal size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced with ``--smoke``
(small batches, one set-up build). The tests check the output contract:
the last stdout line is the result object, every metric named in
``BENCHMARK.json`` is emitted with its unit, the correctness checks
pass, and the traced run writes parsable spans. They also check that
the benchmark fails without a result when the package is absent.
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
RUN = os.path.join(HERE, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, script: str = RUN):
    cmd = [
        sys.executable, script, "--workload", workload, "--seed", "7",
        "--seconds", "4", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_emits_end_to_end_metrics(workload):
    res = _result(_run(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_layers_and_spans(workload):
    proc = _run(workload, 1)
    res = _result(proc)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["cdc.log.calls"]["value"] >= 1
    assert res["metrics"]["trace.coverage_min"]["value"] >= 0.9

    info = next(
        json.loads(line[len("# info "):])
        for line in proc.stdout.splitlines()
        if line.startswith("# info ")
    )
    with open(os.path.join(ROOT, info["trace_file"])) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    for s in spans:
        assert {"run", "name", "parent", "start", "end"} <= set(s)
        assert s["end"] >= s["start"]
    ids = {s["id"] for s in spans if "id" in s}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)


def test_fails_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("cdc_fanout", 0, cwd=str(tmp_path), script=str(bench / "run.py"))
    assert proc.returncode != 0
    lines = proc.stdout.strip().splitlines()
    assert not lines or not lines[-1].startswith("{")
