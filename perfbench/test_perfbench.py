"""The benchmark's own tests: every workload runs end to end at a tiny size,
traced and untraced, so that a broken workload fails fast.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import workloads
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "5", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_spec_matches_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == sorted(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(workloads.PER_LAYER)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in names)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "analytics_mix", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_inputs_follow_the_seed(tmp_path):
    def files(seed, name):
        d = tmp_path / name
        gen.write_tables(str(d), seed, 0.001)
        gen.write_ingest_files(str(d / "ingest"), seed, 2, 100, 50)
        return {p: (d / p).read_bytes() for p in sorted(os.listdir(d)) if p.endswith(".parquet")} | {
            p: (d / "ingest" / p).read_bytes() for p in sorted(os.listdir(d / "ingest"))}

    a, b, c = files(1, "a"), files(1, "b"), files(2, "c")
    assert a == b
    assert a != c
    assert gen.poll_requests(1, 20, 10, 3600, 5) == gen.poll_requests(1, 20, 10, 3600, 5)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer", op="x"):
        with tr.span("inner"):
            pass
    with tr.paused():
        with tr.span("untraced"):
            pass
    assert tr.enabled
    outer, inner = tr.spans
    assert inner.parent is outer and inner.op == "x"
    st = tr.self_times()
    assert st["outer"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start))
    assert Tracer(False).spans == [] and not list(Tracer(False).self_times())
