"""tools/bench_compare.py on synthetic bench.py detail documents: the exit
gate reads kernel-normalised ratios, a min-only flag whose median clears is
burst noise, and a document it cannot normalise is refused by name."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "bench_compare.py"
)


def _detail(queries, medians=None, kernel=1.0, drop=None, cpus=4):
    doc = {
        "metric": "headline_detail",
        "cpus": cpus,
        "queries": queries,
        "queries_median": dict(queries) if medians is None else medians,
        "host_control": {"rows": 1 << 29, "runs": [kernel], "min": kernel, "median": kernel},
    }
    if drop:
        del doc[drop]
    return doc


def _compare(tmp_path, old, new, new_text=None):
    paths = []
    for name, doc in (("old.json", old), ("new.json", new)):
        path = tmp_path / name
        path.write_text(json.dumps(doc, indent=1))
        paths.append(str(path))
    if new_text is not None:
        (tmp_path / "new.json").write_text(new_text)
    return subprocess.run(
        [sys.executable, TOOL, *paths], capture_output=True, text=True, timeout=60
    )


def test_within_threshold_exits_zero(tmp_path):
    res = _compare(tmp_path, _detail({"a": 1.0, "b": 2.0}), _detail({"a": 1.2, "b": 1.9}))
    assert res.returncode == 0, res.stdout + res.stderr
    assert "regressions: none" in res.stdout


def test_kernel_normalised_regression_exits_one(tmp_path):
    # raw 1.1x, but the host kernel ran 2x faster: normalised 2.2x
    res = _compare(
        tmp_path, _detail({"a": 1.0}, kernel=1.0), _detail({"a": 1.1}, kernel=0.5)
    )
    assert res.returncode == 1, res.stdout + res.stderr
    assert "host control factor: 0.50x" in res.stdout
    assert "| a | 1.00 | 1.10 | 1.10x | 2.20x | REGRESSED |" in res.stdout


def test_min_flag_with_clear_median_is_burst_noise(tmp_path):
    res = _compare(
        tmp_path,
        _detail({"a": 1.0}, medians={"a": 1.0}),
        _detail({"a": 2.0}, medians={"a": 1.1}),
    )
    assert res.returncode == 0, res.stdout + res.stderr
    assert "burst-noise (median 1.10x)" in res.stdout
    assert "burst-noise dispositions: ['a']" in res.stdout


def test_reads_captured_bench_stdout(tmp_path):
    summary = {"metric": "headline_total", "value": 2.0, "detail": "BENCH_local_detail_c4.json"}
    stdout = json.dumps(_detail({"a": 2.0})) + "\n" + json.dumps(summary) + "\n"
    res = _compare(tmp_path, _detail({"a": 1.0}), None, new_text=stdout)
    assert res.returncode == 1, res.stdout + res.stderr
    assert "| a | 1.00 | 2.00 | 2.00x | 2.00x | REGRESSED |" in res.stdout


def test_document_without_host_control_or_queries_is_refused(tmp_path):
    for drop in ("host_control", "queries"):
        res = _compare(tmp_path, _detail({"a": 1.0}), _detail({"a": 1.0}, drop=drop))
        assert res.returncode != 0
        assert f"new.json: no '{drop}'" in res.stderr


def test_runs_at_two_core_counts_are_refused(tmp_path):
    res = _compare(tmp_path, _detail({"a": 1.0}, cpus=32), _detail({"a": 1.0}, cpus=4))
    assert res.returncode != 0
    assert "ran at 32 cpus" in res.stderr and "new.json at 4" in res.stderr
