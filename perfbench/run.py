#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace
0``, the per-layer ones with ``--trace 1``). ``--smoke`` runs the workload
at a tiny size, for the benchmark's own tests.

The workload's inputs are generated from the seed here, before the
workload process starts, so generation is neither timed nor part of its
memory.

End-to-end metrics, the same names on every workload:

- ``setup_s``: median of three set-ups, each a session start plus the
  first materialisation (resolving every table; the serving-table persist).
  Only the first set-up launches the JVM; the median is a SparkContext
  restart in a running JVM;
- ``mem_mb``: how far the driver's Python RSS rose over the measured
  region plus the JVM heap the engine still holds after full collections
  at its end;
- ``op_ms_p50``, ``op_ms_p90``: one user-facing operation, i.e. one query
  run (analytics_mix) or one poll timed from when it was due
  (serve_and_drain);
- ``batch_ms_p50``: one unit of bulk work, i.e. a pass over the query mix
  (the sum of per-query medians) or one ingest micro-batch.

Raising operations count in ``failed``; failed output checks make
``correct`` false. Neither stops the run.

Resources are pinned here, from outside the program: all of this host's
cores, a driver heap well below physical memory, the UTC time zone, and
Spark's local and scratch directories inside a work directory that is
cleared before each run. The workload runs in its own process group, which
is killed and reaped when it ends, so no JVM outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics_mix", "serve_and_drain")
TIME_LIMIT_S = 170


def pinned_env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "TZ")}
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(phys_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of the workload's process group and wait until
    it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kinesis_demo_spark", "__init__.py")):
        print(f"no kinesis_demo_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen.write_inputs(args.workload, work, args.seed, args.smoke)

    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(work), stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    # a terminated runner still reaps the workload's group on its way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out, _ = proc.communicate(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        _reap_group(proc.pid)
        proc.communicate()
        print(f"{args.workload} did not finish within {TIME_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        _reap_group(proc.pid)

    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        print(f"{args.workload} exited with {proc.returncode} and no result", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
