#!/usr/bin/env python
"""Full-registry cross-engine parity sweep under a HOSTILE vanilla session
(non-UTC timezone, default configs — the environment the driver harness
actually provides), at any scale factor. Produces the PARITY artifact the
round ledger cites: per-query {ok, problems, sec}.

Usage:
    python tools/parity_sweep.py [sf_dir] [out.json] [--only name[,name...]]
Defaults: sf_dir=/root/testdata/sf0.1, out=PARITY_SF0.1.json (next to the
repo root). Exit 1 iff any query fails. ``--only`` sweeps just the named
queries (unknown names are an error) — the cheap re-check for the queries
a commit touches; give such a run its own out.json, since the default is the
full sweep's artifact.

This is the 10x-scale complement to the driver's sf0.01 CORRECTNESS gate:
bit-exactness that holds at two scale factors is scale-invariant, not
fixture luck. Queries registered with oracle=None run rows-only (counted,
marked "rows_only") — mirroring the driver's weaker path.

Vacuous-green guard (VERDICT r10 #1): every row records ``n_rows``, and an
ok-with-0-rows result is recorded as ``ok_but_empty`` and COUNTS AS A
FAILURE unless the query is on ``registry.MAY_BE_EMPTY`` — a hash match
over the empty set proves nothing, and without this flag a plan edit that
silently empties a query would stay green forever.

PROCESS timezone (r12): the --time fixture (temporal extremes) must sweep
under a FIXED-OFFSET hostile zone, e.g. ``TZ=Etc/GMT-14`` — still non-UTC,
but with no LMT or DST rules. The py4j/pandas collection round-trip
converts instants through the JVM-default (process) zone, and outside
modern eras the JVM and pandas disagree on real zones for reasons that are
tzdata plumbing, not engine math: pytz rounds pre-standard-time LMT to
whole minutes (Asia/Kathmandu 1677 -> a +16 s shift on every collected
value) and pandas projects America/New_York as EST beyond tzdata's 2262
horizon while the JVM projects EDT (a +1 h shift). Engine-side correctness
at those eras is pinned TZ-independently in tests (CAST AS STRING). The
five modern-era fixture classes keep sweeping under real hostile zones.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

from kinesis_demo_spark.session import default_driver_memory  # noqa: E402


def main() -> int:
    only = None
    if "--only" in sys.argv:
        i = sys.argv.index("--only")
        only = sys.argv[i + 1]
        del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "PARITY_SF0.1.json")
    # hostile session: non-UTC, no engine SQL configs — what the driver gives
    # us. Cores and heap are deployment knobs, not semantics configs, so they
    # fit the host: the default 1g driver heap OOMs ~2/3 through a 200-query
    # sf0.1 sweep in one JVM, and a fixed 32g outgrows a small host's RAM.
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from oracle_harness import compare_counted, duckdb_conn  # noqa: E402

    import __spark_entry__ as entry  # noqa: E402
    from kinesis_demo_spark.io import release_persisted  # noqa: E402
    from kinesis_demo_spark.registry import may_be_empty_at  # noqa: E402

    from tools.plan_audit import select_queries  # noqa: E402

    qs, osql = select_queries(entry.queries(), only), entry.oracle_sql()
    con = duckdb_conn(sf_dir)
    report: dict[str, dict] = {}
    n_bad = n_empty_bad = 0
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            sql = osql.get(name)
            if sql:
                problems, n_rows = compare_counted(fn(spark, sf_dir), con, sql, name)
                ok = not problems
                report[name] = {
                    "ok": ok,
                    "problems": problems or None,
                    "n_rows": n_rows,
                    "sec": round(time.monotonic() - t0, 1),
                }
            else:
                n_rows = fn(spark, sf_dir).count()
                report[name] = {
                    "ok": n_rows >= 0,
                    "problems": None,
                    "rows_only": True,
                    "n_rows": n_rows,
                    "sec": round(time.monotonic() - t0, 1),
                }
                ok = True
            # vacuous-green guard: agreement over the empty set is not
            # evidence — fail unless the emptiness is declared legitimate
            if ok and n_rows == 0:
                report[name]["ok_but_empty"] = True
                if not may_be_empty_at(name, sf_dir):
                    ok = False
                    report[name]["ok"] = False
                    report[name]["problems"] = [
                        "ok_but_empty: 0-row hash match and the query is not "
                        "declared may-be-empty for this fixture "
                        "(registry.MAY_BE_EMPTY)"
                    ]
                    n_empty_bad += 1
        except Exception as exc:  # noqa: BLE001 — the sweep must cover the rest
            ok = False
            report[name] = {
                "ok": False,
                "problems": [f"{type(exc).__name__}: {exc}"],
                "sec": round(time.monotonic() - t0, 1),
            }
        release_persisted()  # no query's memory outlives it (bench.py discipline)
        if not ok:
            n_bad += 1
        print(("ok   " if ok else "FAIL ") + name, file=sys.stderr, flush=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"n": len(report), "failed": n_bad,
                      "ok_but_empty_undeclared": n_empty_bad, "sf_dir": sf_dir}))
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
