#!/usr/bin/env python
"""Plan-shape audit across the ENTIRE query registry.

For every registered query this records, from the optimized physical plan,
the properties the 100 TB story depends on:

- ``shuffles``        — shuffle Exchange count (BroadcastExchange excluded)
- ``broadcasts``      — broadcast-exchange count (dim-side joins)
- ``sort_merge_joins`` / ``broadcast_hash_joins`` / ``bnl_joins``
- ``cartesian``       — CartesianProduct present (must be 0 everywhere)
- ``pushed_filters``  — parquet scans with a non-empty PushedFilters list
- ``python_stages``   — Arrow/pandas boundary operators
  (FlatMapGroupsInPandas / MapInPandas / ArrowEvalPython / MapInArrow /
  FlatMapGroupsInPandasWithState)
- ``take_ordered``    — TakeOrderedAndProject present (top-k done right)
- ``global_sort``     — a rangepartitioning Exchange (the top-k smell when
  paired with a later limit)

Two identity fields gate behaviour-neutral refactors: ``fingerprint``
(sha256 of the optimized LOGICAL plan, per-session ids and the
higher-order-function lambda counters normalised) and
``build_jobs`` (the session-global ids of the jobs fired while building the
DataFrame — two audits in the same order agree iff every query fires the
same jobs), with their count in ``n_build_jobs``: once one query fires
fewer jobs, every later query's ids shift, so only the counts compare
across such a change. Three fingerprints can change between sessions with
no change to the query: Spark numbers a multi-DISTINCT aggregate's groups
in hash order (``profile_events_columns``, ``tpch_q21_waiting_suppliers``),
and ``prf_query_expansion`` embeds the AQE plan of a cached index built by
an earlier query.

PLANS.json is a 32-core record: ``repartition(defaultParallelism)`` and the
core-derived shuffle-partition count are part of the optimized plan, so an
audit compared with it runs with ``SPARK_GRAFT_CPUS=32`` whatever the host
(at 4 cores 117 fingerprints differ from the record).
``tests/test_plans.py::test_every_plan_matches_the_plans_record`` runs the
whole registry that way at sf0.001 and compares every ``fingerprint`` (bar
the three above) and every ``n_build_jobs`` with the record.

Output: one summary JSON line to stdout plus the most-shuffling queries
to stderr; ``--json PATH`` writes the full map to a sidecar (PLANS.json) so
plan-shape regressions show up in review diffs. ``--only name[,name...]``
audits just the named queries (unknown names are an error) — the quick
re-check for the queries a commit touches. Compare such a run with an
``--only`` run of the same names: job ids shift with the queries before, and
a query that reuses work memoised by an earlier one (``bpe_train_merges``)
fires more jobs alone.

Streaming-drain queries (they EXECUTE on construction) are audited on their
batch-equivalent plans where construction is side-effect-free; the
drain-to-memory queries are skipped with a note — their plan properties are
pinned by tests/test_streaming*.py instead. Iterative queries run jobs
while building and are audited; ``build_jobs`` records them. Tracked
persists and checkpoints are released after each query.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_demo_spark.io import release_persisted
from kinesis_demo_spark.registry import all_queries
from kinesis_demo_spark.session import get_spark

# Queries whose construction DRAINS a stream (memory-sink differentials):
# building the DataFrame runs the job, so plan audit would re-execute them;
# their stateful plan shapes are asserted in the streaming test suite.
STREAM_DRAINS = {
    "streaming_window_counts",
    "streaming_interval_join",
    "streaming_static_enrich",
    "streaming_dedup_events",
    "streaming_hopping_counts",
    "sessionize_stateful_streaming",
    "streaming_outer_interval_join",
    "python_datasource_stream_events",
    # driver-side eigensolve consumes collected moments on construction
    "pca_embedding_components",
}

PY_STAGES = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "MapInArrow",
    "FlatMapGroupsInPandasWithState",
    "BatchEvalPython",  # row-at-a-time Python — must never appear
)


def _plan(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _count_nodes(plan: str, token: str, exclude: tuple = ()) -> int:
    """Count PHYSICAL operators, not textual mentions: ``explain`` reprints
    a cached relation's child plan at EVERY reference (InMemoryRelation
    bodies carry the same ``plan_id`` each time they appear), so a shared
    cached stage used by three consumers showed 3x its real exchanges in
    the r2-r9 audits — the inflated 36-40-shuffle "depths" VERDICT r9 #5
    flagged were largely this repetition. Lines carrying a plan_id are
    deduped on (token, plan_id); ReusedExchange markers are skipped (the
    exchange they point at is already counted at its definition); lines
    without a plan_id fall back to per-occurrence counting."""
    seen: set = set()
    n = 0
    for line in plan.splitlines():
        if token not in line or any(x in line for x in exclude):
            continue
        if "ReusedExchange" in line and token != "ReusedExchange":
            continue
        m = re.search(r"plan_id=(\d+)", line)
        if m:
            key = (token, m.group(1))
            if key in seen:
                continue
            seen.add(key)
        n += 1
    return n


_SESSION_IDS = (
    (r"#\d+", "#"),
    (r"plan_id=\d+", "plan_id="),
    (r"QueryStage \d+", "QueryStage"),
    (r"uuid\(Some\(-?\d+\)\)", "uuid(Some())"),
    (r"lambda (\w+?)_\d+", r"lambda \1_"),
)


def fingerprint(df) -> str:
    """sha256 of the optimized logical plan; expression, exchange and AQE
    stage ids and ``uuid()`` seeds are normalised (they vary per session),
    and so are lambda variable names: PySpark numbers each ``x_<n>`` from a
    JVM-wide counter, so they depend on how many lambdas were built
    before."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _SESSION_IDS:
        plan = re.sub(pattern, repl, plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def build(spark, fn, sf_dir: str, name: str):
    """Build one query's DataFrame under its own job group; returns the
    DataFrame and the sorted ids of the jobs the build fired."""
    sc = spark.sparkContext
    group = f"plan-audit:{name}"
    sc.setJobGroup(group, name)
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, sorted(sc.statusTracker().getJobIdsForGroup(group))


def audit_one(df) -> dict:
    simple = _plan(df, "simple")
    formatted = _plan(df, "formatted")
    pushed = len(
        [m for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted) if m.group(1).strip()]
    )
    return {
        "shuffles": _count_nodes(simple, "Exchange", exclude=("BroadcastExchange",)),
        "broadcasts": _count_nodes(simple, "BroadcastExchange"),
        "sort_merge_joins": _count_nodes(simple, "SortMergeJoin"),
        "broadcast_hash_joins": _count_nodes(simple, "BroadcastHashJoin"),
        "bnl_joins": _count_nodes(simple, "BroadcastNestedLoopJoin"),
        "cartesian": _count_nodes(simple, "CartesianProduct"),
        "pushed_filters": pushed,
        "python_stages": sum(_count_nodes(simple, p) for p in PY_STAGES),
        "row_python": _count_nodes(simple, "BatchEvalPython"),
        "take_ordered": int("TakeOrderedAndProject" in simple),
        "global_sort": _count_nodes(simple, "rangepartitioning"),
    }


def select_queries(queries: dict, only: str | None) -> dict:
    """The registry subset named by a comma-separated ``--only`` value (all
    queries when it is None); an unknown name raises."""
    if only is None:
        return queries
    names = [n.strip() for n in only.split(",") if n.strip()]
    unknown = sorted(set(names) - set(queries))
    if unknown:
        raise SystemExit(f"--only: unknown queries {', '.join(unknown)}")
    return {n: queries[n] for n in names}


def main() -> None:
    ap = argparse.ArgumentParser(description="plan-shape audit of the query registry")
    ap.add_argument("--json", dest="out_path", help="write the full report here")
    ap.add_argument("--only", help="comma-separated query names to audit")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    queries = select_queries(all_queries(), args.only)
    spark = get_spark("kinesis-demo-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    for name, fn in sorted(queries.items()):
        if name in STREAM_DRAINS:
            report[name] = {"skipped": "stream-drain; plan pinned in streaming tests"}
            continue
        try:
            df, jobs = build(spark, fn, sf_dir, name)
            report[name] = {
                **audit_one(df),
                "fingerprint": fingerprint(df),
                "build_jobs": jobs,
                "n_build_jobs": len(jobs),
            }
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            report[name] = {"error": f"{type(exc).__name__}: {exc}"}
        finally:
            release_persisted()  # checkpointed blocks must not pile up

    audited = {k: v for k, v in report.items() if "shuffles" in v}
    worst = sorted(audited.items(), key=lambda kv: -kv[1]["shuffles"])[:10]
    print("most-shuffling queries:", file=sys.stderr)
    for name, r in worst:
        print(f"  {name}: {r['shuffles']} shuffles, {r['broadcasts']} broadcasts", file=sys.stderr)
    n_cart = sum(v.get("cartesian", 0) for v in audited.values())
    n_rowpy = sum(v.get("row_python", 0) for v in audited.values())
    print(f"cartesian products: {n_cart}  row-python stages: {n_rowpy}", file=sys.stderr)

    if args.out_path:
        with open(args.out_path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"audited": len(audited), "skipped": len(report) - len(audited),
                      "cartesian_products": n_cart, "row_python_stages": n_rowpy}))


if __name__ == "__main__":
    main()
