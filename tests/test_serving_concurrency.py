"""Serving fast paths: the fused one-job poll must answer EXACTLY what the
original two-action composition (range_scan page + poll_sum total) answers,
and the request-coalesced batch poll EXACTLY what the fused poll answers per
request — the 64-client throughput work (VERDICT r7 #6) is only admissible
if the fast paths are value-identical. Also pins the serving_table
clustering invariants the cache-pruning relies on."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kinesis_demo_spark.io import load_table
from kinesis_demo_spark.plans.serving import (
    poll_many_collected,
    poll_page_with_total,
    poll_sum,
    range_scan,
    serving_table,
)

SF = "/root/testdata/sf0.001"


def _agg(spark):
    return serving_table(load_table(spark, SF, "events")).cache()


def _probe_mix(agg, k: int):
    bounds = agg.agg(
        F.min("window_start").alias("t0"),
        F.max("window_start").alias("t1"),
        F.max("user_id").alias("mu"),
    ).collect()[0]
    span = (bounds.t1 - bounds.t0).total_seconds()
    probes = []
    for i in range(k):
        after = bounds.t0 + datetime.timedelta(seconds=(i * span / (k + 1)))
        upto = after + datetime.timedelta(seconds=max(span / 4, 1))
        probes.append((i, i % (bounds.mu + 1), after, upto))
    return probes


def test_fused_poll_matches_two_action_composition(spark):
    agg = _agg(spark)
    for _, user, after, upto in _probe_mix(agg, 8):
        fused = poll_page_with_total(
            agg, user, str(after), str(upto), limit=10
        ).collect()
        page = range_scan(
            agg, user, after=str(after), upto=str(upto), descending=True, limit=10
        ).collect()
        total = poll_sum(agg, user, after=str(after)).collect()[0][0]
        assert [(r.user_id, r.window_start, r.cnt) for r in fused] == [
            (r.user_id, r.window_start, r.cnt) for r in page
        ]
        if fused:
            assert all(r.total_events == total for r in fused)
        else:
            # empty page => either no matched windows at all (total NULL) or
            # all matched windows are past upto; nothing to cross-check
            pass
    agg.unpersist()


def test_serving_table_is_clustered_for_batch_pruning(spark):
    """The materialization contract the cache pruning rides on: rows within
    each partition are sorted by (user_id, window_start), and each user's
    rows land in exactly one partition (range partitioning on user_id
    alone) — so per-batch min/max stats make a single-user poll skip every
    other batch."""
    agg = serving_table(load_table(spark, SF, "events"), partitions=4)
    parts = agg.select(
        F.spark_partition_id().alias("pid"), "user_id", "window_start"
    ).collect()
    by_pid: dict[int, list] = {}
    for r in parts:
        by_pid.setdefault(r.pid, []).append((r.user_id, r.window_start))
    assert len(by_pid) > 1  # range partitioning actually split
    for pid, rows in by_pid.items():
        assert rows == sorted(rows), f"partition {pid} not sorted"
    user_to_pids: dict[int, set] = {}
    for r in parts:
        user_to_pids.setdefault(r.user_id, set()).add(r.pid)
    # range partitioning on user_id alone: a boundary never splits a user
    split_users = [u for u, p in user_to_pids.items() if len(p) > 1]
    assert not split_users, f"users in more than one partition: {split_users}"


def _poll_plan_chain(spark, adaptive: bool) -> list[str]:
    """Node names of an executed poll plan from its root down its single
    child chain to the first leaf or branch, with AQE set to ``adaptive``
    while the poll plans and runs."""
    agg = _agg(spark)
    user, after = agg.select("user_id", "window_start").first()
    after -= datetime.timedelta(seconds=1)
    upto = after + datetime.timedelta(hours=1)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", str(adaptive).lower())
    try:
        df = poll_page_with_total(agg, user, str(after), str(upto))
        assert df.collect(), "poll matched nothing — vacuous"
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.finalPhysicalPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        agg.unpersist()
    names, node = [plan.nodeName()], plan
    while node.children().size() == 1:
        node = node.children().apply(0)
        names.append(node.nodeName())
    return names


@pytest.mark.parametrize("adaptive", [False, True], ids=["aqe_off", "aqe_on"])
def test_poll_over_serving_table_plans_no_exchange(spark, adaptive):
    """The cached scan's range partitioning on user_id satisfies the
    running-total window, so a poll is one stage with no shuffle — under
    the serving profile (AQE off) and under the default session (AQE on)."""
    names = _poll_plan_chain(spark, adaptive)
    assert names[-1] in ("InMemoryTableScan", "TableCacheQueryStage"), names
    assert "Window" in names
    assert not [n for n in names if "Exchange" in n or "ShuffleQueryStage" in n], names


def test_poll_many_collected_matches_per_request_fused_plan(spark):
    """The r9 single-stage serving path (pushed IN-filter scan +
    coordinator assembly) must return per-request rows IDENTICAL to one
    poll_page_with_total per request — same pages, same order, same running
    totals — on a probe mix that actually matches data."""
    agg = _agg(spark)
    probes = _probe_mix(agg, 12)
    want = {
        pid: [
            (r.user_id, r.window_start, r.cnt, r.total_events)
            for r in poll_page_with_total(
                agg, user, str(after), str(upto), limit=10
            ).collect()
        ]
        for pid, user, after, upto in probes
    }
    got = poll_many_collected(agg, probes, limit=10)
    assert set(got) == set(want)
    n_nonempty = sum(1 for v in want.values() if v)
    assert n_nonempty >= len(probes) // 2, "probe mix mostly empty — vacuous"
    for pid in want:
        assert [
            (d["user_id"], d["window_start"], d["cnt"], d["total_events"])
            for d in got[pid]
        ] == want[pid], f"poll {pid} diverged"
    agg.unpersist()
