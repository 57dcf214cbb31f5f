"""Serving fast paths: the fused one-job poll must answer EXACTLY what the
original two-action composition (range_scan page + poll_sum total) answers,
and the request-coalesced batch poll EXACTLY what the fused poll answers per
request — the 64-client throughput work (VERDICT r7 #6) is only admissible
if the fast paths are value-identical. Also pins the serving_table
clustering invariants the cache-pruning relies on."""

from __future__ import annotations

import datetime
import gc
import time

import pytest
from pyspark.sql import functions as F

from kinesis_demo_spark.io import load_table
from kinesis_demo_spark.plans.movements import movement_aggregates
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
        # the poll plans in the table's serving session, which takes the
        # caller's confs at the table's first poll
        assert df.sparkSession.conf.get("spark.sql.adaptive.enabled") == str(
            adaptive
        ).lower()
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


def _composed_page(agg, user_id, after, upto, limit=10):
    """The poll's rows from the two actions it fuses (``range_scan`` page,
    ``poll_sum`` total), planned in the caller's own session."""
    page = range_scan(
        agg, user_id, after=after, upto=upto, descending=True, limit=limit
    ).collect()
    total = poll_sum(agg, user_id, after=after).collect()[0][0]
    return [(r.user_id, r.window_start, r.cnt, total) for r in page]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_polls_compile_nothing(spark):
    """Polls with new users and cursors run no Java compile: the request
    values are parameters, not literals in generated code, and the serving
    session runs its operators interpreted. The caller's session keeps
    whole-stage codegen."""
    agg = _agg(spark)
    probes = _probe_mix(agg, 21)
    _, user, after, upto = probes[0]
    poll_page_with_total(agg, user, str(after), str(upto)).collect()
    before = _compiles(spark)
    pages = [
        poll_page_with_total(agg, user, str(after), str(upto)).collect()
        for _, user, after, upto in probes[1:]
    ]
    assert _compiles(spark) == before
    assert len({(u, a) for _, u, a, _ in probes[1:]}) == 20
    assert sum(1 for p in pages if p) >= 10, "probe mix mostly empty — vacuous"
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    agg.unpersist()


def test_two_serving_tables_answer_from_their_own_rows(spark):
    events = load_table(spark, SF, "events")
    full = serving_table(events).cache()
    probes = _probe_mix(full, 8)
    users = sorted({u for _, u, _, _ in probes})
    rest = serving_table(events.filter(~F.col("user_id").isin(users))).cache()
    try:
        n_nonempty = 0
        for _, user, after, upto in probes:
            want = _composed_page(full, user, str(after), str(upto))
            assert poll_page_with_total(full, user, str(after), str(upto)).collect() == want
            assert poll_page_with_total(rest, user, str(after), str(upto)).collect() == []
            n_nonempty += bool(want)
        assert n_nonempty >= len(probes) // 2, "probe mix mostly empty — vacuous"
    finally:
        full.unpersist()
        rest.unpersist()


def test_poll_under_non_utc_time_zone_matches_composition(spark):
    """The cursor strings cast to timestamps in the session time zone; the
    serving session takes the caller's zone, so the poll answers what the
    DataFrame composition answers in the caller's session."""
    events = load_table(spark, SF, "events")  # sets the session to UTC
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    agg = serving_table(events).cache()
    try:
        probes = _probe_mix(agg, 8)
        n_nonempty = 0
        for _, user, after, upto in probes:
            df = poll_page_with_total(agg, user, str(after), str(upto))
            assert df.sparkSession.conf.get("spark.sql.session.timeZone") == (
                "America/New_York"
            )
            got = df.collect()
            assert got == _composed_page(agg, user, str(after), str(upto))
            n_nonempty += bool(got)
        assert n_nonempty >= len(probes) // 2, "probe mix mostly empty — vacuous"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        agg.unpersist()


def _global_views(spark) -> set:
    db = spark.conf.get("spark.sql.globalTempDatabase")
    return {t.name for t in spark.catalog.listTables(db)}


def test_one_off_poll_leaves_no_global_view(spark):
    """A poll over a DataFrame made for that poll alone (the registered
    ``serving_poll_page_fused`` makes one per call) registers a global temp
    view for its serving session; it is dropped once that DataFrame is
    garbage."""
    before = _global_views(spark)
    agg = movement_aggregates(load_table(spark, SF, "events"))
    user, after = agg.select("user_id", "window_start").first()
    after -= datetime.timedelta(seconds=1)
    page = poll_page_with_total(
        agg, user, str(after), str(after + datetime.timedelta(hours=1))
    ).collect()
    assert page, "poll matched nothing — vacuous"
    assert len(_global_views(spark) - before) == 1
    del agg
    gc.collect()
    deadline = time.monotonic() + 30
    while _global_views(spark) - before and time.monotonic() < deadline:
        time.sleep(0.1)
    assert _global_views(spark) - before == set()
