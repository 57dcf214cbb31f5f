"""Serving-layer queries over the movement-aggregate table: the reference's
REST API ``GET /v1/users/{user_id}/movements/{timestamp}?reverse&count&limit``
(functions.js:14-15,156,312,351) decomposed into its relational operators
(SURVEY.md §2.2):

- Q1 keyed equi-filter (one user)
- Q2 sort-key range scan (window_start > cursor / <= now)
- Q3 order toggle (asc/desc)
- Q4 projection switch (counts vs raw movs)
- Q5 limit / top-k by recency
- Q6 incremental cursor resume
- A3 scalar sum over the scan result (functions.js:171-175)

All of these compile to a single Parquet scan with pushed filters + pruned
columns + TakeOrderedAndProject — exactly the physical shape a 100 TB serving
table wants (partition pruning on a date-partitioned lake comes free from the
same predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .movements import movement_aggregates

# Fixed parameters for the oracle-checked instantiations (the API is
# parameterized; the correctness harness needs deterministic literals).
DEFAULT_USER = 7
CURSOR = "2024-01-16 00:00:00"  # mid-range of the fixture's Jan-2024 event time
NOW = "2024-02-01 00:00:00"  # "query time" pinned after all fixture data


def range_scan(
    agg: DataFrame,
    user_id: int,
    after: str | None = None,
    upto: str | None = None,
    descending: bool = False,
    limit: int | None = None,
    project_movs: bool = False,
) -> DataFrame:
    """The full serving API: Q1+Q2+Q3+Q4+Q5 composed.

    ``after`` is the exclusive forward cursor (functions.js:156,168),
    ``upto`` the inclusive reverse bound (functions.js:309-312,349-351).
    """
    out = agg.filter(F.col("user_id") == F.lit(user_id))
    if after is not None:
        out = out.filter(F.col("window_start") > F.lit(after).cast("timestamp"))
    if upto is not None:
        out = out.filter(F.col("window_start") <= F.lit(upto).cast("timestamp"))
    order = F.col("window_start").desc() if descending else F.col("window_start").asc()
    out = out.orderBy(order)
    if limit is not None:
        out = out.limit(limit)
    cols = ["user_id", "window_start"] + (["movs"] if project_movs else ["cnt"])
    return out.select(*cols)


def poll_sum(agg: DataFrame, user_id: int, after: str) -> DataFrame:
    """A3: the client's running total over one poll's result rows
    (functions.js:171-175) — sum of counts past the cursor."""
    return (
        agg.filter(
            (F.col("user_id") == F.lit(user_id))
            & (F.col("window_start") > F.lit(after).cast("timestamp"))
        )
        .agg(F.sum("cnt").cast("long").alias("total_events"))
    )


def cursor_bootstrap(agg: DataFrame, user_id: int, now: str) -> DataFrame:
    """Q6 bootstrap (functions.js:317-323): newest existing window <= now,
    i.e. the initial value of last_evaluated_key."""
    return (
        agg.filter(
            (F.col("user_id") == F.lit(user_id))
            & (F.col("window_start") <= F.lit(now).cast("timestamp"))
        )
        .agg(F.max("window_start").alias("last_evaluated_key"))
    )


def last_n_windows(agg: DataFrame, n: int = 10) -> DataFrame:
    """W2 for every user at once: each user's n most-recent windows via a
    ranking window function (row_number <= n), the scalable form of the
    client's evict-oldest retention (functions.js:177-181)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("window_start").desc())
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("user_id", "window_start", "cnt", F.col("rn").cast("long").alias("rn"))
    )


def poll_page_with_total(
    agg: DataFrame,
    user_id: int,
    after: str,
    upto: str,
    limit: int = 10,
) -> DataFrame:
    """One poll request as ONE plan (Q1+Q2+Q3+Q5+A3 fused): the page — the
    newest ``limit`` windows in (after, upto] descending — with the client's
    running total over EVERY window past the cursor riding each row as
    ``total_events``. The reference client issues the page fetch and the
    running-total accumulation on every poll tick (functions.js:156-175);
    serving them as two Spark actions doubles the scheduler load per request,
    which is exactly what saturated the 64-client sweep (r8: qps plateaued
    ~15 with two jobs/poll). Fused, one job serves the whole tick.

    Plan shape: pushed user/cursor filter -> window sum partitioned by
    ``user_id`` (the matched-windows set is poll-horizon bounded, so the
    window is over dozens of rows, never the table) -> page filter ->
    TakeOrderedAndProject. Over a persisted ``serving_table`` the cached
    scan is already range-partitioned on ``user_id`` and sorted on it, so
    the window needs no exchange and no sort: the poll runs as one stage
    with one task per cached partition.
    """
    from pyspark.sql.window import Window

    matched = agg.filter(
        (F.col("user_id") == F.lit(user_id))
        & (F.col("window_start") > F.lit(after).cast("timestamp"))
    )
    w = Window.partitionBy("user_id")
    return (
        matched.withColumn(
            "total_events", F.sum("cnt").over(w).cast("long")
        )
        .filter(F.col("window_start") <= F.lit(upto).cast("timestamp"))
        .orderBy(F.col("window_start").desc())
        .limit(limit)
        .select("user_id", "window_start", "cnt", "total_events")
    )


def serving_table(events: DataFrame, partitions: int | None = None) -> DataFrame:
    """The serving-layer MATERIALIZATION of the aggregate table, laid out
    like the reference's DynamoDB table: range-partitioned on the hash key
    ``user_id`` alone and sorted on (user_id, window_start) within each
    partition, so every user's windows sit in exactly one partition, in
    range-key order. A cached copy then carries per-batch min/max stats
    aligned with the poll predicates — Spark's in-memory batch pruning skips
    every batch whose user range can't match, making each poll O(that
    user's batches) instead of O(all cached batches). On a lake this same
    layout is the partition/Z-order spec; in cache it's free batch stats.

    Partitioning on ``user_id`` alone also satisfies the
    ``ClusteredDistribution(user_id)`` and ``[user_id]`` ordering that
    ``poll_page_with_total``'s running-total window requires, so a poll over
    the cached table plans no exchange and no sort: one stage. Skew: a user
    holding more than 1/n of the rows makes one large partition (a range
    boundary cannot split a key), and polls still read only that user's
    batches. ``partitions`` defaults to the session's parallelism."""
    agg = movement_aggregates(events)
    n = partitions or events.sparkSession.sparkContext.defaultParallelism
    return agg.repartitionByRange(n, "user_id").sortWithinPartitions(
        "user_id", "window_start"
    )


def poll_many_collected(
    agg: DataFrame,
    reqs: list,
    limit: int = 10,
) -> dict:
    """Request-coalesced serving, single-stage variant: answer a BATCH of
    poll requests with ONE job and assemble the per-request pages on the
    coordinator. ``reqs`` is ``[(poll_id, user_id, after, upto), ...]``;
    returns ``{poll_id: [row dicts]}`` — per-request rows identical to
    ``poll_many`` (pinned by tests/test_serving_concurrency.py's
    differential).

    Why it exists (r9, the 64-client headroom item): the ``poll_many``
    probe-join plan pays three fixed costs per dispatch on the local
    scheduler — plan compile ~200 ms, the broadcast-exchange job ~300 ms,
    and the main 2-stage job ~300 ms (measured at sf1; the bare 8-task
    no-op job alone is ~300 ms, so two jobs + a shuffle stage IS the
    floor). This variant pushes the batch's OR-footprint as ONE literal
    predicate — ``user_id IN (probed users) AND window_start >
    min(after)`` — into the batch-pruned cached scan (one job, one stage,
    no join, no window exchange) and finishes per-request slicing in
    Python over the collected slice. The collected size is bounded by
    |batch| x one user's windows past the cursor (requests, not data:
    ~4k rows for 64 probes at sf1), exactly the coordinator-side response
    assembly every real serving layer does after its storage scan.
    """
    from pyspark.sql import functions as F

    if not reqs:
        return {}
    users = sorted({r[1] for r in reqs})
    min_after = min(r[2] for r in reqs)
    rows = (
        agg.filter(
            F.col("user_id").isin(users)
            & (F.col("window_start") > F.lit(min_after))
        )
        .select("user_id", "window_start", "cnt")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r[0], []).append(r)
    out: dict = {}
    for pid, user, after, upto in reqs:
        mine = [r for r in by_user.get(user, ()) if r[1] > after]
        total = sum(r[2] for r in mine)
        page = sorted(
            (r for r in mine if r[1] <= upto), key=lambda r: r[1], reverse=True
        )[:limit]
        out[pid] = [
            {
                "poll_id": pid,
                "user_id": user,
                "window_start": r[1],
                "cnt": r[2],
                "total_events": total,
            }
            for r in page
        ]
    return out
