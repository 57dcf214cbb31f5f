"""Parquet readers for the driver fixtures.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning, and partition-size splitting for free; callers apply
``.select``/``.filter`` and the physical scan shrinks accordingly (visible as
PushedFilters / ReadSchema in ``.explain``). At 100 TB the same call reads a
partitioned lake path; nothing here assumes local files.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schemas import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


# Event-time columns normalized to TimestampType (UTC instants) at the read
# boundary, whatever physical type a fixture generation uses: TIMESTAMP(NANOS)
# surfaces as int64 nanos under nanosAsLong (integer DIV keeps the math exact
# — a double round-trip would lose bits above 2^53); naive TIMESTAMP(MICROS)
# surfaces as TIMESTAMP_NTZ and casts losslessly under the UTC session.
_EVENT_TS_COLS = {"events": ("ts",)}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Runtime-settable confs the engine's plans depend on, applied
    defensively in case the caller (e.g. the driver harness) built the
    session without them. The session timezone is a hard requirement —
    event-time window math must match the DuckDB oracle's naive (UTC)
    timestamps, and a wrong value silently shifts every window boundary.
    The two parquet-reader confs are best-effort, with different failure
    shapes when locked (ADVICE r5): the NTZ-inference conf degrades
    gracefully — ``load_table`` casts whichever representation the scan
    yields — but ``nanosAsLong`` locked to false against a TIMESTAMP(NANOS)
    fixture makes the scan itself fail (Spark rejects nanos timestamps
    without it); ``load_table`` detects that case and re-raises an
    actionable error naming the conf instead of Spark's bare parquet-type
    message."""
    best_effort = {
        # TIMESTAMP(NANOS) fixtures scan as int64 (normalized below) instead
        # of failing outright.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # naive TIMESTAMP(MICROS) fixtures scan as TIMESTAMP_LTZ directly
        # (UTC session = same instants) instead of TIMESTAMP_NTZ.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    for key, want in best_effort.items():
        try:
            spark.conf.set(key, want)
        except Exception:
            pass  # locked session — load_table's normalization covers it
    want_tz = "UTC"
    try:
        spark.conf.set("spark.sql.session.timeZone", want_tz)
    except Exception:
        pass  # locked session — verified below
    try:
        have = spark.conf.get("spark.sql.session.timeZone", None)
    except Exception:
        have = None
    if have != want_tz:
        raise RuntimeError(
            f"session conf spark.sql.session.timeZone={have!r} but the engine "
            f"requires {want_tz!r} (timezone-stable event-time windows matching "
            "the naive-UTC oracle); build the session with this conf or unlock it."
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    try:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    except Exception as exc:
        if "TIMESTAMP(NANOS" in str(exc):
            raise RuntimeError(
                f"table {name!r} stores TIMESTAMP(NANOS) but this session has "
                "spark.sql.legacy.parquet.nanosAsLong locked off — Spark cannot "
                "scan nanos timestamps without it; unlock the conf or build the "
                "session with it set to true"
            ) from exc
        raise
    for col in _EVENT_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":  # TIMESTAMP(NANOS) fixture under nanosAsLong
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
        elif dtype == "timestamp_ntz":  # naive-micros fixture, NTZ inference on
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# DataFrames persisted by query plans (dedup signature tables, multimodal
# feature tables feed both sides of a self-join). A query function cannot
# unpersist before returning — the caller hasn't run the action yet — so
# persists are tracked here and released by the caller once its action
# completes (bench.py and tests/oracle_harness.py do; long-lived sessions
# running many queries should too, or cached blocks accumulate until the
# session ends).
_TRACKED_PERSISTS: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """persist() + register for release_persisted(). Use for any cache whose
    lifetime must extend past the query function's return (self-join inputs
    materialized once, consumed by the caller's action)."""
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


def track_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint() + register for release_persisted(), so iterative
    loops' lineage-truncation blocks are freed deterministically by the same
    ledger as persists instead of waiting for JVM GC (a ~190-query session
    would otherwise accumulate every edge set / label snapshot / rank round
    as unreclaimed executor storage). NOTE the release-timing caveat in
    release_persisted: unlike a persist, a checkpointed block CANNOT be
    recomputed after release — callers must release only after their action
    completes (which is how bench.py / the parity harness already call it)."""
    df = df.localCheckpoint()
    _TRACKED_PERSISTS.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked cache; returns how many were released.

    For plain persists this is safe at any time — releasing between a
    query's build and its action only costs recomputation. Tracked
    localCheckpoints (track_checkpoint) are freed here too, and those have
    NO lineage to recompute from: release them only after the consuming
    action has completed, never between build and action."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    until: Callable[[DataFrame, DataFrame], bool] | None = None,
    checkpoint_every: int = 1,
    name: str,
) -> DataFrame:
    """The round driver for every driver-sequenced iterative operator:
    ``state = step(state)`` for at most ``max_rounds`` rounds.

    Lineage: round r (1-based) ends in ``track_checkpoint`` when r is a
    multiple of ``checkpoint_every``, else in ``track_persist``. Unbroken,
    each round's plan re-embeds every earlier round (exponentially when a
    round reads its input twice, like k-core's semi-joins); larger
    ``checkpoint_every`` runs several lazily persisted rounds as one DAG
    between breaks (Drizzle-style group scheduling). The break is a
    localCheckpoint, not a persist, by measurement (GRAPH_WATCH.json): at
    sf0.1 persist-only rounds were within noise, but at sf1 they lost — LPA
    0.78x, and k-core swung 6.5 / 11.6 / 52.4 s as nested lineage recomputed
    rounds evicted under memory pressure — while the checkpoint form's worst
    run was 8.7 s. On a cluster, ``checkpoint()`` to the lake instead.

    Convergence: ``until(old, new)`` is a driver-scalar check after each
    round; when it holds the loop returns ``new``, and if it never holds
    within ``max_rounds`` the loop raises rather than return a partial
    fixpoint. Without ``until`` the loop runs exactly ``max_rounds``.

    Release: once an ``until`` check has materialised ``new``, a persisted
    previous state is unpersisted; a checkpointed one has no lineage to
    recompute from and stays for the caller's ``release_persisted``.
    Fixed-round loops never release: their persists are still lazy."""
    for rnd in range(1, max_rounds + 1):
        new = step(state)
        new = track_checkpoint(new) if rnd % checkpoint_every == 0 else track_persist(new)
        if until is None:
            state = new
            continue
        done = until(state, new)
        if state.is_cached:
            state.unpersist()
        state = new
        if done:
            return state
    if until is not None:
        raise RuntimeError(
            f"{name} did not converge within {max_rounds} rounds; raise its round budget"
        )
    return state


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition before compute-heavy per-row stages — but ONLY
    when the input is under-parallel (fewer partitions than
    defaultParallelism).

    The local fixtures are single small parquet files — one input split, so
    without the exchange every expression-heavy derivation (shingling,
    hashing, vector folds, pandas UDFs) runs on ONE core of local[32]. On a
    real cluster a lake scan already has thousands of splits, and an
    unconditional repartition would round-robin-shuffle the entire raw corpus
    before any pruning AND cap parallelism at defaultParallelism (VERDICT r5
    #2) — so a scan that is already at-or-above defaultParallelism passes
    through untouched (identity, no Exchange in the plan; pinned in
    tests/test_sources.py). Explicit ``partitions`` still repartitions
    unconditionally — callers use it to pin a layout, not to fan out.

    ONLY call this on scan-head DataFrames (no shuffle upstream): the
    partition-count inspection goes through ``df.rdd``, and under AQE that
    EAGERLY EXECUTES any upstream query stages — a full extra job for a
    mid-plan input. Mid-plan fan-outs (post-shuffle, pre-compute-heavy
    stage) must use ``fan_out`` instead, which repartitions unconditionally
    without inspecting the plan."""
    if partitions is not None:
        return df.repartition(partitions)
    n = df.sparkSession.sparkContext.defaultParallelism
    # Plan-only for a scan: .rdd translates the physical plan but runs no
    # job when the plan has no query stages to materialize.
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def fan_out(df: DataFrame) -> DataFrame:
    """Unconditional round-robin repartition to defaultParallelism — the
    mid-plan fan-out for a size-coalesced exchange feeding a compute-bound
    stage (AQE coalesces slim shuffle outputs to a handful of partitions by
    BYTES; a downstream per-row-expensive stage then runs near-serial).
    Unlike ``spread`` this never inspects the plan, so it is safe after
    shuffles under AQE."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
