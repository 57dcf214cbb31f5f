"""Parquet readers for the driver fixtures.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning, and partition-size splitting for free; callers apply
``.select``/``.filter`` and the physical scan shrinks accordingly (visible as
PushedFilters / ReadSchema in ``.explain``). At 100 TB the same call reads a
partitioned lake path; nothing here assumes local files.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_type

from .schemas import TABLES
from .session import CHECKPOINT_MANAGER_CONF, RUNTIME_CONFS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


# Event-time columns normalized to TimestampType (UTC instants) at the read
# boundary, whatever physical type a fixture generation uses: TIMESTAMP(NANOS)
# surfaces as int64 nanos under nanosAsLong (integer DIV keeps the math exact
# — a double round-trip would lose bits above 2^53); naive TIMESTAMP(MICROS)
# surfaces as TIMESTAMP_NTZ and casts losslessly under the UTC session.
_EVENT_TS_COLS = {"events": ("ts",)}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply ``session.RUNTIME_CONFS``, the runtime confs the engine's plans
    depend on, in case the caller (e.g. the driver harness) built the
    session without them. The session timezone is a hard requirement —
    event-time window math must match the DuckDB oracle's naive (UTC)
    timestamps, and a wrong value silently shifts every window boundary.
    The two parquet-reader confs are best-effort, with different failure
    shapes when locked (ADVICE r5): the NTZ-inference conf degrades
    gracefully — ``load_table`` casts whichever representation the scan
    yields — but ``nanosAsLong`` locked to false against a TIMESTAMP(NANOS)
    fixture makes the scan itself fail (Spark rejects nanos timestamps
    without it); ``load_table`` detects that case in the footer, before any
    scan, and raises an actionable error naming the conf instead of Spark's
    bare parquet-type message. The checkpoint manager is set only where the
    session leaves it unset: a manager the caller chose explicitly stays."""
    for key, want in RUNTIME_CONFS.items():
        try:
            if key == CHECKPOINT_MANAGER_CONF and spark.conf.get(key, None) is not None:
                continue
            spark.conf.set(key, want)
        except Exception:
            pass  # locked: load_table's normalization covers the parquet confs
    want_tz = RUNTIME_CONFS["spark.sql.session.timeZone"]
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


# Parquet logical types whose Spark type ``from_arrow_type`` gives exactly
# as Spark's own footer inference does; "Int" only when signed.
_ORDINARY_LOGICAL = {"None", "String", "Int", "Date", "Decimal"}
_ORDINARY_SPARK = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
                   T.DateType)


def _nanos_locked_off(what: str) -> RuntimeError:
    return RuntimeError(
        f"{what} stores TIMESTAMP(NANOS) but this session has "
        "spark.sql.legacy.parquet.nanosAsLong locked off — Spark cannot "
        "scan nanos timestamps without it; unlock the conf or build the "
        "session with it set to true"
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer under the
    session's current confs, read from the file's footer on the driver; None
    when ``path`` is not a local file or holds a column type not recognised
    here (the caller then lets Spark infer it).

    Arrow gives the nesting and the ordinary leaves. Timestamps come from
    the parquet column itself, because the Arrow type can lie: INT96 reads
    as ``timestamp[ns]`` (not recognised), and a stored ``ARROW:schema``
    can restore a unit or type that is not the stored one. Every field is
    nullable, as Spark's inference makes it."""
    if not os.path.isfile(path):
        return None
    try:
        pf = pq.ParquetFile(path)
    except (OSError, pa.ArrowException):
        return None  # not readable as parquet: Spark raises its own error
    if b"org.apache.spark.sql.parquet.row.metadata" in (pf.metadata.metadata or {}):
        return None  # Spark-written: Spark infers from its own stored schema
    conf = spark.conf
    nanos_as_long = conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    infer_ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    binary_as_string = conf.get("spark.sql.parquet.binaryAsString", "false") == "true"
    leaves = (pf.schema.column(i) for i in range(len(pf.schema)))

    def leaf_type(at: pa.DataType) -> T.DataType | None:
        col = next(leaves)
        logical = json.loads(col.logical_type.to_json())
        kind = logical["Type"]
        if kind == "Timestamp":
            if logical["timeUnit"] == "nanoseconds":
                if not nanos_as_long:
                    raise _nanos_locked_off(f"{path} column {col.path!r}")
                return T.LongType()
            if logical["isAdjustedToUTC"] or not infer_ntz:
                return T.TimestampType()
            return T.TimestampNTZType()
        if (col.physical_type == "INT96" or kind not in _ORDINARY_LOGICAL
                or (kind == "Int" and not logical["isSigned"])):
            return None
        try:
            dt = from_arrow_type(at)
        except TypeError:  # UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION
            return None
        if not isinstance(dt, _ORDINARY_SPARK):
            return None  # e.g. a duration restored over plain INT64
        if isinstance(dt, T.BinaryType) and binary_as_string and col.physical_type == "BYTE_ARRAY":
            return T.StringType()
        return dt

    def spark_type(at: pa.DataType) -> T.DataType | None:
        if pa.types.is_struct(at):
            fields = [(f.name, spark_type(f.type)) for f in at]
            if any(dt is None for _, dt in fields):
                return None
            return T.StructType([T.StructField(n, dt, True) for n, dt in fields])
        if pa.types.is_list(at) or pa.types.is_large_list(at) or pa.types.is_fixed_size_list(at):
            elem = spark_type(at.value_type)
            return None if elem is None else T.ArrayType(elem, True)
        if pa.types.is_map(at):
            key, value = spark_type(at.key_type), spark_type(at.item_type)
            return None if key is None or value is None else T.MapType(key, value, True)
        if pa.types.is_nested(at) or isinstance(at, pa.ExtensionType):
            return None
        return leaf_type(at)

    try:
        schema = spark_type(pa.struct(list(pf.schema_arrow)))
    except StopIteration:  # Arrow nesting disagrees with the parquet leaves
        return None
    if schema is None or next(leaves, None) is not None:
        return None
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of the fixture directory ``sf_dir``, with its event-time
    columns normalised to TimestampType.

    The schema is read from the parquet footer on the driver
    (``_footer_schema``), so resolving a table fires no Spark job. A bare
    ``spark.read.parquet`` runs a schema-inference job per call: measured
    warm on a 4-core host, 0.06–0.14 s per call — about the size of a small
    query's whole Catalyst cost — against 0.01–0.02 s per ``load_table``
    with the footer schema, of which the footer read is ~1 ms. The scan
    stays declarative, so pushdown and pruning are unchanged. A directory, a
    non-local path or an unrecognised column type falls back to Spark's
    inference."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(spark, path)
    try:
        df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    except Exception as exc:
        if "TIMESTAMP(NANOS" in str(exc):
            raise _nanos_locked_off(f"table {name!r}") from exc
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
    localCheckpoint, not a persist. The sealed head-to-head in
    GRAPH_WATCH.json does not show the checkpoint form faster: at sf0.1 the
    two forms are within noise (cache speedup by min 0.98x k-core, 1.07x
    LPA), and at sf1 the persist-only (cache) form is faster — LPA min /
    median 8.69 / 8.70 s against 11.99 / 12.69 s checkpointed (1.38x),
    k-core 5.92 / 6.52 s against 12.30 / 15.20 s (2.08x). The checkpoint
    keeps each round's plan and recovery bounded whatever the memory
    pressure, and an sf0.003 probe found no gain from checkpointing LPA
    less often; the sf1 cadence is an open re-measurement. On a cluster,
    ``checkpoint()`` to the lake instead.

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


def spread(df: DataFrame) -> DataFrame:
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
    tests/test_sources.py).

    ONLY call this on scan-head DataFrames (no shuffle upstream): the
    partition-count inspection goes through ``df.rdd``, and under AQE that
    EAGERLY EXECUTES any upstream query stages — a full extra job for a
    mid-plan input. Mid-plan fan-outs (post-shuffle, pre-compute-heavy
    stage) must use ``fan_out`` instead, which repartitions unconditionally
    without inspecting the plan."""
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
