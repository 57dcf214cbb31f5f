"""Structured Streaming parity (SURVEY.md §7 Phase 4): the reference's
ingest -> tumbling-window-aggregate -> serving-store pipeline
(functions.js:190-233 client micro-batching + the reconstructed Lambda
aggregation, S2/S5/A1/W1/W4) re-expressed as a Spark streaming job.

Batch and streaming share the aggregation logic; the batch plans in
plans/movements.py are the same groupBy(window) shape, which is exactly why
Structured Streaming can incrementalize it. In production the source is
Kinesis/Kafka with a 1 s processing-time trigger (reference TRACKING_INTERVAL)
and the sink is a foreachBatch MERGE into the serving table; in tests the
source is the file stream over the driver's events fixture, drained by
``drain``: one ``availableNow`` run into a memory table, so the job stops
deterministically. ``drain`` is the one driver every memory-sink streaming
query goes through; ``run_foreach_batch_upsert`` (checkpointed, production
sink shape) runs its own query.

Scale notes: streaming state is per-(user, 1 s window) partial aggregates —
hash-partitioned on the group key across executors, no driver state. The
``update``/foreachBatch path plus a watermark bounds state at
|active windows x users|; ``complete`` mode (used by the oracle-checked test
query, where the input is finite) would be the one non-scalable choice at
100 TB and is documented as test-only.
"""

from __future__ import annotations

import fnmatch
import os
import re
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..io import _footer_schema, ensure_runtime_confs
from ..sinks.maintenance import _recover_incomplete, _swap_in


@contextmanager
def drain_state_partitions(spark: SparkSession, n: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` down for a bounded drain.

    A stateful streaming query fixes its state-store partition count at
    query start from this conf, and EVERY micro-batch then commits a delta
    per partition per state store (4 stores for the outer interval join).
    The bytes are small; what each commit costs is process starts. Without
    libhadoop, every file Hadoop's local file system creates forks one
    `chmod`, about 4 per partition per batch (the delta and its checksum
    files), and Spark's default FileContext checkpoint manager forked
    about 4 `readlink` per file on top. Measured on perfbench's 24-batch
    serve_and_drain drain (10k Zipf rows per batch, movement_aggregates,
    10 s watermark, noop sink) at 4 cores, median of 3 alternating runs
    per n, with the FileSystem-API manager ``get_spark`` sets:

    - n=2: batch p50 261 ms, state commit 2 ms, 365 forks per drain;
    - n=4: batch p50 248 ms, state commit 7 ms, 567 forks;
    - n=8: batch p50 287 ms, state commit 17 ms, 971 forks.

    (State commit is summed over the partition tasks.) One run per n under
    the FileContext manager read 540 / 421 / 514 ms and 1,781 / 2,783 /
    4,787 forks, so there the commit dominated: the r13 three-way A/B of
    the outer join at sf0.1 took 19 s at 32 partitions, 5.4 s at 8 and
    ~3.9 s at 4, with identical results (state partitioning never affects
    values). Now 2 and 4 are within run-to-run noise and 8 pays for its
    forks. Default 4; a drain whose per-batch COMPUTE parallelism matters
    more than its commit count passes a higher n explicitly — the one
    current case is the applyInPandasWithState
    sessionizer (queries/sessions.py), which runs one Python worker per
    partition and drains fastest at n=8 (r13 three-way A/B: 2.5 s at 8 vs
    3.1 at 4 vs 4.6 at 2). Production streaming jobs size this explicitly
    per query for the same reason. The previous value is restored on exit;
    a session whose conf is locked (hostile driver harness) just runs at
    its own setting."""
    prev = None
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:
        prev = None  # locked conf — drain at the session's own setting
    try:
        yield
    finally:
        if prev is not None:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            except Exception:
                pass


def drain(df: DataFrame, name: str, mode: str, state_partitions: int = 4) -> DataFrame:
    """Run the streaming plan ``df`` to the end of its input into the memory
    table ``name`` and return that table: ``availableNow`` trigger, output
    ``mode``, under ``drain_state_partitions(spark, state_partitions)`` —
    the state-store commits per micro-batch dominate a small finite drain,
    and values never depend on the partition count (see there). The query
    is stopped even when the drain raises, and the previous partition conf
    is restored either way."""
    spark = df.sparkSession
    with drain_state_partitions(spark, state_partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    return spark.table(name)


def _sink_name(prefix: str, sf_dir: str) -> str:
    """Memory-table name for a drain over ``sf_dir``: one table per fixture."""
    return f"{prefix}_" + re.sub(r"[^0-9a-zA-Z]", "_", sf_dir).strip("_")


# File-source schema for the events fixtures. Streaming readers require an
# explicit schema, and the right one for ``ts`` depends on the fixture's
# physical parquet type: TIMESTAMP(MICROS)/INT96 scan as TimestampType
# (naive; the UTC session makes the instants identical to the oracle's),
# while TIMESTAMP(NANOS) scans as int64 under the nanosAsLong conf
# ensure_runtime_confs sets — declaring TimestampType against such a file
# would fail the stream scan with a schema mismatch, so ``stream_events``
# probes the actual file schema (one footer read) and picks the matching
# variant, normalizing to TimestampType right after the source either way
# (ADVICE r5: batch load_table handled both; streaming only handled one).
def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", ts_type, False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField("props", T.StringType(), False),
        ]
    )


_EVENTS_SCHEMA = _events_schema(T.TimestampType())


def stream_source(spark: SparkSession, kind: str = "file", **kwargs) -> DataFrame:
    """Config-pluggable stream source (SURVEY.md §7 Phase 4: 'Kinesis source
    stays a config option, not a test dependency'). Every source yields the
    same events schema, so the downstream plan never changes:

    - ``file``: the fixture stream (tests; kwargs: sf_dir, max_files_per_trigger)
    - ``rate``: synthetic unbounded generator (throughput experiments)
    - ``kafka``: the production transport (reference ingest edge,
      functions.js:223 ``kinesis.putRecords``; Kinesis itself is reachable
      through its Kafka-compatible gateways or the same wire decode under a
      kinesis connector). Requires the spark-sql-kafka package on the
      classpath; the option plumbing and wire decode below are the tested
      part, the connector jar is deployment config.
    """
    if kind == "file":
        return stream_events(spark, **kwargs)
    if kind == "rate":
        from ..sources.synthetic import stream_synthetic_events

        return stream_synthetic_events(spark, **kwargs)
    if kind == "kafka":
        return stream_events_kafka(spark, **kwargs)
    raise ValueError(f"unknown stream source kind {kind!r}")


# The transport payload is the reference's JSON wire record (one JSON object
# per event, functions.js:211): the same record json_wire_roundtrip proves
# lossless. Timestamps carry microseconds through ISO-8601.
_WIRE_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """The connector option set as a pure, unit-testable mapping.
    ``maxOffsetsPerTrigger`` is the transport twin of the file source's
    ``maxFilesPerTrigger`` — it bounds micro-batch size so a backlogged
    topic can't produce an unboundedly large first batch after downtime."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kinesis_reader_options(
    stream_name: str,
    region: str,
    starting_position: str = "LATEST",
    endpoint_url: str | None = None,
    max_fetch_records_per_shard: int | None = None,
) -> dict[str, str]:
    """Kinesis connector options as a pure, unit-testable mapping — the
    transport the reference actually ships events over (the browser client
    calls ``kinesis.putRecords`` with PartitionKey = user_id,
    web/assets/js/functions.js:206-220), mirroring kafka_reader_options
    key-for-key. Option names follow the publicly documented
    spark-sql-kinesis structured-streaming connector: ``streamName`` /
    ``endpointUrl`` / ``startingposition`` (TRIM_HORIZON | LATEST |
    AT_TIMESTAMP — the DescribeStream vocabulary), and
    ``kinesis.executor.maxFetchRecordsPerShard`` is the per-trigger batch
    bound, the transport twin of Kafka's ``maxOffsetsPerTrigger`` and the
    file source's ``maxFilesPerTrigger``. The connector jar itself stays
    deployment configuration, exactly like the Kafka path."""
    if starting_position not in ("LATEST", "TRIM_HORIZON", "AT_TIMESTAMP"):
        raise ValueError(f"bad Kinesis starting position {starting_position!r}")
    opts = {
        "streamName": stream_name,
        "endpointUrl": endpoint_url or f"https://kinesis.{region}.amazonaws.com",
        "awsUseInstanceProfile": "true",  # creds from the instance role, never literals
        "startingposition": starting_position,
    }
    if max_fetch_records_per_shard is not None:
        opts["kinesis.executor.maxFetchRecordsPerShard"] = str(max_fetch_records_per_shard)
    return opts


def stream_events_kinesis(
    spark: SparkSession,
    stream_name: str,
    region: str,
    **reader_opts,
) -> DataFrame:
    """events as an unbounded stream from the Kinesis stream the reference
    writes to — same output schema as ``stream_events`` /
    ``stream_events_kafka``, so every downstream plan runs unchanged. The
    Kinesis connector emits the payload as ``data`` (with partitionKey /
    sequenceNumber sidecars) where Kafka emits ``value``; the rename is the
    only transport-specific line before the shared wire decode. Needs the
    spark-sql-kinesis connector on the classpath — absent it, ``load()``
    raises Spark's DATA_SOURCE_NOT_FOUND (deployment config, not a code
    path: option plumbing and decode are unit-tested against literals and
    the file source, tests/test_sources.py)."""
    raw = (
        spark.readStream.format("kinesis")
        .options(**kinesis_reader_options(stream_name, region, **reader_opts))
        .load()
    )
    return decode_wire_events(raw.select(F.col("data").alias("value")))


def decode_wire_events(raw: DataFrame) -> DataFrame:
    """Binary ``value`` column (the transport's payload bytes) -> the events
    schema every downstream plan consumes. Shared by the kafka source and the
    wire round-trip tests, so the decode is verified without a broker: a
    file/memory DataFrame carrying serialized wire bytes decodes to exactly
    the rows the file source yields. Corrupt payloads surface as NULL structs
    (from_json PERMISSIVE) rather than failing the stream; filter or
    side-output them per deployment policy."""
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), _WIRE_SCHEMA, {"timestampFormat": _WIRE_TS_FMT}
        ).alias("r")
    ).select("r.event_id", "r.ts", "r.user_id", "r.event_type", "r.value", "r.props")


def encode_wire_events(events: DataFrame) -> DataFrame:
    """Events -> one binary JSON wire record per row (the producer half;
    ``key`` = user_id so a keyed topic preserves per-user order, the
    property streaming_sessionize's cross-batch contract rides on)."""
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
            {"timestampFormat": _WIRE_TS_FMT},
        ).cast("binary").alias("value"),
    )


def stream_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **reader_opts,
) -> DataFrame:
    """events as an unbounded stream from a Kafka topic — the production
    counterpart of ``stream_events`` (same output schema, so every
    downstream plan runs unchanged; swapping sources changes only this
    reader). Needs org.apache.spark:spark-sql-kafka-0-10 on the classpath
    (spark.jars.packages) — absent it, ``load()`` raises Spark's
    DATA_SOURCE_NOT_FOUND, which is deployment configuration, not a code
    path: the option plumbing and wire decode are covered by unit tests
    against the file source."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(bootstrap_servers, topic, **reader_opts))
        .load()
    )
    return decode_wire_events(raw)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """events fixture as an unbounded stream (file source standing in for the
    Kinesis/Kafka source; swapping sources changes only this reader).
    ``glob`` filters filenames — the default picks the events table out of a
    fixture dir; tests streaming their own file sequences pass "*.parquet".

    Handles both event-time physical types batch ``load_table`` does: the
    schema of the first matching file in sorted order is read from its
    footer on the driver, as ``load_table`` does (no Spark job; Spark's
    inference when the footer is not recognised or no local file matches),
    and a TIMESTAMP(NANOS) fixture — which scans as int64 under nanosAsLong —
    streams under a LongType schema and converts to TimestampType
    immediately after the source (integer DIV, exact above 2^53)."""
    ensure_runtime_confs(spark)
    names = sorted(
        n for n in (os.listdir(sf_dir) if os.path.isdir(sf_dir) else ())
        if fnmatch.fnmatchcase(n, glob) and not n.startswith(("_", "."))  # hidden to Spark
    )
    probed = _footer_schema(spark, os.path.join(sf_dir, names[0])) if names else None
    if probed is None:
        probed = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    ts_is_nanos_long = any(
        f.name == "ts" and isinstance(f.dataType, T.LongType) for f in probed
    )
    schema = _events_schema(T.LongType()) if ts_is_nanos_long else _EVENTS_SCHEMA
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = reader.parquet(sf_dir)  # file source wants a directory; glob picks the table
    if ts_is_nanos_long:
        out = out.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return out


def windowed_aggregate(
    events: DataFrame,
    window: str = "1 second",
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """A1/W1 as a streaming-compatible plan: per-(user, window) count +
    exact decimal sum — tumbling by default, hopping when ``slide`` is
    given (each event then lands in window/slide overlapping windows; state
    grows by the same constant factor). With a watermark, Spark evicts
    window state once event time passes window_end + delay — the
    bounded-state production shape (an improvement over the reference,
    which has no late-data story; SURVEY.md W5)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    w = F.window("ts", window, slide) if slide is not None else F.window("ts", window)
    return (
        events.groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select("user_id", F.col("w.start").alias("window_start"), "cnt", "sum_value")
    )


def run_complete_to_memory(spark: SparkSession, sf_dir: str, name: str | None = None) -> DataFrame:
    """Drain the finite fixture stream through the windowed aggregate into a
    memory sink (complete mode) and return the result table. Test-only shape:
    complete mode rebuilds the full result per batch — correct here because
    the input is finite, non-scalable by design (see run_foreach_batch_upsert
    for the production path)."""
    agg = windowed_aggregate(stream_events(spark, sf_dir))
    return drain(agg, name or _sink_name("stream_agg", sf_dir), "complete")


def _click_view_join(ev: DataFrame, how: str) -> DataFrame:
    """The watermarked clicks x views interval join shared by the inner and
    the left-outer drains: views inside [click_ts, click_ts + 1 h] of a
    click by the same user, both sides under a 10 s watermark, one row per
    pair with the lag in ms."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 seconds")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 seconds")
    )
    return clicks.join(
        views,
        F.expr(
            "click_user = view_user AND "
            "view_ts >= click_ts AND view_ts <= click_ts + interval 1 hour"
        ),
        how,
    ).select(
        "click_id",
        "view_id",
        F.col("click_user").alias("user_id"),
        (F.unix_millis("view_ts") - F.unix_millis("click_ts")).alias("lag_ms"),
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: the click stream joined to
    the view stream on user with views inside (click_ts, click_ts + 1 h] —
    the attribution-style join batch engines do with a range join and
    streams need join STATE for. Both sides carry a 10 s watermark, which is
    what lets Spark evict buffered rows once no counterpart can still
    arrive; state is bounded by |events within watermark + interval|, not
    stream length. The 1 h interval is MEASURED against the fixtures
    (vacuous-green fix, VERDICT r10 #1 class: the former 5 s window matched
    ZERO pairs at sf0.001/0.01/0.1 — driver inter-event gaps per user are
    minutes — so every green row was a hash match over the empty set; 1 h
    yields 5/30/393 pairs). State grows with the interval (one hour of
    views per user buffered) — at production rates pick the smallest
    interval the attribution contract allows; the operator is unchanged.
    Inner join, so matches emit as soon as both sides are seen. The fixture
    drain (availableNow) produces exactly the batch range join's answer,
    which the registered oracle checks."""
    joined = _click_view_join(stream_events(spark, sf_dir), "inner")
    return drain(joined, _sink_name("stream_join", sf_dir), "append")


def run_stream_static_enrich(spark: SparkSession, sf_dir: str, name: str | None = None) -> DataFrame:
    """Stream-static enrichment join — the third streaming join shape after
    windowed aggregate and stream-stream: each micro-batch of the event
    stream joins a STATIC per-user history table (batch aggregate, broadcast
    — the static side is planned fresh per batch but never keeps state) to
    flag events whose value exceeds 2x the user's historical average. This
    is the enrich-against-a-dim-table pattern every production stream has;
    no watermark needed because the static side never grows.

    The history average follows the float policy: DECIMAL sum (exact,
    order-independent) then ONE double division — bit-identical to the
    batch oracle."""
    from ..io import load_table

    hist = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("hist_avg")
        )
    )
    enriched = (
        stream_events(spark, sf_dir)
        .join(F.broadcast(hist), "user_id")
        .select(
            "event_id",
            "user_id",
            "value",
            "hist_avg",
            F.when(F.col("value") > F.lit(2.0) * F.col("hist_avg"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_anomaly"),
        )
    )
    return drain(enriched, name or _sink_name("stream_enrich", sf_dir), "append")


def run_stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window streaming aggregate drained over the fixture — the
    overlapping-window state shape (window/slide = 2 windows per event),
    checked against the batch hop-assignment oracle the way
    streaming_window_counts checks tumbling state."""
    # complete mode, like the tumbling differential: append+watermark would
    # (correctly) withhold the trailing not-yet-finalized windows at
    # stream end, which a batch oracle cannot mirror; watermarked eviction
    # itself is pinned by the tumbling/dedup/watermark tests.
    agg = windowed_aggregate(
        stream_events(spark, sf_dir), window="10 minutes", slide="5 minutes"
    )
    return drain(agg, _sink_name("stream_hop", sf_dir), "complete")


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming deduplication — the fourth streaming
    differential, covering dedup state the way the other three cover
    aggregate, stream-stream-join, and static-join state. Events are deduped
    on the delivery key (user_id, event_type, hour bucket) with
    ``dropDuplicatesWithinWatermark``: the modern bounded-state API, whose
    per-key state is EVICTED once the watermark passes the key's event time
    — the only dedup shape that survives an unbounded 100 TB stream (plain
    streaming ``dropDuplicates`` keeps every key forever).

    The 2-hour delay strictly covers the 1-hour bucket span, so every
    duplicate pair (same hour bucket by construction) is still in state when
    its twin arrives and the drained result equals batch DISTINCT — which is
    exactly what the oracle checks.

    Output is the surviving key set itself (not the arbitrary surviving
    row), so the result is fully deterministic."""
    deduped = (
        stream_events(spark, sf_dir)
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", "hour")
    )
    return drain(deduped, _sink_name("stream_dedup", sf_dir), "append")


# Serving-store partition column: UTC day index of the window start
# (unix_micros // µs-per-day). A LONG derived from the instant itself, so it
# is identical under every session timezone — to_date(timestamp) is not.
_PARTITION_COL = "window_day"
_US_PER_DAY = 86_400_000_000


def run_foreach_batch_upsert(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    glob: str = "events.parquet",
) -> DataFrame:
    """Production sink shape (S5): update-mode streaming aggregate whose
    changed rows are MERGEd into a keyed serving table per micro-batch via
    foreachBatch — the Spark equivalent of the reference Lambda's DynamoDB
    PutItem/UpdateItem upsert (architecture edges 3-4). The store is a
    parquet dir PARTITIONED BY the window's UTC day; each batch

    1. reads back only the partitions its delta touches (partition pruning —
       a 1 s batch touches one day, so merge cost is O(|touched partitions|),
       never O(|table|); on Delta/Iceberg this whole body is one MERGE INTO),
    2. keeps the newest version per (user_id, window_start) key,
    3. stages the merged partitions to a temp dir (complete when the
       _SUCCESS marker lands), then
    4. commits each touched partition through the store's one crash-safe
       partition commit, `sinks.maintenance._swap_in` (staged -> sibling,
       live -> backup, sibling -> live, drop backup) — the same code
       compaction, retention and subject purge commit through, so every
       writer recognises every other writer's crash remnants.

    A crash at ANY point leaves only complete partition versions:
    mid-stage -> the store is untouched; between the renames -> the backup
    survives and `_recover_incomplete` restores it before the next batch
    that touches that day merges. Recovery is scoped to the days a batch
    commits, never swept store-wide (that would destroy a concurrent
    maintenance job's staging): a failed foreachBatch leaves its micro-batch
    uncommitted, so the restarted stream replays the same offsets, touches
    the same days and recovers them. Replaying an acknowledged-but-
    uncommitted batch is idempotent because the keep-newest merge is. The
    store is a local directory (the commit renames with `os`). A batch with
    an empty delta (the trailing watermark batch of an availableNow run)
    returns before it reads or writes anything. Watermarked so streaming
    state stays bounded."""
    agg = windowed_aggregate(
        stream_events(spark, sf_dir, max_files_per_trigger, glob=glob), watermark="10 seconds"
    )
    agg = agg.withColumn("batch_seq", F.lit(None).cast("long"))

    def merge_batch(delta: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        sess = delta.sparkSession
        delta = delta.withColumn("batch_seq", F.lit(batch_id)).withColumn(
            _PARTITION_COL, F.expr(f"unix_micros(window_start) div {_US_PER_DAY}")
        )
        # Touched-partition METADATA only (a 1 s micro-batch spans 1-2 days),
        # never data — this is the one driver-side collect in the pipeline.
        days = sorted(r[0] for r in delta.select(_PARTITION_COL).distinct().collect())
        if not days:  # a no-data batch (e.g. the trailing watermark one)
            return
        parts = [f"{_PARTITION_COL}={day}" for day in days]
        os.makedirs(out_dir, exist_ok=True)
        for part in parts:
            _recover_incomplete(out_dir, part)
        have_store = any(d.startswith(f"{_PARTITION_COL}=") for d in os.listdir(out_dir))
        if have_store:
            current = sess.read.parquet(out_dir).filter(F.col(_PARTITION_COL).isin(days))
            w = Window.partitionBy("user_id", "window_start").orderBy(F.col("batch_seq").desc())
            merged = (
                current.unionByName(delta)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = delta
        stage_dir = f"{out_dir}__stage_{batch_id}"
        merged.write.mode("overwrite").partitionBy(_PARTITION_COL).parquet(stage_dir)
        if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
            raise RuntimeError(f"staging write of batch {batch_id} left no _SUCCESS marker")
        for part in parts:
            _swap_in(
                out_dir, part,
                lambda dst, part=part: os.rename(os.path.join(stage_dir, part), dst),
            )
        shutil.rmtree(stage_dir)

    q = (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).select("user_id", "window_start", "cnt", "sum_value")


@contextmanager
def _sentinel_events(
    spark: SparkSession, sf_dir: str, offset_hours: int, event_types: tuple[str, ...]
):
    """Yield the events fixture as a stream that ends in ONE far-future
    sentinel file (user_id -1, max(ts) + offset_hours, one row per
    requested event_type) — the bounded-drain watermark push shared by the
    outer-join and session-window drains. A finite fixture's watermark
    never advances past its last event, so state held at stream end never
    flushes; the sentinel's later micro-batch (maxFilesPerTrigger=1 puts it
    there) advances the batch-end watermark past every real row and the
    trailing no-data batch performs the final eviction. offset_hours must
    exceed the query's state horizon (interval + delay for joins; gap +
    delay for session windows). The fixture and the sentinel are staged in
    a scratch dir — pure pyarrow, footer-stats max, no scan, no Spark jobs —
    which is removed on exit, also when staging or the drain raises; drain
    inside the ``with`` block (a drained memory table references nothing
    in the dir). Callers filter sentinel rows from the DRAINED table, never
    inside the streaming plan (pushdown would drag the filter into the
    shared source scan and starve the watermark — observed)."""
    import datetime as dt
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="sentinel_stage_")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copyfile(src, os.path.join(stage, "a_events.parquet"))
        # FileStreamSource orders batches by mtime AND drops files older than
        # maxFileAge (7 days) behind the newest — keep staged mtimes recent and
        # minutes apart.
        now = time.time()
        os.utime(os.path.join(stage, "a_events.parquet"), (now - 300, now - 300))
        sch = pq.read_schema(src)
        md = pq.read_metadata(src)
        tsi = sch.get_field_index("ts")
        mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(tsi).statistics
            if st is not None and st.has_min_max:
                mx = st.max if mx is None else max(mx, st.max)
        if mx is None:  # stats stripped — fall back to one column scan
            from ..io import load_table

            mx_us = (
                load_table(spark, sf_dir, "events")
                .agg(F.max(F.unix_micros("ts")).alias("m"))
                .collect()[0]
                .m
            )
            mx = dt.datetime.utcfromtimestamp(mx_us / 1_000_000)
        sentinel_ts = mx + dt.timedelta(hours=offset_hours)
        k = len(event_types)
        tbl = pa.table(
            {
                "event_id": pa.array([-1 - i for i in range(k)], type=sch.field("event_id").type),
                "ts": pa.array([sentinel_ts] * k, type=sch.field("ts").type),
                "user_id": pa.array([-1] * k, type=sch.field("user_id").type),
                "event_type": pa.array(list(event_types), type=sch.field("event_type").type),
                "value": pa.array([-1.0] * k, type=sch.field("value").type),
                "props": pa.array(["{}"] * k, type=sch.field("props").type),
            }
        )
        sp = os.path.join(stage, "z_sentinel.parquet")
        pq.write_table(tbl, sp)
        os.utime(sp, (now - 100, now - 100))
        yield stream_events(spark, stage, max_files_per_trigger=1, glob="*.parquet")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def run_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation under a watermark in APPEND
    mode — the MERGING-state streaming surface the tumbling/hopping drains
    cannot exercise: session state is not keyed by a fixed window start; a
    late-but-in-watermark event can FUSE two open sessions, and a session
    only finalizes once the watermark proves no event can extend it
    (watermark > session_end + gap). Drained over the staged fixture with a
    sentinel {_SESSION_SENTINEL_HOURS} h past the last event — strictly
    beyond the 24 h gap + 1 min delay horizon — so every real session
    evicts; the drained table then equals the batch session_window result,
    which the registered oracle re-derives independently. At 100 TB this is
    the production shape verbatim: state per OPEN session only, evicted at
    the watermark."""
    with _sentinel_events(spark, sf_dir, _SESSION_SENTINEL_HOURS, ("click",)) as ev:
        agg = (
            ev.withWatermark("ts", "1 minute")
            .groupBy("user_id", F.session_window("ts", "24 hours").alias("w"))
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        )
        out = drain(agg, _sink_name("stream_sess_win", sf_dir), "append")
    return out.filter(F.col("user_id") >= 0)  # drop sentinels


# sentinel offset for the session drain: must clear gap (24 h) + watermark
# delay (1 min); 26 h leaves margin without tripping maxFileAge pruning
_SESSION_SENTINEL_HOURS = 26


def run_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the state shape
    the inner join (run_stream_stream_join) doesn't cover: an unmatched left
    row may only emit once the watermark proves no counterpart can still
    arrive, so the join buffers left rows PAST their interval and the
    null-padded results trail the data by the watermark delay.

    A finite fixture drain exposes the real-world subtlety: rows inside the
    terminal watermark of the LAST event never flush (the watermark never
    advances once the stream ends). Production streams never end; a bounded
    drain needs a watermark push. The fixture is therefore STAGED into a
    scratch dir plus one far-future sentinel file (user_id -1, +2 h, one
    row per side); ``maxFilesPerTrigger=1`` puts the sentinel in a later
    micro-batch, its batch-end watermark covers every real row, and the
    trailing no-data batch availableNow runs (noDataMicroBatches, on by
    default) performs the final eviction — verified complete at both
    fixture scales. Staging is pure pyarrow (footer-stats max, no scan, no
    Spark write jobs). Sentinel rows are filtered from the DRAINED table —
    deliberately NOT inside the streaming plan, where predicate pushdown
    drags the filter through the outer join into the shared source scan
    and silently starves the watermark (observed: 209/210 rows, sentinel
    batches reading 0 input rows). The drained output equals the batch
    left-outer range join EXACTLY, which the registered oracle checks; the
    staging is drain harness, not the operator — the join plan itself is
    the production shape with bounded state on both sides."""
    # staging shared with run_stream_session_windows: fixture + one
    # far-future sentinel file (click & view rows, +2 h) in a later
    # micro-batch; see _sentinel_events for the mechanism.
    # offset 2 h: must exceed the join's state horizon (1 h interval + 10 s
    # delay) so the sentinel batch flushes the last held click (the 1 h
    # interval is the r11 vacuous-green retune — 5 s matched zero pairs at
    # every driver fixture, so the outer join's MATCHED leg carried no
    # signal; see run_stream_stream_join)
    with _sentinel_events(spark, sf_dir, 2, ("click", "view")) as ev:
        # The sentinel filter must NOT live inside the streaming plan: a
        # predicate on the preserved side (click_user >= 0) is pushed down
        # through the outer join INTO the file-source scan, which silently
        # removes the sentinel rows BEFORE the watermark operator ever sees
        # them — the watermark then never advances and the last real click
        # never flushes (observed: 209/210 rows, input rows 0 in the sentinel
        # batches). Sentinels are filtered from the DRAINED table instead.
        joined = _click_view_join(ev, "leftOuter")
        out = drain(joined, _sink_name("stream_outer", sf_dir), "append")
    return out.filter(F.col("user_id") >= 0)  # drop sentinels
