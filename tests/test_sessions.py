"""Sessionization: batch/streaming agreement, including state carried across
micro-batches (the single-batch registry check can't prove the carry)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_demo_spark.io import load_table
from kinesis_demo_spark.operators.sessionize import batch_sessionize, streaming_sessionize
from kinesis_demo_spark.streaming.pipeline import drain, stream_events

SF = "/root/testdata/sf0.001"


def _closed_sessions_batch(spark):
    """Batch sessions minus each user's last (streaming can't close the
    trailing session without a terminating gap)."""
    sessions = batch_sessionize(load_table(spark, SF, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("session_id").desc())
    return (
        sessions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


def _run_stream(spark, src_dir, max_files=None):
    return drain(
        streaming_sessionize(stream_events(spark, src_dir, max_files_per_trigger=max_files)),
        "t_sessions_stream",
        "append",
    )


def test_streaming_sessions_match_batch_single_batch(spark):
    got = {tuple(r) for r in _run_stream(spark, SF).collect()}
    want = {tuple(r) for r in _closed_sessions_batch(spark).collect()}
    assert got == want and len(want) > 0


def test_streaming_sessions_carry_state_across_batches(spark, tmp_path):
    """Split the fixture into 3 time-ordered files processed one per
    micro-batch: sessions spanning batch boundaries must still emit exactly
    once with correct bounds and sums."""
    events = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    third = len(events) // 3
    chunks = [events[:third], events[third : 2 * third], events[2 * third :]]
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk).coalesce(1).write.parquet(str(src / f"part{i}.parquet"))
    # the streaming reader reads a directory of parquet; rewrite files flat
    import shutil, glob, os

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, d in enumerate(sorted(glob.glob(str(src / "part*.parquet")))):
        (f,) = glob.glob(os.path.join(d, "*.parquet"))
        dst = flat / f"{i:02d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders by modification time: force distinct,
        # ascending mtimes so micro-batches replay in event-time order (the
        # operator's documented in-order contract; late data needs the
        # watermarked agg path)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    from kinesis_demo_spark.streaming.pipeline import _EVENTS_SCHEMA  # noqa: F401
    from pyspark.sql import SparkSession
    import kinesis_demo_spark.streaming.pipeline as P

    name = "t_sessions_multibatch"
    # stream the flat dir one file per trigger (3 micro-batches)
    reader = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    drain(streaming_sessionize(reader), name, "append")
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in _closed_sessions_batch(spark).collect()}
    assert got == want


def test_session_sums_are_cent_exact(spark):
    sessions = batch_sessionize(load_table(spark, SF, "events"))
    bad = sessions.filter(
        F.abs(F.col("sum_value") * 100 - F.round(F.col("sum_value") * 100)) > 1e-6
    ).count()
    assert bad == 0


class _FakeState:
    """Minimal GroupState stand-in for kernel-level unit tests."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v


def _kernel_batch(state, rows, strict=True):
    import pandas as pd

    from kinesis_demo_spark.operators.sessionize import _make_sessionize_group

    pdf = pd.DataFrame(
        {
            "user_id": [7] * len(rows),
            "ts": pd.to_datetime([t for t, _ in rows], unit="us"),
            "event_id": range(len(rows)),
            "value": [v for _, v in rows],
        }
    )
    return list(_make_sessionize_group(strict)((7,), iter([pdf]), state))


def test_kernel_in_session_late_event_never_moves_end_backward():
    state = _FakeState()
    _kernel_batch(state, [(1_000_000, 1.0), (2_000_000, 2.0)])
    # next micro-batch delivers an event BETWEEN the open session's bounds
    _kernel_batch(state, [(1_500_000, 4.0)])
    start_us, end_us, n, cents, dropped, nv = state.get
    assert (start_us, end_us) == (1_000_000, 2_000_000)  # end clamped, not moved back
    assert (n, cents, dropped, nv) == (3, 700, 0, 3)


def test_kernel_strict_rejects_event_older_than_open_session():
    state = _FakeState()
    _kernel_batch(state, [(5_000_000, 1.0)])
    with pytest.raises(ValueError, match="watermark-ordered"):
        _kernel_batch(state, [(1_000_000, 1.0)], strict=True)


def test_kernel_default_drops_and_counts_event_older_than_open_session():
    state = _FakeState()
    _kernel_batch(state, [(5_000_000, 1.0)], strict=False)
    out = _kernel_batch(state, [(1_000_000, 9.0)], strict=False)
    assert out == []  # dropped, not folded in, not a failure
    start_us, end_us, n, cents, dropped, nv = state.get
    assert (start_us, end_us, n, cents) == (5_000_000, 5_000_000, 1, 100)
    assert dropped == 1  # observable in state, like a late-data counter
    assert nv == 1


def test_builtin_session_window_matches_custom_batch_form(spark):
    """Three-way pin: Spark's native session_window produces exactly the
    custom window-function sessionizer's sessions on the fixture (the DuckDB
    oracle is the third leg, via test_oracle_parity)."""
    from kinesis_demo_spark.registry import all_queries

    q = all_queries()
    sf = "/root/testdata/sf0.001"
    custom = {
        tuple(r)
        for r in q["sessionize_events"](spark, sf)
        .drop("session_id")
        .collect()
    }
    builtin = {tuple(r) for r in q["sessionize_builtin_window"](spark, sf).collect()}
    assert builtin == custom and len(builtin) > 0


def test_streaming_default_policy_survives_out_of_order_batch(spark, tmp_path):
    """End-to-end late-data policy: a second micro-batch delivering an event
    OLDER than every user's open session (a contract-violating glitch row)
    must not fail the query in default mode — the row is dropped and every
    legitimately closed session still emits exactly once."""
    import os

    events = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    flat = tmp_path / "ooo"
    flat.mkdir()
    spark.createDataFrame(events).coalesce(1).write.parquet(str(tmp_path / "b0"))
    # glitch batch: one event far before the stream's start, for a user that
    # has an open session after batch 0
    user = events[0].user_id
    glitch = [
        (
            999_999_999,
            events[0].ts.replace(year=events[0].ts.year - 1),
            user,
            "click",
            1.0,
            "{}",
        )
    ]
    spark.createDataFrame(
        glitch,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "b1"))
    import glob as _glob
    import shutil

    for i, d in enumerate(("b0", "b1")):
        (f,) = _glob.glob(str(tmp_path / d / "*.parquet"))
        dst = flat / f"{i:02d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    reader = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    name = "t_sessions_ooo"
    # default: drop-and-count; strict mode would raise inside batch 1 here
    drain(streaming_sessionize(reader), name, "append")
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in _closed_sessions_batch(spark).collect()}
    assert got == want  # glitch row contributed nothing, nothing else lost
