"""Checkpoint recovery: a streaming pipeline stopped and restarted against
the same checkpoint must process each input exactly once — new files only,
no reprocessing, upsert table converging to the batch answer."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from kinesis_demo_spark.io import load_table
from kinesis_demo_spark.plans.movements import movement_aggregates
from kinesis_demo_spark.streaming.pipeline import (
    drain_state_partitions,
    run_foreach_batch_upsert,
    stream_events,
)

SF = "/root/testdata/sf0.001"


def _copy_half(spark, src_rows, path, lo, hi, seq):
    # ts stays timestamp-typed, matching the driver fixtures and the stream
    # source's declared schema
    df = spark.createDataFrame(src_rows[lo:hi])
    d = os.path.join(path, f"chunk{seq}.dir")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    (f,) = glob.glob(os.path.join(d, "*.parquet"))
    target = os.path.join(path, f"{seq:02d}.parquet")
    shutil.copy(f, target)
    os.utime(target, (1_700_000_000 + seq * 600,) * 2)
    shutil.rmtree(d)


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    rows = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    half = len(rows) // 2
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")

    # run 1: only the first half exists; query drains it and "crashes" (stops)
    _copy_half(spark, rows, src, 0, half, 0)
    run_foreach_batch_upsert(spark, src, out_dir=out, checkpoint_dir=ckpt, glob="*.parquet")
    first_count = spark.read.parquet(out).count()
    assert first_count > 0

    # run 2: second half arrives; SAME checkpoint -> only new file processed
    _copy_half(spark, rows, src, half, len(rows), 1)
    got = run_foreach_batch_upsert(spark, src, out_dir=out, checkpoint_dir=ckpt, glob="*.parquet")

    batch = (
        spark.createDataFrame(rows)
        .groupBy("user_id", F.window("ts", "1 second").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select("user_id", F.col("w.start").alias("window_start"), "cnt", "sum_value")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}


_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)


def test_checkpoint_from_the_file_context_manager_resumes(spark, tmp_path):
    """A checkpoint written by Spark's default FileContext checkpoint manager
    resumes under the session's FileSystem-API manager: the second half of
    the file sequence drains from the same offsets and state, the last
    emitted count per window equals the batch aggregate of every file, and
    every state delta keeps both checksum files (Spark's ``N.delta.crc``
    and Hadoop's ``.N.delta.crc`` sidecar), whichever manager wrote it."""
    rows = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    bounds = [len(rows) * k // 4 for k in range(5)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    emitted = {}

    def keep_latest(delta, batch_id):
        for r in delta.select("user_id", "window_start", "cnt").collect():
            emitted[(r.user_id, r.window_start)] = r.cnt

    def run():
        with drain_state_partitions(spark, 2):
            q = (
                movement_aggregates(
                    stream_events(spark, src, max_files_per_trigger=1, glob="*.parquet")
                    .withWatermark("ts", "10 seconds"))
                .writeStream.foreachBatch(keep_latest)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    session_manager = spark.conf.get(_MANAGER_CONF)
    for seq in (0, 1):
        _copy_half(spark, rows, src, bounds[seq], bounds[seq + 1], seq)
    spark.conf.set(_MANAGER_CONF, _FILE_CONTEXT_MANAGER)
    try:
        run()
        # stream_events keeps a manager the session chose explicitly
        assert spark.conf.get(_MANAGER_CONF) == _FILE_CONTEXT_MANAGER
    finally:
        # back to the session's own manager; unset would fall back to
        # Spark's default, which is the FileContext manager
        spark.conf.set(_MANAGER_CONF, session_manager)
    first = dict(emitted)
    assert first

    for seq in (2, 3):
        _copy_half(spark, rows, src, bounds[seq], bounds[seq + 1], seq)
    run()

    batch = movement_aggregates(spark.createDataFrame(rows)).select("user_id", "window_start", "cnt")
    assert emitted == {(r.user_id, r.window_start): r.cnt for r in batch.collect()}
    assert emitted != first  # the second run resumed and emitted the new files' windows

    deltas = glob.glob(os.path.join(ckpt, "state", "0", "*", "*.delta"))
    assert {int(os.path.basename(d).split(".")[0]) for d in deltas} >= {1, 2, 3, 4}
    for d in deltas:
        head, name = os.path.split(d)
        assert os.path.exists(d + ".crc"), d  # Spark's checkpoint checksum
        assert os.path.exists(os.path.join(head, f".{name}.crc")), d  # Hadoop's sidecar


def test_python_stream_source_restart_is_exactly_once(spark, tmp_path):
    """Kill the custom Python stream source mid-drain and restart from its
    checkpoint: the committed-offset replay (readBetweenOffsets) must hand
    the new run exactly the unseen rows — no gaps, no duplicates across
    the two runs' sink contents."""
    import time

    from pyspark.sql import functions as F

    from kinesis_demo_spark.sources.python_datasource import (
        register_synthetic_stream_source,
    )

    register_synthetic_stream_source(spark)
    n, batch = 2000, 100
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("synthetic_events_stream")
            .option("n", str(n))
            .option("batch", str(batch))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def written():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline and written() < n // 3:
        time.sleep(0.1)
    q.stop()  # mid-drain kill
    seen_first = written()
    assert 0 < seen_first < n
    q = start()  # the file sink + checkpoint resume from committed offsets
    deadline = time.time() + 90
    while time.time() < deadline and written() < n:
        time.sleep(0.2)
    q.stop()
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    # exactly-once across the kill/restart: full coverage, zero duplicates
    assert ids == list(range(n))
