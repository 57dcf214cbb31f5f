"""Streaming deduplication: dropDuplicates over a keyed stream must suppress
re-deliveries ACROSS micro-batches (state-backed), not just within one —
the at-least-once-source -> exactly-once-pipeline building block."""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kinesis_demo_spark.streaming.pipeline import drain


def _write(spark, rows, path, seq):
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    d = os.path.join(path, f"c{seq}.dir")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    (f,) = glob.glob(os.path.join(d, "*.parquet"))
    target = os.path.join(path, f"{seq:02d}.parquet")
    shutil.copy(f, target)
    os.utime(target, (1_700_000_000 + seq * 600,) * 2)
    shutil.rmtree(d)


def test_drop_duplicates_suppresses_cross_batch_redelivery(spark, tmp_path):
    base = datetime(2024, 1, 1)
    batch1 = [(i, base + timedelta(seconds=i), i % 3, 1.0) for i in range(20)]
    # batch 2: 10 NEW events + 10 REDELIVERED duplicates of batch 1
    batch2 = [(i, base + timedelta(seconds=i), i % 3, 1.0) for i in range(20, 30)] + batch1[5:15]

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write(spark, batch1, src, 0)
    _write(spark, batch2, src, 1)

    reader = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = reader.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    name = "t_stream_dedup"
    drain(deduped, name, "append")

    out = spark.table(name)
    assert out.count() == 30  # 20 + 10 new; 10 redeliveries suppressed
    assert out.select("event_id").distinct().count() == 30
    assert {r.event_id for r in out.collect()} == set(range(30))


def test_watermark_bounded_dedup_collapses_hour_bucket_duplicates(spark):
    """run_stream_dedup: the drained key set equals batch-distinct and is
    strictly smaller than the event count (the fixture has real duplicate
    (user, type, hour) deliveries), with no key surviving twice."""
    from kinesis_demo_spark.streaming.pipeline import run_stream_dedup

    sf = "/root/testdata/sf0.001"
    out = run_stream_dedup(spark, sf)
    n = out.count()
    total = spark.read.parquet(sf + "/events.parquet").count()
    assert n < total  # duplicates were actually suppressed
    assert out.distinct().count() == n  # and exactly once each
