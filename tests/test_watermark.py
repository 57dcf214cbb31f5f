"""Watermark semantics (SURVEY.md W5 — an improvement over the reference,
which has no late-data story). Pins Spark's actual guarantees for
append-mode windowed aggregation, probed batch-by-batch:

- a window is emitted exactly once, when the watermark passes its end;
- a late row arriving BEFORE its window is finalized still merges (the
  watermark is a finalization bound, not a strict input filter — no data
  loss inside the allowed lateness);
- a row arriving AFTER its window was finalized+emitted is dropped — the
  window is never re-emitted and the row never appears anywhere.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime

from kinesis_demo_spark.streaming.pipeline import drain, windowed_aggregate


def _write_batch(spark, rows, path, seq):
    rows = [(i, datetime.fromisoformat(ts), u, v) for i, ts, u, v in rows]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    d = os.path.join(path, f"{seq:02d}.dir")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    (f,) = glob.glob(os.path.join(d, "*.parquet"))
    target = os.path.join(path, f"{seq:02d}.parquet")
    shutil.copy(f, target)
    # FileStreamSource orders by mtime: force one file per micro-batch, in order
    os.utime(target, (1_700_000_000 + seq * 600,) * 2)
    shutil.rmtree(d)


def test_watermark_finalizes_once_and_drops_post_finalization_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(spark, [(1, "2024-01-01 10:00:00", 1, 1.0),
                         (2, "2024-01-01 12:00:00", 1, 1.0)], src, 0)
    _write_batch(spark, [(3, "2024-01-01 10:00:05", 1, 1.0)], src, 1)  # late, pre-finalization
    _write_batch(spark, [(4, "2024-01-01 13:00:00", 1, 1.0)], src, 2)  # advances watermark
    _write_batch(spark, [(5, "2024-01-01 10:00:07", 1, 1.0)], src, 3)  # late, POST-finalization

    reader = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed_aggregate(reader, window="1 minute", watermark="10 seconds")
    name = "t_watermark_sink"
    drain(agg, name, "append")

    rows = [(str(r.window_start), r.cnt) for r in spark.table(name).orderBy("window_start").collect()]
    # pre-finalization late row merged; each window emitted exactly once;
    # post-finalization late row dropped (no re-emission, no third row)
    assert rows == [("2024-01-01 10:00:00", 2), ("2024-01-01 12:00:00", 1)]


def test_rate_source_shapes_events_schema(spark):
    from kinesis_demo_spark.sources.synthetic import stream_synthetic_events

    df = stream_synthetic_events(spark, rows_per_second=100)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
