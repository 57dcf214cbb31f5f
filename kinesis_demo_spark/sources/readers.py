"""Format-pluggable batch readers with PINNED schemas (SURVEY.md §2.1).

The engine's canonical storage is Parquet (io.load_table); these readers add
CSV and JSON-lines ingestion for the same logical tables — schema declared,
never inferred, because schema inference is a full extra pass over the data
at 100 TB and can silently drift between files. The streaming reader lives in
streaming/pipeline.py (same schema discipline).

Every reader produces DataFrames interchangeable with the Parquet path, which
tests/test_sources.py proves by round-tripping fixtures through each format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENTS


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV ingest of the events wire table. Timestamps parse from ISO-8601
    with microseconds; header expected; malformed rows fail loudly
    (FAILFAST) rather than silently nulling — at pipeline scale a bad file
    should stop the load, not poison the table."""
    return (
        spark.read.schema(EVENTS)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines ingest (one event object per line — the reference's wire
    format, functions.js:211, lifted to files)."""
    return (
        spark.read.schema(EVENTS)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("mode", "FAILFAST")
        .json(path)
    )
