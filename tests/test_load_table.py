"""io.load_table takes its schema from the parquet footer: the same schema
Spark's inference gives, without the inference job, across the physical
timestamp encodings a fixture generation may use."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F, types as T
from pyspark.sql.conf import RuntimeConfig

from kinesis_demo_spark import io
from kinesis_demo_spark.schemas import TABLES
from kinesis_demo_spark.streaming.pipeline import stream_events

SMOKE = io.SMOKE_SF_DIR
FIXTURES = os.path.dirname(SMOKE)
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs_fired(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", TABLES)
def test_load_table_schema_equals_inference_and_fires_no_job(spark, sf, name):
    sf_dir = os.path.join(FIXTURES, sf)
    df, jobs = _jobs_fired(spark, f"load-table:{sf}:{name}",
                           lambda: io.load_table(spark, sf_dir, name))
    assert jobs == []
    assert df.schema == spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


@pytest.fixture
def lock_conf(spark, monkeypatch):
    """Hold session confs at given values, the way a harness-built session
    with locked confs does: the engine's ``conf.set`` on them raises."""
    locked: dict[str, str] = {}
    real_set = RuntimeConfig.set

    def guarded_set(self, key, value):
        if key in locked:
            raise AnalysisException(f"conf {key} is locked")
        return real_set(self, key, value)

    def lock(**confs):
        for key, value in confs.items():
            spark.conf.set(key, value)
            locked[key] = value

    monkeypatch.setattr(RuntimeConfig, "set", guarded_set)
    yield lock
    monkeypatch.undo()
    io.ensure_runtime_confs(spark)


def _micros(df):
    return sorted(df.select("event_id", F.unix_micros("ts").alias("us")).collect())


def _source_micros():
    tbl = pq.read_table(f"{SMOKE}/events.parquet", columns=["event_id", "ts"])
    return sorted(zip(tbl.column("event_id").to_pylist(),
                      tbl.column("ts").cast(pa.int64()).to_pylist()))


def _write_events(tmp_path, ts_type, **write_opts):
    tbl = pq.read_table(f"{SMOKE}/events.parquet")
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", tbl.column("ts").cast(ts_type))
    pq.write_table(tbl, str(tmp_path / "events.parquet"), **write_opts)
    return str(tmp_path)


@pytest.mark.parametrize("form", ["nanos_stored_schema", "nanos_bare", "int96", "micros_ntz"])
def test_hostile_event_time_encodings(spark, tmp_path, lock_conf, form):
    if form == "nanos_stored_schema":
        sf_dir = _write_events(tmp_path, pa.timestamp("ns"), store_schema=True)
    elif form == "nanos_bare":
        sf_dir = _write_events(tmp_path, pa.timestamp("ns"), store_schema=False)
    elif form == "int96":
        sf_dir = _write_events(tmp_path, pa.timestamp("ns"), use_deprecated_int96_timestamps=True)
    else:
        sf_dir = SMOKE
        lock_conf(**{INFER_NTZ: "true"})
    path = os.path.join(sf_dir, "events.parquet")
    got = io.load_table(spark, sf_dir, "events")

    footer = io._footer_schema(spark, path)
    inferred = spark.read.parquet(path).schema
    if form == "int96":
        assert footer is None  # not recognised: Spark infers it
    else:
        assert footer == inferred
        want_ts = {"micros_ntz": T.TimestampNTZType()}.get(form, T.LongType())
        assert inferred["ts"].dataType == want_ts
    assert got.schema["ts"].dataType == T.TimestampType()
    assert _micros(got) == _source_micros()


def test_nanos_with_nanos_as_long_locked_off_raises_naming_the_conf(spark, tmp_path, lock_conf):
    sf_dir = _write_events(tmp_path, pa.timestamp("ns"), store_schema=False)
    lock_conf(**{NANOS_AS_LONG: "false"})
    with pytest.raises(RuntimeError, match=NANOS_AS_LONG):
        io.load_table(spark, sf_dir, "events")


def test_stream_events_probe_fires_no_job_and_empty_glob_still_raises(spark, tmp_path):
    src, jobs = _jobs_fired(spark, "stream-events-probe", lambda: stream_events(spark, SMOKE))
    assert jobs == []
    assert src.isStreaming and src.schema["ts"].dataType == T.TimestampType()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        stream_events(spark, str(tmp_path), glob="none_*.parquet")
