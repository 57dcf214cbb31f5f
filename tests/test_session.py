"""Session defaults: the ones that adapt to the host, and the engine confs
the session builder sets."""

from __future__ import annotations

import os

import pytest

from kinesis_demo_spark.io import SMOKE_SF_DIR
from kinesis_demo_spark.session import CHECKPOINT_MANAGER_CONF, default_driver_memory
from kinesis_demo_spark.streaming.pipeline import stream_events


def _host_with(monkeypatch, phys_bytes: int) -> None:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "phys_gib, want",
    [
        (15, "7680m"),  # half of RAM
        (64, "32768m"),  # exactly at the cap
        (256, "32768m"),  # capped at 32g
        (1, "1024m"),  # floored at 1g
    ],
)
def test_driver_heap_is_half_of_ram_within_bounds(monkeypatch, phys_gib, want):
    _host_with(monkeypatch, phys_gib * 2**30)
    assert default_driver_memory() == want


def test_driver_heap_env_override_wins(monkeypatch):
    _host_with(monkeypatch, 15 * 2**30)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_engine_session_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."


def _checkpoint_manager(session, path) -> str:
    """The class of the checkpoint file manager ``session`` writes ``path``
    through."""
    jvm = session._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        session._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getName()


def test_engine_session_checkpoints_through_the_file_system_manager(spark, tmp_path):
    """A local checkpoint resolves to the FileSystem-API checkpoint manager,
    whose rename forks no process on a host without libhadoop."""
    assert _checkpoint_manager(spark, tmp_path) == _MANAGERS + "FileSystemBasedCheckpointFileManager"


def test_foreign_session_checkpoints_through_the_file_system_manager(spark, tmp_path):
    """A session whose manager conf is unset falls back to Spark's
    FileContext manager; the engine's stream reader sets the FileSystem-API
    manager on it, as on any session the engine did not build (the driver
    contract's own)."""
    foreign = spark.newSession()
    foreign.conf.unset(CHECKPOINT_MANAGER_CONF)
    assert _checkpoint_manager(foreign, tmp_path) == _MANAGERS + "FileContextBasedCheckpointFileManager"
    stream_events(foreign, SMOKE_SF_DIR)
    assert _checkpoint_manager(foreign, tmp_path) == _MANAGERS + "FileSystemBasedCheckpointFileManager"
