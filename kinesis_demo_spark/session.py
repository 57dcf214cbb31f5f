"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every setting here is chosen so the same
plans hold on a multi-executor cluster at 100 TB:

- AQE on (runtime re-planning: coalesce shuffle partitions, skew-join split,
  dynamic broadcast conversion).
- UTC session timezone so event-time window semantics are deployment-stable
  and match the DuckDB oracle's naive timestamps.
- Arrow enabled for any pandas-UDF path (vectorized Python boundary).
- Streaming checkpoints written through the FileSystem-API checkpoint file
  manager: the same temp-file-then-rename protocol as Spark's default
  FileContext manager, without a forked ``readlink`` per rename on a host
  without libhadoop (see the conf's comment in ``RUNTIME_CONFS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


# Runtime SQL confs the engine's plans and streams depend on. get_spark
# builds every engine session with them; io.ensure_runtime_confs applies
# them to a session the engine did not build (the driver contract's own).
RUNTIME_CONFS = {
    # Event-time windows must match the DuckDB oracle's naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Fixture timestamp columns must surface as UTC instants whatever
    # physical type a fixture generation uses: TIMESTAMP(NANOS) scans as
    # int64 (io.load_table converts), naive TIMESTAMP(MICROS) scans as
    # TIMESTAMP_LTZ directly rather than TIMESTAMP_NTZ.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write streaming checkpoints (offset, commit and source logs, state
    # store deltas) through the FileSystem API, not Spark's default
    # FileContext manager. Without libhadoop, FileContext's rename stats
    # both paths with getFileLinkStatus, and on the local file system
    # each stat forks a `readlink` process: about 90 per micro-batch of
    # perfbench's serve_and_drain drain. On a 4-core host one 300-byte
    # createAtomic + close took 31-34 ms through the FileContext
    # manager against 0.04 ms for a Python write + rename;
    # fc.rename(OVERWRITE) alone took 25 ms and fs.rename 0.9 ms.
    # Safe because both managers write to a temp file and rename it into
    # place, and both refuse an existing destination when
    # overwriteIfPossible is false: FileSystemBasedCheckpointFileManager
    # .renameTempFile checks exists, then calls rename, and LocalFs's
    # FileContext rename is itself a check followed by File.renameTo.
    # Spark's fallback warning is about a non-atomic FileSystem.rename;
    # rename(2) is atomic on a local POSIX file system. The files are
    # the same either way: N.delta, its N.delta.crc checksum and
    # Hadoop's .N.delta.crc sidecar, with identical sizes.
    CHECKPOINT_MANAGER_CONF: (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_shuffle_partitions(cores: int) -> int:
    """Static shuffle-partition default: cores // 4, floored at 4, overridable
    via ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` (clusters set it to match data
    volume, or pass ``shuffle_partitions`` explicitly).

    Why below the core count (r14 measurement, guide §2.2/§1.2): at fixture
    scale every shuffle moves single-digit MB, so reduce-task count is pure
    dispatch overhead — the driver's own 8-core bench beat its 32-core bench
    by 23% (VERDICT r13), and a same-session alternating A/B at 32 cores
    measured 32 -> 8 static partitions as -16% over an 18-query sample
    (iterative loops largest: pagerank 11.4 -> 8.5 s, LPA 8.3 -> 7.4,
    dedup_rate_by_source 3.2 -> 2.7; worst loss tpch_q1 +15%). AQE can only
    COALESCE below the static number, never split above it (except skew),
    so the static value is the parallelism CAP per shuffle: compute-heavy
    stages keep full-core fan-out through spread()/fan_out() (which use
    defaultParallelism = all cores, unchanged), and a 100 TB deployment
    must size this to data volume (100 MB - 1 GB per partition), not
    inherit the fixture-scale default — hence the env override and the
    explicit parameter."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    return max(cores // 4, 4)


def default_driver_memory() -> str:
    """Driver heap default: half the host's physical memory, capped at 32g
    and floored at 1g, overridable via ``$SPARK_GRAFT_DRIVER_MEM``.

    Local mode hosts the driver AND all executor threads in ONE JVM: an 8g
    heap put the 60-query bench under old-gen GC churn at 32 cores
    (measured: mid-bench queries 3-4x their fresh-session warm time,
    serving p95 blowing the 2 s budget), so the cap is the 32g that
    restored executor-like headroom there. A fixed 32g on a smaller host
    lets the JVM grow past physical RAM and get OOM-killed instead of
    spilling; half of RAM leaves the rest to Python workers and the page
    cache. On a real cluster this knob is per-executor memory, not
    driver."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(32 * 1024, phys_mb // 2))}m"


def get_spark(
    app_name: str = "kinesis-demo-spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to ``default_shuffle_partitions`` (cores
    derived, env-overridable — see its docstring for the r14 measurement);
    AQE still coalesces below it by bytes.
    ``extra_confs`` lets a harness set startup-only confs (e.g. the serving
    loop's FAIR scheduler) — ignored if a session already exists in-process.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or default_shuffle_partitions(cores)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold, and let AQE rewrite SMJ->SHJ at runtime when every
        # post-shuffle partition is under the threshold: SHJ skips both
        # sides' sorts. Measured same-session min-of-3 at sf0.1 (r13):
        # join_orders_lineitem_priority 4.16->3.31 s, tpch_q9 2.77->2.57,
        # dedup_ngram_jaccard 1.87->1.74, never worse beyond noise. Values
        # are join-strategy-independent (oracle-checked). At cluster scale
        # the 64 MB per-partition build bound is what makes SHJ safe — the
        # AQE advisory size keeps post-shuffle partitions near that bound;
        # SHJ spills in Spark 3.3+ rather than OOMing if estimates are off.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # No Python call-site capture per DataFrame API call. With it on,
        # PySpark wraps every functions.* and Column call to read a conf,
        # set and clear a JVM-side origin, and walk the Python stack: one
        # serving-poll build makes 208 py4j round trips with capture on and
        # 78 with it off, about 24 -> 18 ms per build on a 4-core host at
        # sf0.1. What is lost is the Python call site in an error's
        # "DataFrame query context" section; no engine code or test reads
        # it. PySpark reads this conf once per process, from the first
        # active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
