"""Sessionization queries: the batch window-function form and the
applyInPandasWithState streaming form, BOTH value-hash oracle-checked.

The streaming variant emits a session only when the gap that closes it is
observed, so after draining the finite fixture (single micro-batch) its
output is exactly "all sessions except each user's last" — a deterministic
set the oracle expresses with a row_number anti-filter. That turns the custom
stateful operator from a rows-only check into a real differential test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.timeutil import epoch_ms_sql
from ..io import load_table
from ..operators.sessionize import SESSION_GAP_MS, batch_sessionize, streaming_sessionize
from ..registry import register
from ..streaming.pipeline import drain, stream_events

_SESSIONS_CTE = f"""
o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR {epoch_ms_sql('ts')} - {epoch_ms_sql('lag(ts) OVER w')} > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM o
),
sessions AS (
  SELECT user_id, session_id,
         min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM s GROUP BY 1, 2
)
"""


@register(
    "sessionize_events",
    oracle=f"""
WITH {_SESSIONS_CTE}
SELECT user_id, session_id, session_start, session_end, n_events, sum_value
FROM sessions
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (24 h gap): lag + running-sum windows, one
    shuffle on user_id. See operators/sessionize.py."""
    events = load_table(spark, sf_dir, "events")
    return batch_sessionize(events).withColumn("session_id", F.col("session_id").cast("long"))


@register(
    "sessionize_stateful_streaming",
    oracle=f"""
WITH {_SESSIONS_CTE}
SELECT user_id, session_start, session_end, n_events, sum_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY session_id DESC) AS rn
  FROM sessions
)
WHERE rn > 1
""",
)
def sessionize_stateful_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: applyInPandasWithState carries the
    open session per user across micro-batches and emits sessions as their
    closing gap arrives (each user's trailing session stays open — excluded
    from the oracle by construction)."""
    name = "stream_sessions_" + str(abs(hash(sf_dir)) % 10**6)
    sessions = streaming_sessionize(stream_events(spark, sf_dir))
    # n=8, not drain's default 4: applyInPandasWithState runs one Python
    # worker per partition, so this drain is the one whose per-batch COMPUTE
    # parallelism matters (r13 three-way A/B: 2.5 s at 8 vs 3.1 s at 4 vs
    # 4.6 s at 2).
    return drain(sessions, name, "append", state_partitions=8)


@register(
    "sessionize_builtin_window",
    oracle=f"""
WITH {_SESSIONS_CTE}
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sessions
""",
)
def sessionize_builtin_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 24 h-gap sessions via Spark's BUILT-IN ``session_window`` —
    a three-way differential with the window-function form and the DuckDB
    oracle, pinning that the engine's custom operator matches Catalyst's
    native session semantics. Boundary fine print: session_window splits at
    gap >= 24 h compared at full timestamp precision, while the custom
    operator (and the reference-derived oracle) split at gap > 24 h on
    ms-floored timestamps — divergence requires a per-user gap within 1 ms
    of exactly 24 h, and the closest gap in any fixture is 1.19 s away
    (probed at sf0.001/0.01/0.1). The custom operator still earns its keep:
    session_window cannot express the streaming emission policy or the
    integer-cents state the stateful form carries."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "24 hours").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


@register(
    "streaming_session_windows",
    oracle=f"""
WITH events_f AS (
  -- Spark's streaming watermark initializes at EPOCH ZERO: the native
  -- session_window operator drops any input row whose prospective session
  -- end (ts + gap) does not clear that initial watermark, so events older
  -- than epoch - 24 h are late-on-arrival in the first micro-batch (--time
  -- fixture, r12: the 1677-era sessions vanished and the pre-1970 sessions
  -- lost their first three days). The oracle mirrors the drop; the CAST
  -- truncates ns->us like the stream's own load normalization.
  SELECT * FROM events
  WHERE CAST(ts AS TIMESTAMP) + INTERVAL 24 HOURS > TIMESTAMP '1970-01-01 00:00:00'
),
{_SESSIONS_CTE.replace("FROM events", "FROM events_f")}
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sessions
WHERE user_id IS NOT NULL
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` under a watermark in STREAMING append mode,
    drained over the staged fixture and value-hash compared against the
    batch sessions oracle — the MERGING-state surface the tumbling/hopping
    drains cannot exercise (session state has no fixed window key; in-
    watermark events fuse open sessions, and a session emits only when the
    watermark proves nothing can extend it). Completes the four-way session
    differential: window-function batch, session_window batch, custom
    stateful streaming, and now native streaming. Same >=/>-boundary fine
    print as sessionize_builtin_window — divergence needs a gap within 1 ms
    of exactly 24 h, probed absent at all fixture scales. Drain mechanics
    (sentinel watermark push, post-drain filter) are harness, documented at
    streaming/pipeline.py::run_stream_session_windows; the aggregation plan
    is the production shape with per-open-session state evicted at the
    watermark.

    NULL-keyed rows are excluded in BOTH engines: Spark's STREAMING
    stateful aggregation drops rows whose group key is NULL (state needs a
    key) while the batch window form keeps a NULL-user session — the r8
    adversarial sweep caught the one-session gap, and "a session belongs
    to a user" is the semantics a serving store enforces anyway (the
    filter is a no-op on NULL-free fixtures)."""
    from ..streaming.pipeline import run_stream_session_windows

    return run_stream_session_windows(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
