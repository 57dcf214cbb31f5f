"""Wall-clock (TIMESTAMP_NTZ) time-bucket helpers.

The driver fixtures store naive parquet timestamps (isAdjustedToUTC=false),
which Spark 4 reads as TIMESTAMP_NTZ and DuckDB as naive TIMESTAMP — both
engines start in the same wall-clock domain. ``F.date_trunc`` however takes
TimestampType, so applying it to an NTZ column silently COERCES to the
instant domain through the session timezone: under a DST zone a gap-hour
local time (2024-03-10 02:30 America/New_York) shifts to 03:xx before
truncation and an ambiguous fall-back hour resolves to one offset, while
the oracle's naive ``date_trunc`` keeps the wall-clock hour — the engines
split on exactly the hostile-time rows (ADVICE r11 #4). ``trunc_hour_ntz``
truncates WITHOUT leaving the NTZ domain, so hour bucketing and lag
arithmetic stay pure wall-clock and bit-exact against a naive-timestamp
oracle in every session timezone, DST or not.

Scale: ``make_timestamp_ntz`` over extracted fields is a handful of
codegen'd integer ops per row — same cost class as date_trunc, no UDF, no
shuffle implications.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def trunc_hour_ntz(col: Column | str) -> Column:
    """date_trunc('hour', ts) that stays TIMESTAMP_NTZ (wall-clock)."""
    c = _c(col)
    return F.make_timestamp_ntz(
        F.year(c), F.month(c), F.day(c), F.hour(c), F.lit(0), F.lit(0)
    )


def epoch_ms_sql(expr: str) -> str:
    """DuckDB fragment mirroring Spark's ``unix_millis`` (FLOOR division of
    epoch micros) on a timestamp expression. DuckDB's native ``epoch_ms``
    and integer ``//`` both TRUNCATE toward zero, so every pre-1970
    timestamp with sub-millisecond residue comes out one millisecond high
    vs Spark (found by the --time sweep, r12). The CAST to TIMESTAMP first
    truncates ns->us exactly like load_table's ``ts DIV 1000``
    normalization, keeping the whole ns->us->ms chain engine-identical."""
    u = f"epoch_us(CAST({expr} AS TIMESTAMP))"
    return f"({u} // 1000 + CASE WHEN {u} % 1000 < 0 THEN -1 ELSE 0 END)"
