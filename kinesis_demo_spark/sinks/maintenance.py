"""Lake-maintenance operators for the partitioned serving store: small-file
compaction and time-based partition retention — the two jobs every
parquet-backed store schedules (Delta/Iceberg expose them as OPTIMIZE and
retention policies; on plain parquet directories they are rewrite passes).

Both are layout-only: the row set is bit-identical before and after
(asserted in tests/test_maintenance.py), so they carry no SQL oracle — the
invariant IS "the data didn't change, only the files did".

Every writer of the store — compaction, retention, subject purge and the
streaming upsert (`streaming.pipeline.run_foreach_batch_upsert`) — commits a
partition through the one `_swap_in` / `_recover_incomplete` pair below, so
each recognises and recovers the others' crash remnants.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

# Target in-memory bytes per compacted output file. Parquet encodes/compresses
# below this; the point is an order-of-magnitude file-count reduction, not an
# exact on-disk size.
TARGET_FILE_BYTES = 64 * 1024 * 1024

# Staging/backup siblings are dot-prefixed so they can NEVER be parsed as live
# partitions: Hadoop/Spark directory listings skip `.`/`_`-prefixed paths and
# `_partition_dirs` matches only the `col=` prefix. (A bare `day=X__old` name
# would re-surface purged rows as a bogus partition value after a crash.)
_STAGING_PREFIX = ".staging__"
_BACKUP_PREFIX = ".old__"


def _partition_dirs(path: str, partition_col: str) -> list[str]:
    return sorted(
        d for d in os.listdir(path) if d.startswith(partition_col + "=")
    )


def _recover_incomplete(path: str, part_name: str | None = None) -> dict:
    """Sweep leftover staging/backup dirs from a crashed `_swap_in` (by any
    writer) and restore the invariant "only live partitions exist". Rules,
    per partition name X derived from a `.old__X` / `.staging__X` sibling:

    - live X present + `.old__X` present -> the swap completed; finish the
      interrupted cleanup (drop the backup).
    - live X absent + `.old__X` present -> crash between the two renames;
      ROLL BACK (rename the backup to X, drop any staging). The maintenance
      op simply didn't happen and an idempotent re-run redoes it.
    - orphan `.staging__X` -> the write finished but the swap never started;
      drop it (old layout intact).

    ``part_name`` SCOPES the sweep to one partition's dirs. Every caller
    recovers only the partitions it is about to touch — a global sweep would
    destroy the in-flight staging of a CONCURRENT per-partition maintenance
    job on the same store (the scheduler-parallelizes-per-partition contract
    in compact_partition's docstring). Concurrent ops on the SAME partition
    remain the caller's responsibility to serialize, as with any
    single-writer-per-partition lake protocol.

    Returns {rolled_back: [...], cleaned: [...]} for audit logs."""
    def in_scope(name: str) -> bool:
        return part_name is None or name == part_name

    rolled_back, cleaned = [], []
    for d in sorted(os.listdir(path)):
        if d.startswith(_BACKUP_PREFIX) and in_scope(d[len(_BACKUP_PREFIX):]):
            live = os.path.join(path, d[len(_BACKUP_PREFIX):])
            backup = os.path.join(path, d)
            if os.path.isdir(live):
                shutil.rmtree(backup)
                cleaned.append(d)
            else:
                os.rename(backup, live)
                rolled_back.append(d)
    for d in sorted(os.listdir(path)):
        if d.startswith(_STAGING_PREFIX) and in_scope(d[len(_STAGING_PREFIX):]):
            shutil.rmtree(os.path.join(path, d))
            cleaned.append(d)
    return {"rolled_back": rolled_back, "cleaned": cleaned}


def _all_partition_names(path: str, partition_col: str) -> list[str]:
    """Every partition name present in ANY form — live, crashed backup, or
    orphan staging — so sweeping callers cannot miss a partition whose only
    remnant is a `.old__X` left by a crash."""
    prefix = partition_col + "="
    names = set()
    for d in os.listdir(path):
        for p in (_BACKUP_PREFIX, _STAGING_PREFIX):
            if d.startswith(p):
                d = d[len(p):]
                break
        if d.startswith(prefix):
            names.add(d)
    return sorted(names)


def _swap_in(path: str, part_name: str, write_staging) -> None:
    """Stage-write then rename-swap one partition — the store's only
    partition commit (maintenance and the streaming upsert both use it).
    `write_staging(dst)` must materialize the new layout at dst. Crash at
    any point is recoverable by `_recover_incomplete` (old or new layout,
    never a mix, never a bogus partition name). A partition's first commit
    has no live dir to back up."""
    part_dir = os.path.join(path, part_name)
    staging = os.path.join(path, _STAGING_PREFIX + part_name)
    backup = os.path.join(path, _BACKUP_PREFIX + part_name)
    write_staging(staging)
    had_live = os.path.isdir(part_dir)
    if had_live:
        os.rename(part_dir, backup)
    os.rename(staging, part_dir)
    if had_live:
        shutil.rmtree(backup)


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_value: str,
    sort_col: str | None = None,
    target_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Rewrite ONE partition of a partitioned parquet store into
    size-targeted files (optionally re-sorted on ``sort_col`` so range scans
    stay clustered after compaction). Staged to a sibling directory and
    swapped in by `_swap_in` — the same commit code the streaming upsert
    sink uses — so a crash mid-compact leaves either the old or the new
    layout, never a mix, and either writer recovers the other's remnants.

    Scale: compaction is per-partition (the unit a scheduler parallelizes
    over); each rewrite is one narrow read -> coalesce -> write with no
    shuffle unless ``sort_col`` asks for clustering. Returns
    {files_before, files_after, rows}.
    """
    part_name = f"{partition_col}={partition_value}"
    _recover_incomplete(path, part_name)
    part_dir = os.path.join(path, part_name)
    if not os.path.isdir(part_dir):
        raise FileNotFoundError(part_dir)
    files_before = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    df = spark.read.parquet(part_dir)
    rows = df.count()
    size_bytes = sum(
        os.path.getsize(os.path.join(part_dir, f)) for f in files_before
    )
    n_out = max(1, -(-size_bytes // target_bytes))  # ceil div
    if sort_col is not None:
        out = df.repartitionByRange(n_out, F.col(sort_col)).sortWithinPartitions(sort_col)
    else:
        out = df.coalesce(n_out)
    _swap_in(path, part_name, lambda dst: out.write.mode("overwrite").parquet(dst))
    files_after = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    return {
        "files_before": len(files_before),
        "files_after": len(files_after),
        "rows": rows,
    }


def expire_partitions(
    path: str, partition_col: str, keep_from: str
) -> dict:
    """Time-based retention: drop every partition whose value sorts strictly
    below ``keep_from`` (partition values must be lexicographically ordered
    — true for zero-padded day indexes and ISO dates, which is why the
    serving store partitions on a numeric UTC day). Directory-level deletes
    only — O(expired partitions), the data files are never read.

    Crash remnants are handled per partition value: an expired partition's
    leftover `.old__X`/`.staging__X` dirs are deleted along with it (a later
    recovery must NOT be able to resurrect retention-expired — or
    purge-crashed — rows), and a KEPT partition whose only remnant is a
    backup is rolled back first so retention never discards live data.

    Returns {expired: [...], kept: [...]}.
    """
    expired, kept = [], []
    prefix = partition_col + "="
    for d in _all_partition_names(path, partition_col):
        value = d[len(prefix):]
        if value < keep_from:
            # Report as expired only if LIVE data existed (a backup counts:
            # recovery would have restored it). A staging-only remnant is an
            # orphan from a crashed first write — swept, but never data, so
            # it must not appear in the audit report (ADVICE r6).
            had_live = any(
                os.path.isdir(os.path.join(path, form))
                for form in (d, _BACKUP_PREFIX + d)
            )
            for form in (d, _BACKUP_PREFIX + d, _STAGING_PREFIX + d):
                full = os.path.join(path, form)
                if os.path.isdir(full):
                    shutil.rmtree(full)
            if had_live:
                expired.append(value)
        else:
            _recover_incomplete(path, d)
            # After recovery, a staging-only orphan has been swept and no
            # live dir exists — that value was never committed data.
            if os.path.isdir(os.path.join(path, d)):
                kept.append(value)
    return {"expired": expired, "kept": kept}


def purge_subject(
    spark: SparkSession,
    path: str,
    partition_col: str,
    subject_col: str,
    subject_value,
) -> dict:
    """Right-to-be-forgotten purge: rewrite ONLY the partitions that contain
    the subject's rows, dropping them, with the same staged rename-swap
    crash discipline as compaction (a crash leaves the old or the new
    layout, never a mix). Every other partition's files are untouched —
    the audit checkpoint a deletion pipeline needs is exactly the returned
    {partitions_scanned, partitions_rewritten, rows_purged}.

    Scale: the probe pass reads only ``subject_col`` per partition (column
    pruning + a pushed equality filter), so untouched partitions cost a
    metadata-cheap scan and zero writes; rewrites are per-partition units a
    scheduler parallelizes over. A lake format with deletion vectors would
    make this a metadata operation; on plain parquet the rewrite-only-
    touched-partitions shape is the best possible cost.

    NULL safety: hit counting and the kept filter both use eqNullSafe — a
    plain `!=` evaluates to NULL for NULL-keyed rows, which would silently
    destroy unrelated rows in every rewritten partition (and undercount the
    loss). Pinned in tests/test_maintenance.py."""
    scanned = rewritten = purged = 0
    # _all_partition_names so a partition whose only remnant is a crashed
    # backup is recovered and then scanned like any other; recovery is
    # scoped per partition as each is visited (concurrent maintenance on
    # OTHER partitions is never touched).
    for part_name in _all_partition_names(path, partition_col):
        _recover_incomplete(path, part_name)
        part_dir = os.path.join(path, part_name)
        if not os.path.isdir(part_dir):
            continue  # staging-only remnant: swept, nothing live to scan
        scanned += 1
        df = spark.read.parquet(part_dir)
        is_subject = F.col(subject_col).eqNullSafe(F.lit(subject_value))
        hits = df.filter(is_subject).count()
        if hits == 0:
            continue
        kept = df.filter(~is_subject)
        _swap_in(
            path, part_name,
            lambda dst, kept=kept: kept.write.mode("overwrite").parquet(dst),
        )
        rewritten += 1
        purged += hits
    return {
        "partitions_scanned": scanned,
        "partitions_rewritten": rewritten,
        "rows_purged": purged,
    }
