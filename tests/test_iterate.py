"""io.iterate, the round driver behind every iterative operator (PageRank,
LPA, k-core, both connected-components variants, k-means, WordPiece)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_demo_spark import io
from kinesis_demo_spark.io import SMOKE_SF_DIR, iterate, load_table, release_persisted


def test_iterate_cadence_early_stop_and_budget_raise(spark):
    release_persisted()
    base = load_table(spark, SMOKE_SF_DIR, "nation").select(F.col("n_nationkey").alias("k"))

    def bump(df):
        return df.select((F.col("k") + 1).alias("k"))

    def min_k(df):
        return df.agg(F.min("k")).first()[0]

    def persisted():
        # track_persist registers the cached frame; track_checkpoint a new,
        # uncached checkpoint leaf
        return [df.is_cached for df in io._TRACKED_PERSISTS]

    # cadence: round r checkpoints iff r % checkpoint_every == 0
    for every in (1, 2, 4):
        out = iterate(base, bump, 8, checkpoint_every=every, name="bump")
        assert persisted() == [r % every != 0 for r in range(1, 9)], every
        assert persisted().count(False) == 8 // every
        assert min_k(out) == 8
        release_persisted()

    # early stop: until sees each round's new state and ends the loop; the
    # persisted round 1 is released once round 2's check has run, the
    # returned round-3 persist stays for the caller
    seen = []

    def reached_3(old, new):
        seen.append(min_k(new))
        return seen[-1] >= 3

    out = iterate(base, bump, 10, until=reached_3, checkpoint_every=2, name="bump")
    assert seen == [1, 2, 3]
    assert min_k(out) == 3
    assert persisted() == [False, False, True]
    release_persisted()

    # budget: an until that never holds raises naming the loop and budget
    with pytest.raises(RuntimeError, match=r"never_settles.*within 4 rounds"):
        iterate(base, bump, 4, until=lambda old, new: False, name="never_settles")
    assert len(io._TRACKED_PERSISTS) == 4
    release_persisted()
