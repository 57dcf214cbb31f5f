"""bench.py survives a raising headline query."""

from __future__ import annotations

from kinesis_demo_spark import io


def test_time_query_records_error_and_releases(spark):
    import bench

    def raising_query(spark, sf_dir):
        io.track_persist(spark.range(3))
        raise ValueError("boom")

    assert bench.time_query(spark, raising_query, io.SMOKE_SF_DIR) == {
        "error": "ValueError: boom"
    }
    assert io._TRACKED_PERSISTS == []

    res = bench.time_query(spark, lambda s, d: s.range(5), io.SMOKE_SF_DIR)
    assert len(res["runs"]) in (2, 3) and all(t > 0 for t in res["runs"])


def test_headline_is_the_registry_minus_the_exclusions():
    import bench
    from kinesis_demo_spark.registry import all_queries

    registered = list(all_queries())
    headline = bench.headline()
    assert len(headline) == 205
    assert bench.BENCH_EXCLUDED <= set(registered)
    assert not bench.BENCH_EXCLUDED & set(headline)
    assert headline == [n for n in registered if n in set(headline)]
