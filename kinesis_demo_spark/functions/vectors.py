"""Cross-engine vector arithmetic over ``array<float>`` embedding columns.

Both engines fold the elementwise product left-to-right in double precision
(Spark ``F.aggregate`` HOF — JVM codegen, no Python boundary; DuckDB
``list_reduce``). The Spark fold seeds with 0.0 and the DuckDB fold seeds with
the first product; ``(0.0 + p1) == p1`` exactly in IEEE, so both produce
bit-identical sums and cosine scores need no rounding for the value-hash gate.

Scale note: the fold is per-row compute inside whole-stage codegen —
embarrassingly parallel, no shuffle. At 100 TB the cost center is never the
arithmetic but the pair/candidate generation around it (see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot_fold(a: Column, b: Column) -> Column:
    # The zip_with+aggregate HOF evaluates interpreted per element (lambdas
    # never enter whole-stage codegen), but its expression tree is ~5 nodes.
    # An unrolled 64-term element_at chain IS codegen-able and measured 2.1x
    # faster per 1M dots in isolation — and a net LOSS in every real query
    # (r13 A/B at sf0.1: mmr_rerank 2.1 s -> 20-100 s, ann_recall 1.9 -> 5.1,
    # retrieval_eval 2.1 -> 5.4): the ~390-node tree per dot SITE multiplies
    # through Catalyst analysis/optimization and Janino compilation, which
    # dominate fixture-scale compute; iterative plans (MMR, coreset) embed
    # the tree once per round and planning explodes. Keep the tiny HOF.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_fold_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x,y) -> x + y)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot_fold(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_fold_sql(a, a)})"


def sqdist(a: Column | str, b: Column | str) -> Column:
    """Bit-exact squared L2: left-to-right fold of (a - b)^2 in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ordered_sum(order: Column, value: Column, where: Column | None = None) -> Column:
    """Aggregate: the group's ``value`` summed left to right in ``order``
    from 0.0, leaving out rows where ``where`` is false. A float sum depends
    on its order, so both engines fold the members in the same order — the
    DuckDB mirror is ``list_reduce(list(value ORDER BY order), (x, y) ->
    x + y)`` — and the sums are bit-identical. The per-group collect is
    bounded by group size; a whale group goes two-stage with fixed partial
    boundaries."""
    item = F.struct(order, value.alias("x"))
    if where is not None:
        item = F.when(where, item)
    return F.aggregate(
        F.transform(F.sort_array(F.collect_list(item)), lambda s: s["x"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sign_bucket_band(a: Column | str, start: int, bits: int) -> Column:
    """Hyperplane-sign bucket over dims [start, start+bits) — one table of a
    multi-table LSH (L tables x b bits beats one wide signature: a neighbor
    pair only needs agreement on SOME band of dims, so per-neighbor recall is
    1-(1-p^b)^L instead of p^dims)."""
    col = F.col(a) if isinstance(a, str) else a
    bits_cols = [
        F.when(F.element_at(col, start + d + 1) >= 0, F.lit(1 << d)).otherwise(F.lit(0))
        for d in range(bits)
    ]
    out = bits_cols[0]
    for b in bits_cols[1:]:
        out = out + b
    return out.cast("long")


def sign_bands(a: Column | str, bits: int, tables: int) -> Column:
    """The multi-table LSH index row generator: one exploded
    ``struct(tbl, bucket)`` per table t, bucketing dims [t*bits, (t+1)*bits)
    with ``sign_bucket_band``. Every banded index and the recall report
    that audits it band through this one expression."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    sign_bucket_band(a, t * bits, bits).alias("bucket"),
                )
                for t in range(tables)
            ]
        )
    )


def sign_bucket_band_sql(a: str, start: int, bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN {a}[{start + d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
        for d in range(bits)
    )
