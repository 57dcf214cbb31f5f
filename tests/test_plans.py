"""Physical-plan shape assertions: the scale story is only real if the plans
actually do what the docstrings claim — filters reach the parquet scan,
dimensions broadcast, projections prune the read schema, limits become
TakeOrdered. These tests pin that, so a regression in plan shape fails CI
even while results stay correct."""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys
from pathlib import Path

from kinesis_demo_spark.registry import all_queries

SF = "/root/testdata/sf0.001"
Q = all_queries()
ROOT = Path(__file__).resolve().parent.parent


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_serving_scan_pushes_user_and_time_predicates(spark):
    plan = _plan(Q["serving_forward_poll"](spark, SF))
    assert "PushedFilters:" in plan
    assert "EqualTo(user_id" in plan  # Q1 keyed filter reaches the scan
    assert "IsNotNull" in plan


def test_tpch_q1_pushes_shipdate_filter_and_prunes_columns(spark):
    plan = _plan(Q["tpch_q1_pricing_summary"](spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate pushdown
    # column pruning: the untouched wide columns never reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_every_dimension(spark):
    plan = _plan(Q["star_join_revenue_by_region"](spark, SF), mode="simple")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_projection_switch_prunes_movs(spark):
    # count-projection serving query must not read/carry the movs payload
    plan = _plan(Q["serving_forward_poll"](spark, SF), mode="simple")
    assert "movs" not in plan


def test_topk_limit_becomes_take_ordered(spark):
    plan = _plan(Q["serving_reverse_limit"](spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_agg_pipeline(spark):
    # under AQE codegen stages only appear in the FINAL adaptive plan, after
    # execution; starred operators (`*(n) HashAggregate...`) are the
    # WholeStageCodegen spans
    df = Q["agg_window_count"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_ann_broadcasts_query_side(spark):
    """The exact scoring of every ANN variant broadcasts its query side and
    never its corpus side: a re-rank fetches only shortlist rows by key, so
    a broadcast hint over the neighbor_id-keyed vectors would ship the
    whole corpus to every executor."""
    for name in (
        "ann_cosine_topk",
        "ann_cosine_topk_lsh",
        "ann_cosine_topk_truncated",
        "ann_hamming_binary",
        "ann_pq_adc_topk",
        "ann_cosine_topk_ivf",
    ):
        df = Q[name](spark, SF)
        plan = _plan(df, mode="simple")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        lines = _analyzed(df).splitlines()
        hinted = [lines[i + 1] for i, line in enumerate(lines) if "ResolvedHint" in line]
        assert any(" AS query_id#" in h and " AS qe#" in h for h in hinted), name
        assert not any(" AS neighbor_id#" in h for h in hinted), name


def test_fingerprint_ignores_lambdas_built_before(spark):
    """PySpark names each higher-order-function lambda variable from one
    JVM-wide counter, so a query built after others carries other names;
    its plan fingerprint must not depend on what was built before it."""
    from tools.plan_audit import fingerprint

    first = fingerprint(Q["ann_cosine_topk"](spark, SF))
    Q["knn_label_vote"](spark, SF)
    assert fingerprint(Q["ann_cosine_topk"](spark, SF)) == first


# Fingerprints that change between sessions with no change to the query;
# only their build-job counts are compared with PLANS.json.
_FLAPPERS = {
    "profile_events_columns": "Spark numbers a multi-DISTINCT aggregate's groups in hash order",
    "tpch_q21_waiting_suppliers": "Spark numbers a multi-DISTINCT aggregate's groups in hash order",
    "prf_query_expansion": "embeds the AQE plan of a cached index an earlier query built",
}


def test_every_plan_matches_the_plans_record(tmp_path):
    """The refactor gate: a fresh ``tools/plan_audit.py`` run over the whole
    registry at sf0.001 matches PLANS.json query by query, every
    ``fingerprint`` (bar the flappers') and every ``n_build_jobs``. A
    behaviour-neutral refactor keeps them all; an intended plan change
    regenerates the record in the same commit. The audit runs in its own
    process at 32 cores, because PLANS.json is a 32-core record:
    ``repartition(defaultParallelism)`` and the core-derived shuffle
    partition count are part of the plan."""
    out = tmp_path / "plans.json"
    env = {**os.environ, "SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_DRIVER_MEM": "2g",
           "SPARK_GRAFT_SF_DIR": SF}
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    run = subprocess.run(
        [sys.executable, "tools/plan_audit.py", "--json", str(out)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(out.read_text())
    want = json.loads((ROOT / "PLANS.json").read_text())
    assert got.keys() == want.keys()
    moved = {}
    for name, rec in want.items():
        fields = ("n_build_jobs",) if name in _FLAPPERS else ("fingerprint", "n_build_jobs")
        diff = {f: (rec.get(f), got[name].get(f)) for f in fields if got[name].get(f) != rec.get(f)}
        if diff:
            moved[name] = diff
    assert not moved


def test_exact_dedup_partial_aggregates_before_exchange(spark):
    plan = _plan(Q["dedup_exact_text"](spark, SF), mode="simple")
    # HashAggregate(partial) -> Exchange -> HashAggregate(final)
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_no_query_plans_a_cartesian_product(spark):
    """Guardrail across the ENTIRE registry: no registered query may compile
    to a CartesianProduct. Broadcast nested-loop joins are allowed — they are
    the intended physical form of the (tiny) x (big) score joins."""
    for name, fn in Q.items():
        plan = _plan(fn(spark, SF), mode="simple")
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_ngram_jaccard_never_forces_a_per_document_broadcast(spark):
    """The pair aggregation carries set sizes through the exploded index
    (min() as deterministic any_value) — a FORCED broadcast of a per-document
    table would OOM at 100 TB, so the logical plan must contain no broadcast
    hint. (Catalyst choosing broadcast for the fixture-sized build side on
    its own is fine — at scale its size estimate flips the choice; a hint
    would pin it forever.)"""
    assert "ResolvedHint" not in _analyzed(Q["dedup_ngram_jaccard"](spark, SF))


def test_pipeline_corpus_never_forces_broadcast_of_the_loser_set(spark):
    """The near-dup loser set is unbounded (grows with corpus duplication
    rate); the anti join must stay a plain keyed join the planner is free to
    shuffle, i.e. no broadcast hint in the logical plan."""
    assert "ResolvedHint" not in _analyzed(Q["pipeline_training_corpus"](spark, SF))


def test_embedding_dedup_lsh_is_bucketed_not_all_pairs(spark):
    """Bucketed candidate generation: pairs come from per-(table, bucket)
    GEMM-screened groups (one hash exchange into FlatMapGroupsInPandas),
    never a join over all pairs."""
    plan = _plan(Q["dedup_embedding_cosine_lsh"](spark, SF), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_tfidf_broadcasts_the_corpus_count_not_the_term_tables(spark):
    """The 1-row corpus-count side must be the only broadcast-hinted input;
    tf/df join on term as plain keyed joins (df is |vocab|-sized, tf is
    corpus-sized — neither may be pinned to broadcast)."""
    analyzed = _analyzed(Q["text_tfidf"](spark, SF))
    assert analyzed.count("ResolvedHint") == 1


def test_stratified_sample_is_scan_plus_filter_only(spark):
    plan = _plan(Q["sample_stratified_documents"](spark, SF), mode="simple")
    assert "Join" not in plan and plan.count("Exchange") <= 1  # spread() repartition only


def test_sequence_packing_shuffles_once_on_shard(spark):
    """One exchange for the shard groupBy feeding applyInPandas (plus the
    fixture spread repartition) — packing must not add further shuffles."""
    plan = _plan(Q["sequence_packing"](spark, SF), mode="simple")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2


def test_quantization_is_pure_narrow_work(spark):
    plan = _plan(Q["embedding_quantize_int8"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "Generate" in plan  # posexplode


def test_chunking_and_repetition_plan_scan_parallel_no_exchange(spark):
    # per-row expression ops: any Exchange would mean an accidental shuffle
    # (io.spread's explicit round-robin fan-out is the one allowed exchange)
    for name in ("text_chunk_documents", "text_repetition_score"):
        plan = _plan(Q[name](spark, SF), mode="simple")
        n_exchanges = plan.count("Exchange")
        assert n_exchanges <= 1, f"{name}: {n_exchanges} exchanges\n{plan}"
        assert "RoundRobinPartitioning" in plan or n_exchanges == 0, plan


def test_gapfill_shuffles_only_on_user_id(spark):
    plan = _plan(Q["timeseries_hourly_gapfill"](spark, SF), mode="simple")
    # every hash exchange keys on user_id (bounds agg / hourly agg / join);
    # nothing repartitions on the exploded grid
    import re as _re

    for m in _re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "user_id" in m.group(1), plan


def test_vocab_topk_is_take_ordered_not_global_window(spark):
    plan = _plan(Q["text_vocab_topk"](spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q6_pushes_both_band_predicates(spark):
    plan = _plan(Q["tpch_q6_forecast_revenue"](spark, SF))
    assert "PushedFilters:" in plan
    assert "LessThan(l_quantity,24" in plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_discount,0.05" in plan.replace(" ", "")
    # column pruning: only the three touched columns reach the scan
    read = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_tpch_q4_is_semi_join_not_inner(spark):
    plan = _plan(Q["tpch_q4_order_priority"](spark, SF))
    assert "LeftSemi" in plan


def test_tpch_q7_broadcasts_all_dims_single_fact_shuffle(spark):
    plan = _plan(Q["tpch_q7_volume_shipping"](spark, SF), mode="simple")
    # supplier/customer (each pre-joined with its nation leg) broadcast; the
    # only sort-merge-eligible join is orders><lineitem
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q10_pushes_quarter_and_returnflag_to_scans(spark):
    plan = _plan(Q["tpch_q10_returned_items"](spark, SF))
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort


def test_tpch_q14_no_shuffle_before_global_agg(spark):
    plan = _plan(Q["tpch_q14_promo_revenue"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in plan  # part is the broadcast dim
    assert "SortMergeJoin" not in plan
    # the only SHUFFLE exchange is the single-row final aggregate's (the
    # dimension's BroadcastExchange doesn't move the fact side)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 1


def test_tpch_q8_broadcasts_every_dim_leg(spark):
    plan = _plan(Q["tpch_q8_market_share"](spark, SF), mode="simple")
    # part, customer-leg, supplier-leg all broadcast; only orders><lineitem
    # is sort-merge-eligible
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q19_or_predicate_reaches_scans(spark):
    plan = _plan(Q["tpch_q19_disjunctive_revenue"](spark, SF))
    # CNF factoring: the common disjunction residue reaches BOTH scans as
    # an Or(...) pushed filter (brand/size on part, quantity bands on
    # lineitem), and the join itself stays a broadcast equi-join
    assert "Or(" in plan
    assert "PushedFilters: [" in plan
    simple = _plan(Q["tpch_q19_disjunctive_revenue"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in simple and "SortMergeJoin" not in simple


def test_tpch_q9_single_fact_fact_shuffle_join(spark):
    plan = _plan(Q["tpch_q9_product_profit"](spark, SF), mode="simple")
    # part/supplier/nation broadcast; the only sort-merge-eligible join is
    # lineitem >< orders on orderkey
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q13_outer_join_keeps_residual_on_join(spark):
    plan = _plan(Q["tpch_q13_customer_distribution"](spark, SF), mode="simple")
    # the priority exclusion must prune the ORDER side before/at the join,
    # never the customer side (zero-order customers are the point)
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_is_one_scan_window_form(spark):
    plan = _plan(Q["tpch_q17_small_quantity_revenue"](spark, SF), mode="simple")
    # window decorrelation: exactly one lineitem scan feeds the plan
    assert plan.count("Scan parquet") - plan.count("Scan parquet []") <= 2  # lineitem + part
    assert "Window" in plan


def test_tpch_q21_reuses_orderkey_partitioning(spark):
    plan = _plan(Q["tpch_q21_waiting_suppliers"](spark, SF), mode="simple")
    # decorrelated one-scan form: no correlated re-scans; supplier/nation
    # broadcast; no cartesian
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_q22_null_aware_semantics_via_sql(spark):
    plan = _plan(Q["not_in_null_semantics"](spark, SF), mode="simple")
    # the poisoned NOT IN must NOT degrade to a plain LeftAnti equi join
    assert "NAAJ" in plan or "null" in plan.lower()


def test_pit_join_single_exchange(spark):
    plan = _plan(Q["pit_feature_join_orders"](spark, SF), mode="simple")
    # tagged-union window: one shuffle on the key, no join operator at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan


def test_winnowing_no_extra_exchange_after_window(spark):
    from kinesis_demo_spark.queries.text import _winnow_fps
    from kinesis_demo_spark.io import load_table

    plan = _plan(
        _winnow_fps(load_table(spark, SF, "documents")), mode="simple"
    )
    # doc_id window partitioning is reused by the distinct: <= 2 shuffle
    # exchanges total (window hash + distinct re-key on the packed value)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_lateral_decorrelates_to_window_not_nested_loop(spark):
    plan = _plan(Q["lateral_top_lineitems_per_order"](spark, SF), mode="simple")
    # the LIMIT-ed correlated lateral must become rank-over-window + join,
    # never a per-row nested-loop re-execution
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_variant_parses_once(spark):
    plan = _plan(Q["variant_props_extract"](spark, SF), mode="simple")
    # one parse_json feeding N typed extractions — the point of VARIANT
    assert plan.count("parse_json") <= 1


def test_df_capped_jaccard_broadcasts_only_the_cap_scalar(spark):
    """The forced broadcasts in the df-capped index are BOUNDED tables only:
    the 1-row corpus count feeding the cap filter and the Zipf-HEAD hot
    shingle set (at most |ex|/cap distinct values by counting); the raw
    shingle/df tables (which grow with the corpus) carry no hint, so AQE
    keeps strategy authority at scale. The r8 plan references the persisted
    cold index from both self-join sides and the persisted hot-membership
    table from both pair-join sides, so each branch's LINEAGE repeats the
    (cap, hot) hint pair — 4 branches x 2 hints = 8 in the analyzed tree,
    all of them the same two bounded subplans (the runtime reads the two
    caches, not 8 broadcasts)."""
    analyzed = _analyzed(Q["dedup_ngram_jaccard_df_capped"](spark, SF))
    assert analyzed.count("ResolvedHint") == 8
    plan = _plan(Q["dedup_ngram_jaccard_df_capped"](spark, SF))
    assert "CartesianProduct" not in plan  # 1-row cap join is a BNL broadcast


def test_hard_negatives_broadcast_queries_not_corpus(spark):
    """Hard-negative mining shares the LSH plan body: the anchor/query side
    (bounded) is broadcast, the corpus embedding side never is — and the
    sub-threshold filter must sit between scoring and ranking, not after the
    top-k (or near-dup exclusion would eat into the K)."""
    analyzed = _analyzed(Q["mine_hard_negatives"](spark, SF))
    # two forced broadcasts: the slim query bands and the query vectors
    assert analyzed.count("ResolvedHint") == 2
    from kinesis_demo_spark.queries.similarity import HARD_NEG_MAX_SCORE, TOP_K

    rows = Q["mine_hard_negatives"](spark, SF).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == min(TOP_K, len(rs))
        assert all(r.score < HARD_NEG_MAX_SCORE for r in rs)


def test_rolling_intervals_never_replicates_user_hours(spark):
    """The delta-encoded variant's whole point: NO per-activity-hour window
    replication. Its only row expansion is the hour-grid sequence over the
    ONE-ROW span aggregate; the trailing-window explode of the user-hour
    table (sequence(hour_idx, hour_idx + 23)) must never reappear."""
    plan = _plan(Q["rolling_active_users_intervals"](spark, SF), mode="simple")
    assert "sequence(hour_idx" not in plan
    assert plan.count("Generate") == 1  # the span grid, nothing user-sized


def test_audio_fingerprint_band_join_reuses_persisted_shingles(spark):
    """The fingerprint self-join must be a bucketed equi-join over the
    PERSISTED shingle table (decode + window + lead run once, feeding both
    join sides), never a nested loop over raw clips."""
    df = Q["audio_fingerprint_neardup"](spark, SF)
    plan = _plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # both sides read the cache
