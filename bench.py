#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Output contract (round 5 — the driver tail-captures stdout and parses the
LAST line, so the final line must stay SHORT no matter how many queries the
headline set grows to; round 4's single mega-line overflowed the capture
window and cost the round its externally-recorded bench number):

  stdout line 1:  full detail JSON — per-query warm + cold maps + serving
                  latency percentiles (same document as the sidecar)
  stdout line 2:  ONE SHORT summary line, always last:
    {"metric": "headline_total", "value": <warm-sum-sec>, "unit": "sec",
     "cold_total": <cold-sum-sec>, "n_queries": N, "n_errors": E, "cpus": C,
     "sf": 0.1, "detail": "BENCH_local_detail_c<C>.json"}

A query that raises is recorded in the detail's ``errors`` map
(``"<Type>: <msg>"``) and left out of the totals; the run goes on, prints
the summary line, and then exits 1.

The full detail is written to ``BENCH_local_detail_c{cpus}.json`` (per-run
sidecar, r14: the driver's 8-core scaling run used to clobber the 32-core
run's per-query detail through the old single fixed path) AND to the legacy
``BENCH_local_detail.json`` path next to this script;
``tools/bench_compare.py`` consumes either the detail line/file or any
pre-r5 artifact for per-query regression gating.

Each query is forced end-to-end with a ``noop``-format write (full plan
execution, nothing collected to the driver), timed with a monotonic clock.
Each query runs two-to-three times and all timings are recorded: ``queries``
holds the min (steady-state latency — the first execution pays one-time
Catalyst analysis + Janino codegen compilation, hundreds of ms of JVM work
unrelated to data volume; r5 raised 2 -> 3 runs because the sandbox host
throttles CPU in multi-second BURSTS — the same pure-scan query measured
5.9/10.5/1.35 s back-to-back — and min-of-2 had a ~25% chance of landing
both runs inside a burst, which is what put three different queries at 3-4x
their true warm time in three consecutive r5 bench runs) and
``queries_cold`` holds the first run, directly comparable to the single-cold-run records of rounds
before r3 (ADVICE r3: regression gates must compare like with like —
tools/bench_compare.py picks the matching series). Tracked persists
(dedup/multimodal signature tables) are released after each query, so no
query's timing borrows another query's cache and cached blocks don't
accumulate across the 39-query session; within a query, run 2 may reuse
run 1's persisted tables — exactly what a warm serving deployment sees.
The query set spans every plan shape the engine ships: scan+agg, broadcast
star join, fact-fact shuffle join, ranking windows, as-of union-window join,
the reference serving/heatmap/LOCF pipelines, and the LLM-pipeline extension
operators (dedup / similarity / text) once registered.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_demo_spark.io import load_table, release_persisted
from kinesis_demo_spark.registry import all_queries
from kinesis_demo_spark.session import get_spark

# Ordered headline set; silently skips names not (yet) in the registry so the
# bench stays runnable at every milestone.
HEADLINE = (
    "tpch_q1_pricing_summary",
    "star_join_revenue_by_region",
    "join_orders_lineitem_priority",
    "window_topk_orders_per_customer",
    "asof_join_orders_events",
    "range_join_events_before_orders",
    "agg_window_movs_stats",
    "heatmap_rollup",
    "locf_impute_value",
    "serving_poll_sum",
    "json_extract_props",
    "sessionize_events",
    "stats_moments_percentiles_by_type",
    "window_functions_battery",
    "scalar_extended_battery",
    "json_wire_roundtrip",
    "salted_sum_by_user",
    "streaming_window_counts",
    "sessionize_stateful_streaming",
    # LLM-data-pipeline extensions
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_prefix",
    "dedup_ngram_jaccard_df_capped",
    "dedup_simhash",
    "dedup_simhash_wide",
    "dedup_embedding_cosine_lsh",
    "ann_cosine_topk",
    "ann_cosine_topk_lsh",
    "mine_hard_negatives",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_tfidf",
    "text_chunk_documents",
    "text_repetition_score",
    "text_vocab_topk",
    "doc_length_histogram",
    "timeseries_hourly_gapfill",
    "timeseries_user_similarity",
    "multimodal_decode_features",
    "multimodal_decode_real",
    "pipeline_training_corpus",
    "pipeline_training_manifest",
    "dedup_contamination_check",
    "sample_stratified_documents",
    "sequence_packing",
    "embedding_quantize_int8",
    # r5 corpus retrieval/curation + streaming additions
    "text_bm25_topk",
    "dedup_boilerplate_paragraphs",
    "corpus_mixture_report",
    "sample_mixture_weighted",
    "bpe_merge_candidates",
    "snapshot_diff_user_state",
    "streaming_static_enrich",
    # r5 second wave: relational widening + hybrid retrieval + event analytics
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q8_market_share",
    "tpch_q19_disjunctive_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_diversity",
    "retrieval_rank_fusion",
    "ann_pq_adc_topk",
    "dedup_shingle_containment",
    "streaming_dedup_events",
    "funnel_user_stages",
    "cohort_weekly_retention",
    "event_transition_matrix",
    "event_cooccurrence_lift",
    "hopping_window_counts",
    "streaming_hopping_counts",
    "udtf_sentence_split",
    "scd2_user_state_intervals",
    "profile_events_columns",
    "outliers_value_mad",
    "bloom_prefilter_semi_join",
    "rfm_customer_segments",
    # r5 continuation: full TPC-H coverage + winnowing family
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipclass_priority",
    "tpch_q13_customer_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_inactive_wealthy",
    "text_winnowing_fingerprints",
    "dedup_winnowing_overlap",
    "text_freq_quality",
    "ann_cosine_topk_truncated",
    "bag_set_ops_priorities",
    "not_in_null_semantics",
    "bpe_train_merges",
    "streaming_outer_interval_join",
    "text_bigram_lm",
    "dq_constraint_violations",
    "pit_feature_join_orders",
    "trend_slope_per_user",
    "fuzzy_match_blocked_pairs",
    "embedding_source_drift",
    "rolling_active_users",
    "hierarchical_revenue_shares",
    "pagerank_copurchase",
    "temporal_join_orders_state",
    "twap_value_per_user",
    "python_datasource_events",
    "python_datasource_stream_events",
    "pseudonymize_user_activity",
    "variant_props_extract",
    "lateral_top_lineitems_per_order",
    "dedup_quality_report",
    "interval_union_coverage",
    "top_event_paths",
    "cusum_value_alarms",
    "revenue_month_over_month",
    "packing_efficiency_report",
    "trimmed_mean_value_by_type",
    "table_checksums",
    "null_safe_join_semantics",
    "join_size_prediction",
    "recursive_hierarchy_rollup",
    "sql_modern_surfaces",
    "sql_table_function_summary",
    # r7 additions
    "dedup_substring_runs",
    "bpe_encode_corpus",
    "filter_gopher_rules",
    "lm_fluency_score",
    "dsir_importance_resample",
    "training_order_shuffle",
    "token_shard_assembly",
    "ann_hamming_binary",
    "dedup_clusters_star",
    "graph_triangle_clustering",
    "incremental_join_view_merge",
    "unigram_tokenizer_train",
    "unigram_encode_corpus",
    "dedup_rate_by_source",
    "ab_test_stats",
    "attribution_last_touch",
    "sample_priority_weighted",
    "concat_chunk_sequences",
    "feature_hash_vectorize",
    "feature_quantile_binning",
    "ts_autocorr_components",
    "dedup_semdedup_prune",
    # r7 second wave: incremental/graph/lakehouse/ER/IR widening
    "dedup_incremental_batch",
    "graph_label_propagation",
    "graph_kcore",
    "compaction_plan",
    "pareto_frontier_parts",
    "cdc_merge_apply",
    "dedup_sorted_neighborhood",
    "search_phrase_positions",
    "mutual_nearest_lsh",
    "assoc_rules_copurchase",
    "span_corruption_plan",
    "skipgram_pair_counts",
    "vocab_coverage_curve",
    "dedup_cross_source_matrix",
    "benford_first_digit_dq",
    "text_intradoc_repeats",
    "chunk_reassembly_roundtrip",
    "ann_recall_report",
    "streaming_session_windows",
    "prefix_cache_grouping",
    "coreset_kcenter_selection",
    # r7 wave 4/5: selection, classification, re-ranking, privacy, IR eval,
    # survivorship, forecasting, PRF retrieval, subword encode
    "exact_quantiles_selection",
    "knn_label_vote",
    "mmr_rerank_topk",
    "contamination_ngram_fraction",
    "er_golden_record",
    "holt_linear_forecast",
    "retrieval_eval_metrics",
    "k_anonymity_report",
    "prf_query_expansion",
    "wordpiece_encode_words",
    "langid_confusion_matrix",
    "feature_standardize",
    "corpus_datacard",
    "negative_sampling_table",
    "rbo_rank_agreement",
    "epoch_shuffle_independence",
    # r8
    "serving_poll_page_fused",
    # r9: decoded-pixel perceptual hash + the PCA verification pair
    "phash_image_neardup_decoded",
    "pca_scatter_moments",
    "pca_effective_rank",
    "multimodal_frame_sample_real",
    # r9 second wave: the real WAV/PCM audio codec pair
    "multimodal_audio_decode_real",
    "audio_window_energy_real",
    # r9 third wave: multimodal near-dup triad closer, ER blocking audit,
    # the delta-encoded rolling window, tokenizer fertility, and the two
    # sketch-contract property gates
    "audio_fingerprint_neardup",
    "er_blocking_quality",
    "rolling_active_users_intervals",
    "tokenizer_fertility_report",
    "approx_distinct_error_bound",
    "approx_percentile_rank_bound",
    # r10: the stdlib-zlib PNG real-codec path and the run-length-encoded
    # gapfill twin (Theta(non-empty hours) vs the dense grid)
    "multimodal_png_decode_real",
    "timeseries_gapfill_runs",
    # r11: query-anchored link prediction + the seasonal-naive backtest
    "graph_linkpred_common_neighbors",
    "timeseries_seasonal_naive_eval",
    # r12: sampled-truth ER audit (the bounded-cost scale path next to the
    # exact audit) + incremental IVF index maintenance (frozen-codebook
    # delta merge with drift report)
    "er_blocking_quality_sampled",
    "ann_ivf_delta_merge",
    "timeseries_classical_decomposition",
    # r13: corpus drift report (TVD + vocab churn between snapshot halves)
    # + the sparse observed-hours twin of the classical decomposition
    "corpus_drift_report",
    "timeseries_decomposition_sparse",
)


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _median(xs: list) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# Plan-free CPU control (VERDICT r12 #4): two rounds in a row attributed a
# uniform shared-row shift to the host by inference from control QUERIES;
# this makes the host factor a first-class measurement instead. The kernel
# is a fixed whole-stage-codegen hash chain over spark.range — no IO, no
# shuffle (single-stage partial + 1-row final), no data dependence, no
# Spark state — so cross-window ratios on it are pure host/JVM speed.
# Fixed 16 partitions regardless of $SPARK_GRAFT_CPUS keeps the work
# identical across windows. bit_xor (not sum) because sum(xxhash64)
# overflows BIGINT under ANSI mode.
_CONTROL_ROWS = 1 << 29


def _host_control(spark) -> dict:
    from pyspark.sql import functions as F

    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0, _CONTROL_ROWS, 1, 16).select(
            F.bit_xor(F.xxhash64(F.xxhash64("id")))
        ).collect()
        return time.perf_counter() - t0

    run()  # codegen warmup — the control measures the host, not Janino
    runs = [round(run(), 3) for _ in range(5)]
    return {
        "rows": _CONTROL_ROWS,
        "runs": runs,
        "min": min(runs),
        "median": _median(runs),
    }


def time_query(spark, fn, sf_dir: str) -> dict:
    """Time one headline query: ``{"runs": [sec, ...]}``, or
    ``{"error": "<Type>: <msg>"}`` when it raises, so one failing query
    costs its own row, not the whole headline. Tracked persists are
    released either way — no cross-query cache borrowing or block leak.

    Adaptive min-of-2/3: the third run exists ONLY to outvote the host's
    multi-second CPU-throttle bursts (see module docstring). When runs 1-2
    already agree within 25% no burst hit them and the min is trustworthy;
    paying the third run anyway pushed the full 108-query session to ~10
    min of wall clock, which risks any outer harness timeout for zero
    information."""

    def run() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    try:
        runs = [run(), run()]
        if abs(runs[0] - runs[1]) > 0.25 * min(runs):
            runs.append(run())
        return {"runs": runs}
    except Exception as exc:  # noqa: BLE001 — recorded, the bench goes on
        return {"error": f"{type(exc).__name__}: {exc}"}
    finally:
        release_persisted()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("kinesis-demo-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # Warm the JVM/codegen/parquet-reader paths once, through the same table
    # load the queries use, so per-query timings measure the queries, not
    # session bring-up.
    load_table(spark, sf_dir, "region").count()

    host_control = _host_control(spark)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    medians: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = registry.get(name)
        if fn is None:
            continue
        res = time_query(spark, fn, sf_dir)
        if "error" in res:
            errors[name] = res["error"]
            continue
        runs = res["runs"]
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)
        # median alongside min (VERDICT r9 #2): a host burst that distorts
        # a single run is visible IN the artifact as median >> min, so a
        # reviewer can disposition a scary row without re-timing it.
        # ADVICE r10: the median is over WARM runs only (runs[1:]) — with
        # the cold run included, median >> min was structurally true
        # (cold >> warm) rather than a burst signal. With 2 runs this is
        # the single warm run; when the burst-triggered third run fires it
        # is the midpoint of the two warm runs.
        medians[name] = round(_median(runs[1:]), 3)

    # Serving SLO: record the 2 s-budget claim as measured percentiles, not a
    # test boolean (the reference polls every 2 s, functions.js:11,134).
    serving: dict | None = None
    try:
        from tools.serving_loop import run_serving_loop

        serving = run_serving_loop(spark, sf_dir, requests=80, clients=4)
    except Exception as exc:  # the bench headline must survive a serving hiccup
        serving = {"error": f"{type(exc).__name__}: {exc}"}

    # Serving scaling step (VERDICT r6 #7): the same loop at sf1 (10x the
    # bench's default scale) when the generated fixture is present —
    # `python tools/gen_sf1_events.py` rebuilds it deterministically.
    serving_sf1: dict | None = None
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    if os.path.exists(os.path.join(sf1_dir, "events.parquet")):
        try:
            from tools.serving_loop import run_serving_loop as _loop_sf1

            serving_sf1 = _loop_sf1(spark, sf1_dir, requests=80, clients=4)
        except Exception as exc:
            serving_sf1 = {"error": f"{type(exc).__name__}: {exc}"}

    sf = _sf_from_dir(sf_dir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    detail = {
        "metric": "headline_detail",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_median": medians,
        "errors": errors,
        "cold_total": round(sum(cold.values()), 3),
        "serving": serving,
        "serving_sf1": serving_sf1,
        "host_control": host_control,
        "cpus": cpus,
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # Per-run sidecar keyed on the core count (VERDICT r13 #2): the driver
    # runs the bench at BOTH 32 and 8 cores, and a single fixed path meant
    # the scaling run clobbered the main run's per-query detail two rounds
    # running (PERF n_common=0, empty scaling block). The summary line now
    # points at the per-cpus file; the legacy fixed path is still written so
    # pre-r14 tooling and the seal-file protocol keep working unchanged.
    per_run = f"BENCH_local_detail_c{cpus}.json"
    for name in (per_run, "BENCH_local_detail.json"):
        with open(os.path.join(here, name), "w") as f:
            json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    # The short, driver-parseable summary — ALWAYS the last line of stdout.
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": detail["value"],
                "unit": "sec",
                "cold_total": detail["cold_total"],
                "n_queries": len(timings),
                "n_errors": len(errors),
                "cpus": cpus,
                "sf": sf,
                "detail": per_run,
            }
        )
    )
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
