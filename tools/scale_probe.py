#!/usr/bin/env python
"""Measured scaling behavior across fixture scale factors.

For a representative query per plan family this times the warm min-of-3 at
sf0.01 and sf0.1 (sf0.001 sits under the ~0.2 s session floor and only adds
noise) and reports the observed scaling exponent

    alpha = log(t_big / t_small) / log(10)

alpha ~ 0 means fixed-overhead dominated (streaming machinery, tiny
outputs), ~ 1 means linear in data — the target for every scan/agg/join
shape here — and ~ 2 would expose an accidental all-pairs. Exponents are
biased DOWN by any fixed per-query overhead (Catalyst analysis, Python
worker spin-up), so alpha clearly below 1 on a data-heavy query means
overhead still dominates at sf0.1, not sublinear magic.

Output: a table to stderr and SCALE_PROBE.json (per-query times + alpha)
for the round artifact. Host burst-throttling (see bench.py) can inflate a
single cell; rerun the affected query solo before reading anything into a
surprising alpha.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_demo_spark.io import release_persisted
from kinesis_demo_spark.registry import all_queries
from kinesis_demo_spark.session import get_spark

# family -> representative (data-heavy, non-streaming) query
PROBES = (
    "tpch_q1_pricing_summary",        # scan + wide agg
    "star_join_revenue_by_region",    # broadcast star join
    "join_orders_lineitem_priority",  # fact-fact shuffle join
    "window_functions_battery",       # per-user windows
    "dedup_exact_text",               # hash agg on digest
    "dedup_ngram_jaccard",            # inverted-index self-join
    "dedup_embedding_cosine_lsh",     # bucketed GEMM screen
    "ann_pq_adc_topk",                # PQ encode + ADC scan
    "text_tfidf",                     # explode + term aggs
    "funnel_user_stages",             # chained keyed aggs
    "sequence_packing",               # applyInPandas per shard
    "json_wire_roundtrip",            # serde round trip
    # r5 continuation families
    "text_winnowing_fingerprints",    # explode + per-doc window min
    "dedup_winnowing_overlap",        # fingerprint inverted index
    "fuzzy_match_blocked_pairs",      # attribute-level blocked Levenshtein
    "tpch_q21_waiting_suppliers",     # decorrelated exists/not-exists
    "pit_feature_join_orders",        # tagged-union cumulative window
    "rolling_active_users",           # coverage-expansion distinct count
    # r6: the remaining heavies with no measured alpha (VERDICT r5 #7)
    "pagerank_copurchase",            # iterative rank propagation (checkpointed)
    "bpe_train_merges",               # driver-sequenced full-corpus rounds
    "streaming_outer_interval_join",  # watermark-evicted stream-stream outer
    "recursive_hierarchy_rollup",     # recursive-CTE hierarchy aggregation
    "multimodal_decode_real",         # BMP encode->decode mapInPandas pair
    # r7: late-r6 + r7 registrations (VERDICT r6 #3)
    "dedup_ngram_jaccard_df_capped",  # corpus-relative df-capped index
    "mine_hard_negatives",            # LSH-shortlist negative mining
    "dedup_substring_runs",           # anchored byte-gram run merge
    "bpe_encode_corpus",              # broadcast merge-table fold encode
    # r7: filtering/data-selection suite
    "lm_fluency_score",               # bigram-LM join-back + doc agg (the heaviest of the suite)
    "dsir_importance_resample",       # hashed-bucket dim + two bigram passes
    "training_order_shuffle",         # per-shard windows + offset join
    # r7 second wave
    "ann_hamming_binary",             # popcount screen + shortlist re-rank
    "dedup_clusters_star",            # O(log^2 n) star contractions
    "graph_triangle_clustering",      # degree-ordered wedge enumeration
    "dedup_rate_by_source",           # pair-list audit over the Jaccard pipeline
    "concat_chunk_sequences",         # two-level prefix sum + span explode
    # r7 third wave: incremental/graph/lakehouse/ER/IR/training-prep widening
    "dedup_incremental_batch",        # delta x base band join
    "graph_label_propagation",        # per-round vote join + argmax (checkpointed)
    "graph_kcore",                    # per-round semi-join peel (checkpointed)
    "compaction_plan",                # inventory bin-pack over metadata rows
    "pareto_frontier_parts",          # two-level running-max skyline
    "cdc_merge_apply",                # struct-max snapshots + full outer merge
    "dedup_sorted_neighborhood",      # range-sharded rank + band join + verify
    "search_phrase_positions",        # token-pruned positional postings chain
    "mutual_nearest_lsh",             # all-queries band join + mutual argmax
    "assoc_rules_copurchase",         # Apriori-pruned basket self-join
    "span_corruption_plan",           # 4-hash local mask + doc agg
    "skipgram_pair_counts",           # zip-shift pair explode + count
    "vocab_coverage_curve",           # vocab histogram prefix scan
    "dedup_cross_source_matrix",      # LSH pipeline + source attribution
    "text_intradoc_repeats",          # per-doc repeated shingle agg
    "chunk_reassembly_roundtrip",     # chunk grid + ordered string reassembly
    "ann_recall_report",              # exact-vs-LSH top-k outer join
    "streaming_session_windows",      # merging session state drain
    "benford_first_digit_dq",         # 9-key digit aggregate
    # r7 wave 4/5: selection / classification / re-ranking / privacy / IR
    "exact_quantiles_selection",      # two-pass histogram k-selection
    "knn_label_vote",                 # broadcast exact top-k + vote agg
    "mmr_rerank_topk",                # shortlist + unrolled greedy rounds
    "contamination_ngram_fraction",   # train-set semi-join over shingles
    "er_golden_record",               # CC labels + per-field mode aggs
    "holt_linear_forecast",           # hourly pre-agg + per-user fold
    "retrieval_eval_metrics",         # exact + LSH judge join + rank fold
    "k_anonymity_report",             # one metadata aggregate
    "prf_query_expansion",            # postings join x2 + feedback mining
    "wordpiece_encode_words",         # histogram grams + greedy match rounds
    "langid_confusion_matrix",        # per-row scan + |langs|^2 aggregate
    "feature_standardize",            # moment agg + broadcast z join
    "corpus_datacard",                # one-pass multi-aggregate summary
    "negative_sampling_table",        # vocab count + x^0.75 rank
    "rbo_rank_agreement",             # two TakeOrdered rankings + depth grid
    "epoch_shuffle_independence",     # two range-sharded ranks + r1+1 join
    "prefix_cache_grouping",          # min/max-LCP shared-prefix batching
    "coreset_kcenter_selection",      # K broadcast-center scans + argmax rounds
    # r9 third wave
    "audio_fingerprint_neardup",      # WAV decode + banded shingle self-join
    "er_blocking_quality",            # SNM cand + inverted-index truth + 1-row combines
    "rolling_active_users_intervals", # islands + delta running sum over the grid
    "tokenizer_fertility_report",     # BPE encode folds + lang aggregate
    "approx_distinct_error_bound",    # HLL sketch + exact distinct audit
    "approx_percentile_rank_bound",   # sketch + broadcast rank-window check
    # r12
    "er_blocking_quality_sampled",    # hash-sampled anchored truth + SNM cand
    "ann_ivf_delta_merge",            # frozen-codebook assignment + 16-group agg
    "timeseries_classical_decomposition",  # dense grid + bounded-frame MA window
)

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"


def _reset_memos() -> None:
    """Clear the process-level corpus memo (trained BPE and unigram tables,
    PRF literals) so the probe times the algorithm, not the cache — a memo
    hit would report the lookup's alpha, which is not what this artifact
    claims to measure."""
    from kinesis_demo_spark.queries import corpus

    corpus._CORPUS_MEMO.clear()


def _time(fn, spark, sf_dir: str) -> float:
    runs = []
    for _ in range(3):
        _reset_memos()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    release_persisted()
    return min(runs)


def main() -> None:
    spark = get_spark("kinesis-demo-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    out: dict[str, dict] = {}
    for name in PROBES:
        fn = registry.get(name)
        if fn is None:
            continue
        t_small = _time(fn, spark, SF_SMALL)
        t_big = _time(fn, spark, SF_BIG)
        alpha = math.log(t_big / t_small) / math.log(10.0)
        out[name] = {
            "t_sf0.01": round(t_small, 3),
            "t_sf0.1": round(t_big, 3),
            "alpha": round(alpha, 2),
        }
        print(
            f"{name:34s} {t_small:7.3f}s -> {t_big:7.3f}s  alpha={alpha:5.2f}",
            file=sys.stderr,
        )
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROBE.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    worst = max(out.values(), key=lambda r: r["alpha"])["alpha"]
    print(json.dumps({"n_probed": len(out), "max_alpha": worst}))


if __name__ == "__main__":
    main()
