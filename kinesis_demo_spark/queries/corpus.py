"""Corpus-level retrieval and curation operators over the ``documents``
fixture — the remaining training-data-pipeline passes (SURVEY.md §7 Phase 5
north star): BM25 lexical retrieval, exact paragraph-level boilerplate
removal, corpus-mixture reporting, and the BPE merge-candidate scan.

Every query keeps the differential gate bit-exact: ratios instead of libm
transcendentals (the ``text_tfidf`` precedent — ln()'s last-ulp rounding is
engine-specific, +,-,*,/ and sqrt are IEEE-correctly-rounded everywhere),
BIGINT sums for every corpus total, and fixed-order float folds.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import h60, h60_sql
from ..io import load_table, spread, track_checkpoint, track_persist
from ..registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


def _tokens() -> Column:
    return F.split(F.col("text"), " ")


# --- BM25 lexical retrieval -----------------------------------------------------

# Okapi BM25 constants (the standard published values).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20
# Fixed query over the fixture vocabulary — retrieval needs a query; a
# constant one keeps the operator a pure function of the corpus.
BM25_QUERY_TERMS = ("spark", "hash", "window")


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    # Per-term score with explicit parenthesization mirrored exactly in the
    # Spark projection: idf-ratio * (tf*(k1+1)) / (tf + k1*(1 - b + b*(dl/avgdl)))
    score_terms = [
        f"((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * ({BM25_K1} + 1.0))"
        f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(len(BM25_QUERY_TERMS))
    ]
    score = " + ".join(f"s_{i}" for i in range(len(BM25_QUERY_TERMS)))
    s_cols = ", ".join(f"{expr} AS s_{i}" for i, expr in enumerate(score_terms))
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, dl, {tf_cols} FROM t
),
g AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols} FROM tf
),
scored AS (
  SELECT doc_id, dl, {", ".join(f"tf_{i}" for i in range(len(BM25_QUERY_TERMS)))},
         {s_cols}
  FROM tf, (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM g)
),
ranked AS (
  SELECT doc_id, {", ".join(f"tf_{i}" for i in range(len(BM25_QUERY_TERMS)))},
         {score} AS score,
         row_number() OVER (ORDER BY {score} DESC, doc_id) AS rnk
  FROM scored
  WHERE {" + ".join(f"tf_{i}" for i in range(len(BM25_QUERY_TERMS)))} > 0
)
SELECT doc_id, {", ".join(f"tf_{i}" for i in range(len(BM25_QUERY_TERMS)))},
       score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {BM25_TOP_K}
"""


@register("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{k} retrieval for a fixed query — the lexical-search
    scorer used to mine training data for a topic (and the baseline every
    dense retriever is graded against). idf stays the BM25 ratio
    (N - df + 0.5)/(df + 0.5) WITHOUT the log: log is monotone, so ranking
    is preserved, and the ratio keeps both engines bit-exact (text_tfidf
    precedent).

    Scale: tf/dl are per-row array expressions (scan-parallel, no explode —
    the query has a handful of terms, so a filtered ``list_filter`` count
    per term beats materializing every token). df/avgdl is ONE 1-row global
    aggregate broadcast back via crossJoin; top-k is orderBy().limit =
    TakeOrderedAndProject (per-partition local k, never a global window on
    the corpus). Only the k survivors enter the rank window."""
    nt = len(BM25_QUERY_TERMS)
    toks = _tokens()

    def tf(term: str) -> Column:
        # closure, NOT a default-arg lambda: a 2-param lambda would be
        # treated by F.filter as (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[tf(t).alias(f"tf_{i}") for i, t in enumerate(BM25_QUERY_TERMS)],
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(nt)
        ],
    ).withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))

    def term_score(i: int) -> Column:
        tf_d = F.col(f"tf_{i}").cast("double")
        df_d = F.col(f"df_{i}").cast("double")
        idf = (F.col("n_docs").cast("double") - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
        denom = tf_d + F.lit(BM25_K1) * (
            F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        return idf * (tf_d * F.lit(BM25_K1 + 1.0)) / denom

    score = term_score(0)
    for i in range(1, nt):
        score = score + term_score(i)
    scored = (
        base.crossJoin(F.broadcast(g))
        .filter(sum(F.col(f"tf_{i}") for i in range(nt)) > 0)
        .select("doc_id", *[f"tf_{i}" for i in range(nt)], score.alias("score"))
    )
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOP_K)
    return topk.select(
        "doc_id",
        *[f"tf_{i}" for i in range(nt)],
        "score",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("long")
        .alias("rnk"),
    )


# --- exact paragraph-level boilerplate removal ----------------------------------

# The fixture corpus has no paragraph structure, so the query plants
# deterministic boilerplate paragraphs (the text_pii_redact precedent: both
# engines construct the identical input, so the dedup work is real and still
# value-hash checked): a newsletter footer on every third doc and a legal
# footer on every seventh.
PARA_FOOTER_A = "subscribe to the newsletter and follow the feed for updates"
PARA_FOOTER_B = "copyright two thousand twenty five all rights reserved legal notice"
PARA_SEP = " | "
# A paragraph appearing in >= this many DISTINCT docs is boilerplate. 3, not
# 2, so the fixture's planted near-duplicate PAIRS keep their body text and
# only corpus-wide repeats (the footers, any 3+-way exact dup) are dropped.
PARA_DOC_THRESHOLD = 3


@register(
    "dedup_boilerplate_paragraphs",
    oracle=f"""
WITH built AS (
  -- NULL text contributes ZERO paragraphs (a NULL paragraph is not a
  -- paragraph; without this, NULL-join semantics split the engines --
  -- Spark's anti-join keeps a NULL para, an equi-join drops it)
  SELECT doc_id,
         (CASE WHEN text IS NOT NULL THEN [text] ELSE [] END)
           || (CASE WHEN doc_id % 3 = 0 THEN ['{PARA_FOOTER_A}'] ELSE [] END)
           || (CASE WHEN doc_id % 7 = 0 THEN ['{PARA_FOOTER_B}'] ELSE [] END) AS paras
  FROM documents
),
exploded AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx, paras[i] AS para
  FROM built, unnest(generate_series(1, len(paras))) AS u(i)
),
freq AS (
  SELECT para, count(DISTINCT doc_id) AS n_docs_with
  FROM exploded GROUP BY para
),
kept AS (
  SELECT e.doc_id, e.idx, e.para
  FROM exploded e JOIN freq f ON e.para = f.para
  WHERE f.n_docs_with < {PARA_DOC_THRESHOLD}
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(para, '{PARA_SEP}' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.paras) AS BIGINT) AS n_paras,
       CAST(len(b.paras) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM built b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
""",
)
def dedup_boilerplate_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact paragraph-level dedup — the CCNet/Dolma boilerplate pass: a
    paragraph whose exact text occurs in >= {threshold} distinct documents
    corpus-wide (nav bars, footers, license blurbs) is removed from every
    document; surviving paragraphs are reassembled in order.

    Scale (r5 restructure, caught by tools/plan_audit.py): the doc->paras
    table is persisted (it feeds the frequency aggregate, the keep join and
    the final reassembly join — as pure lineage the corpus was re-scanned
    per consumer), and the keep decision is a LEFT ANTI join against the
    FILTERED boilerplate set, not an equi-join back against the full
    vocabulary-sized frequency table: paragraphs repeated in >= {threshold}
    docs are by definition few distinct VALUES (nav bars, footers), so the
    anti-join build side is tiny — AQE broadcasts it and the corpus-sized
    explode never shuffles for the filter, leaving ONE paragraph-keyed
    aggregate (map-side partials collapse exactly the hot boilerplate rows)
    and one doc_id reassembly shuffle as the only exchanges."""
    empty = F.array().cast("array<string>")
    built = track_persist(
        _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.when(F.col("text").isNotNull(), F.array("text")).otherwise(empty),
                F.when(F.col("doc_id") % 3 == 0, F.array(F.lit(PARA_FOOTER_A))).otherwise(empty),
                F.when(F.col("doc_id") % 7 == 0, F.array(F.lit(PARA_FOOTER_B))).otherwise(empty),
            ).alias("paras"),
        )
    )
    exploded = built.select(
        "doc_id", F.posexplode("paras").alias("idx0", "para")
    ).select("doc_id", (F.col("idx0") + 1).cast("long").alias("idx"), "para")
    boiler = (
        exploded.groupBy("para")
        .agg(F.countDistinct("doc_id").alias("n_docs_with"))
        .filter(F.col("n_docs_with") >= PARA_DOC_THRESHOLD)
        .select("para")
    )
    kept = exploded.join(boiler, "para", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "para"))), lambda s: s["para"]
            ),
            PARA_SEP,
        ).alias("clean_text"),
    )
    return built.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.size("paras").cast("long").alias("n_paras"),
        (F.size("paras") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# --- corpus mixture report ------------------------------------------------------

# Temperature for mixture reweighting: weight ∝ share^0.5 (the multilingual
# sampling-temperature idea). sqrt is IEEE-correctly-rounded in both engines,
# unlike pow/log.


@register(
    "corpus_mixture_report",
    oracle="""
WITH per AS (
  SELECT source, lang,
         count(*) AS n_docs,
         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS sampling_weight,
       1.0 / sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS upsample_factor
FROM per, tot
""",
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per (source, lang) stratum — document and
    token counts, token share of the corpus, and a temperature-scaled
    sampling weight (share^0.5, the standard upsample-the-tail mixture
    transform). This is the table a training run's data-mixture config is
    written from.

    Scale: one grouped aggregate with BIGINT token sums (map-side combined,
    stratum cardinality is tiny), a 1-row total broadcast back via
    crossJoin, then pure per-row IEEE arithmetic (division + sqrt — both
    correctly rounded, so the gate stays bit-exact; deliberately NOT
    normalizing by a float sum across strata, which would impose a
    summation order)."""
    per = (
        _docs(spark, sf_dir)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_tokens()).cast("long")).alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.sqrt(share).alias("sampling_weight"),
        (F.lit(1.0) / F.sqrt(share)).alias("upsample_factor"),
    )


# --- BPE merge-candidate scan ---------------------------------------------------

BPE_TOP_K = 50


@register(
    "bpe_merge_candidates",
    oracle=f"""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS pair
  FROM t
),
counts AS (
  SELECT pair, count(*) AS n FROM pairs GROUP BY pair
),
ranked AS (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk
  FROM counts
)
SELECT pair, n, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {BPE_TOP_K}
""",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE/WordPiece tokenizer training, distributed:
    count every ADJACENT token pair corpus-wide and return the top-{k}
    merge candidates (count desc, pair asc). One such scan per merge round
    is exactly how a tokenizer trains against a 100 TB corpus — the engine
    makes each round a single pass.

    Scale: adjacent pairs come from ``transform(sequence(...))`` over the
    token array (guarded to >= 2 tokens — Spark's ``sequence(1, 0)`` would
    count DOWN) -> explode -> one pair-keyed count with map-side partials
    (Zipf-head pairs collapse before the exchange) -> orderBy().limit =
    TakeOrderedAndProject, never a global window over all distinct pairs;
    only the k survivors pass through the tiny rank window."""
    toks = _tokens()
    t = (
        _docs(spark, sf_dir)
        .select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pairs = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    topk = counts.orderBy(F.col("n").desc(), "pair").limit(BPE_TOP_K)
    return topk.select(
        "pair",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("pair")))
        .cast("long")
        .alias("rnk"),
    )


# --- mixture-weighted resampling ------------------------------------------------

MIX_PPM = 1_000_000  # keep-probability resolution (parts per million)
MIX_SALT = "mix"     # decorrelates this sampler from the other h60 samplers


@register(
    "sample_mixture_weighted",
    oracle=f"""
WITH per AS (
  SELECT source, lang,
         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per
),
w AS (
  SELECT source, lang,
         1.0 / sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS inv_w
  FROM per, tot
),
mx AS (
  SELECT max(inv_w) AS max_inv FROM w
),
strata AS (
  SELECT source, lang,
         CAST(floor(inv_w / max_inv * {MIX_PPM}) AS BIGINT) AS keep_ppm
  FROM w, mx
)
SELECT d.doc_id, d.source, d.lang, s.keep_ppm
FROM documents d JOIN strata s ON d.source = s.source AND d.lang = s.lang
WHERE {h60_sql(f"'{MIX_SALT}' || CAST(d.doc_id AS VARCHAR)")} % {MIX_PPM} < s.keep_ppm
""",
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced corpus resampling — the step that APPLIES the
    ``corpus_mixture_report`` weights: each (source, lang) stratum keeps
    documents with probability proportional to 1/sqrt(token_share),
    normalized so the rarest stratum keeps 100% — large strata are
    downsampled toward the temperature-0.5 mixture. The keep decision is
    ``h60(salt || doc_id) % 1e6 < keep_ppm``: a pure row function, so the
    sample reproduces across runs/engines/retries and composes with the
    other h60 samplers (distinct salt = independent coin).

    Bit-exactness: normalizing by the MAX stratum weight instead of the sum
    matters — max is order-independent while a float sum would impose a
    summation order; all remaining ops (sqrt, /, *, floor) round identically
    in both engines. Scale: strata table is tiny (broadcast join), the keep
    filter is per-row hash arithmetic — no extra shuffle beyond the one
    stratum aggregate."""
    # persisted: the stratum table is |source x lang|-sized but its lineage
    # tokenizes the whole corpus, and it feeds THREE consumers (total
    # aggregate, weight projection, max aggregate) — as pure lineage the
    # corpus would be re-scanned and re-tokenized once per consumer
    # (plan audit caught 4 scans; at 100 TB that is 4 corpus passes for a
    # 100-row table).
    per = track_persist(
        _docs(spark, sf_dir)
        .groupBy("source", "lang")
        .agg(F.sum(F.size(_tokens()).cast("long")).alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    inv_w = F.lit(1.0) / F.sqrt(
        F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")
    )
    w = per.crossJoin(F.broadcast(tot)).select("source", "lang", inv_w.alias("inv_w"))
    mx = w.agg(F.max("inv_w").alias("max_inv"))
    strata = w.crossJoin(F.broadcast(mx)).select(
        "source",
        "lang",
        F.floor(F.col("inv_w") / F.col("max_inv") * MIX_PPM).cast("long").alias("keep_ppm"),
    )
    docs = load_table(spark, sf_dir, "documents")
    keep = (h60(F.concat(F.lit(MIX_SALT), F.col("doc_id").cast("string"))) % MIX_PPM) < F.col(
        "keep_ppm"
    )
    return (
        docs.join(F.broadcast(strata), ["source", "lang"])
        .filter(keep)
        .select("doc_id", "source", "lang", "keep_ppm")
    )


# --- curriculum difficulty buckets ----------------------------------------------

CURRICULUM_QUANTILES = (0.25, 0.5, 0.75)


@register(
    "curriculum_quality_buckets",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
  FROM documents
),
q AS (
  SELECT quantile_cont(score, 0.25) AS q1,
         quantile_cont(score, 0.5) AS q2,
         quantile_cont(score, 0.75) AS q3
  FROM scored
)
SELECT doc_id, score,
       CAST(CASE WHEN score <= q1 THEN 0
                 WHEN score <= q2 THEN 1
                 WHEN score <= q3 THEN 2
                 ELSE 3 END AS BIGINT) AS bucket
FROM scored, q
""",
)
def curriculum_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/data-ordering prep: every document assigned a difficulty
    quartile by lexical-diversity score (type-token ratio — one exact
    double division). Quartile thresholds are EXACT interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``, the
    stats_moments precedent) computed in one 1-row aggregate and broadcast
    back — per-row bucketing is then three comparisons, no window. A
    trainer reads bucket k before k+1 (easy-to-hard) or samples by bucket.

    Scale: the exact percentile needs the score multiset on one reducer —
    fine for a 1-row global agg over per-doc scores at fixture scale; the
    documented 100 TB path swaps in ``approx_percentile`` (constant-memory
    sketch) with the same downstream plan."""
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        (
            F.size(F.array_distinct(_tokens())).cast("double")
            / F.size(_tokens()).cast("double")
        ).alias("score"),
    )
    q = scored.agg(
        *[
            F.expr(f"percentile(score, {p})").alias(f"q{i + 1}")
            for i, p in enumerate(CURRICULUM_QUANTILES)
        ]
    )
    bucket = (
        F.when(F.col("score") <= F.col("q1"), 0)
        .when(F.col("score") <= F.col("q2"), 1)
        .when(F.col("score") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return scored.crossJoin(F.broadcast(q)).select(
        "doc_id", "score", bucket.cast("long").alias("bucket")
    )


# --- Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine -------------

RRF_K = 60  # the standard published reciprocal-rank-fusion constant
RRF_QUERY_VEC = 0  # fixed dense query: the embedding row with vec_id = 0
RRF_LEG_K = 20  # depth of each retrieval leg entering the fusion
RRF_TOP_K = 20


def _dense_leg_oracle() -> str:
    from ..functions.vectors import dot_fold_sql, norm_sql

    return f"""
  WITH v AS (
    SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
  ),
  scored AS (
    SELECT c.vec_id AS doc_id,
           {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
    FROM v q JOIN v c ON q.vec_id = {RRF_QUERY_VEC} AND c.vec_id <> q.vec_id
  )
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scored QUALIFY rnk <= {RRF_LEG_K}
"""


def _rrf_oracle() -> str:
    return f"""
WITH lex AS (
  SELECT doc_id, rnk AS lex_rnk FROM ({_bm25_oracle()})
),
dense AS (
  SELECT doc_id, rnk AS dense_rnk FROM ({_dense_leg_oracle()})
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         CAST(l.lex_rnk AS BIGINT) AS lex_rnk,
         CAST(d.dense_rnk AS BIGINT) AS dense_rnk,
         COALESCE(1.0 / ({RRF_K} + l.lex_rnk), 0.0)
           + COALESCE(1.0 / ({RRF_K} + d.dense_rnk), 0.0) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rnk, dense_rnk, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS fused_rnk
FROM fused
QUALIFY fused_rnk <= {RRF_TOP_K}
"""


@register("retrieval_rank_fusion", oracle=_rrf_oracle())
def retrieval_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, the standard
    1/(k + rank) rule with k={RRF_K}) of a lexical BM25 top-{RRF_LEG_K} and a
    dense cosine top-{RRF_LEG_K} — the canonical two-tower mining recipe for
    topic-targeted training data, and the shape every hybrid search stack
    (lexical + vector) runs in production.

    The fixture's documents and embeddings align on doc_id == vec_id, which
    stands in for the doc->embedding mapping a real corpus ships.

    Scale: each leg independently reduces the corpus to {RRF_LEG_K} rows
    (BM25 via TakeOrdered top-k, dense via broadcast query + narrow scan +
    top-k), so the fusion join touches 2x{RRF_LEG_K} rows — driver-trivial at
    any corpus size; the heavy lifting stays in the legs, which both scale
    linearly. Cross-engine bit-exactness: ranks are integers; the fused score
    is two single IEEE divisions and one add, identical parenthesization in
    both engines; ties broken by doc_id everywhere."""
    from ..functions.vectors import dot_fold
    from .similarity import _vectors

    lex = (
        text_bm25_topk(spark, sf_dir)
        .select(F.col("doc_id"), F.col("rnk").alias("lex_rnk"))
    )

    v = _vectors(spark, sf_dir)
    q = F.broadcast(
        v.filter(F.col("vec_id") == RRF_QUERY_VEC)
        .select(F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm"))
    )
    dense_scored = (
        v.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(q)  # 1-row broadcast: the fixed query vector
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot_fold(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))).alias("score"),
        )
    )
    # TakeOrderedAndProject first (per-partition local top-k, never a global
    # single-partition window over the scored corpus), THEN rank the k
    # survivors — the same shape as the BM25 leg.
    dense = (
        dense_scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(RRF_LEG_K)
        .withColumn(
            "dense_rnk",
            F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id"))).cast("long"),
        )
        .select("doc_id", "dense_rnk")
    )

    k = F.lit(RRF_K)
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("lex_rnk").cast("long").alias("lex_rnk"),
            F.col("dense_rnk").cast("long").alias("dense_rnk"),
            (
                F.coalesce(F.lit(1.0) / (k + F.col("lex_rnk")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (k + F.col("dense_rnk")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    return (
        fused.withColumn(
            "fused_rnk",
            F.row_number().over(Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))).cast("long"),
        )
        .filter(F.col("fused_rnk") <= RRF_TOP_K)
    )


# --- iterative BPE training ------------------------------------------------------

BPE_ROUNDS = 6
BPE_SEP = "+"  # joins the two merged symbols into the new one


def _apply_merge(toks: F.Column, a: F.Column, b: F.Column) -> F.Column:
    """Leftmost non-overlapping replacement of adjacent (a, b) with the
    merged symbol — the BPE application step, as ONE sequential
    ``F.aggregate`` fold inside whole-stage codegen (no Python boundary).
    The accumulator carries (out, pending): pending holds the previous
    unconsumed symbol; consuming (pending=a, x=b) emits the merge and
    clears it, so "a a a" with merge (a,a) yields ("a+a", "a") exactly
    like the reference BPE algorithm."""
    merged = F.concat(a, F.lit(BPE_SEP), b)
    acc_t = "struct<out: array<string>, pending: string>"
    return F.aggregate(
        toks,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pending"),
        ).cast(acc_t),
        lambda acc, x: F.when(
            acc["pending"].isNull(),
            F.struct(acc["out"].alias("out"), x.alias("pending")).cast(acc_t),
        )
        .when(
            (acc["pending"] == a) & (x == b),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ).cast(acc_t),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pending"])).alias("out"),
                x.alias("pending"),
            ).cast(acc_t)
        ),
        lambda acc: F.when(
            acc["pending"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pending"]))),
    )


# Unrolled-SQL oracle for the iterative trainer: iteration with a FIXED
# round count is SQL-expressible after all — each round becomes one CTE
# block (pair counts -> argmax -> positional leftmost-non-overlapping
# rewrite via gaps-and-islands + selection parity), chained BPE_ROUNDS deep.
# MATERIALIZED is load-bearing: without it DuckDB inlines every CTE
# reference and the evaluation tree grows 2^rounds (measured 30 s -> 0.4 s
# at sf0.01). The greedy-left overlap rule (runs of matched positions pick
# even offsets — only possible when sym_a == sym_b) is exactly the
# ``_apply_merge`` fold's pending-symbol semantics.


def _bpe_round_ctes(r: int) -> str:
    s_in = f"s{r - 1}"
    return f"""
pc{r} AS (
  SELECT tok AS a, nxt AS b, count(*) AS n FROM (
    SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM {s_in}
  ) WHERE nxt IS NOT NULL GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT a, b, a || '{BPE_SEP}' || b AS merged, n
                      FROM pc{r} ORDER BY n DESC, a, b LIMIT 1),
m{r} AS (
  SELECT s.doc_id, s.pos, s.tok,
         coalesce(s.tok = b{r}.a AND
                  lead(s.tok) OVER (PARTITION BY s.doc_id ORDER BY s.pos) = b{r}.b,
                  FALSE) AS matched
  FROM {s_in} s, b{r}
),
g{r} AS (
  SELECT doc_id, pos, tok, matched,
         CASE WHEN matched
              THEN pos - row_number() OVER (PARTITION BY doc_id, matched ORDER BY pos)
         END AS grp
  FROM m{r}
),
sel{r} AS (
  SELECT doc_id, pos, tok,
         matched AND (row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos) % 2 = 1)
           AS selected
  FROM g{r}
),
rw{r} AS (
  SELECT s.doc_id, s.pos,
         CASE WHEN s.selected THEN b{r}.merged ELSE s.tok END AS tok,
         coalesce(lag(s.selected) OVER (PARTITION BY s.doc_id ORDER BY s.pos), FALSE)
           AS consumed
  FROM sel{r} s, b{r}
),
s{r} AS MATERIALIZED (
  SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos, tok
  FROM rw{r} WHERE NOT consumed
)"""


def _bpe_unrolled_ctes() -> str:
    """WITH-clause body: tokenized corpus s0 plus BPE_ROUNDS round blocks.
    s0 keeps ALL docs (single-token docs yield no pairs, so the argmax per
    round is identical to the trainer's >= 2-token corpus — and the encode
    oracle needs them passed through)."""
    head = """s0 AS MATERIALIZED (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, string_split(text, ' ')[CAST(pos AS INT)] AS tok
  FROM (SELECT doc_id, text, unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents)
)"""
    return head + "".join("," + _bpe_round_ctes(r) for r in range(1, BPE_ROUNDS + 1))


_BPE_TRAIN_ORACLE = f"""
WITH {_bpe_unrolled_ctes()}
SELECT * FROM (
{" UNION ALL ".join(f"SELECT CAST({r} AS BIGINT) AS round, a AS sym_a, b AS sym_b, merged, n FROM b{r}" for r in range(1, BPE_ROUNDS + 1))}
)
"""


# Results of driver-sequenced corpus work (the trained BPE merge table, the
# trained unigram pieces, the PRF literals), memoized per process under the
# result's kind and parameters plus ``_corpus_identity``: a trainer and its
# encoder both need the table, and training twice would double the only
# driver-sequenced cost of either family. The identity changes on any
# rewrite of documents.parquet, so a changed corpus always recomputes.
_CORPUS_MEMO: dict[tuple, object] = {}
T = TypeVar("T")


def _corpus_identity(sf_dir: str) -> tuple:
    p = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    try:
        if os.path.isdir(p):  # Spark-written table: identity = its data files
            parts = tuple(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns, os.stat(os.path.join(p, f)).st_size)
                for f in sorted(os.listdir(p))
                if not f.startswith((".", "_"))
            )
            return (p, parts)
        st = os.stat(p)
        return (p, (st.st_mtime_ns, st.st_size))
    except OSError:
        return (p, None)  # unreadable: never memoized


def _corpus_memo(sf_dir: str, key: tuple, build: Callable[[], T]) -> T:
    """``build()``, memoized per corpus identity and ``key`` (the kind of
    result and any parameters it depends on)."""
    ident = _corpus_identity(sf_dir)
    full_key = (key, ident)
    if full_key in _CORPUS_MEMO:
        return _CORPUS_MEMO[full_key]
    value = build()
    if ident[1] is not None:
        _CORPUS_MEMO[full_key] = value
    return value


def _train_bpe(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, str, int]]:
    """The merge table shared by ``bpe_train_merges`` (returns it) and
    ``bpe_encode_corpus`` (applies it), trained once per corpus."""
    return _corpus_memo(sf_dir, ("bpe",), lambda: _bpe_merges(spark, sf_dir))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, str, int]]:
    """The driver-sequenced training loop: one pair-count job per round."""
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    # Local cache ledger (ADVICE r6): this builder runs its actions (the
    # per-round collects) BEFORE returning, so it can release its own caches
    # here — but it must NOT drain the global io ledger, which may hold a
    # caller's not-yet-consumed localCheckpoint blocks (non-recomputable).
    local_caches: list[DataFrame] = []
    current = docs
    for rnd in range(1, BPE_ROUNDS + 1):
        # Re-filter EVERY round (ADVICE r5): a 2-token doc whose pair was the
        # previous round's best merge collapses to 1 token, and sequence(1,
        # size-1) would then yield the descending [1, 0] -> element_at index-0
        # error. The doc stays in `current` (rewrite is a no-op) — only the
        # pair scan must skip it.
        pairs = current.filter(F.size("toks") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("a"),
                        F.element_at("toks", i + 1).alias("b"),
                    ),
                )
            ).alias("p")
        )
        counts = pairs.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
        best = counts.orderBy(F.col("n").desc(), F.col("p.a"), F.col("p.b")).limit(1).collect()
        if not best:
            break
        row = best[0]
        a, b, n = row.p.a, row.p.b, row.n
        merges.append((rnd, a, b, a + BPE_SEP + b, n))
        # persisted but NOT eagerly counted: the next round's pair-count job
        # materializes this cache as its first consumer, so an explicit
        # count() here would be a redundant second action per round
        current = current.select(
            "doc_id", _apply_merge(F.col("toks"), F.lit(a), F.lit(b)).alias("toks")
        ).persist()
        local_caches.append(current)
    for cached in local_caches:
        try:
            cached.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return merges


@register("bpe_train_merges", oracle=_BPE_TRAIN_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL iterative BPE tokenizer training, distributed: {BPE_ROUNDS}
    rounds of (count adjacent pairs corpus-wide -> pick the most frequent
    pair, ties to the lexicographically smallest -> rewrite every document
    with the merge applied). ``bpe_merge_candidates`` is one round's scan;
    this is the whole training loop, the part that needs a driver-sequenced
    iteration because round r's counts depend on round r-1's rewrite.
    Exactly ONE row (the argmax pair) is collected per round — the merge
    table is driver-side by design, as in any distributed tokenizer
    trainer; the corpus itself never leaves the executors.

    Value-hash checked since r7: a FIXED round count makes the iteration
    SQL-expressible after all — the oracle unrolls all {BPE_ROUNDS} rounds
    as MATERIALIZED CTE blocks (see ``_bpe_round_ctes``), replacing the
    r5-era rows-only registration. The pure-Python differential in
    tests/test_corpus.py stays as the third, engine-free reference.

    Scale: each round is one explode -> pair count (map-side combined) ->
    TakeOrdered(1), then a lazy per-row fold rewriting the arrays. The
    working set is persisted per round and the previous round's cache
    released (lineage would otherwise recompute all prior rewrites every
    round — O(R^2) corpus passes; with the checkpointing it is O(R)). At
    100 TB each round is a single shuffle of pair partials, and the
    rewrite is embarrassingly parallel codegen."""
    return spark.createDataFrame(
        _train_bpe(spark, sf_dir),
        "round bigint, sym_a string, sym_b string, merged string, n bigint",
    )


_BPE_ENCODE_ORACLE = f"""
WITH {_bpe_unrolled_ctes()}
SELECT doc_id, count(*) AS n_tokens, string_agg(tok, ' ' ORDER BY pos) AS toks_str
FROM s{BPE_ROUNDS} GROUP BY doc_id
"""


@register("bpe_encode_corpus", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale — the step a training pipeline
    actually runs nightly: take the trained merge table and re-encode every
    document with the merges applied in priority order. Training happens
    once ({BPE_ROUNDS} driver-collected argmax rows via ``_train_bpe``);
    the ENCODE is then a SINGLE embarrassingly parallel pass — all
    {BPE_ROUNDS} merge folds composed into one projection (Catalyst
    collapses the chained selects), zero shuffles, no iteration over the
    corpus. Output per doc: token count + the encoded token stream, both
    value-hash checked against the unrolled-SQL oracle's final state.

    Scale: the merge table is a driver-side constant baked into the plan
    (the broadcast-a-tiny-table degenerate case); encode cost is O(corpus)
    regardless of vocabulary size, which is why production tokenizers ship
    the merge list to every worker and stream the corpus through exactly
    once. n_tokens is derived from the joined string (tokens cannot
    contain the split character), keeping the fold evaluated once per row
    instead of twice."""
    merges = _train_bpe(spark, sf_dir)
    col = _tokens()
    for _rnd, a, b, _m, _n in merges:
        col = _apply_merge(col, F.lit(a), F.lit(b))
    # NULL-text docs produce NO tokens, hence no encode row — the oracle's
    # unrolled trainer has no s0 rows for them, so the filter pins the doc
    # sets equal (the tokenizer_fertility_report rule; --nulls sweep r10)
    return (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.array_join(col, " ").alias("toks_str"))
        .select(
            "doc_id",
            F.size(F.split(F.col("toks_str"), " ")).cast("long").alias("n_tokens"),
            "toks_str",
        )
    )


# --- pseudo-relevance-feedback query expansion (RM1-style) -------------------------

PRF_FEEDBACK_DOCS = 10  # top docs of the first pass assumed relevant
PRF_EXPANSION_TERMS = 3  # terms added to the query
PRF_TOP_K = 10  # final result size


def _prf_oracle() -> str:
    q0 = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    q0_in = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    # Shared scoring scaffold: per-(doc, term) BM25 contribution with the
    # identical parenthesization as text_bm25_topk, summed per doc by a fold
    # over the term-ordered list (sum() over a group is order-free in both
    # engines and would NOT be deterministic for doubles).
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT t.doc_id, t.term,
         ((CAST(g.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
         * (CAST(t.tf AS DOUBLE) * ({BM25_K1} + 1.0))
         / (CAST(t.tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * (CAST(l.dl AS DOUBLE) / g.avgdl)))
           AS s
  FROM tf t JOIN dfreq d ON d.term = t.term JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN g
),
score0 AS (
  SELECT c.doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c.s ORDER BY c.term)),
                     (a, b) -> a + b) AS score
  FROM contrib c JOIN (VALUES {q0}) q(term) ON q.term = c.term
  GROUP BY c.doc_id
),
feedback AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
    FROM score0) WHERE rnk <= {PRF_FEEDBACK_DOCS}
),
expansion AS (
  SELECT term FROM (
    SELECT t.term,
           row_number() OVER (ORDER BY count(DISTINCT t.doc_id) DESC, t.term) AS rn
    FROM tf t JOIN feedback f ON f.doc_id = t.doc_id
    WHERE t.term NOT IN ({q0_in})
    GROUP BY t.term) WHERE rn <= {PRF_EXPANSION_TERMS}
),
q1 AS (
  SELECT term FROM (VALUES {q0}) q(term) UNION ALL SELECT term FROM expansion
),
score1 AS (
  SELECT c.doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c.s ORDER BY c.term)),
                     (a, b) -> a + b) AS score,
         CAST(count(*) AS BIGINT) AS n_query_terms_hit
  FROM contrib c JOIN q1 ON q1.term = c.term
  GROUP BY c.doc_id
),
exp_echo AS (
  SELECT string_agg(term, ',' ORDER BY term) AS expansion_terms FROM expansion
)
SELECT doc_id, score, n_query_terms_hit,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
       (SELECT expansion_terms FROM exp_echo) AS expansion_terms
FROM score1
QUALIFY rnk <= {PRF_TOP_K}
"""


@register("prf_query_expansion", oracle=_prf_oracle())
def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio/RM1 recipe): run the
    fixed BM25 query, assume its top {PRF_FEEDBACK_DOCS} documents are
    relevant, mine the {PRF_EXPANSION_TERMS} terms most prevalent in that
    feedback set (by distinct-doc count, excluding the original terms, ties
    lexicographic), re-score with the expanded query, and return the new
    top {PRF_TOP_K} with the expansion echoed — the classic zero-training
    recall booster for lexical mining when a topic's vocabulary is wider
    than the seed query.

    Scale shape: unlike text_bm25_topk's fixed-term column trick, the
    expanded term set is DATA-DEPENDENT, so scoring joins the (doc, term,
    tf) index against a tiny term list — the index is one tokenize+count
    pass (map-side combined), the term list never exceeds |q0| +
    {PRF_EXPANSION_TERMS} rows and broadcasts, and each pass shuffles only
    matched postings. Both ranking steps are TakeOrdered-style top-k. The
    per-doc score SUM over matched terms folds over the term-ordered list
    (a plain float SUM over a group commutes nondeterministically; the
    ordered fold is what both engines can replicate bit-for-bit)."""
    tf, contrib = _bm25_contrib_index(spark, sf_dir)
    return _prf_from_index(spark, tf, contrib, sf_dir)


def _bm25_contrib_index(spark: SparkSession, sf_dir: str):
    """Shared BM25 posting index for the PRF/RBO family: (tf, contrib)
    where contrib is the exact per-(doc, term) BM25 contribution s. Both
    are cached once (the cache manager dedupes every downstream reference
    — score0, score1, the RBO bm ranking — onto one materialization); the
    36-40-shuffle audit depth VERDICT r9 #5 flagged came from the
    feedback->expansion->re-score NESTING repeating this lineage inside
    itself, which _prf_from_index now breaks with bounded driver-side
    pulls instead of eager checkpoints (measured: checkpointing tf+contrib
    here cost 1.8-3.6x at sf0.1 — full-width materialization without AQE —
    while the bounded pulls keep r9 runtime AND cut the final plan to the
    index lineage once).

    INVARIANT (ADVICE r11 #2): the (tf, contrib) this returns is the ONLY
    index shape _prf_from_index may be handed — its literal memo is keyed
    on (corpus identity, BM25_K1/B, query terms, PRF sizes, cache epoch),
    i.e. on THIS build recipe. A caller constructing a different index
    (filtered corpus, re-parameterized BM25) must bump _PRF_CACHE_EPOCH or
    bypass the memo, or it will receive stale baked-in literals."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = track_persist(tf)
    dl = docs.select("doc_id", F.size(_tokens()).cast("long").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = track_persist(
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            "term",
            (
                (
                    (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
                * (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0)
                        - F.lit(BM25_B)
                        + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
            ).alias("s"),
        )
    )
    return tf, contrib


# The PRF literals (feedback_ids, expansion_terms) are memoized per corpus
# (``_corpus_memo``): building prf_query_expansion and rbo_rank_agreement in
# one session re-ran the full BM25 index job once per plan CONSTRUCTION
# (these two queries are eager-at-build by design — the bounded
# constant-size pulls bake literals into the re-score plan); the memo makes
# the second and later builds free. The key carries the index parameters
# and this epoch: bump it when the PRF/index recipe changes in a way the
# parameter constants don't capture, so a differently-built index for the
# same corpus never serves stale literals.
_PRF_CACHE_EPOCH = 1


def _prf_from_index(
    spark: SparkSession, tf: DataFrame, contrib: DataFrame, sf_dir: str
) -> DataFrame:
    """PRF assembly over the shared checkpointed index (see
    _bm25_contrib_index): feedback ranking, expansion mining, re-score.

    NOTE for registry enumerators (plan_audit, sweeps, bench): building this
    plan is EAGER — it executes the two bounded driver-side pulls below
    (<= PRF_FEEDBACK_DOCS + PRF_EXPANSION_TERMS rows, never
    data-proportional) before returning the DataFrame. The per-corpus memo
    keeps that to one index job per corpus identity per process."""
    nq = list(BM25_QUERY_TERMS)

    def _score(term_df: DataFrame) -> DataFrame:
        return (
            contrib.join(F.broadcast(term_df), "term")
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "s"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"],
                ).alias("score"),
                F.count(F.lit(1)).alias("n_query_terms_hit"),
            )
        )

    q0 = spark.createDataFrame([(t,) for t in nq], "term string")
    # Bounded driver-side pulls (the tokenizer-merge-table / vocab-pull
    # pattern, VERDICT r9 #5): feedback is <= PRF_FEEDBACK_DOCS rows and
    # the expansion is <= PRF_EXPANSION_TERMS rows — constants, never
    # data-proportional — so collecting them and baking literals into the
    # re-score plan removes the feedback->expansion->re-score lineage
    # NESTING that made the audit depth quadratic in the pass count. The
    # cached contrib/tf do the heavy work exactly once either way.
    def literals() -> tuple[list, list]:
        feedback_ids = [
            r["doc_id"]
            for r in _score(q0)
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(PRF_FEEDBACK_DOCS)
            .select("doc_id")
            .collect()
        ]
        wexp = Window.orderBy(F.col("c").desc(), F.col("term"))
        expansion_terms = [
            r["term"]
            for r in tf.filter(F.col("doc_id").isin(feedback_ids))
            .filter(~F.col("term").isin(nq))
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("c"))
            .withColumn("rn", F.row_number().over(wexp))
            .filter(F.col("rn") <= PRF_EXPANSION_TERMS)
            .select("term")
            .collect()
        ]
        return feedback_ids, expansion_terms

    prf_key = (
        "prf",
        BM25_K1,
        BM25_B,
        BM25_QUERY_TERMS,
        PRF_FEEDBACK_DOCS,
        PRF_EXPANSION_TERMS,
        _PRF_CACHE_EPOCH,
    )
    feedback_ids, expansion_terms = _corpus_memo(sf_dir, prf_key, literals)
    q1 = spark.createDataFrame(
        [(t,) for t in nq] + [(t,) for t in expansion_terms], "term string"
    )
    echo_str = ",".join(sorted(expansion_terms))
    scored = _score(q1)
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(PRF_TOP_K)
    return (
        topk.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .withColumn("expansion_terms", F.lit(echo_str))
        .select("doc_id", "score", "n_query_terms_hit", "rnk", "expansion_terms")
    )


# --- one-row corpus datacard ----------------------------------------------------


@register(
    "corpus_datacard",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, source, md5(text) AS digest,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         string_split(text, ' ') AS toks
  FROM documents
),
tok AS (SELECT unnest(toks) AS token FROM t),
dups AS (
  SELECT count(*) AS n FROM (
    SELECT digest FROM t GROUP BY digest HAVING count(*) > 1
  )
),
dup_docs AS (
  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM (
    SELECT count(*) AS c FROM t GROUP BY digest HAVING count(*) > 1
  )
),
len_median AS (
  -- NULL-text docs have NULL n_tokens; the median is over docs WITH text
  -- (explicit on both engines — Spark windows sort NULLS FIRST, DuckDB
  -- row_number here puts them LAST, so leaving them in splits the rank)
  SELECT n_tokens AS v FROM (
    SELECT n_tokens, row_number() OVER (ORDER BY n_tokens) AS rn,
           count(*) OVER () AS n
    FROM t WHERE n_tokens IS NOT NULL) WHERE rn = (n + 1) // 2
)
SELECT
  (SELECT count(*) FROM t) AS n_docs,
  (SELECT CAST(sum(n_tokens) AS BIGINT) FROM t) AS total_tokens,
  (SELECT count(DISTINCT token) FROM tok WHERE token <> '') AS distinct_tokens,
  (SELECT count(DISTINCT lang) FROM t) AS n_langs,
  (SELECT count(DISTINCT source) FROM t) AS n_sources,
  (SELECT n FROM dup_docs) AS exact_dup_docs,
  (SELECT n FROM dups) AS exact_dup_groups,
  (SELECT v FROM len_median) AS median_doc_tokens,
  CAST((SELECT sum(n_tokens) FROM t) AS DOUBLE) / (SELECT count(*) FROM t)
    AS mean_doc_tokens
""",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus DATACARD — the dataset-documentation summary (Gebru et
    al.'s datasheets; every model card's training-data section): document
    and token volume, vocabulary size, language/source diversity, exact-
    duplicate exposure (docs in >1-member digest groups and group count),
    and central doc-length statistics. The single row is what a release
    pipeline stamps next to the shipped shards.

    Scale shape: every statistic is a map-side-combinable aggregate over
    ONE tokenize pass (token distinct is the only wide intermediate —
    vocabulary-bounded); the exact median comes from the distinct-length
    histogram (lengths are horizon-bounded integers, so the rank scan is
    metadata-sized — the feature_quantile_binning trick, not a global
    sort). Exactly one output row at any corpus size."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("digest"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    t = track_persist(t)
    base = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .agg(F.countDistinct("token").alias("distinct_tokens"))
    )
    dup_groups = (
        t.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("exact_dup_docs"),
            F.count(F.lit(1)).alias("exact_dup_groups"),
        )
    )
    # exact median doc length from the distinct-length histogram, over
    # docs WITH text only (NULL n_tokens excluded on both engines)
    hist = (
        t.filter(F.col("n_tokens").isNotNull())
        .groupBy("n_tokens")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("n_tokens")
    med = (
        hist.select(
            "n_tokens",
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
            F.sum("cnt").over(
                Window.orderBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        # rank ceil(n/2) = (n+1)//2 — the LOWER median for even n, matching
        # the DuckDB oracle's rn = (n+1)//2 and the pure-Python differential
        # (cum*2 >= n+1 would pick the UPPER median, rank n/2+1, and break
        # the hash gate on any even-count corpus whose middle lengths differ)
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("n_tokens").alias("median_doc_tokens"))
    )
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dup_groups))
        .crossJoin(F.broadcast(med))
        .select(
            "n_docs",
            "total_tokens",
            "distinct_tokens",
            "n_langs",
            "n_sources",
            "exact_dup_docs",
            "exact_dup_groups",
            "median_doc_tokens",
            (
                F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
            ).alias("mean_doc_tokens"),
        )
    )


# --- word2vec negative-sampling table ----------------------------------------------


@register(
    "negative_sampling_table",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok WHERE token <> '' GROUP BY token
)
SELECT token, cnt,
       sqrt(CAST(cnt AS DOUBLE) * sqrt(CAST(cnt AS DOUBLE))) AS weight,
       CAST(row_number() OVER (
         ORDER BY sqrt(CAST(cnt AS DOUBLE) * sqrt(CAST(cnt AS DOUBLE))) DESC,
                  token) AS BIGINT) AS rnk
FROM cnt
""",
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table (Mikolov et al.): per-token
    sampling weight proportional to count^(3/4) — the published temper that
    keeps frequent tokens from dominating the negative draws without
    flattening to uniform. The 0.75 power needs no libm: x^(3/4) =
    sqrt(x * sqrt(x)), and IEEE-754 requires sqrt to be correctly rounded,
    so both engines produce the identical double bit-for-bit (the same
    determinism class as the engine's other sqrt uses). Weights are emitted
    UN-normalized with a deterministic rank — normalization is a single
    scalar at sample time, and emitting it here would require a
    commutative float SUM over the vocabulary, which neither engine orders
    deterministically.

    Scale shape: one tokenize pass with map-side combine into the
    vocabulary-bounded count table; the rank is a |vocab|-sized window (the
    text_vocab_topk precedent). The table is the broadcast input to any
    contrastive/skip-gram sampler downstream (skipgram_pair_counts)."""
    cnt = (
        _docs(spark, sf_dir)
        .select(F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    weight = F.sqrt(F.col("cnt").cast("double") * F.sqrt(F.col("cnt").cast("double")))
    w = Window.orderBy(F.col("weight").desc(), F.col("token"))
    return (
        cnt.select("token", "cnt", weight.alias("weight"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )


# --- rank-biased overlap between lexical and PRF rankings -----------------------------

RBO_K = 10  # prefix depth; p = 1/2 so every weight is an exact power of two


@register(
    "rbo_rank_agreement",
    oracle=f"""
WITH bm AS ({_bm25_oracle()}),
pr AS ({_prf_oracle()}),
common AS (
  SELECT greatest(b.rnk, p.rnk) AS dmin
  FROM bm b JOIN pr p USING (doc_id)
  WHERE b.rnk <= {RBO_K} AND p.rnk <= {RBO_K}
),
depths AS (SELECT unnest(range(1, {RBO_K} + 1)) AS d),
ad AS (
  SELECT d, CAST(count(c.dmin) AS BIGINT) AS a_d
  FROM depths LEFT JOIN common c ON c.dmin <= d
  GROUP BY d
),
terms AS (
  SELECT d, a_d,
         (CAST(a_d AS DOUBLE) / d) * (1.0 / CAST(1 << (d - 1) AS DOUBLE)) AS term
  FROM ad
)
SELECT CAST({RBO_K} AS BIGINT) AS k,
       (SELECT a_d FROM ad WHERE d = {RBO_K}) AS overlap_at_k,
       0.5 * list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY d)),
         (a, b) -> a + b) AS rbo_min
FROM terms
""",
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the plain BM25
    top-{RBO_K} and the PRF-expanded top-{RBO_K} — the top-weighted
    rank-agreement metric that answers "how much did query expansion
    actually change what users see", where Kendall/Spearman over-weight the
    tail. Reported as prefix RBO at depth k (the RBO_min convention) with
    persistence p = 1/2: every depth weight p^(d-1) is an exact power of
    two (computed by integer shift, never libm pow), the per-depth
    agreement A_d is an integer, and the weighted sum folds in depth order
    — bit-identical across engines.

    Scale shape: composes two TakeOrdered rankings (each {RBO_K} rows), one
    {RBO_K}x{RBO_K}-bounded join, and a {RBO_K}-row depth grid — constant
    work on top of the rankings at any corpus size. One output row."""
    # Both rankings derive from ONE checkpointed contrib index (VERDICT r9
    # #5) instead of a separate text_bm25_topk corpus scan: the bm leg
    # pivots contrib back to per-term columns and sums them in the SAME
    # left-to-right fixed-term order as text_bm25_topk (missing terms
    # contribute exactly +0.0 there, so coalesce(.., 0.0) is value-identical
    # and the ranking — hence the hash — is unchanged by construction).
    nq = list(BM25_QUERY_TERMS)
    tf, contrib = _bm25_contrib_index(spark, sf_dir)
    hits = (
        contrib.filter(F.col("term").isin(nq))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("term") == t, F.col("s"))).alias(f"s_{i}")
                for i, t in enumerate(nq)
            ]
        )
    )
    bm_score = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(nq)):
        bm_score = bm_score + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    bm = (
        hits.select("doc_id", bm_score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RBO_K)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rb"),
        )
    )
    pr = _prf_from_index(spark, tf, contrib, sf_dir).filter(F.col("rnk") <= RBO_K).select(
        "doc_id", F.col("rnk").alias("rp")
    )
    common = bm.join(pr, "doc_id").select(
        F.greatest("rb", "rp").alias("dmin")
    )
    depths = spark.range(1, RBO_K + 1).select(F.col("id").alias("d"))
    ad = (
        depths.join(F.broadcast(common), F.col("dmin") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("dmin").alias("a_d"))
    )
    terms = ad.select(
        "d",
        "a_d",
        (
            (F.col("a_d").cast("double") / F.col("d"))
            * F.expr("1.0 / CAST(shiftleft(1, CAST(d - 1 AS INT)) AS DOUBLE)")
        ).alias("term"),
    )
    return terms.agg(
        F.lit(RBO_K).cast("long").alias("k"),
        F.max(F.when(F.col("d") == RBO_K, F.col("a_d"))).alias("overlap_at_k"),
        (
            F.lit(0.5)
            * F.aggregate(
                F.array_sort(F.collect_list(F.struct("d", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            )
        ).alias("rbo_min"),
    )


# --- tokenizer fertility / compression report (r9) -----------------------------------

_FERTILITY_ORACLE = f"""
WITH {_bpe_unrolled_ctes()},
enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe FROM s{BPE_ROUNDS} GROUP BY doc_id),
base AS (
  SELECT coalesce(d.lang, '?') AS lang,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         CAST(length(d.text) AS BIGINT) AS n_chars,
         e.n_bpe
  FROM documents d JOIN enc e USING (doc_id)
  WHERE d.text IS NOT NULL
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_bpe) AS DOUBLE) / nullif(sum(n_words), 0) AS fertility,
       CAST(sum(n_chars) AS DOUBLE) / nullif(sum(n_bpe), 0) AS chars_per_token
FROM base GROUP BY lang
"""


@register("tokenizer_fertility_report", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression audit per language — THE metric a
    team tracks when choosing or retraining a tokenizer (fertility =
    subword tokens per whitespace word; chars-per-token = the compression
    ratio that sets effective context length): train the BPE merges once,
    apply them corpus-wide (the bpe_encode_corpus composed-fold plan,
    zero shuffles), and aggregate exact token/word/char counts by lang.
    A fertility drift on one language is the canonical signal that the
    vocabulary under-serves it (Rust et al. 2021). Ratios are single IEEE
    divisions of exact BIGINT sums, so the whole report value-hash-checks
    against the unrolled-SQL trainer + encoder.

    Scale: identical to bpe_encode_corpus — the merge table is a
    driver-side constant baked into one narrow projection; the report adds
    ONE map-side-combinable aggregate keyed by lang (tiny cardinality).
    NULL lang folds to '?' so hostile rows group rather than vanish."""
    merges = _train_bpe(spark, sf_dir)
    col = _tokens()
    for _rnd, a, b, _m, _n in merges:
        col = _apply_merge(col, F.lit(a), F.lit(b))
    # text IS NOT NULL on BOTH sides: a NULL-text doc yields no s0 rows in
    # the oracle's unrolled trainer (inner join drops it) while the Spark
    # aggregate would count it with NULL sums — pin the doc sets equal by
    # construction (ADVICE r9)
    per_doc = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select(
        F.coalesce("lang", F.lit("?")).alias("lang"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(col).cast("long").alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_bpe").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.sum("n_bpe").cast("double") / F.nullif(F.sum("n_words"), F.lit(0))
        ).alias("fertility"),
        (
            F.sum("n_chars").cast("double") / F.nullif(F.sum("n_bpe"), F.lit(0))
        ).alias("chars_per_token"),
    )


# --- corpus drift report (r13) --------------------------------------------------------

_DRIFT_KEY = "coalesce(CAST(doc_id AS VARCHAR), '<NULL>')"


@register(
    "corpus_drift_report",
    oracle=f"""
WITH d AS (
  SELECT source, text,
         CAST({h60_sql(_DRIFT_KEY)} % 2 AS INT) AS half
  FROM documents
),
nd AS (
  SELECT source,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_a,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_b
  FROM d GROUP BY source
),
tok AS (
  SELECT source, half, unnest(string_split(text, ' ')) AS term FROM d
),
tc AS (
  SELECT source, term,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tok GROUP BY 1, 2
),
tot AS (
  SELECT source, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM tc GROUP BY source
),
agg AS (
  SELECT t.source,
         count(CASE WHEN t.ca > 0 THEN 1 END) AS vocab_a,
         count(CASE WHEN t.cb > 0 THEN 1 END) AS vocab_b,
         count(CASE WHEN t.ca > 0 AND t.cb > 0 THEN 1 END) AS n_common_terms,
         count(CASE WHEN t.ca = 0 AND t.cb > 0 THEN 1 END) AS n_new_terms,
         count(CASE WHEN t.ca > 0 AND t.cb = 0 THEN 1 END) AS n_dropped_terms,
         sum(abs(CAST(t.ca AS DECIMAL(38,0)) * x.nb
                 - CAST(t.cb AS DECIMAL(38,0)) * x.na)) AS tvd_num
  FROM tc t JOIN tot x USING (source) GROUP BY t.source
)
SELECT nd.source, nd.n_docs_a, nd.n_docs_b,
       x.na AS tokens_a, x.nb AS tokens_b,
       a.vocab_a, a.vocab_b, a.n_new_terms, a.n_dropped_terms, a.n_common_terms,
       CAST(a.n_common_terms AS DOUBLE)
         / nullif(CAST(a.vocab_a + a.vocab_b - a.n_common_terms AS DOUBLE), 0.0)
         AS vocab_jaccard,
       CAST(a.tvd_num AS DOUBLE)
         / nullif(2.0 * CAST(x.na AS DOUBLE) * CAST(x.nb AS DOUBLE), 0.0) AS tvd
FROM nd
LEFT JOIN tot x ON x.source IS NOT DISTINCT FROM nd.source
LEFT JOIN agg a ON a.source IS NOT DISTINCT FROM nd.source
""",
)
def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus drift report between two deterministic hash-split
    halves of `documents` (VERDICT r12 #6) — the monitoring companion to
    dedup_incremental_batch and ann_ivf_delta_merge that a 100 TB nightly
    pipeline runs before accepting a crawl: token-distribution divergence
    plus vocabulary churn, half A standing in for "yesterday's snapshot"
    and half B for "today's" (swap in real snapshot ids in production; the
    hash split keeps the operator a pure function of the corpus, like
    split_train_val_test).

    Divergence metric: total variation distance, tvd = (1/2) * sum_t
    |p_t - q_t| over the per-source token unigram distributions. TVD is
    the drift measure PSI approximates for small shifts, and unlike
    PSI/KL it needs no transcendental: with integer counts c_t (half A,
    total N_a) and d_t (half B, total N_b), the summand is
    |c_t*N_b - d_t*N_a| — an exact DECIMAL(38,0) integer — and the whole
    sum divides ONCE by 2*N_a*N_b at the end, so the metric value-hash
    checks across engines. ln() is a libm transcendental whose last-ulp
    rounding differs across engines (the text_tfidf precedent), which
    rules out PSI/KL for a bit-exact differential; TVD bounds both
    (Pinsker: KL >= 2*TVD^2) and is the standard distribution-shift
    alarm. NULL when either half of a source is empty (drift undefined),
    with the counts still exact; vocabulary churn (new/dropped/common
    terms, vocab Jaccard) is pure integer counting.

    Scale: tokenize-explode -> one (source, term)-keyed hash aggregate
    with both halves' counts as conditional sums (ONE shuffle over the
    token stream, map-side combinable), a source-level re-aggregate of
    that table for totals (tiny), a broadcast join back, and a final
    source-level aggregate. No windows, no joins on data-sized keys, no
    driver pulls; term-key skew (Zipf head) is bounded by map-side
    combine — the reducer sees one row per (source, term, partition).
    Reference parity: the reference has no corpus surface (browser client,
    functions.js:1-476); north-star axis per the build brief."""
    docs = _docs(spark, sf_dir)
    half = (
        h60(F.coalesce(F.col("doc_id").cast("string"), F.lit("<NULL>"))) % 2
    ).cast("int")
    d = docs.select("source", "text", half.alias("half"))
    nd = d.groupBy("source").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_docs_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_docs_b"),
    )
    tok = d.select("source", "half", F.explode(F.split("text", " ")).alias("term"))
    # tc feeds three consumers (totals, the divergence aggregate, and the
    # totals' broadcast); without a persist Spark re-runs the token-stream
    # explode+aggregate for each — the one data-sized leg of this plan.
    # The persisted table is vocab-sized (one row per source x term), tiny
    # next to the token stream it summarizes.
    tc = track_persist(
        tok.groupBy("source", "term").agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    tot = tc.groupBy("source").agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    tot = tot.withColumnRenamed("source", "src_t")
    joined = tc.join(
        F.broadcast(tot), F.col("source").eqNullSafe(F.col("src_t"))
    ).drop("src_t")
    agg = joined.groupBy("source").agg(
        F.count(F.when(F.col("ca") > 0, 1)).alias("vocab_a"),
        F.count(F.when(F.col("cb") > 0, 1)).alias("vocab_b"),
        F.count(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1)).alias("n_common_terms"),
        F.count(F.when((F.col("ca") == 0) & (F.col("cb") > 0), 1)).alias("n_new_terms"),
        F.count(F.when((F.col("ca") > 0) & (F.col("cb") == 0), 1)).alias("n_dropped_terms"),
        F.sum(
            F.abs(
                F.col("ca").cast("decimal(38,0)") * F.col("nb")
                - F.col("cb").cast("decimal(38,0)") * F.col("na")
            )
        ).alias("tvd_num"),
    )
    agg = agg.withColumnRenamed("source", "src_a")
    out = (
        nd.join(F.broadcast(tot), F.col("source").eqNullSafe(F.col("src_t")), "left")
        .drop("src_t")
        .join(F.broadcast(agg), F.col("source").eqNullSafe(F.col("src_a")), "left")
        .drop("src_a")
    )
    return out.select(
        "source",
        "n_docs_a",
        "n_docs_b",
        F.col("na").alias("tokens_a"),
        F.col("nb").alias("tokens_b"),
        "vocab_a",
        "vocab_b",
        "n_new_terms",
        "n_dropped_terms",
        "n_common_terms",
        (
            F.col("n_common_terms").cast("double")
            / F.nullif(
                (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common_terms")).cast(
                    "double"
                ),
                F.lit(0.0),
            )
        ).alias("vocab_jaccard"),
        (
            F.col("tvd_num").cast("double")
            / F.nullif(
                F.lit(2.0) * F.col("na").cast("double") * F.col("nb").cast("double"),
                F.lit(0.0),
            )
        ).alias("tvd"),
    )
