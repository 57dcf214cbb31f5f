"""Vector search and embedding analytics over the ``embeddings`` fixture
(``embedding: array<float>``, dim 64) — SURVEY.md §7 Phase 5.

The nearest-neighbour family is one filter-and-refine pattern: a candidate
screen, then an exact-cosine re-rank of the shortlist, then a per-query
top-k. The screens differ — none (``ann_cosine_topk``, the brute-force
baseline), multi-table sign-LSH buckets (``_lsh``), IVF cells, PQ codes, a
truncated-dimension prefix, binary Hamming words — while the refine steps
are written once, as the kernels below:

- ``_side`` / ``_cos``: one side of a scored pair (``key, {p}e, {p}n``) and
  the cosine of two such sides over the shared double fold
  (functions/vectors.py);
- ``_exact``: every (query, corpus) pair with its exact cosine, queries
  broadcast so the corpus never shuffles for the join;
- ``_rescore``: the exact cosine of a candidate shortlist, fetching the
  embeddings by key — queries broadcast, the corpus side never;
- ``_rank`` / ``_topk``: the per-query ``row_number`` cut, ties to the
  smaller id.

Every variant emits bit-exact scores and id-tie-broken ranks, so even the
approximate ones are value-hash checked against a DuckDB oracle. Around
the family sit the index reports (recall, MRR/nDCG, IVF drift), k-means,
k-center, PCA, kNN voting and MMR re-ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.vectors import (
    dot_fold,
    dot_fold_sql,
    norm,
    norm_sql,
    ordered_sum,
    sign_bands,
    sign_bucket_band_sql,
    sqdist,
)
from ..io import fan_out, iterate, load_table, spread, track_persist
from ..registry import register

N_QUERIES = 5  # vec_id < 5 at every scale factor
TOP_K = 10


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))


def _side(v: DataFrame, key: str, prefix: str) -> DataFrame:
    """One side of a scored pair: ``(key, {prefix}e, {prefix}n)``."""
    return v.select(
        F.col("vec_id").alias(key),
        F.col("embedding").alias(f"{prefix}e"),
        F.col("nrm").alias(f"{prefix}n"),
    )


def _cos(a: str, b: str) -> Column:
    """Exact cosine of the sides prefixed ``a`` and ``b``."""
    return dot_fold(F.col(f"{a}e"), F.col(f"{b}e")) / (F.col(f"{a}n") * F.col(f"{b}n"))


def _queries(v: DataFrame, n: int = N_QUERIES) -> DataFrame:
    """The broadcast query side: vectors vec_id < n keyed ``query_id``."""
    return F.broadcast(_side(v.filter(F.col("vec_id") < n), "query_id", "q"))


def _exact(v: DataFrame, alias: str = "score", n: int = N_QUERIES, *keep: str) -> DataFrame:
    """Every (query, corpus) pair, self-pairs dropped, with its exact
    cosine as ``alias``: the queries are broadcast, so the corpus never
    shuffles for the join. ``keep`` names corpus-side columns to carry."""
    return _queries(v, n).join(
        _side(v, "neighbor_id", "c"), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", _cos("q", "c").alias(alias), *keep)


def _rescore(pairs: DataFrame, v: DataFrame, alias: str = "score", *keep: str) -> DataFrame:
    """The exact cosine of a (query_id, neighbor_id) shortlist as ``alias``.
    Embeddings are fetched by key: the query side is broadcast, the corpus
    side is a plain keyed join, so only shortlist rows meet their vectors
    and the corpus is never broadcast. ``keep`` names pair columns to
    carry."""
    return (
        pairs.join(_queries(v), "query_id")
        .join(_side(v, "neighbor_id", "c"), "neighbor_id")
        .select("query_id", "neighbor_id", *keep, _cos("q", "c").alias(alias))
    )


def _rank(df: DataFrame, k: int, *order, col: str = "rnk") -> DataFrame:
    """Rows ranked ``1..k`` per query_id by ``order`` as the long ``col``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(col, F.row_number().over(w).cast("long")).filter(F.col(col) <= k)


def _topk(scored: DataFrame, score: str = "score", *keep: str) -> DataFrame:
    """The per-query top-{TOP_K} by ``score``, ties to the smaller id."""
    return _rank(scored, TOP_K, F.col(score).desc(), F.col("neighbor_id")).select(
        "query_id", "neighbor_id", *keep, "rnk", score
    )


_V_CTE = f"""
v AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm
  FROM embeddings
)
"""


def _topk_sql(src: str, score: str = "score", *keep: str) -> str:
    """The DuckDB mirror of ``_topk``: a ``ranked`` CTE over ``src`` (a CTE
    name, optionally with a WHERE) and the top-{TOP_K} select."""
    cols = "".join(f"{c}, " for c in keep)
    return f"""ranked AS (
  SELECT query_id, neighbor_id, {cols}{score},
         row_number() OVER (PARTITION BY query_id ORDER BY {score} DESC, neighbor_id) AS rnk
  FROM {src}
)
SELECT query_id, neighbor_id, {cols}CAST(rnk AS BIGINT) AS rnk, {score}
FROM ranked WHERE rnk <= {TOP_K}"""


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH {_V_CTE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
{_topk_sql('scored')}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-{TOP_K} for queries vec_id < {N_QUERIES}.
    Queries are broadcast (corpus side never shuffles for the join); the
    final ranking exchanges only |queries| * |corpus| scored rows, which AQE
    coalesces — and on a cluster the per-partition top-k prunes before the
    exchange."""
    return _topk(_exact(_vectors(spark, sf_dir)))


# Multi-table sign LSH: L tables x b bits over disjoint dim bands. One wide
# signature has per-neighbor recall p^dims (measured 0.00 recall@10 on the
# fixtures at 8 bits); banding gives 1-(1-p^b)^L per neighbor (measured 0.88
# recall@10 at 4 bits x 16 tables, tools/approx_quality.py).
ANN_LSH_BAND_BITS = 4
ANN_LSH_TABLES = 16


def _band_rows(v: DataFrame) -> DataFrame:
    """The slim (vec_id, tbl, bucket) band rows: one per vector per LSH
    table, bucketed on the hyperplane signs of that table's band."""
    bands = sign_bands("embedding", ANN_LSH_BAND_BITS, ANN_LSH_TABLES)
    return v.select("vec_id", bands.alias("b")).select("vec_id", "b.tbl", "b.bucket")


def _bands_sql(src: str) -> str:
    """The DuckDB mirror of ``_band_rows``: a ``bands`` CTE holding each
    ``src`` row once per LSH table with that table's bucket."""
    cases = " ".join(
        f"WHEN {t} THEN {sign_bucket_band_sql('embedding', t * ANN_LSH_BAND_BITS, ANN_LSH_BAND_BITS)}"
        for t in range(ANN_LSH_TABLES)
    )
    return f"""bands AS (
  SELECT {src}.*, t.tbl,
         CASE t.tbl {cases} END AS bucket
  FROM {src} CROSS JOIN (SELECT unnest(range({ANN_LSH_TABLES})) AS tbl) t
)"""


def _lsh_candidates(v: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) LSH candidate pairs: the broadcast query band
    rows equi-joined to the corpus band rows, self-pairs dropped. One row
    per shared (table, bucket), so a pair colliding in several tables
    repeats — callers dedup (DISTINCT or a semi-join) as their plan needs."""
    slim = _band_rows(v)
    q_slim = F.broadcast(
        slim.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "tbl", "bucket"
        )
    )
    return (
        q_slim.join(slim.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )


def _lsh_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared multi-table sign-LSH candidate generation + exact scoring
    (the plan body of ann_cosine_topk_lsh, reused verbatim by the
    hard-negative miner): slim (vec_id, table, bucket) band join ->
    DISTINCT candidate pairs -> exact cosine via broadcast-fetched
    embeddings."""
    v = _vectors(spark, sf_dir)
    # fan_out (NOT spread — .rdd inspection would eagerly execute the
    # candidate stages under AQE): the distinct's bare-long pair rows get
    # size-coalesced by AQE to a few partitions; without the round-robin
    # fan-out the exact scoring fold would run near-serial (the
    # dedup_ngram_jaccard_prefix failure mode).
    return _rescore(fan_out(_lsh_candidates(v).distinct()), v)


@register(
    "ann_cosine_topk_lsh",
    oracle=f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm
  FROM embeddings
),
{_bands_sql('vb')},
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM bands q JOIN bands c
    ON q.tbl = c.tbl AND q.bucket = c.bucket
   AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
{_topk_sql('scored')}
""",
)
def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN: {ANN_LSH_TABLES} tables, each bucketing on
    the hyperplane signs of its own {ANN_LSH_BAND_BITS}-dim band; a candidate
    is any corpus vector sharing ANY table's bucket with the query, scored
    exactly and ranked. The band join is an equi-join on (table, bucket) —
    at 100 TB the corpus shuffles once by band key (or is written bucketed),
    and recall/cost tune with (b, L) as constants, not plan changes:
    measured recall@10 vs the exact baseline is 0.88 at 4 bits x 16 tables
    on the fixtures (tools/lsh_frontier.py sweeps the whole (bits, tables)
    frontier: no config with fewer/wider bands reaches 0.85 at either sf —
    the fixtures' near-random embeddings make true neighbors only moderately
    aligned, so the wide-table config is the measured optimum, not a guess).
    Plan shape: only SLIM (vec_id, table, bucket) rows travel through the
    band join (the {ANN_LSH_TABLES}x-replicated embedding payload never
    does); candidate (query, neighbor) pairs are DISTINCT'd before scoring
    so a pair colliding in several tables is scored exactly once; the
    embeddings are then fetched by key (queries stay a broadcast — the
    corpus side never shuffles its vectors for the join)."""
    return _topk(_lsh_scored(spark, sf_dir))


# --- Hard-negative mining (contrastive-training data prep) -------------------------

# Close-but-not-duplicate window: candidates scoring at or above the
# duplicate threshold are positives/near-dups (the dedup family's
# COSINE_DUP_THRESHOLD), anything far below carries no gradient signal —
# the miner keeps the top-K most-similar NON-duplicate neighbors per anchor,
# the ANCE/DPR-style hard-negative recipe drawn from an ANN shortlist
# rather than an exhaustive scan.
HARD_NEG_MAX_SCORE = 0.40


@register(
    "mine_hard_negatives",
    oracle=f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm
  FROM embeddings
),
{_bands_sql('vb')},
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM bands q JOIN bands c
    ON q.tbl = c.tbl AND q.bucket = c.bucket
   AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
{_topk_sql(f'scored WHERE score < {HARD_NEG_MAX_SCORE}')}
""",
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (the
    ANCE/DPR data-prep recipe): per anchor query, the top-{TOP_K}
    most-similar corpus vectors whose cosine is still BELOW the
    near-duplicate threshold ({HARD_NEG_MAX_SCORE}) — close enough to be
    hard, far enough to be true negatives. Candidates come from the SAME
    multi-table sign-LSH shortlist as ann_cosine_topk_lsh (shared plan
    body, _lsh_scored), so at 100 TB mining cost = one band equi-join per
    epoch, never an exhaustive score pass; the exclusion window composes
    with the dedup family's duplicate threshold so mined negatives can
    never be unlabeled positives from the near-dup set.

    Deterministic and value-hash-checked like every ANN variant: exact
    sequential-fold cosine, id-tie-broken ranks."""
    scored = _lsh_scored(spark, sf_dir).filter(F.col("score") < HARD_NEG_MAX_SCORE)
    return _topk(scored)


# --- IVF (inverted-file) ANN ---------------------------------------------------

N_CENTROIDS = 16
N_PROBE = 2

# Deterministic coarse quantizer: the first N_CENTROIDS corpus vectors serve
# as centroids (production swaps in offline k-means; the index/search
# machinery is identical). Assignment = argmax cosine with ties to the
# smallest centroid id, encoded as struct max over (score, -cid).


def _centroids(v: DataFrame) -> DataFrame:
    """The broadcast coarse codebook side ``(cid, ce, cn)``."""
    return F.broadcast(_side(v.filter(F.col("vec_id") < N_CENTROIDS), "cid", "c"))


def _nearest_cell(rows: DataFrame, cents: DataFrame, *keep: str) -> DataFrame:
    """Per vector (grouped with ``keep``), ``m`` = max struct(``s`` cosine,
    ``nc`` = -cid) over the codebook: its cell is ``-m.nc``, its cosine
    to that centroid ``m.s``."""
    s = dot_fold(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cn"))
    return (
        rows.join(cents)
        .select("vec_id", *keep, s.alias("s"), (-F.col("cid")).alias("nc"))
        .groupBy("vec_id", *keep)
        .agg(F.max(F.struct("s", "nc")).alias("m"))
    )


_IVF_ORACLE = f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM vb WHERE vec_id < {N_CENTROIDS}
),
assign AS (
  SELECT v.vec_id,
         -(max(struct_pack(s := {dot_fold_sql('v.embedding', 'c.ce')} / (v.nrm * c.cn),
                           nc := -c.cid)).nc) AS cid
  FROM vb v CROSS JOIN cents c
  GROUP BY v.vec_id
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dot_fold_sql('q.embedding', 'c.ce')} / (q.nrm * c.cn) DESC, c.cid) AS pr
    FROM vb q CROSS JOIN cents c WHERE q.vec_id < {N_QUERIES}
  ) WHERE pr <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'v.embedding')} / (q.nrm * v.nrm) AS score
  FROM probes p
  JOIN assign a ON a.cid = p.cid
  JOIN vb q ON q.vec_id = p.query_id
  JOIN vb v ON v.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
{_topk_sql('scored')}
"""


@register("ann_cosine_topk_ivf", oracle=_IVF_ORACLE)
def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus to {N_CENTROIDS} centroid cells
    (assignment = one broadcast join + struct-max argmax, a single narrow
    pass), then each query scores only its {N_PROBE} nearest cells. At scale
    the corpus is stored partitioned/bucketed BY CELL, so a query reads
    ~nprobe/ncells of the data — the classic IVF index expressed as plain
    joins. Centroids here are the first {N_CENTROIDS} vectors (deterministic
    stand-in for offline k-means; search machinery identical)."""
    vb = _vectors(spark, sf_dir)
    cents = _centroids(vb)
    assign = _nearest_cell(vb, cents).select("vec_id", (-F.col("m.nc")).alias("cid"))
    probe_scores = (
        _side(vb.filter(F.col("vec_id") < N_QUERIES), "query_id", "q")
        .join(cents)
        .select("query_id", "cid", _cos("q", "c").alias("qs"))
    )
    probes = _rank(probe_scores, N_PROBE, F.col("qs").desc(), "cid", col="pr")
    cand = (
        F.broadcast(probes.select("query_id", "cid"))
        .join(assign, "cid")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _topk(_rescore(cand, vb))


# --- incremental IVF index maintenance (r12, VERDICT r11 #7) ---------------------

# The newest tenth of the corpus by vec_id plays "tonight's embedding
# delta": cut = ((max_id + 1) * 9) DIV 10, exact integer arithmetic in both
# engines. Rebuild triggers: delta mass above 15% of a cell, or the delta's
# mean quantization error exceeding the base's by 0.05 — both thresholds
# compared on bit-identical doubles, so the flag itself hash-checks.
DELTA_REBUILD_MASS = 0.15
DELTA_REBUILD_QERR_SHIFT = 0.05

_DELTA_MERGE_ORACLE = f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
cut AS (SELECT (max(vec_id) + 1) * 9 // 10 AS cut FROM vb),
cents AS (
  SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM vb WHERE vec_id < {N_CENTROIDS}
),
assign AS (
  SELECT v.vec_id, v.vec_id >= cut.cut AS is_delta,
         -(max(struct_pack(s := {dot_fold_sql('v.embedding', 'c.ce')} / (v.nrm * c.cn),
                           nc := -c.cid)).nc) AS cid,
         1.0 - max(struct_pack(s := {dot_fold_sql('v.embedding', 'c.ce')} / (v.nrm * c.cn),
                               nc := -c.cid)).s AS qerr
  FROM vb v CROSS JOIN cents c, cut
  GROUP BY v.vec_id, is_delta
),
cells AS (
  SELECT cid,
         CAST(count(*) FILTER (NOT is_delta) AS BIGINT) AS n_base,
         CAST(count(*) FILTER (is_delta) AS BIGINT) AS n_delta,
         CASE WHEN count(*) FILTER (NOT is_delta) = 0 THEN NULL
              ELSE list_reduce(list(qerr ORDER BY vec_id) FILTER (NOT is_delta),
                               (x, y) -> x + y) END AS base_qerr_sum,
         CASE WHEN count(*) FILTER (is_delta) = 0 THEN NULL
              ELSE list_reduce(list(qerr ORDER BY vec_id) FILTER (is_delta),
                               (x, y) -> x + y) END AS delta_qerr_sum
  FROM assign GROUP BY cid
),
m AS (
  SELECT cid, n_base, n_delta,
         CAST(n_delta AS DOUBLE) / (n_base + n_delta) AS delta_mass,
         base_qerr_sum / nullif(n_base, 0) AS base_mean_qerr,
         delta_qerr_sum / nullif(n_delta, 0) AS delta_mean_qerr
  FROM cells
)
SELECT CAST(cid AS BIGINT) AS cid, n_base, n_delta, delta_mass,
       base_mean_qerr, delta_mean_qerr,
       delta_mean_qerr - base_mean_qerr AS qerr_shift,
       CAST(delta_mass > {DELTA_REBUILD_MASS}
            OR coalesce(delta_mean_qerr - base_mean_qerr, 0.0)
               > {DELTA_REBUILD_QERR_SHIFT} AS BOOLEAN) AS rebuild
FROM m
"""


@register("ann_ivf_delta_merge", oracle=_DELTA_MERGE_ORACLE)
def ann_ivf_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the production companion to
    ann_cosine_topk_ivf the way dedup_incremental_batch companions the
    batch dedup family: tonight's embedding delta (the newest tenth of the
    corpus by vec_id) is assigned to the FROZEN coarse codebook (no
    retrain — the same first-{N_CENTROIDS} centroids the IVF query
    searches), and the merge emits the per-cell drift report an index
    owner pages on: base/delta occupancy, delta mass, mean quantization
    error (1 - cosine to the owning centroid) for base and delta
    separately, the error shift, and a rebuild flag (mass >
    {DELTA_REBUILD_MASS} or shift > {DELTA_REBUILD_QERR_SHIFT}). A frozen
    codebook serves reads all night; this report is the trigger that
    schedules the k-means retrain before recall decays.

    Cross-engine exactness: assignment is the IVF argmax (struct max over
    (score, -cid), ties to the smallest cid); per-cell error sums are
    ORDERED sequential folds over vec_id (the embedding_source_drift
    precedent), so every double — including the rebuild comparison — is
    bit-identical. Cells with no delta report NULL delta_mean_qerr/shift
    and trigger only on mass (coalesce pins the NULL comparison in both
    engines).

    Scale: one narrow assignment pass (broadcast codebook, argmax per
    row — the scan Spark already does for IVF search), one
    {N_CENTROIDS}-group aggregate; output is codebook-sized. The ordered
    in-group fold bounds at cell occupancy — a whale cell goes two-stage
    with fixed partial boundaries, same note as the drift precedent. No
    shuffle beyond the single groupBy; the delta predicate is a pushed-down
    integer comparison against a broadcast 1-row cut."""
    vb = _vectors(spark, sf_dir)
    cut = vb.agg(F.expr("(max(vec_id) + 1) * 9 DIV 10").alias("cut"))
    rows = vb.crossJoin(F.broadcast(cut)).withColumn("is_delta", F.col("vec_id") >= F.col("cut"))
    assign = _nearest_cell(rows, _centroids(vb), "is_delta").select(
        "vec_id",
        "is_delta",
        (-F.col("m.nc")).alias("cid"),
        (F.lit(1.0) - F.col("m.s")).alias("qerr"),
    )
    delta, base = F.col("is_delta"), ~F.col("is_delta")
    cells = assign.groupBy("cid").agg(
        F.count(F.when(base, 1)).cast("long").alias("n_base"),
        F.count(F.when(delta, 1)).cast("long").alias("n_delta"),
        ordered_sum(F.col("vec_id"), F.col("qerr"), where=base).alias("base_qerr_sum"),
        ordered_sum(F.col("vec_id"), F.col("qerr"), where=delta).alias("delta_qerr_sum"),
    )
    base_mean = F.col("base_qerr_sum") / F.nullif(F.col("n_base"), F.lit(0))
    delta_mean = F.col("delta_qerr_sum") / F.nullif(F.col("n_delta"), F.lit(0))
    mass = F.col("n_delta").cast("double") / (F.col("n_base") + F.col("n_delta"))
    return cells.select(
        F.col("cid").cast("long").alias("cid"),
        "n_base",
        "n_delta",
        mass.alias("delta_mass"),
        base_mean.alias("base_mean_qerr"),
        delta_mean.alias("delta_mean_qerr"),
        (delta_mean - base_mean).alias("qerr_shift"),
        (
            (mass > DELTA_REBUILD_MASS)
            | (F.coalesce(delta_mean - base_mean, F.lit(0.0)) > DELTA_REBUILD_QERR_SHIFT)
        ).alias("rebuild"),
    )


# --- cross-modality enrichment --------------------------------------------------


@register(
    "ann_with_document_metadata",
    oracle=f"""
WITH {_V_CTE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT r.query_id, r.neighbor_id, CAST(r.rnk AS BIGINT) AS rnk, r.score,
       d.lang, d.source, d.n_chars
FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
WHERE r.rnk <= 5
""",
)
def ann_with_document_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality retrieval: ANN over the embedding space, result rows
    enriched with the matching document's metadata (doc_id aligns with
    vec_id in the fixtures). The metadata join is a broadcast of the tiny
    top-k result against the documents scan — at 100 TB the top-k side is
    |queries| x k rows, so enrichment costs one broadcast regardless of
    corpus size."""
    topk = _rank(_exact(_vectors(spark, sf_dir)), 5, F.col("score").desc(), F.col("neighbor_id"))
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"), "lang", "source", "n_chars"
    )
    return F.broadcast(topk).join(docs, "neighbor_id").select(
        "query_id", "neighbor_id", "rnk", "score", "lang", "source", "n_chars"
    )


# --- grouped vector mean (per-label centroids) -----------------------------------


@register(
    "embedding_centroid_by_label",
    oracle="""
WITH e AS (
  SELECT label, vec_id, unnest(embedding) AS v,
         unnest(range(1, len(embedding)+1)) AS dim
  FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim,
       list_reduce(list(CAST(v AS DOUBLE) ORDER BY vec_id), (x, y) -> x + y)
         / count(*) AS mean_v,
       count(*) AS n
FROM e GROUP BY label, dim
""",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (grouped vector mean), one row per (label, dim).

    Floating-point sums are order-dependent, so both engines fold the
    members in the SAME deterministic order (by vec_id) — bit-identical
    means with no tolerance. (float->decimal casts are NOT portable: Spark
    converts via the float's decimal rendering, DuckDB via the exact binary
    value — probed divergent, hence the ordered fold.) Scale note: the
    per-group collect is bounded by cluster size; for whale clusters switch
    to a two-stage mean-of-partial-sums with fixed partial boundaries."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    e = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("d0", "v")
    ).select("label", (F.col("d0") + 1).alias("dim"), "vec_id", "v")
    folded = ordered_sum(F.col("vec_id"), F.col("v").cast("double"))
    return (
        e.groupBy("label", "dim")
        .agg(folded.alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .select("label", "dim", (F.col("sum_v") / F.col("n")).alias("mean_v"), "n")
    )


# --- deterministic k-means (Lloyd, fixed iterations) ------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, dist): nearest centroid, ties to the smaller cid via
    lexicographic struct min — 8 centroids broadcast, corpus never shuffles."""
    scored = vecs.join(F.broadcast(cents)).select(
        "vec_id", "cid", sqdist("embedding", "c").alias("dist")
    )
    m = scored.groupBy("vec_id").agg(F.min(F.struct("dist", "cid")).alias("m"))
    return m.select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))


def _recompute_centroids(vecs: DataFrame, assign: DataFrame) -> DataFrame:
    """(cid, c): per-dimension member means with vec_id-ordered folds (see
    embedding_centroid_by_label for why ordered folds, not plain sums)."""
    e = (
        vecs.join(assign.select("vec_id", "cid"), "vec_id")
        .select("cid", "vec_id", F.posexplode("embedding").alias("d0", "v"))
        .select("cid", (F.col("d0") + 1).alias("dim"), "vec_id", "v")
    )
    folded = ordered_sum(F.col("vec_id"), F.col("v").cast("double"))
    means = e.groupBy("cid", "dim").agg(
        (folded / F.count(F.lit(1))).alias("mean")
    )
    return means.groupBy("cid").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("dim", "mean"))), lambda s: s["mean"]).alias("c")
    )


_KMEANS_ORACLE = f"""
WITH
v AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM embeddings WHERE vec_id < {KMEANS_K}
),
s1 AS (
  SELECT v.vec_id, c0.cid,
         list_reduce(list_transform(range(1, len(v.embedding)+1),
           i -> (CAST(v.embedding[i] AS DOUBLE) - c0.c[i]) * (CAST(v.embedding[i] AS DOUBLE) - c0.c[i])),
           (x, y) -> x + y) AS dist
  FROM v CROSS JOIN c0
),
a1 AS (
  SELECT vec_id, min(struct_pack(d := dist, c := cid)).c AS cid
  FROM s1 GROUP BY vec_id
),
e AS (
  SELECT vec_id, unnest(embedding) AS val, unnest(range(1, len(embedding)+1)) AS dim
  FROM embeddings
),
m1 AS (
  SELECT a1.cid, e.dim,
         list_reduce(list(CAST(e.val AS DOUBLE) ORDER BY e.vec_id), (x, y) -> x + y)
           / count(*) AS mean
  FROM e JOIN a1 ON a1.vec_id = e.vec_id
  GROUP BY a1.cid, e.dim
),
c1 AS (SELECT cid, list(mean ORDER BY dim) AS c FROM m1 GROUP BY cid),
s2 AS (
  SELECT v.vec_id, c1.cid,
         list_reduce(list_transform(range(1, len(v.embedding)+1),
           i -> (CAST(v.embedding[i] AS DOUBLE) - c1.c[i]) * (CAST(v.embedding[i] AS DOUBLE) - c1.c[i])),
           (x, y) -> x + y) AS dist
  FROM v CROSS JOIN c1
)
SELECT vec_id,
       min(struct_pack(d := dist, c := cid)).c AS cluster_id,
       min(struct_pack(d := dist, c := cid)).d AS dist
FROM s2 GROUP BY vec_id
"""


@register("kmeans_embeddings", oracle=_KMEANS_ORACLE)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means, K={KMEANS_K}, {KMEANS_ITERS} fixed
    iterations, init = the first K vectors (no RNG anywhere). Every float
    reduction is an ordered fold, so assignments and final distances are
    bit-identical to the oracle's fully unrolled recursive formulation.

    Scale shape per iteration: centroids broadcast (assignment never
    shuffles the corpus), update is one shuffle on (cid, dim). Driver holds
    nothing; iterations are fixed-count so the whole job is one DAG — the
    batch-iterative pattern (vs dedup_clusters' converge-and-test loop)."""
    vecs = _vectors(spark, sf_dir).select("vec_id", "embedding")
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    # K-row centroid table, checkpointed per round: the next round's plan
    # starts from a leaf for the cost of materializing K rows
    cents = iterate(
        cents,
        lambda c: _recompute_centroids(vecs, _assign(vecs, c)),
        KMEANS_ITERS - 1,
        name="kmeans_embeddings",
    )
    final = _assign(vecs, cents)
    return final.select("vec_id", F.col("cid").alias("cluster_id"), "dist")


# --- Product-quantization ANN (ADC scoring over 8-byte codes) ----------------------

PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (PQ_M * PQ_SUB == embedding dim 64)
PQ_K = 16       # codewords per subspace
PQ_SHORTLIST = 100  # ADC shortlist size fed to the exact re-rank
# Deterministic codebook: codeword j of every subspace = the j-th corpus
# vector's subvector (the same offline-k-means stand-in precedent as IVF's
# coarse centroids — the search machinery is what the operator pins).


def _subdist2(x, y, off: int):
    """Exact squared L2 distance over dims [off, off+PQ_SUB): strictly
    sequential left-to-right fold, bit-identical to the DuckDB mirror."""
    d = lambda p, q: (p.cast("double") - q.cast("double")) * (p.cast("double") - q.cast("double"))  # noqa: E731
    return F.aggregate(
        F.zip_with(F.slice(x, off + 1, PQ_SUB), F.slice(y, off + 1, PQ_SUB), d),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _subdist2_sql(x: str, y: str, off: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), i -> "
        f"(CAST({x}[{off} + i] AS DOUBLE) - CAST({y}[{off} + i] AS DOUBLE))"
        f" * (CAST({x}[{off} + i] AS DOUBLE) - CAST({y}[{off} + i] AS DOUBLE))), (a, b) -> a + b)"
    )


def _pq_oracle() -> str:
    enc_cols = ", ".join(
        f"list_position(dists_{m}, list_min(dists_{m})) AS code_{m}" for m in range(PQ_M)
    )
    dist_arrays = ", ".join(
        f"list_transform(range(0, {PQ_K}), j -> {_subdist2_sql('e.embedding', 'cbl.cb[j + 1]', m * PQ_SUB)}) AS dists_{m}"
        for m in range(PQ_M)
    )
    qtab = ", ".join(
        f"list_transform(range(0, {PQ_K}), j -> {_subdist2_sql('e.embedding', 'cbl.cb[j + 1]', m * PQ_SUB)}) AS dt_{m}"
        for m in range(PQ_M)
    )
    adc = " + ".join(f"dt_{m}[code_{m}]" for m in range(PQ_M))
    return f"""
WITH cbl AS (
  SELECT list(embedding ORDER BY vec_id) AS cb
  FROM embeddings WHERE vec_id < {PQ_K}
),
dists AS (
  SELECT e.vec_id, {dist_arrays} FROM embeddings e, cbl
),
enc AS (
  SELECT vec_id, {enc_cols} FROM dists
),
qt AS (
  SELECT e.vec_id AS query_id, {qtab} FROM embeddings e, cbl WHERE e.vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, enc.vec_id AS neighbor_id, {adc} AS approx_d2
  FROM qt q JOIN enc ON enc.vec_id <> q.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS srnk
  FROM scored
),
vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
rerank AS (
  SELECT s.query_id, s.neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM shortlist s
  JOIN vb q ON q.vec_id = s.query_id
  JOIN vb c ON c.vec_id = s.neighbor_id
  WHERE s.srnk <= {PQ_SHORTLIST}
),
{_topk_sql('rerank', 'cosine')}
"""


@register("ann_pq_adc_topk", oracle=_pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring —
    the memory-compression scale path the LSH/IVF variants don't cover
    (Jegou et al., PAMI'11): each vector is encoded as {PQ_M} codes of
    log2({PQ_K}) bits ({PQ_M} bytes vs 256 bytes raw float32 — 32x), and a
    query scores a vector by summing {PQ_M} PRECOMPUTED subspace distances
    looked up by code, never touching the original embedding.

    At 100 TB this is the decisive ANN shape: the scan reads the CODES
    column (8 B/vector), the per-query distance table is {PQ_M}x{PQ_K}
    doubles broadcast once, and scoring is {PQ_M} array lookups + adds per
    row inside codegen — the raw vectors are only read to (a) build codes
    once offline and (b) re-rank a top-R shortlist if exactness matters
    (the exact re-rank is ``_rescore``, shared by every shortlist variant).

    Everything is deterministic — codebook = the first {PQ_K} corpus
    vectors (IVF's offline-training stand-in precedent), argmin tie-breaks
    to the smallest code via first-occurrence array_position, distances are
    sequential folds — so even this doubly-approximate operator carries a
    bit-exact DuckDB value-hash oracle. The returned top-{TOP_K} is the
    EXACT-cosine re-rank of the ADC top-{PQ_SHORTLIST} shortlist — the
    production PQ search pipeline (candidate generation over codes, exact
    math over ~0.1% of raw vectors); measured recall@10 vs the exact
    baseline: 0.90/0.88 at sf0.001/sf0.01 (pinned in
    tests/test_similarity_pq.py)."""
    vb = spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    cb = F.broadcast(
        vb.filter(F.col("vec_id") < PQ_K)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))),
                lambda s: s["embedding"],
            ).alias("cb")
        )
    )
    with_cb = vb.crossJoin(cb)  # 1-row broadcast: the codebook

    def dists(m: int):
        return F.transform(F.col("cb"), lambda c: _subdist2(F.col("embedding"), c, m * PQ_SUB))

    # Single-evaluation argmin (VERDICT r13 #4): array_position(d, array_min(d))
    # evaluates the {PQ_K}-element distance transform TWICE per subspace —
    # HOFs are interpreted (never codegen'd), so Catalyst's subexpression
    # elimination does not fuse them. zip_with the distances with their
    # 1-based positions and take the struct-min: lexicographic (d, i) min is
    # exactly "smallest distance, first occurrence" — the same value and the
    # same tie-break as array_position over array_min, with dists(m)
    # evaluated once. cast("long") keeps code_{m}'s type identical to
    # array_position's return type.
    def argmin1(m: int):
        return F.array_min(
            F.zip_with(
                dists(m),
                F.sequence(F.lit(1), F.lit(PQ_K)),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        )["i"].cast("long")

    enc = with_cb.select(
        "vec_id",
        *[argmin1(m).alias(f"code_{m}") for m in range(PQ_M)],
    )
    qt = with_cb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[dists(m).alias(f"dt_{m}") for m in range(PQ_M)],
    )
    adc = F.element_at(F.col("dt_0"), F.col("code_0").cast("int"))
    for m in range(1, PQ_M):
        adc = adc + F.element_at(F.col(f"dt_{m}"), F.col(f"code_{m}").cast("int"))
    scored = (
        enc.join(F.broadcast(qt), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("approx_d2"))
    )
    shortlist = _rank(
        scored, PQ_SHORTLIST, "approx_d2", "neighbor_id", col="srnk"
    ).select("query_id", "neighbor_id")
    # exact re-rank of the |queries| x PQ_SHORTLIST shortlist — the only rows
    # whose raw embeddings are ever fetched at query time
    return _topk(_rescore(shortlist, _vectors(spark, sf_dir), "cosine"), "cosine")


# --- Truncated-dimension prescreen ANN ---------------------------------------------

TRUNC_DIMS = 16       # prefix dims scored in the coarse pass (of 64)
TRUNC_SHORTLIST = 300  # coarse shortlist fed to the exact full-dim re-rank
# Measured recall@10 vs the exact baseline on the fixture corpus:
# (16 dims, 300) = 0.90 at sf0.01; (32, 100) = 0.90; (32, 200) = 0.98.
# 16/300 keeps the 4x-cheaper coarse fold, the knob that matters at scale.


def _trunc_oracle() -> str:
    qslice = f"list_slice(q.embedding, 1, {TRUNC_DIMS})"
    cslice = f"list_slice(c.embedding, 1, {TRUNC_DIMS})"
    return f"""
WITH {_V_CTE},
coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql(qslice, cslice)} AS cscore,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
short AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, neighbor_id) AS srnk
  FROM coarse
),
{_topk_sql(f'short WHERE srnk <= {TRUNC_SHORTLIST}', 'cosine')}
"""


@register("ann_cosine_topk_truncated", oracle=_trunc_oracle())
def ann_cosine_topk_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine ANN over dimension-truncated embeddings: score every
    candidate on only the FIRST {TRUNC_DIMS} of 64 dims (a 4x cheaper fold
    and, on a real deployment, a 4x narrower column read — the
    Matryoshka-representation search pattern, where models front-load
    information into leading dims), keep the top-{TRUNC_SHORTLIST} per
    query, then exact-cosine re-rank only the shortlist. Unlike LSH/IVF/PQ
    this variant needs NO offline structure (no codebook, no tables) —
    it's the right first approximation when embeddings are
    importance-ordered.

    Deterministic end to end: the coarse score is the same sequential
    prefix fold in both engines, the shortlist tie-breaks on neighbor_id,
    and the re-rank is exact — so the approximate path carries a full
    value-hash oracle. Measured recall@10 vs the exact baseline is pinned
    in tests/test_similarity_pq.py.

    Scale: one corpus scan reading a {TRUNC_DIMS}-dim slice, queries
    broadcast, per-query top-{TRUNC_SHORTLIST} is a window the
    per-partition TakeOrdered prunes before the exchange; the re-rank
    touches |queries| x {TRUNC_SHORTLIST} raw vectors only."""
    v = _vectors(spark, sf_dir)
    q = F.broadcast(
        v.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.slice(F.col("embedding"), 1, TRUNC_DIMS).alias("qt"),
        )
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.slice(F.col("embedding"), 1, TRUNC_DIMS).alias("ct"),
    )
    coarse = q.join(c, F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        dot_fold(F.col("qt"), F.col("ct")).alias("cscore"),
    )
    shortlist = _rank(
        coarse, TRUNC_SHORTLIST, F.col("cscore").desc(), "neighbor_id", col="srnk"
    ).select("query_id", "neighbor_id")
    # full-dim folds run ONLY here, on |queries| x shortlist rows
    return _topk(_rescore(shortlist, v, "cosine"), "cosine")


# --- per-source embedding drift (dataset-shift diagnostic) -------------------------


@register(
    "embedding_source_drift",
    oracle="""
WITH joined AS (
  SELECT d.source, e.vec_id, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
ex AS (
  SELECT source, vec_id, unnest(embedding) AS v,
         unnest(range(1, len(embedding)+1)) AS dim
  FROM joined
),
cents AS (
  SELECT source, CAST(dim AS INT) AS dim,
         list_reduce(list(CAST(v AS DOUBLE) ORDER BY vec_id), (x, y) -> x + y)
           / count(*) AS mean_v
  FROM ex GROUP BY source, dim
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.dim,
         a.mean_v AS ma, b.mean_v AS mb
  FROM cents a JOIN cents b ON a.dim = b.dim AND a.source < b.source
)
SELECT source_a, source_b,
       list_reduce(list(ma * mb ORDER BY dim), (x, y) -> x + y)
         / (sqrt(list_reduce(list(ma * ma ORDER BY dim), (x, y) -> x + y))
            * sqrt(list_reduce(list(mb * mb ORDER BY dim), (x, y) -> x + y)))
         AS centroid_cosine
FROM pairs
GROUP BY source_a, source_b
""",
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-shift diagnostic: pairwise cosine between per-SOURCE
    embedding centroids — the drift report that tells a mixture pipeline
    whether two sources occupy the same region of embedding space (near 1:
    redundant volume; near 0: genuinely different distribution; a sudden
    drop release-over-release: a source changed under you). Complements
    the token-level source-novelty report with a semantic-space view.

    Every float reduction is an ORDERED sequential fold (members by
    vec_id, dims by index) in both engines — the centroid_by_label
    precedent — so this diagnostic is bit-exact, not approximately
    compared. Scale: one embeddings-documents key join, one
    (source, dim)-grouped fold (bounded by group size; whale sources go
    two-stage with fixed partial boundaries), then all pair math runs on
    the |sources| x dims centroid table — corpus size is out of the loop
    after the first aggregate."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = emb.join(F.broadcast(docs), emb.vec_id == docs.doc_id).select(
        "source", "vec_id", "embedding"
    )
    e = joined.select(
        "source", "vec_id", F.posexplode("embedding").alias("d0", "v")
    ).select("source", (F.col("d0") + 1).alias("dim"), "vec_id", "v")
    folded = ordered_sum(F.col("vec_id"), F.col("v").cast("double"))
    cents = e.groupBy("source", "dim").agg(
        (folded / F.count(F.lit(1))).alias("mean_v")
    )
    a = cents.select(
        F.col("source").alias("source_a"), "dim", F.col("mean_v").alias("ma")
    )
    b = cents.select(
        F.col("source").alias("source_b"), "dim", F.col("mean_v").alias("mb")
    )
    pairs = a.join(b, "dim").filter(F.col("source_a") < F.col("source_b"))

    def dimfold(expr: Column) -> Column:
        return ordered_sum(F.col("dim"), expr)

    return pairs.groupBy("source_a", "source_b").agg(
        (
            dimfold(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(dimfold(F.col("ma") * F.col("ma")))
                * F.sqrt(dimfold(F.col("mb") * F.col("mb")))
            )
        ).alias("centroid_cosine")
    )


# --- distributed PCA (exact covariance + driver-side eigensolve) -------------------
#
# Verification split (r9): the r8 VERDICT proposed upgrading the eigensolve
# to a fixed-round fixed-point power iteration (the pagerank precedent).
# MEASURED REFUTATION: the embedding spectrum is near-flat — lambda1/lambda2
# = 1.0131 at sf0.01 — so power iteration converges at 0.987^T and needs
# ~350 rounds for 1% eigenvector resolution; at T=20 the fixed-point iterate
# still misidentifies the dominant dimension (probe: /tmp-style prototype,
# numbers in the r9 round notes). A 350-CTE oracle is not a verification,
# it is a liability. Instead the pipeline is verified in two composable
# halves: pca_scatter_moments value-hashes the DISTRIBUTED stage (the exact
# integer scatter matrix — the only part that touches corpus-sized data),
# and pca_effective_rank value-hashes a convergence-free spectral summary
# (trace moments). The remaining unverified surface of
# pca_embedding_components is one numpy eigh on a collected 64x64 matrix,
# pinned to 1e-9 by its differential test.

PCA_TOP_COMPONENTS = 4
PCA_Q = 1000  # embedding quantization for the integer scatter path


def _quantized_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, i, q): embeddings quantized to integers via
    floor(v * {PCA_Q} + 0.5) — float32 widens exactly to double in both
    engines, the product and +0.5 are IEEE-identical, floor is exact, so
    the quantized values (and every integer sum of them) are bit-equal
    across Spark and DuckDB with no ordered-fold machinery."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", F.posexplode("embedding").alias("d0", "v")).select(
        "vec_id",
        (F.col("d0") + 1).cast("long").alias("i"),
        F.floor(F.col("v").cast("double") * PCA_Q + F.lit(0.5)).cast("long").alias("q"),
    )


_SCATTER_CTE = f"""
e AS (
  SELECT vec_id, CAST(u.i AS BIGINT) AS i,
         CAST(floor(CAST(u.v AS DOUBLE) * {PCA_Q} + 0.5) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS v,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings) u
),
mom AS (
  SELECT a.i AS i, b.i AS j,
         count(*) AS n, sum(a.q * b.q) AS sxy, sum(a.q) AS sx, sum(b.q) AS sy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
scat AS (SELECT i, j, CAST(n AS BIGINT) AS n, CAST(n * sxy - sx * sy AS BIGINT) AS m FROM mom)
"""


@register(
    "pca_scatter_moments",
    oracle=f"WITH {_SCATTER_CTE} SELECT i, j, m AS scatter, n AS n_vectors FROM scat",
)
def pca_scatter_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed stage of PCA, value-hash verified: the exact integer
    scatter matrix M = n*X'X - (sum X)'(sum X) over embeddings quantized by
    floor(v*{PCA_Q}+0.5) — M/(n*(n-1)) is the sample covariance of the
    quantized corpus, and M is computed entirely in BIGINT (order-free
    integer sums: exact under any partitioning, engine, or cluster layout,
    which is what makes the hash possible where the float covariance needed
    ordered folds). One (i <= j) upper triangle row per dimension pair.

    Scale: the same two-stage shape as pca_embedding_components — per-pair
    products map-side combine into (dims^2)/2 groups, corpus-independent
    output size. Overflow bound: |m| <= n^2 * q_max^2; with |q| <= ~530
    (unit-norm-ish embeddings x {PCA_Q}) BIGINT holds to n ~ 5e6 vectors;
    beyond that the same plan runs on DECIMAL(38,0)/HUGEINT accumulators."""
    e = _quantized_dims(spark, sf_dir)
    return (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a.q") * F.col("b.q")).alias("sxy"),
            F.sum("a.q").alias("sx"),
            F.sum("b.q").alias("sy"),
        )
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("scatter"),
            F.col("n").alias("n_vectors"),
        )
    )


@register(
    "pca_effective_rank",
    oracle=f"""
WITH {_SCATTER_CTE},
full_m AS (
  SELECT i, j, m FROM scat
  UNION ALL
  SELECT j, i, m FROM scat WHERE i < j
),
tr AS (SELECT sum(m) AS t FROM scat WHERE i = j),
ss AS (SELECT sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS s2 FROM full_m),
top AS (SELECT min(struct_pack(nv := -m, i := i)).i AS top_dim FROM scat WHERE i = j),
nv AS (SELECT max(n) AS n_vectors FROM scat)
SELECT nv.n_vectors,
       CAST((SELECT count(*) FROM scat WHERE i = j) AS BIGINT) AS dim,
       CAST(tr.t AS BIGINT) AS trace_scatter,
       CAST((CAST(tr.t AS HUGEINT) * CAST(tr.t AS HUGEINT) * 1000000) // ss.s2 AS BIGINT)
         AS effective_rank6,
       CAST(CAST((CAST(tr.t AS HUGEINT) * CAST(tr.t AS HUGEINT) * 1000000) // ss.s2 AS BIGINT)
            AS DOUBLE) / 1000000.0 AS effective_rank,
       top.top_dim AS top_variance_dim
FROM tr, ss, top, nv
""",
)
def pca_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-free spectral summary, value-hash verified: effective
    rank erank = tr(C)^2 / tr(C^2) = (sum lambda)^2 / (sum lambda^2) — the
    participation-ratio answer to "how many principal components carry the
    variance" (near 1 for a rank-1 spectrum, near dim for a flat one; this
    corpus measures ~flat, the very property that defeats fixed-round power
    iteration, see the section note). Both traces are EXACT integer moments
    of the scatter matrix — tr(C^2) = sum of squared entries by symmetry —
    so unlike an eigensolve the summary needs no iteration and no floats
    until the final display division (floor to 1e-6, identical in both
    engines). Also reports the top-variance dimension (argmax of the
    diagonal, ties to the smaller index).

    Spark side collects the 2080-row scatter matrix (constant size, the
    same driver boundary the eigensolve uses) and computes the moments in
    arbitrary-precision Python ints; the oracle uses HUGEINT. Scale: the
    distributed work is pca_scatter_moments' plan verbatim."""
    rows = pca_scatter_moments(spark, sf_dir).collect()
    tr = sum(r.scatter for r in rows if r.i == r.j)
    s2 = sum(
        r.scatter * r.scatter * (1 if r.i == r.j else 2) for r in rows
    )
    dim = sum(1 for r in rows if r.i == r.j)
    n = max(r.n_vectors for r in rows)
    er6 = (tr * tr * 1_000_000) // s2
    top_dim = min(((-r.scatter, r.i) for r in rows if r.i == r.j))[1]
    return spark.createDataFrame(
        [(n, dim, tr, er6, er6 / 1_000_000.0, top_dim)],
        "n_vectors bigint, dim bigint, trace_scatter bigint, "
        "effective_rank6 bigint, effective_rank double, top_variance_dim bigint",
    )


@register("pca_embedding_components")  # eigensolve -> no SQL oracle; numpy
# differential + invariants in tests/test_similarity_pq.py; the distributed
# stage and a convergence-free spectral summary ARE hash-verified via
# pca_scatter_moments / pca_effective_rank (see section note)
def pca_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus, the textbook two-stage
    shape: the EXPENSIVE part — mean vector and the full 64x64 covariance
    — is computed distributed from per-(i, j) moments, and only the
    FIXED-SIZE matrix crosses to the driver for the eigensolve (64x64 is
    constant work regardless of corpus size; shipping the corpus to a
    single-node PCA is what this shape exists to avoid). Output: the top
    {PCA_TOP_COMPONENTS} components' explained-variance ratios and each
    component's dominant dimension — the spectrum summary a
    dimensionality-reduction decision reads.

    Determinism: every float reduction is the ordered sequential fold
    (members by vec_id — the centroid_by_label machinery), so the
    covariance entering the eigensolve is byte-identical on every run and
    partitioning; numpy's eigh on identical input is deterministic, and
    eigenvector sign is fixed by convention (largest-|coordinate| entry
    made positive). Scale note: at 100 TB the ordered fold per (i, j)
    group becomes two-stage mean-of-partials with fixed boundaries; the
    (dims^2)/2 group count is corpus-independent."""
    import numpy as np

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", F.posexplode("embedding").alias("d0", "v")).select(
        (F.col("d0") + 1).alias("i"), "vec_id", F.col("v").cast("double").alias("v")
    )
    pairs = (
        e.alias("a")
        .join(e.alias("b"), (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")))
        .select(
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            F.col("a.vec_id").alias("vec_id"),
            (F.col("a.v") * F.col("b.v")).alias("xy"),
            F.col("a.v").alias("x"),
            F.col("b.v").alias("y"),
        )
    )

    def fold(col: str) -> Column:
        return ordered_sum(F.col("vec_id"), F.col(col))

    moments = (
        pairs.groupBy("i", "j")
        .agg(
            fold("xy").alias("sxy"),
            fold("x").alias("sx"),
            fold("y").alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    dim = max(r.j for r in moments)
    n = moments[0].n
    cov = np.zeros((dim, dim))
    for r in moments:
        c = (r.sxy - r.sx * r.sy / r.n) / (r.n - 1)
        cov[r.i - 1, r.j - 1] = c
        cov[r.j - 1, r.i - 1] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    total = float(vals.sum())
    rows = []
    for rank, idx in enumerate(order[:PCA_TOP_COMPONENTS], start=1):
        vec = vecs[:, idx]
        dom = int(np.argmax(np.abs(vec)))
        if vec[dom] < 0:  # sign convention: dominant coordinate positive
            vec = -vec
        rows.append(
            (
                rank,
                float(vals[idx]),
                float(vals[idx] / total),
                dom + 1,
                float(vec[dom]),
                n,
            )
        )
    return spark.createDataFrame(
        rows,
        "component bigint, eigenvalue double, explained_ratio double, "
        "dominant_dim bigint, dominant_loading double, n_vectors bigint",
    )


# --- binary-quantized Hamming ANN (1-bit embeddings) -------------------------
#
# Binary quantization: each 64-dim float vector collapses to a 64-bit sign
# signature (two BIGINT words — one word per 32 dims keeps every packed value
# positive and the arithmetic identical in both engines). Candidate screen is
# Hamming distance = popcount(xor) over the words — 8 bytes/vector, 32x
# compression, and the screen never touches the float column. The angular
# distance between two vectors is monotonically estimated by the sign-
# mismatch count (the same hyperplane argument behind sign LSH), so a
# Hamming shortlist + exact cosine re-rank is the production recipe for
# memory-bound corpora (binary embedding search).

HAM_WORD_BITS = 32
HAM_WORDS = 2           # HAM_WORDS * HAM_WORD_BITS == embedding dim 64
# Hamming shortlist fed to the exact re-rank. Measured recall@10 vs the
# exact baseline: 100 -> 0.88 (sf0.001) / 0.82 (sf0.01); 200 -> 1.0 at
# sf0.01 (tools/approx_quality.py pattern; floor pinned in
# tests/test_similarity_pq.py). In production the shortlist scales with the
# corpus (like the df-cap lever) — a fixed absolute shortlist dilutes.
HAM_SHORTLIST = 200


def _sign_word(col, word: int):
    """Packed sign bits d in [word*32, word*32+32) of ``col`` as a BIGINT."""
    bits = [
        F.when(
            F.element_at(col, word * HAM_WORD_BITS + d + 1) >= 0, F.lit(1 << d)
        ).otherwise(F.lit(0))
        for d in range(HAM_WORD_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _sign_word_sql(col: str, word: int) -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN {col}[{word * HAM_WORD_BITS + d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
            for d in range(HAM_WORD_BITS)
        )
        + ")"
    )


def _ham_oracle() -> str:
    words = f"""
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm,
         {_sign_word_sql('embedding', 0)} AS w0,
         {_sign_word_sql('embedding', 1)} AS w1
  FROM embeddings
"""
    return f"""
WITH v AS ({words}),
screened AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
short AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS srnk
  FROM screened
),
{_topk_sql(f'short WHERE srnk <= {HAM_SHORTLIST}', 'cosine', 'hamming')}
"""


@register("ann_hamming_binary", oracle=_ham_oracle())
def ann_hamming_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN: 1-bit sign signatures ({HAM_WORDS} BIGINT
    words per vector = 32x compression), Hamming-distance candidate screen
    (popcount over XOR — pure integer codegen, float column untouched),
    top-{HAM_SHORTLIST} shortlist per query, exact cosine re-rank of the
    shortlist only. Complements the LSH (bucket equi-join), IVF (partition
    pruning), PQ (table lookup) and truncation (prefix fold) variants with
    the memory-bound recipe: at 100 TB the signature table is 8 bytes/row
    and scans at memory bandwidth, while raw vectors are read for
    |queries| x {HAM_SHORTLIST} rows only.

    Deterministic end to end: sign packing, XOR popcount, and id tie-breaks
    are integer-exact in both engines, and the re-rank cosine is the shared
    sequential fold — the approximate path carries a full value-hash
    oracle. Measured recall@10 vs the exact baseline is pinned in
    tests/test_similarity_pq.py."""
    v = _vectors(spark, sf_dir).select(
        "vec_id",
        "embedding",
        "nrm",
        _sign_word(F.col("embedding"), 0).alias("w0"),
        _sign_word(F.col("embedding"), 1).alias("w1"),
    )
    q = F.broadcast(
        v.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("w0").alias("qw0"),
            F.col("w1").alias("qw1"),
        )
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("w0").alias("cw0"),
        F.col("w1").alias("cw1"),
    )
    # the screen touches ONLY the packed words — the float column stays
    # unread until the shortlist join below
    screened = q.join(c, F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("qw0").bitwiseXOR(F.col("cw0")))
            + F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
        )
        .cast("long")
        .alias("hamming"),
    )
    shortlist = _rank(
        screened, HAM_SHORTLIST, "hamming", "neighbor_id", col="srnk"
    ).select("query_id", "neighbor_id", "hamming")
    # raw vectors are read here only, for |queries| x shortlist rows
    return _topk(_rescore(shortlist, v, "cosine", "hamming"), "cosine", "hamming")


# --- mutual nearest neighbors (bitext/paraphrase pair mining) -----------------------


@register(
    "mutual_nearest_lsh",
    oracle=f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm
  FROM embeddings
),
{_bands_sql('vb')},
cand AS (
  SELECT DISTINCT q.vec_id AS a, c.vec_id AS b
  FROM bands q JOIN bands c ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT cand.a, cand.b,
         {dot_fold_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm) AS score
  FROM cand JOIN vb x ON x.vec_id = cand.a JOIN vb y ON y.vec_id = cand.b
),
best AS (
  SELECT a AS vec_id,
         min(struct_pack(ns := -score, b := b)).b AS best_id,
         max(score) AS best_score
  FROM scored GROUP BY a
)
SELECT p.vec_id AS vec_a, p.best_id AS vec_b, p.best_score AS score
FROM best p JOIN best q ON q.vec_id = p.best_id AND q.best_id = p.vec_id
WHERE p.vec_id < p.best_id
""",
)
def mutual_nearest_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor pair mining — the bitext/paraphrase-pair
    recipe (CCMatrix-style, margin term dropped for determinism): every
    vector finds its single best match within its multi-table sign-LSH
    shortlist, and a pair is emitted only when the choice is RECIPROCAL.
    Mutuality is the classic high-precision filter: a hub that is "best"
    for many anchors keeps at most one of them (its own best), so the
    output is a partial matching, not a hub star. Argmax ties break to the
    smaller neighbor id via the (-score, id) struct-min; cosine is
    symmetric at the bit level (same element order, commutative IEEE
    multiplies), so both directions agree exactly and the mutual join is
    hash-stable.

    Scale: reuses the ann_cosine_topk_lsh band shape — ALL vectors are
    queries here, so the slim (vec_id, table, bucket) self-equi-join and
    the per-anchor argmax are each one shuffle; nothing corpus-sized is
    ever broadcast (the embedding fetches are plain key joins). Shortlist
    recall bounds pair recall: tools/lsh_frontier.py measures the (bits,
    tables) frontier; the miner inherits whichever operating point the
    table picks."""
    v = track_persist(_vectors(spark, sf_dir))
    slim = _band_rows(v)
    # Candidates are canonicalized to a < b BEFORE the distinct and each
    # unordered pair is scored ONCE; the reverse direction is re-derived by
    # a shuffle-free projection+union afterwards. Cosine is bit-symmetric
    # (same element order, commutative IEEE multiplies — see the docstring),
    # so the argmax sees exactly the rows the both-directions form produced
    # while the distinct output, both embedding-fetch joins, and the dot
    # products all halve.
    cand = (
        slim.select(F.col("vec_id").alias("a"), "tbl", "bucket")
        .join(slim.select(F.col("vec_id").alias("b"), "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    scored = (
        fan_out(cand).join(_side(v, "a", "x"), "a")
        .join(_side(v, "b", "y"), "b")
        .select("a", "b", _cos("x", "y").alias("score"))
    )
    # persist: the union's two legs are separate plan subtrees — without
    # materializing, the whole candidate+score pipeline runs twice. The
    # cached table is (a, b, score) per surviving pair, tiny next to the
    # band join it summarizes.
    scored = track_persist(scored)
    scored_both = scored.union(
        scored.select(F.col("b").alias("a"), F.col("a").alias("b"), "score")
    )
    best = scored_both.groupBy("a").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("b").alias("b")))["b"].alias("best_id"),
        F.max("score").alias("best_score"),
    )
    p = best.select(F.col("a").alias("vec_id"), "best_id", "best_score")
    q = p.select(F.col("vec_id").alias("q_vec"), F.col("best_id").alias("q_best"))
    return (
        p.join(q, (p.best_id == q.q_vec) & (q.q_best == p.vec_id))
        .filter(F.col("vec_id") < F.col("best_id"))
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("best_id").alias("vec_b"),
            F.col("best_score").alias("score"),
        )
    )


# --- in-engine ANN recall report (approx-vs-exact as a query) -----------------------


def _exact_and_lsh_topk(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared body of the two index-quality REPORT queries (r14, guide
    §2.4/§5): one persisted exhaustive scored table — the exact yardstick
    both reports pay for BY CONTRACT — serves as the score source for both
    legs. The LSH leg contributes only its banded candidate PAIRS, attached
    by left-semi join, which also dedups multi-table bucket collisions (no
    separate DISTINCT exchange) and cannot add or drop pairs vs the r13
    independent-pipelines form: the candidate set is the same band
    equi-join, and every candidate's score comes from the same dot-fold
    expression over the same rows, so both legs' top-k are bit-identical
    (verified full-result at sf0.01 + sf0.1). vs r13: one corpus scan
    instead of two, no per-candidate re-scoring, no candidate DISTINCT, no
    two embedding fetch joins — and at 100 TB the exhaustive leg runs ONCE
    instead of alongside a second candidate-scoring pass. The standalone
    ann_cosine_topk_lsh / mine_hard_negatives keep the candidate-only
    scoring (_lsh_scored): an ANN *index* query must never pay the
    exhaustive scan; an index *audit* already does."""
    v = track_persist(_vectors(spark, sf_dir))
    scored_all = track_persist(_exact(v))
    exact_topk = _topk(scored_all)

    lsh_topk = _topk(
        scored_all.join(_lsh_candidates(v), ["query_id", "neighbor_id"], "left_semi")
    )
    return exact_topk, lsh_topk


@register(
    "ann_recall_report",
    oracle=f"""
WITH {_V_CTE},
ex_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ex_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM ex_scored
),
{_bands_sql('v')},
lsh_scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM bands q JOIN bands c
    ON q.tbl = c.tbl AND q.bucket = c.bucket
   AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
lsh_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM lsh_scored
)
SELECT e.query_id,
       count(l.neighbor_id) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(count(l.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM ex_ranked e
LEFT JOIN lsh_ranked l
  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id AND l.rnk <= {TOP_K}
WHERE e.rnk <= {TOP_K}
GROUP BY e.query_id
""",
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the sign-LSH ANN against the exact baseline, AS A
    REGISTERED QUERY: per query, how many of the true top-{TOP_K} neighbors
    the approximate index returned. tools/approx_quality.py measures this
    offline; putting it on the engine surface makes index-quality
    monitoring part of the nightly pipeline itself (the number a production
    ANN deployment alerts on), and the DuckDB oracle re-derives BOTH
    pipelines independently, so the report is value-hash checked end to
    end.

    Scale: one exhaustive scored pass (the labeled O(n·q) yardstick over a
    fixed query panel, persisted) feeds BOTH legs — the LSH leg attaches
    its banded candidate pairs by semi-join instead of re-scoring them
    (_exact_and_lsh_topk; r14 restructure, measured A/B 1.73 -> 1.53 s
    min-of-4 at sf0.1, full-result identical at both SFs) — plus one
    {N_QUERIES}x{TOP_K}-row outer join; the reporting overhead is
    negligible next to the index build it audits."""
    exact_topk, lsh_topk = _exact_and_lsh_topk(spark, sf_dir)
    exact = exact_topk.select("query_id", "neighbor_id")
    approx = lsh_topk.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.lit(TOP_K).cast("long").alias("k"),
            (F.col("n_hits").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


# --- k-center coreset selection (diverse-subset mining) -----------------------------

KCENTER_K = 5  # coreset size; round count is K-1 (c0 is the seed)
# Plan-size guard (VERDICT r13 #8): the literal-center rewrite embeds
# K x 64 float literals and K dot_folds inside a least() PER ROUND, so the
# final round's expression tree grows Theta(K^2 x dim). At K=5 that wins
# (measured A/B 3.31 -> 2.70 s); at much larger K the same Catalyst
# analysis + Janino codegen tax that sank the unrolled dot_fold experiment
# (functions/vectors.py::dot_fold) returns. Anyone raising K past this
# bound must re-A/B and, if it loses, fall back to the r12 broadcast-join
# form (build a K-row centers DataFrame, crossJoin + groupBy-min).
_KCENTER_LITERAL_MAX_K = 16
assert KCENTER_K <= _KCENTER_LITERAL_MAX_K, (
    "KCENTER_K > literal-center plan-size bound: re-measure before raising "
    "(see the plan-size note above; the broadcast form is the fallback)"
)


def _kcenter_round_sql(r: int) -> str:
    prev = ", ".join(f"c{j}" for j in range(r))
    return f"""
d{r} AS (
  SELECT v.vec_id,
         least({", ".join(f"1.0 - ({dot_fold_sql('v.embedding', f'c{j}.embedding')} / (v.nrm * c{j}.nrm))" for j in range(r))})
           AS dmin
  FROM vb v, {prev}
  WHERE v.vec_id NOT IN ({", ".join(f"c{j}.vec_id" for j in range(r))})
),
c{r} AS (
  SELECT vb.* FROM vb,
       (SELECT min(struct_pack(nd := -dmin, id := vec_id)).id AS pick FROM d{r}) p
  WHERE vb.vec_id = p.pick
)"""


@register(
    "coreset_kcenter_selection",
    oracle=f"""
WITH vb AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm
  FROM embeddings
),
c0 AS (SELECT vb.* FROM vb WHERE vec_id = (SELECT min(vec_id) FROM vb)),
{",".join(_kcenter_round_sql(r) for r in range(1, KCENTER_K))},
picks AS (
  {" UNION ALL ".join(f"SELECT CAST({r} AS BIGINT) AS sel_round, vec_id FROM c{r}" for r in range(KCENTER_K))}
),
radius AS (
  SELECT v.vec_id,
         least({", ".join(f"1.0 - ({dot_fold_sql('v.embedding', f'c{j}.embedding')} / (v.nrm * c{j}.nrm))" for j in range(KCENTER_K))})
           AS dmin
  FROM vb v, {", ".join(f"c{j}" for j in range(KCENTER_K))}
)
SELECT p.sel_round, p.vec_id,
       (SELECT max(dmin) FROM radius) AS coverage_radius
FROM picks p
""",
)
def coreset_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 2-approximation) —
    the DIVERSE-subset mining step of data selection: seed with the
    smallest vec_id, then {KCENTER_K - 1} rounds of "pick the point
    farthest (cosine distance) from everything chosen so far", ties to the
    smaller id. Output is the selected coreset with selection order plus
    the achieved coverage radius (max distance of any point to its nearest
    center — the quantity the 2-approximation bounds). Complements
    kmeans_embeddings (mass-seeking centroids) and dedup_semdedup_prune
    (redundancy removal): k-center OPTIMIZES for coverage of the tails.

    Determinism: distances are the shared ordered dot fold; min/least over
    a fixed candidate set is order-independent in IEEE, and every argmax
    ties to the id — both engines pick identical centers, so the whole
    greedy trajectory is value-hash exact.

    Scale: each round is one scan of the corpus against a BROADCAST
    {KCENTER_K}-row center set (min-of-k distances computed per row, no
    shuffle) plus a 1-row argmax — the collect is the per-round scalar the
    iterative-query policy allows. O(K * n) total work, the standard
    distributed k-center layout."""
    v = track_persist(_vectors(spark, sf_dir))
    # Each greedy round is ONE map-only scan + 1-row argmax: the chosen
    # centers are already driver-side scalars (the per-round collect the
    # iterative-query policy allows), so their embeddings ride along in the
    # argmax struct and become array LITERALS in the next round's distance
    # expression — no per-round broadcast build, no crossJoin, no per-point
    # groupBy shuffle (r13: the former crossJoin+groupBy form paid a
    # broadcast job and an exchange per round; measured A/B below). least()
    # over the k per-center distances is the same IEEE min the grouped
    # aggregate computed, and float->double literalization is exact, so the
    # greedy trajectory is bit-identical (oracle-checked).
    seed = v.agg(
        F.min(F.struct("vec_id", "embedding", "nrm")).alias("m")
    ).collect()[0].m
    chosen = [(seed.vec_id, seed.embedding, seed.nrm)]

    def _dists():
        return [
            F.lit(1.0)
            - dot_fold(F.col("embedding"), F.array(*[F.lit(x) for x in ce]))
            / (F.col("nrm") * F.lit(cn))
            for _, ce, cn in chosen
        ]

    for _ in range(1, KCENTER_K):
        ds = _dists()
        dmin = ds[0] if len(ds) == 1 else F.least(*ds)
        ids = [cid for cid, _, _ in chosen]
        pick = (
            v.filter(~F.col("vec_id").isin(ids))
            .select("vec_id", "embedding", "nrm", dmin.alias("dmin"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("dmin")).alias("nd"),
                        F.col("vec_id").alias("id"),
                        F.col("embedding").alias("e"),
                        F.col("nrm").alias("n"),
                    )
                ).alias("m")
            )
            .collect()[0]
            .m
        )
        chosen.append((pick.id, pick.e, pick.n))
    radius = v.select(F.least(*_dists()).alias("dmin")).agg(
        F.max("dmin").alias("coverage_radius")
    )
    picks = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(chosen)], "sel_round bigint, vec_id bigint"
    )
    return picks.crossJoin(F.broadcast(radius))


# --- kNN label-vote classifier -----------------------------------------------

N_KNN_QUERIES = 25  # vec_id < 25 — the held-out rows being classified
KNN_K = 10


@register(
    "knn_label_vote",
    oracle=f"""
WITH {_V_CTE},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM v q JOIN v c ON q.vec_id < {N_KNN_QUERIES} AND c.vec_id <> q.vec_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
    FROM scored) WHERE rnk <= {KNN_K}
),
votes AS (
  SELECT t.query_id, l.label, count(*) AS votes
  FROM topk t JOIN lab l ON l.vec_id = t.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, label AS predicted_label, votes FROM (
    SELECT query_id, label, votes,
           row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
    FROM votes) WHERE rn = 1
)
SELECT p.query_id, ql.label AS true_label, p.predicted_label, p.votes,
       ql.label = p.predicted_label AS correct
FROM pred p JOIN lab ql ON ql.vec_id = p.query_id
""",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classifier over the embedding corpus: each query row
    (vec_id < {N}) is labeled by the majority `label` among its {K} exact
    cosine nearest neighbors, ties broken toward the smallest label id — the
    standard label-propagation / auto-labeling primitive a curation pipeline
    uses to extend a small labeled seed set to the whole corpus.

    Spark shape: identical to ann_cosine_topk (broadcast queries, corpus
    never shuffles, per-query top-k prunes before the exchange) plus one
    |queries|*k-row label join and a |queries|-group vote aggregate — the
    classifier step adds NOTHING data-sized to the plan. At 100 TB the
    documented swap is the banded-LSH shortlist (_lsh_scored) feeding the
    same vote; the exact form here is what the oracle can replicate
    bit-for-bit. Cross-engine exactness: scores are the shared left-to-right
    double fold (functions/vectors.py), votes are COUNTs, and the argmax is
    an integer-ordered row_number — no float ever reaches the output."""
    lab = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    scored = _exact(_vectors(spark, sf_dir), "score", N_KNN_QUERIES)
    topk = _rank(scored, KNN_K, F.col("score").desc(), F.col("neighbor_id")).select(
        "query_id", "neighbor_id"
    )
    votes = (
        topk.join(lab, topk.neighbor_id == lab.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = _rank(votes, 1, F.col("votes").desc(), F.col("label"), col="rn").select(
        "query_id", F.col("label").alias("predicted_label"), "votes"
    )
    truth = lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "votes",
        (F.col("true_label") == F.col("predicted_label")).alias("correct"),
    )


# --- MMR diversity re-ranking --------------------------------------------------

MMR_SHORTLIST = 20  # relevance shortlist fed to the re-ranker
MMR_SELECT = 5  # diverse results returned per query
# lambda = 0.5: mmr = 0.5*relevance - 0.5*max_sim_to_selected. 0.5 is exactly
# representable in binary, so the combine is a single IEEE multiply+subtract
# that both engines evaluate identically (the registry-wide float discipline).


@register(
    "mmr_rerank_topk",
    oracle=f"""
WITH RECURSIVE
{_V_CTE},
shortlist AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS relevance,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) DESC,
                                       c.vec_id) AS rn
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)
  WHERE rn <= {MMR_SHORTLIST}
),
ps AS (
  SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
         {dot_fold_sql('va.embedding', 'vb.embedding')} / (va.nrm * vb.nrm) AS sim
  FROM shortlist a JOIN shortlist b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN v va ON va.vec_id = a.neighbor_id
  JOIN v vb ON vb.vec_id = b.neighbor_id
),
sel(query_id, rnk, neighbor_id, relevance, mmr_score, picked) AS (
  SELECT query_id, 1, neighbor_id, relevance, relevance, [neighbor_id]
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY relevance DESC, neighbor_id) AS r1
        FROM shortlist) WHERE r1 = 1
  UNION ALL
  SELECT s.query_id, s.rnk + 1, t.neighbor_id, t.relevance, t.mmr,
         list_append(s.picked, t.neighbor_id)
  FROM sel s, LATERAL (
    SELECT c.neighbor_id, c.relevance,
           0.5 * c.relevance - 0.5 * (
             SELECT max(p.sim) FROM ps p
             WHERE p.query_id = s.query_id AND p.ia = c.neighbor_id
               AND list_contains(s.picked, p.ib)) AS mmr
    FROM shortlist c
    WHERE c.query_id = s.query_id AND NOT list_contains(s.picked, c.neighbor_id)
    ORDER BY mmr DESC, c.neighbor_id LIMIT 1) t
  WHERE s.rnk < {MMR_SELECT}
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, relevance, mmr_score
FROM sel
""",
)
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98) —
    the canonical RAG retrieval diversifier: from each query's exact top-20
    relevance shortlist, greedily select 5 results maximizing
    ``0.5*relevance - 0.5*max_sim_to_already_selected`` (ties toward the
    smaller neighbor_id; the first pick is the plain relevance argmax and
    reports its relevance as its mmr_score).

    Spark shape (r14 restructure, guide §2.4/§1.2): the expensive part is
    the shortlist (the ann_cosine_topk broadcast scan — corpus never
    shuffles); everything after operates on |queries| x 20 rows, so the
    whole greedy selection runs as ONE per-query array fold — the shortlist
    is collected per query (groupBy reuses the ranking window's
    hash(query_id) partitioning, zero extra exchange) and the
    {MMR_SELECT - 1} rounds execute inside a single F.aggregate HOF
    (candidate filter -> max-sim-to-picked -> argmax, all on the 20-element
    array). The r13 form unrolled the rounds as {MMR_SELECT - 1} eagerly
    localCheckpointed jobs over a persisted pairwise-sim self-join; at any
    scale that is {MMR_SELECT - 1} extra job dispatches + a shuffle for
    O(|queries| x 20 x 19) rows of work — measured same-session A/B
    min-of-5 at sf0.1: 2.12 -> 0.73 s, full-result identical at sf0.01 AND
    sf0.1. MMR's O(k^2) stays over the SHORTLIST, never the corpus.
    Cross-engine exactness: all similarities are the shared double fold
    (commutative IEEE multiplies, same element order, so sim(a,b) ==
    sim(b,a) bitwise vs the r13 pairwise table); max-sim is an array_max
    over the same value set the old F.max aggregate saw; the per-round
    argmax is a struct array_max on (mmr, -neighbor_id) — identical
    ordering, NaN-largest semantics included, to the old
    row_number(mmr desc, neighbor_id asc) pick; the 0.5 coefficients are
    exactly representable so the combine is deterministic IEEE in both
    engines."""
    scored = _exact(_vectors(spark, sf_dir), "relevance", N_QUERIES, "ce", "cn")
    short = _rank(
        scored, MMR_SHORTLIST, F.col("relevance").desc(), F.col("neighbor_id"), col="rn"
    ).select("query_id", "rn", "neighbor_id", "relevance", "ce", "cn")
    # Collect each query's shortlist into ONE rank-ordered array (rn is
    # unique per query, so array_sort on the (rn, ...) struct restores the
    # relevance-desc/id-asc ranking regardless of collect_list order) and
    # run the whole greedy selection as a single F.aggregate fold over it.
    grouped = short.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "neighbor_id", "relevance", "ce", "cn"))
        ).alias("sl")
    )

    def pick_struct(rnk, nid, rel, mmr, ce, cn):
        return F.struct(
            rnk.cast("long").alias("rnk"),
            nid.alias("neighbor_id"),
            rel.alias("relevance"),
            mmr.alias("mmr_score"),
            ce.alias("ce"),
            cn.alias("cn"),
        )

    sl = F.col("sl")
    # First pick: the relevance argmax == rank-1 shortlist row; its
    # mmr_score is its relevance (no selected set to penalize against yet).
    first = sl[0]
    init = F.array(
        pick_struct(
            F.lit(1),
            first["neighbor_id"],
            first["relevance"],
            first["relevance"],
            first["ce"],
            first["cn"],
        )
    )

    def step(acc, r):
        # Round r: drop already-picked members, score each remaining
        # candidate 0.5*relevance - 0.5*max(sim to picked), take the argmax
        # with ties to the smaller neighbor_id. struct array_max on
        # (mmr, -neighbor_id) reproduces the old
        # row_number(mmr desc, id asc) ordering exactly (double comparison
        # semantics included). The guard keeps shortened shortlists
        # (micro fixtures with < MMR_SELECT rows) on the old behavior:
        # exhausted candidates end the trajectory early.
        cands = F.filter(
            sl,
            lambda x: ~F.exists(acc, lambda p: p["neighbor_id"] == x["neighbor_id"]),
        )

        def keyed(x):
            mps = F.array_max(
                F.transform(
                    acc, lambda p: dot_fold(x["ce"], p["ce"]) / (x["cn"] * p["cn"])
                )
            )
            mmr = F.lit(0.5) * x["relevance"] - F.lit(0.5) * mps
            return F.struct(
                mmr.alias("m"),
                (-x["neighbor_id"]).alias("nneg"),
                x["relevance"].alias("rel"),
                x["ce"].alias("ce"),
                x["cn"].alias("cn"),
            )

        best = F.array_max(F.transform(cands, keyed))
        appended = F.array_append(
            acc,
            pick_struct(r, -best["nneg"], best["rel"], best["m"], best["ce"], best["cn"]),
        )
        return F.when(F.size(cands) > 0, appended).otherwise(acc)

    picks = F.aggregate(F.sequence(F.lit(2), F.lit(MMR_SELECT)), init, step)
    return grouped.select("query_id", F.explode(picks).alias("p")).select(
        "query_id",
        F.col("p.rnk").alias("rnk"),
        F.col("p.neighbor_id").alias("neighbor_id"),
        F.col("p.relevance").alias("relevance"),
        F.col("p.mmr_score").alias("mmr_score"),
    )


# --- retrieval evaluation metrics (MRR / nDCG of the ANN index) ---------------------

# DCG rank discounts 1/log2(i+1), i = 1..TOP_K, precomputed once in Python
# and inlined as IDENTICAL full-precision literals into both engines — libm
# never runs inside either query, so the only float ops are multiplies by
# shared constants and a fold in rank order (deterministic IEEE both sides).
_DCG_DISCOUNTS = (
    1.0,
    0.6309297535714575,
    0.5,
    0.43067655807339306,
    0.38685280723454163,
    0.3562071871080222,
    0.3333333333333333,
    0.31546487678572877,
    0.3010299956639812,
    0.2890648263178879,
)
# IDCG@10 for binary relevance with 10 relevant docs: the same constants
# folded left-to-right from 0.0 (matching both engines' fold order).
_IDCG_AT_K = 4.543559338088346


@register(
    "retrieval_eval_metrics",
    oracle=f"""
WITH {_V_CTE},
ex_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
    FROM ex_scored) WHERE rnk <= {TOP_K}
),
{_bands_sql('v')},
lsh_scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_fold_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS score
  FROM bands q JOIN bands c
    ON q.tbl = c.tbl AND q.bucket = c.bucket
   AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
lsh_topk AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
    FROM lsh_scored) WHERE rnk <= {TOP_K}
),
judged AS (
  SELECT l.query_id, l.rnk,
         CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM lsh_topk l LEFT JOIN truth t
    ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
),
per_q AS (
  SELECT query_id,
         CAST(sum(rel) AS BIGINT) AS n_hits,
         min(CASE WHEN rel = 1 THEN rnk END) AS first_hit,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(rel AS DOUBLE) * ({list(_DCG_DISCOUNTS)})[rnk] ORDER BY rnk)),
           (a, b) -> a + b) AS dcg
  FROM judged GROUP BY query_id
)
SELECT query_id, n_hits,
       CAST(coalesce(first_hit, 0) AS BIGINT) AS first_hit_rank,
       CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE)
            ELSE 1.0 / first_hit END AS mrr,
       dcg,
       dcg / {_IDCG_AT_K} AS ndcg
FROM per_q
""",
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query MRR@{TOP_K} and nDCG@{TOP_K} of the banded sign-LSH index
    graded against the exact-cosine top-{TOP_K} as binary ground truth — the
    two ranking metrics (beyond plain recall, ann_recall_report) that a
    retrieval deployment tracks per release. MRR rewards putting ANY true
    neighbor first; nDCG rewards putting MANY true neighbors early.

    Scale shape: one exhaustive scored pass feeds both legs (the LSH leg
    semi-joins its banded candidates against it — _exact_and_lsh_topk; r14
    restructure, measured A/B 1.60 -> 1.40 s min-of-4 at sf0.1,
    full-result identical at both SFs) and adds only
    |queries| x {TOP_K} rows of judgment joins; the metric arithmetic is a
    fold over each query's rank-ordered 10-element list. Cross-engine
    exactness: rank discounts are shared full-precision literals (no libm
    in either engine), the DCG sum folds in rank order from a 0.0 seed on
    both sides, MRR is a single exact division, and nDCG divides by the
    constant-relevance IDCG literal."""
    exact_topk, lsh_topk_df = _exact_and_lsh_topk(spark, sf_dir)
    truth = exact_topk.select("query_id", "neighbor_id", F.lit(1).alias("rel"))
    lsh_topk = lsh_topk_df.select("query_id", "neighbor_id", "rnk")
    darr = F.array(*[F.lit(d) for d in _DCG_DISCOUNTS])
    judged = (
        lsh_topk.join(truth, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "rnk",
            F.coalesce("rel", F.lit(0)).alias("rel"),
        )
    )
    per_q = judged.groupBy("query_id").agg(
        F.sum("rel").alias("n_hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_hit"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("rnk", "rel"))),
            F.lit(0.0),
            lambda acc, x: acc
            + x["rel"].cast("double") * F.element_at(darr, x["rnk"].cast("int")),
        ).alias("dcg"),
    )
    return per_q.select(
        "query_id",
        "n_hits",
        F.coalesce("first_hit", F.lit(0)).cast("long").alias("first_hit_rank"),
        F.when(F.col("first_hit").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_hit"))
        .alias("mrr"),
        "dcg",
        (F.col("dcg") / F.lit(_IDCG_AT_K)).alias("ndcg"),
    )
