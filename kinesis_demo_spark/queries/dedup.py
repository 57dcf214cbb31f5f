"""Deduplication suite over the ``documents`` / ``embeddings`` fixtures — the
LLM-training-pipeline operators the north star adds beyond reference parity
(SURVEY.md §7 Phase 5): exact content dedup, inverted-index n-gram Jaccard,
MinHash+LSH, SimHash banding, and embedding-cosine near-dup.

Every strategy is fully deterministic and mirrored in DuckDB SQL via the
cross-engine md5-based hash (functions/hashing.py), so each gets a real
value-hash oracle — including the sketch-based ones, because the oracle
replicates the identical sketch arithmetic.

Scale design (the point of each shape at 100 TB):
- exact: one hash-shuffle on a 16-byte digest, map-side partial agg.
- n-gram Jaccard: inverted-index self-join — candidate generation touches
  only docs sharing a shingle (never the O(n^2) cross join). Hot shingles are
  the skew risk; AQE skew-split handles moderate skew, and a
  document-frequency cap on shingles (drop df > K) is the standard
  mitigation to bound the blow-up — not needed at fixture vocab, documented
  here as the production knob.
- MinHash+LSH: per-doc signature is a groupBy-min (constant state per doc);
  candidates join on (band, band_hash) buckets, so work scales with bucket
  collisions, not pairs.
- SimHash: 32-bit signature, 4 bands x 8 bits; hamming <= 3 implies at least
  one identical band (pigeonhole), so the band join is EXACT, not heuristic.
- embedding-cosine: the brute-force all-pairs shape is the verified-exact
  baseline at fixture scale; ``dedup_embedding_cosine_lsh`` is the scale
  path — sign-bit-bucketed candidate generation + the same exact scorer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import (
    BAND_W,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    N_PERM,
    h60,
    h60_sql,
)
from ..io import fan_out, iterate, load_table, spread, track_checkpoint, track_persist
from ..registry import register

JACCARD_THRESHOLD = 0.2
# Exact rational form of the threshold for the prefix/positional/length
# PRUNING arithmetic (r11, caught by the --skew sweep's first run): the
# prune bounds must be CONSERVATIVE, but float evaluation breaks exactly at
# the J == t boundary — ceil(0.2/1.2 * 42) evaluates ceil(7.000000000000001)
# = 8 in IEEE, pruning a true pair whose exact required overlap is 7, and
# `na >= 0.2 * 15` is false though 3 >= 3 is true. All prune math therefore
# uses integer ceil-divisions built from NUM/DEN; the exact-Jaccard VERIFY
# stage still compares the one IEEE division against the float threshold,
# identically in both engines.
JACCARD_T_NUM, JACCARD_T_DEN = 1, 5
assert JACCARD_T_NUM / JACCARD_T_DEN == JACCARD_THRESHOLD
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # <= bands - 1 so the band join stays exact
COSINE_DUP_THRESHOLD = 0.40


# --- shared shingle derivation (word 3-grams, distinct per doc) ---------------


def shingles_col() -> Column:
    """Distinct word-3-shingles of ``text``; empty array for < 3 words.

    Built with zip_with over shifted slices instead of
    transform(sequence, i -> element_at(words, i..i+2)): expressions inside
    HOF lambdas are re-evaluated per element and escape Spark's
    subexpression elimination, so the index-based form re-splits the text
    O(n_shingles * n_words) times per row. The zip_with form references
    ``words`` a constant number of times at top level -> linear work.
    """
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    pairs = F.zip_with(words, F.slice(words, 2, n), lambda a, b: F.concat(a, F.lit(" "), b))
    trips = F.zip_with(pairs, F.slice(words, 3, n), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= 3, F.array_distinct(F.slice(trips, 1, n - 2))).otherwise(
        F.array().cast("array<string>")
    )


# DuckDB mirror of shingles_col (range(1, n-1) is empty when n < 3).
SHINGLES_SQL = """
list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
"""

# Shared oracle CTEs: per-doc shingle list, exploded index, and pair
# intersection counts (inverted-index candidate generation).
_SHINGLE_CTES = f"""
sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS shingles
  FROM documents
),
ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: shingling is the per-row hot loop; see io.spread
    #
    # persist: the shingle table feeds BOTH sides of the inverted-index
    # self-join plus both verification joins — as pure lineage Spark would
    # re-run the per-row shingling up to 4x (self-join sides are separate
    # stages, so no exchange reuse applies). MEMORY_AND_DISK (the default)
    # spills instead of OOMing, which is exactly the "materialize the
    # signature table first" step a 100 TB dedup run performs anyway.
    return track_persist(
        spread(_docs(spark, sf_dir).select("doc_id", "text")).select(
            "doc_id", shingles_col().alias("shingles")
        )
    )


def _jaccard_verified(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Join candidate (doc_a, doc_b) pairs back to shingle sets and keep pairs
    with exact Jaccard >= threshold."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- exact dedup ---------------------------------------------------------------


@register(
    "dedup_exact_text",
    oracle="""
SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.
    One shuffle on the digest; the text column itself never shuffles."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- n-gram Jaccard (inverted-index exact near-dup) ------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_CTES}
SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup via inverted index: explode distinct shingles,
    self-join on the shingle to count intersections (only co-shingled doc
    pairs are ever materialized), Jaccard from |A|,|B|,|A∩B|."""
    sh = _shingled(spark, sf_dir)
    # Per-doc set sizes ride the exploded index rows (2 extra ints per row)
    # and fold back out with min() in the pair aggregation — the same trick
    # the DuckDB oracle uses (any_value(a.n)). The former alternative — a
    # post-agg join against a per-document sizes side — needed either a
    # broadcast of an UNBOUNDED per-doc table (OOM at 100 TB) or two more
    # shuffles; this form needs zero extra joins.
    ex = sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),  # constant within the group; min() is the
            F.min("nb").alias("nb"),  # deterministic any_value
        )
    )
    jaccard = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.select("doc_a", "doc_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


@register(
    "dedup_ngram_jaccard_prefix",
    oracle=f"""
WITH {_SHINGLE_CTES}
SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard near-dup (the AllPairs/PPJoin candidate
    pruning, Bayardo et al., WWW'07): order every document's shingles by a
    single global rarity order (document frequency asc, shingle asc) and
    index only the first ``n - ceil(t*n) + 1`` of them. Any pair with
    J >= t provably shares at least one PREFIX shingle, so candidate
    generation over prefixes alone loses nothing — the exact-verification
    join then computes true Jaccard from the full sets. The OUTPUT is
    identical to dedup_ngram_jaccard (same oracle); what changes is the
    scale shape: high-df shingles sort last and drop out of every prefix, so
    the hot-shingle bucket blow-up — the one skew risk of the plain inverted
    index — never reaches the pair join. Costs one extra shuffle (the df
    aggregation); at 100 TB the pruned pair explosion dominates that by
    orders of magnitude.

    The per-doc rarity rank deliberately avoids a row_number window (a full
    shuffle+sort of the exploded index, the r3 hot spot): after the df join —
    which AQE broadcast-converts while the distinct-shingle table is small
    and degrades to a plain shuffle join at scale — shingles regroup per doc
    and the rank falls out of a per-row ``sort_array`` over the bounded
    (df, shingle) struct array, inside whole-stage codegen. Correctness never
    depends on the order being rarity: the AllPairs prefix theorem holds for
    ANY global total order, and (df, s) is one."""
    t = JACCARD_THRESHOLD
    tn, td = JACCARD_T_NUM, JACCARD_T_DEN
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    df_tbl = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # integer-exact ceil(t*n) = (NUM*n + DEN - 1) DIV DEN — see the
    # JACCARD_T_NUM note: float ceil over-prunes at the J == t boundary
    prefix_len = F.col("n") - F.expr(f"({tn} * n + {td} - 1) DIV {td}") + 1
    ordered = (
        # broadcast hint: the df side is the DISTINCT-shingle table — it grows
        # sublinearly with the corpus (vocabulary saturation), and while it
        # fits this turns candidate prep into a map-only stage; drop the hint
        # for open-ended shingle spaces and AQE falls back to a shuffle join.
        ex.join(F.broadcast(df_tbl), "s")
        .groupBy("doc_id", "n")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("by_rarity"))
    )
    # (doc_id, n, shingle, 1-based rarity position) for the prefix only;
    # persisted because it feeds BOTH sides of the candidate self-join — as
    # pure lineage the shingle+df+sort pipeline would run twice.
    prefix = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("by_rarity", F.lit(1), prefix_len)).alias("p0", "e"),
    ).select(
        "doc_id", "n", (F.col("p0") + 1).alias("p"), F.col("e.s").alias("s")
    )
    prefix = track_persist(prefix)
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("p").alias("pa"), "s"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), F.col("p").alias("pb"), "s"
    )
    # PPJoin pruning (all filters are conservative — verification is exact):
    # - length: J >= t forces t*max(na,nb) <= min(na,nb);
    # - positional: at a co-occurrence sitting at positions (pa, pb) of the
    #   two rarity-ordered prefixes, every LATER common shingle lies strictly
    #   deeper in both suffixes, so overlap <= 1 + min(na-pa, nb-pb); the
    #   required equivalent overlap is inter >= t/(1+t) * (na+nb).
    #   The bound only tightens as positions grow, so if a pair's FIRST
    #   common prefix shingle fails it, every other co-occurrence of that
    #   pair fails it too — which means the filter can run PER ROW before
    #   any aggregation with identical survivors, and the aggregation
    #   itself collapses to a distinct over (doc_a, doc_b): two longs
    #   through the exchange instead of a min() over structs carrying the
    #   shingle strings (r4 shape; measured -35% on the candidate stage).
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    # exact required overlap: J >= NUM/DEN <=> inter*(NUM+DEN) >= NUM*(na+nb)
    # <=> inter >= ceil(NUM*(na+nb)/(NUM+DEN)) — integer ceil-div, never the
    # float form ceil(t/(1+t)*(na+nb)) which lands one ULP high at boundary
    min_overlap = F.expr(
        f"({tn} * (na + nb) + {tn + td} - 1) DIV {tn + td}"
    )
    cands = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter in exact integers: na >= t*nb <=> DEN*na >= NUM*nb
            & (F.lit(td) * F.col("na") >= F.lit(tn) * F.col("nb"))
            & (F.lit(td) * F.col("nb") >= F.lit(tn) * F.col("na"))
            & (ubound >= min_overlap)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # fan_out before the verify: the distinct's output rows are two bare
    # longs, so AQE's partition coalescing collapses them to a handful of
    # partitions by SIZE — and the expensive stage downstream (per-pair
    # array_intersect Jaccard) inherits that near-serial parallelism
    # (measured: 3 tasks on 32 cores, 7.3 s warm; with the spread, full
    # fan-out, 2.0 s). Round-robin on slim rows is noise next to the
    # verify work it parallelizes. Must be io.fan_out, not spread: spread's
    # partition-count inspection goes through .rdd, which under AQE eagerly
    # executes the candidate-generation stages as an extra job.
    return _jaccard_verified(fan_out(cands), sh, JACCARD_THRESHOLD)


# Hot-shingle document-frequency cap (CCNet/BigQuery-dedup practice): shingles
# appearing in more than the cap's document count are boilerplate/stop-phrases
# — they generate the quadratic bucket blow-up while carrying almost no
# similarity signal. The cap is RELATIVE to corpus size
# (greatest(3, 0.5% of n_docs)): an absolute cap is wrong as the corpus grows
# — measured, a fixed cap of 3 keeps recall 1.0 at sf0.01 but collapses it to
# 0.11 at sf0.1, while the relative form holds recall 1.0 at BOTH scales
# (cands -30% at sf0.01, untouched at sf0.1 where no shingle crosses 0.5%).
# Candidates come only from sub-cap shingles; verification stays exact over
# the FULL sets, so a pair is missed only if EVERY shared shingle is hot.
DF_CAP_FLOOR = 3
DF_CAP_PERMILLE = 5  # cap = greatest(floor, n_docs * 5 DIV 1000)


@register(
    "dedup_ngram_jaccard_df_capped",
    oracle=f"""
WITH {_SHINGLE_CTES},
cap AS (
  SELECT greatest({DF_CAP_FLOOR}, count(*) * {DF_CAP_PERMILLE} // 1000) AS df_cap
  FROM documents
),
dft AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN dft ON dft.s = a.s, cap
  WHERE dft.df <= cap.df_cap
)
SELECT c.doc_a, c.doc_b,
       CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) AS jaccard
FROM cands c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency-capped inverted-index Jaccard — the hot-shingle
    mitigation the plain index's docstring documents as "the production
    knob", now a first-class, value-hash-checked operator: shingles with
    corpus df above greatest({DF_CAP_FLOOR}, {DF_CAP_PERMILLE}/1000 of
    n_docs) never enter the index, so the Zipf-head buckets that drive the
    O(df^2) pair blow-up are gone BEFORE the self-join (where the prefix
    filter prunes per-row and the cap prunes per-bucket — complementary
    levers). The cap is relative to corpus size because an absolute one
    does not survive growth: measured, a fixed cap of 3 holds recall 1.0
    at sf0.01 but collapses to 0.11 at sf0.1, while this form measures
    recall 1.0 at both sf0.01 and sf0.1 (0.89 at the tiny sf0.001 corpus,
    where the floor dominates; subset + floor pinned in tests/
    test_dedup.py). Verification is exact Jaccard over the FULL shingle
    sets, so every emitted pair is true; the approximation is one-sided.

    Scale: one extra df aggregation (map-side combined) and a 1-row corpus
    count broadcast into the filter, then the same inverted-index shape on
    a strictly smaller index. At 100 TB this is the difference between the
    hottest shingle bucket joining millions-by-millions and not existing
    at all.

    Plan shape (r8, after the r7 cost inversion — 7.7 s vs 1.5 s for the
    UNCAPPED index at sf0.1): the df aggregate collapses to the HOT head
    only (shingles over the cap — the Zipf head, at most |ex|/cap distinct
    values, broadcast), the cold index is ``ex`` broadcast-anti-join hot
    and is persisted (it feeds both self-join sides — the "materialize the
    pruned signature table" step a 100 TB run performs anyway), and the
    exact-Jaccard verification rides the pair aggregation itself instead
    of re-joining full shingle ARRAYS per candidate: intersection counts
    split as inter = inter_cold (the pair-join count) + inter_hot (an
    array_intersect over the per-doc HOT membership arrays, bounded by
    |hot| elements, usually empty), with full set sizes na/nb riding the
    exploded rows. Exactness is unchanged — cold and hot partition each
    doc's shingle set, so the split sum is the full intersection; the
    approximation stays one-sided (a pair is missed only if EVERY shared
    shingle is hot)."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    cap = F.broadcast(
        _docs(spark, sf_dir).agg(
            F.greatest(
                F.lit(DF_CAP_FLOOR).cast("long"),
                F.expr(f"count(*) * {DF_CAP_PERMILLE} DIV 1000"),
            ).alias("df_cap")
        )
    )
    hot = F.broadcast(
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(cap, F.col("df") > F.col("df_cap"), "inner")
        .select("s")
    )
    cold = track_persist(ex.join(hot, "s", "left_anti"))
    # Per-doc hot-shingle membership arrays: one row per doc that contains
    # at least one over-cap shingle, array bounded by |hot|. NOT broadcast —
    # hot shingles appear in >cap docs by definition, so this table can be
    # O(n_docs) at scale; it joins the (already-aggregated) pair table by
    # doc id, which AQE broadcast-converts while small.
    hotm = track_persist(
        ex.join(hot, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("hot_arr"))
    )
    a = cold.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = cold.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter_cold"),
            F.min("na").alias("na"),  # constant within the group; min() is
            F.min("nb").alias("nb"),  # the deterministic any_value
        )
        .join(
            hotm.select(F.col("doc_id").alias("doc_a"), F.col("hot_arr").alias("ha")),
            "doc_a",
            "left",
        )
        .join(
            hotm.select(F.col("doc_id").alias("doc_b"), F.col("hot_arr").alias("hb")),
            "doc_b",
            "left",
        )
    )
    inter = F.col("inter_cold") + F.when(
        F.col("ha").isNull() | F.col("hb").isNull(), F.lit(0)
    ).otherwise(F.size(F.array_intersect("ha", "hb")))
    jaccard = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return pairs.select("doc_a", "doc_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


# --- exact substring runs (suffix-array-style dedup, Lee et al. 2022) ---------
#
# The Jaccard/MinHash/SimHash family scores whole documents; the boilerplate
# pass catches exact repeated paragraphs. What neither catches is LONG
# VERBATIM SUBSTRINGS at arbitrary alignment — the "deduplicating training
# data makes language models better" failure mode, classically found with a
# corpus-wide suffix array. The Spark-sane shape: fixed-width character
# grams at every offset -> content-defined anchor selection (keep a gram iff
# h60 % SUB_ANCHOR_MOD == 0 — alignment-free, so two copies of a substring
# select the SAME anchors regardless of where each copy starts) -> a
# corpus-relative df-cap (Zipf-head grams never enter the index) ->
# equi-join on the gram TEXT (exact, no hash collisions) ->
# per (pair, diagonal) gaps-and-islands merge into maximal aligned runs.

SUB_W = 24          # gram width (chars)
SUB_ANCHOR_MOD = 4  # keep ~1/4 of offsets, content-defined
SUB_GAP = 64        # max anchor gap inside one run (P(miss) ~ (3/4)^64)
SUB_MIN_SPAN = 40   # report runs spanning >= this many chars
SUB_MIN_ANCHORS = 3
# Substring-specific df-cap floor. The Jaccard index's floor of
# DF_CAP_FLOOR=3 is right for shingle features, but here a passage VERBATIM
# in k docs puts every one of its grams in exactly k docs — floor 3 deletes
# the whole clique the moment k=4, which is precisely the content
# exact-substring dedup exists to find (measured: sf0.001's six missed
# truth runs were one 4-doc passage; floor 8 -> recall 1.0,
# tools/substring_recall.py). 8 bounds hot-gram join fan-out at C(8,2)=28
# pairs/gram on tiny corpora; at scale the permille term governs exactly as
# before (sf0.1: cap 25, unchanged).
SUB_DF_FLOOR = 8

_SUBSTRING_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, substr(text, CAST(pos AS INT), {SUB_W}) AS gram
  FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - {SUB_W - 1}, 0) + 1)) AS pos
        FROM documents)
),
anch AS (SELECT doc_id, pos, gram FROM grams WHERE {h60_sql('gram')} % {SUB_ANCHOR_MOD} = 0),
cap AS (SELECT greatest({SUB_DF_FLOOR}, count(*) * {DF_CAP_PERMILLE} // 1000) AS df_cap
        FROM documents),
dft AS (SELECT gram, count(DISTINCT doc_id) AS df FROM anch GROUP BY 1),
idx AS (SELECT a.doc_id, a.pos, a.gram
        FROM anch a JOIN dft USING (gram), cap WHERE dft.df <= cap.df_cap),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, a.pos - b.pos AS diag
  FROM idx a JOIN idx b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
marked AS (
  SELECT doc_a, doc_b, diag, pos_a,
    CASE WHEN pos_a - lag(pos_a) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
              > {SUB_GAP} THEN 1 ELSE 0 END AS brk
  FROM hits
),
runs AS (
  SELECT doc_a, doc_b, diag, pos_a,
    sum(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
)
SELECT doc_a, doc_b, diag, min(pos_a) AS start_a, min(pos_a) - diag AS start_b,
       max(pos_a) - min(pos_a) + {SUB_W} AS span, count(*) AS n_anchors
FROM runs GROUP BY doc_a, doc_b, diag, run_id
HAVING max(pos_a) - min(pos_a) + {SUB_W} >= {SUB_MIN_SPAN}
   AND count(*) >= {SUB_MIN_ANCHORS}
"""


@register("dedup_substring_runs", oracle=_SUBSTRING_ORACLE)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup: maximal aligned runs of exact {SUB_W}-char gram
    matches between document pairs — the suffix-array family (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better")
    re-expressed as candidate-generation-by-bucketing. Every reported anchor
    is a TRUE exact match (the index joins on the gram text itself, never a
    hash), anchors are selected content-defined (h60 % {SUB_ANCHOR_MOD}, so
    two copies of a substring pick identical anchors at any alignment), hot
    grams are dropped by a corpus-relative df-cap with a substring-specific
    floor of {SUB_DF_FLOOR} (see SUB_DF_FLOOR: a verbatim k-doc passage puts
    every gram at df=k, so the Jaccard floor of {DF_CAP_FLOOR} deleted
    whole 4-doc cliques), and anchors on one (pair, diagonal) within
    {SUB_GAP} chars merge into one run via gaps-and-islands. Output:
    (doc_a, doc_b, diag, start_a, start_b, span, n_anchors) per run with
    span >= {SUB_MIN_SPAN}.

    Recall vs the uncapped stride-1 brute force, measured by
    tools/substring_recall.py: 1.0 at sf0.001 (0.79 before the
    {SUB_DF_FLOOR} floor), 1.0 at sf0.01 (the driver gate's scale), 0.98
    at sf0.1. The df-cap and anchor-mod are the two one-sided approximation
    levers; a run is missed only if every anchor in it is hot or
    unselected.

    Scale (r9 restructure — three anchor-sized exchanges total, no persist,
    sf1 warm 10.2 s -> 7.4 s):
    1. Gram explosion is O(chars) rows but the anchor filter keeps 1/4
       BEFORE any exchange (the h60%{SUB_ANCHOR_MOD} test compiles to a
       single-hex-digit check on md5 — bit-identical anchors, no 15-digit
       base conversion in the hot scan).
    2. Hot-gram pass: map-side-combined countDistinct by gram, over-cap
       grams broadcast back as an anti-join (the dedup_ngram_jaccard_df_
       capped pattern; |hot| <= anchors/cap, ~30 MB at 100 TB/1e9 docs).
    3. Pair generation rides the SAME groupBy-gram exchange that a
       self-join would need twice: collect the (doc, pos) occurrences of
       one cold gram (bounded by the cap) and expand a<b pairs in-group
       with a codegen'd nested transform — no second join side, no
       persisted index. Boundary: a pathologically self-repetitive doc
       (one gram at k positions) makes the in-group pair array O(k^2) in
       memory where a self-join would stream the same O(k^2) rows; the
       operator's OUTPUT is quadratic for such docs in any formulation.
    4. The run merge rides ONE exchange on (pair, diag) —
       sort_array(collect_list) + a fold that splits on > {SUB_GAP} gaps,
       replacing the r8 window-lag + running-sum + regroup chain (two
       exchanges + a sort). Per-group state is the anchor positions of ONE
       pair's diagonal — bounded by max_doc_len/{SUB_ANCHOR_MOD}.
    A production run raises SUB_W to ~50 tokens and SUB_ANCHOR_MOD to the
    winnowing density; the shapes are unchanged. Suffix arrays answer the
    same question in O(n log n) single-node; this form is the one that
    shuffles bounded buckets instead of sorting 100 TB globally."""
    # Nothing is persisted: at sf1 caching the 16M-row gram stream cost
    # more than recomputing it per pass (measured r9: persist 5.3 s vs
    # 2 x 1.4 s scans), and persisting the pre-explosion docs bought
    # nothing measurable. The hot-gram pass is a real second scan — it
    # costs ~+0.5 s at sf0.1 (1.1 -> 1.7 s) and is what buys the sf1 win
    # (10.2 -> 6.0 s) plus the skew safety; the trade is deliberate.
    docs = spread(
        _docs(spark, sf_dir)
        .filter(F.length("text") >= SUB_W)  # sequence(1, n<1) would descend
        .select("doc_id", "text")
    )
    grams = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - (SUB_W - 1))).alias("pos"),
        "text",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.expr(f"substring(text, pos, {SUB_W})").alias("gram"),
    )
    # h60(gram) % 4 == 0 depends only on the low 2 bits of h60, i.e. on hex
    # digit 15 of the md5 (h60 = digits 1..15 base 16) — so the scan-stage
    # anchor test is one substring + a 4-literal IN, not a 15-digit base
    # conversion. Bit-identical to the oracle's h60 % {SUB_ANCHOR_MOD}.
    assert SUB_ANCHOR_MOD == 4, "hex-digit shortcut below encodes mod 4"
    anch = grams.filter(F.substring(F.md5("gram"), 15, 1).isin("0", "4", "8", "c"))
    cap = F.broadcast(
        _docs(spark, sf_dir).agg(
            F.greatest(
                F.lit(SUB_DF_FLOOR).cast("long"),
                F.expr(f"count(*) * {DF_CAP_PERMILLE} DIV 1000"),
            ).alias("df_cap")
        )
    )
    # Pass 1: the over-cap gram set, tiny by construction (<= anchors/cap),
    # broadcast back as an anti-join so the heavy pass never groups a hot
    # gram's occurrences (the skew bomb) — the df_capped fix's pattern.
    hot = F.broadcast(
        anch.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(cap)
        .filter(F.col("df") > F.col("df_cap"))
        .select("gram")
    )
    # Pass 2: ONE exchange on gram; cross-doc a<b pairs expand in-group
    # (each group holds <= df_cap docs' occurrences of one cold gram).
    pairs_expr = """
      flatten(transform(occ, x ->
        filter(transform(occ, y ->
          IF(x.doc_id < y.doc_id,
             named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id,
                          'pos_a', x.pos, 'diag', x.pos - y.pos),
             cast(null as struct<doc_a: bigint, doc_b: bigint,
                                 pos_a: bigint, diag: bigint>))),
          p -> p is not null)))"""
    hits = (
        anch.join(hot, "gram", "left_anti")
        .groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("occ"))
        .select(F.explode(F.expr(pairs_expr)).alias("h"))
        .select("h.doc_a", "h.doc_b", "h.pos_a", "h.diag")
    )
    # Gaps-and-islands fold over the sorted anchor positions of one
    # (pair, diagonal): a single shuffle (collect_list partial-aggregates
    # map-side), then a pure codegen'd array fold — the window-function
    # formulation costs a second exchange plus a per-partition sort for the
    # same answer.
    fold = f"""
      aggregate(
        ps,
        cast(array() as array<struct<s: bigint, e: bigint, n: bigint>>),
        (acc, p) -> CASE
          WHEN size(acc) = 0 OR p - element_at(acc, -1).e > {SUB_GAP}
          THEN concat(acc, array(named_struct(
                 's', p, 'e', p, 'n', cast(1 as bigint))))
          ELSE concat(slice(acc, 1, size(acc) - 1), array(named_struct(
                 's', element_at(acc, -1).s, 'e', p,
                 'n', element_at(acc, -1).n + cast(1 as bigint))))
        END)
    """
    return (
        hits.groupBy("doc_a", "doc_b", "diag")
        .agg(F.sort_array(F.collect_list("pos_a")).alias("ps"))
        .select("doc_a", "doc_b", "diag", F.explode(F.expr(fold)).alias("run"))
        .select(
            "doc_a",
            "doc_b",
            "diag",
            F.col("run.s").alias("start_a"),
            (F.col("run.s") - F.col("diag")).alias("start_b"),
            (F.col("run.e") - F.col("run.s") + F.lit(SUB_W)).alias("span"),
            F.col("run.n").alias("n_anchors"),
        )
        .filter((F.col("span") >= SUB_MIN_SPAN) & (F.col("n_anchors") >= SUB_MIN_ANCHORS))
    )


# --- MinHash + LSH ------------------------------------------------------------------


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash): LSH band keys, computed as pure per-doc
    array expressions — one md5 per shingle into an h30 array, then each
    permutation is an array_min over JVM-codegen arithmetic. NO shuffle at
    all until the band self-join: signatures are narrow per-row work, which
    is the optimal distributed shape (the alternative — explode to
    (shingle, perm) rows and groupBy-min — pushes |shingles| x N_PERM rows
    through an exchange for no benefit)."""
    hs = sh.select(
        "doc_id", F.transform("shingles", lambda s: h60(s) % MINHASH_P).alias("h30s")
    ).filter(F.size("h30s") > 0)
    def _perm(j: int):
        # closure factory, NOT a default-arg lambda: a 2-ary lambda would be
        # interpreted by pyspark as (element, index) and receive the array
        # index as its second argument
        return lambda h: (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P

    minh = [F.array_min(F.transform("h30s", _perm(j))) for j in range(N_PERM)]
    band_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    sum(
                        (minh[b * LSH_ROWS + r] * F.lit(BAND_W[r]) for r in range(1, LSH_ROWS)),
                        minh[b * LSH_ROWS] * F.lit(BAND_W[0]),
                    ).alias("band_hash"),
                )
                for b in range(LSH_BANDS)
            ]
        )
    )
    return hs.select("doc_id", band_rows.alias("b")).select(
        "doc_id", "b.band_idx", "b.band_hash"
    )


# MinHash signature -> banded candidate CTEs, shared by the LSH oracle and
# the self-measuring quality report below.
_MINHASH_CAND_CTES = f"""
exh AS (
  SELECT doc_id, {h60_sql('s')} % {MINHASH_P} AS h30
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
perms AS (SELECT unnest(range({N_PERM})) AS j),
sig AS (
  SELECT doc_id, j,
         min((({list(MINHASH_A)})[CAST(j AS INT)+1] * h30 + ({list(MINHASH_B)})[CAST(j AS INT)+1]) % {MINHASH_P}) AS minh
  FROM exh CROSS JOIN perms
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, j // {LSH_ROWS} AS band_idx,
         sum(minh * ({list(BAND_W)})[CAST(j % {LSH_ROWS} AS INT)+1]) AS band_hash
  FROM sig GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
)
"""

_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTES},
{_MINHASH_CAND_CTES}
SELECT c.doc_a, c.doc_b, CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) AS jaccard
FROM cands c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash({N_PERM} perms) -> LSH ({LSH_BANDS} bands x {LSH_ROWS} rows) ->
    bucket join -> exact-Jaccard verification. Candidate generation never
    compares non-colliding docs; the bucket join is the only shuffle that
    grows with similarity density. The oracle replicates the identical
    signature arithmetic, so this sketch op is value-hash checked, not
    rows-only."""
    sh = _shingled(spark, sf_dir)
    # persist: both join sides consume the signature table; without caching
    # the 32-permutation minhash folds run twice (see _shingled)
    bands = track_persist(_minhash_bands(sh))
    x = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    y = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    cands = (
        x.join(y, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_verified(cands, sh, JACCARD_THRESHOLD)


# --- SimHash ---------------------------------------------------------------------------


def band_hamming_pairs(
    docs: DataFrame, sig: str, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of ``docs(doc_id, <sig>)``
    whose ``bits``-bit signatures differ in at most ``max_hamming`` bits.

    Signatures are banded into ``bands`` x ``bits // bands``-bit keys with
    integer ``%`` + ``div`` (exact at any width on both engines);
    max_hamming < bands guarantees at least one identical band
    (pigeonhole), so the band self-join finds EVERY qualifying pair — LSH
    used as an exact algorithm, never a cross join. Shared by SimHash and
    the perceptual-hash near-dups (queries/multimodal.py)."""
    band_w = bits // bands
    band_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.expr(
                        f"({sig} % {1 << ((band + 1) * band_w)}) div {1 << (band * band_w)}"
                    ).alias("band_bits"),
                )
                for band in range(bands)
            ]
        )
    )
    # persist: both self-join sides consume the banded signatures; without
    # caching the whole signature stage runs twice (see _shingled)
    banded = track_persist(
        docs.select("doc_id", sig, band_rows.alias("b")).select("doc_id", sig, "b.band", "b.band_bits")
    )
    x = banded.select(F.col("doc_id").alias("doc_a"), F.col(sig).alias("sig_a"), "band", "band_bits")
    y = banded.select(F.col("doc_id").alias("doc_b"), F.col(sig).alias("sig_b"), "band", "band_bits")
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (
        x.join(y, ["band", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_pairs(docs: DataFrame, bits: int, bands: int, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) for every doc pair whose ``bits``-bit
    tf-weighted SimHash signatures differ in at most ``max_hamming`` bits
    (``band_hamming_pairs``).

    The signature is computed entirely as per-doc array expressions: one md5
    per token into a hash array, then ONE aggregate-fold over that array
    accumulating all ``bits`` signed bit-sums in one array state. Zero
    shuffles — the alternative (explode tokens x bits and groupBy) pushes
    |tokens| x bits rows through an exchange for the same answer. Bit
    extraction is pure integer arithmetic on BOTH engines, exact at any
    width (a double divide-then-truncate is not above 2^53): bit b of h
    tests ``h % 2^(b+1) >= 2^b``."""
    tok_h = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.transform(F.split("text", " "), lambda w: h60(w) % (1 << bits)).alias("hws")
    )
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    bit_sums = F.aggregate(
        F.col("hws"),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda s, p: s + F.when(h % (p + p) >= p, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    simhash = F.aggregate(
        F.zip_with(bit_sums, pow2, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = tok_h.select("doc_id", simhash.alias("simhash"))
    return band_hamming_pairs(sim, "simhash", bits, bands, max_hamming)


def _simhash_oracle(bits: int, bands: int, max_hamming: int) -> str:
    """DuckDB mirror of ``_simhash_pairs`` (integer bit arithmetic)."""
    band_w = bits // bands
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
th AS (SELECT doc_id, {h60_sql('w')} % {1 << bits} AS hw FROM tok),
bits AS (SELECT unnest(range({bits})) AS bit),
per_bit AS (
  SELECT doc_id, bit, sum(2 * ((hw // (1::BIGINT << CAST(bit AS INT))) % 2) - 1) AS s
  FROM th CROSS JOIN bits GROUP BY 1, 2
),
sim AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(bit AS INT) ELSE 0 END) AS simhash
  FROM per_bit GROUP BY 1
),
bands AS (
  SELECT doc_id, simhash, b.band,
         (simhash // (1::BIGINT << CAST(b.band * {band_w} AS INT))) % {1 << band_w} AS band_bits
  FROM sim CROSS JOIN (SELECT unnest(range({bands})) AS band) b
)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       bit_count(xor(x.simhash, y.simhash)) AS hamming
FROM bands x JOIN bands y
  ON x.band = y.band AND x.band_bits = y.band_bits AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


@register("dedup_simhash", oracle=_simhash_oracle(SIMHASH_BITS, SIMHASH_BANDS, SIMHASH_MAX_HAMMING))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signatures, banded into 4 x 8-bit keys;
    hamming <= 3 < bands keeps the band join exact (see ``_simhash_pairs``)."""
    return _simhash_pairs(_docs(spark, sf_dir), SIMHASH_BITS, SIMHASH_BANDS, SIMHASH_MAX_HAMMING)


# --- wide SimHash (the scale-path variant) -----------------------------------------

# 60-bit signatures (h60's native width): 6 bands x 10 bits = 1024 bucket
# values per band vs the 32-bit variant's 256 — finer candidate buckets, and
# hamming <= 5 over 60 bits is a stricter near-dup test than 3 over 32.
SIMHASH_WIDE_BITS = 60
SIMHASH_WIDE_BANDS = 6
SIMHASH_WIDE_MAX_HAMMING = 5  # <= bands - 1 keeps the band join exact


@register(
    "dedup_simhash_wide",
    oracle=_simhash_oracle(SIMHASH_WIDE_BITS, SIMHASH_WIDE_BANDS, SIMHASH_WIDE_MAX_HAMMING),
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash variant sized for 100 TB: full 60-bit h60 signatures in
    6 x 10-bit bands. The 32-bit variant's 8-bit bands give only 256 bucket
    values per band — at billions of docs every bucket is huge; 10-bit bands
    quadruple the bucket space and the wider signature makes hamming <= 5 a
    stricter test. Same kernel as ``dedup_simhash``: exact, one fold per
    doc, zero shuffles before the band join."""
    return _simhash_pairs(
        _docs(spark, sf_dir), SIMHASH_WIDE_BITS, SIMHASH_WIDE_BANDS, SIMHASH_WIDE_MAX_HAMMING
    )


# --- embedding-cosine near-dup ------------------------------------------------------------


from ..functions.vectors import (  # noqa: E402  (shared with similarity.py)
    dot_fold,
    dot_fold_sql,
    norm,
    sign_bands,
    sign_bucket_band_sql,
    sqdist,
)
from .similarity import _vectors  # noqa: E402


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding,
         sqrt({dot_fold_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {dot_fold_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {dot_fold_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: all pairs with cosine >= {COSINE_DUP_THRESHOLD}.
    Brute-force pairwise at fixture scale (the verified-exact baseline); the
    production path for 100 TB is the LSH-bucketed candidate generation in
    similarity.py (ann_cosine_topk_lsh) followed by this exact scorer on
    candidates only. Dot products fold left-to-right in double on both
    engines, so scores are bit-exact — no rounding needed."""
    v = _vectors(spark, sf_dir)
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = dot_fold(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


# --- bucketed embedding near-dup (the 100 TB candidate-generation path) ---------


# Multi-table sign LSH, same design (and measured rationale) as
# ann_cosine_topk_lsh: one wide signature measured 0.05 pair recall vs the
# exact all-pairs baseline at sf0.01; 4-bit x 16-table banding measures 0.97
# (tools/approx_quality.py). Constants shared with the manifest oracle.
COSINE_LSH_BAND_BITS = 4
COSINE_LSH_TABLES = 16

# Screen margin for the per-bucket GEMM pre-filter (see
# dedup_embedding_cosine_lsh docstring): must exceed the worst-case
# difference between a BLAS-reordered and a sequential 64-term double sum
# (~1e-13 relative) by a wide mile while staying far below any meaningful
# cosine gap. Pairs inside the margin are re-checked by the exact fold, so
# the margin only affects how much the screen over-admits, never the output.
SCREEN_MARGIN = 1e-6


def _bucket_gemm_screen(pdf):
    """One (table, bucket) group -> near-dup pairs with their EXACT cosine.

    Two numeric passes, one approximate and one exact:

    1. Screen: float64 GEMM (X @ X.T) + pairwise-summed norms; keep pairs
       with screened cosine >= threshold - SCREEN_MARGIN. Fast, reordered
       arithmetic — only ever used to discard pairs that are >= margin
       below threshold, which reordering (error ~1e-13) cannot misjudge.
    2. Verify: for the screened pairs only (output-sized), recompute the
       cosine with strictly SEQUENTIAL left-to-right folds —
       ``np.cumsum(axis=1)[:, -1]`` over the elementwise double products is
       bit-for-bit the same add sequence as Spark's ``F.aggregate`` fold
       seeded at 0.0 and DuckDB's ``list_reduce`` (the
       map_in_arrow_vector_norms precedent) — and apply the exact
       >= threshold cut. Emitted scores are therefore bit-identical to the
       fold the operator is defined by, regardless of BLAS library or
       thread count.

    The same pair surfacing from k colliding tables emits k bit-identical
    rows; the outer ``.distinct()`` collapses them."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64"),
         "cosine": pd.Series(dtype="float64")}
    )
    n = len(pdf)
    if n < 2:
        return empty
    X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    nrm_fast = np.sqrt((X * X).sum(axis=1))
    C = (X @ X.T) / np.outer(nrm_fast, nrm_fast)
    ii, jj = np.triu_indices(n, k=1)
    keep = C[ii, jj] >= (COSINE_DUP_THRESHOLD - SCREEN_MARGIN)
    if not keep.any():
        return empty
    ik, jk = ii[keep], jj[keep]
    # exact sequential folds, only for the screened pairs
    nrm_exact = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
    dots = np.cumsum(X[ik] * X[jk], axis=1)[:, -1]
    cosine = dots / (nrm_exact[ik] * nrm_exact[jk])
    final = cosine >= COSINE_DUP_THRESHOLD
    ids = pdf["vec_id"].to_numpy()
    a, b = ids[ik[final]], ids[jk[final]]
    return pd.DataFrame(
        {
            "vec_a": np.minimum(a, b).astype("int64"),
            "vec_b": np.maximum(a, b).astype("int64"),
            "cosine": cosine[final],
        }
    )


# Candidate-pair CTE body reused verbatim by pipeline_training_manifest's
# oracle so engine and oracle can never drift apart on the bucketing.
EMB_LSH_BANDS_SQL = f"""
  SELECT vb.*, t.tbl,
         CASE t.tbl {" ".join(f"WHEN {t} THEN {sign_bucket_band_sql('embedding', t * COSINE_LSH_BAND_BITS, COSINE_LSH_BAND_BITS)}" for t in range(COSINE_LSH_TABLES))} END AS bucket
  FROM vb CROSS JOIN (SELECT unnest(range({COSINE_LSH_TABLES})) AS tbl) t
"""


@register(
    "dedup_embedding_cosine_lsh",
    oracle=f"""
WITH vb AS (
  SELECT vec_id, embedding,
         sqrt({dot_fold_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
bands AS ({EMB_LSH_BANDS_SQL})
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {dot_fold_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
FROM bands a JOIN bands b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {dot_fold_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with BANDED candidate generation — the scale path
    that replaces ``dedup_embedding_cosine``'s all-pairs theta join at
    100 TB: {COSINE_LSH_TABLES} LSH tables each bucket the corpus on the
    hyperplane signs of their own {COSINE_LSH_BAND_BITS}-dim band, candidate
    pairs share ANY table's bucket, and the exact cosine scorer verifies
    each candidate, so precision is exact by construction.

    Config is MEASURED, not guessed (tools/lsh_frontier.py sweeps every
    (bits x tables) with bits*tables <= dim on the real fixtures): at both
    sf0.01 and sf0.1, ({COSINE_LSH_BAND_BITS}, {COSINE_LSH_TABLES}) is the
    ONLY config with pair recall >= 0.95 (0.966/0.954); widening bands
    collapses recall (6 bits x 10 tables -> 0.54) because the fixture's dup
    pairs top out near cosine 0.51 — barely above random, the regime where
    hyperplane LSH cannot prune hard (candidate fraction 0.65 here;
    tests/test_dedup.py pins the >= 8x-pruning behavior on a TRUE near-dup
    corpus with the same machinery).

    Physical strategy (r5): per-bucket blocked-GEMM screen, exact-fold
    verify. At the recall-mandated (4, 16) config the band join generates
    64% of ALL pairs as candidates (1.29M at sf0.1), and the per-pair cosine
    fold — an interpreted higher-order function; HOFs never enter
    whole-stage codegen, and an unrolled 64-term codegen expression measured
    4x slower still — was the entire cost. Instead each (table, bucket)
    group is screened by ONE numpy float64 matmul inside applyInPandas
    (X @ X.T, the blocked-GEMM shape production vector dedup runs), keeping
    pairs with screened cosine >= threshold - SCREEN_MARGIN. BLAS's
    reordered 64-term sum differs from the sequential fold by ~1e-13
    relative — eight orders inside the 1e-6 margin — so every true
    >= threshold pair always survives the screen; survivors (output-sized)
    are re-scored with the exact sequential fold that DEFINES the operator.
    Emitted pairs and scores are therefore bit-identical to the DuckDB
    oracle, and no boundary decision ever depends on BLAS rounding or
    thread count.

    Scale: the screen shuffles the {COSINE_LSH_TABLES}x-replicated
    (vec_id, embedding, tbl, bucket) rows once; each group is a single
    bucket, so the matmul is small and node-local. Hot-bucket skew is the
    production knob — tile the per-bucket GEMM or salt hot buckets
    (documented, not needed at fixture bucket sizes). The verify join
    broadcasts the vector table while it fits an executor; past that it
    becomes a bucketed-by-vec_id fetch — a deployment constant, not a plan
    rewrite. Deterministic bucketing keeps the DuckDB oracle bit-identical,
    so the approximate variant stays value-hash checked."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", "embedding")
    band_rows = sign_bands("embedding", COSINE_LSH_BAND_BITS, COSINE_LSH_TABLES)
    banded = v.select("vec_id", "embedding", band_rows.alias("b")).select(
        "vec_id", "embedding", "b.tbl", "b.bucket"
    )
    scored = banded.groupBy("tbl", "bucket").applyInPandas(
        _bucket_gemm_screen, schema="vec_a long, vec_b long, cosine double"
    )
    # distinct collapses the k bit-identical rows a pair colliding in k
    # tables emits; the set is output-sized, so the exchange is trivial.
    return scored.distinct()


# --- end-to-end training-corpus pipeline ---------------------------------------


QUALITY_MIN_TOKENS = 30


@register(
    "pipeline_training_corpus",
    oracle=f"""
WITH {_SHINGLE_CTES},
quality AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split(text, ' ')) >= {QUALITY_MIN_TOKENS}
),
exact_survivors AS (
  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
),
near_dup_losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
)
SELECT s.doc_id
FROM exact_survivors s
WHERE NOT EXISTS (SELECT 1 FROM near_dup_losers l WHERE l.doc_id = s.doc_id)
""",
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data pipeline: quality gate (min token count) ->
    exact dedup (keep smallest doc_id per digest) -> near-dup removal (drop
    the higher doc_id of every Jaccard pair) -> surviving corpus ids.

    Composition is free in Spark: each stage is a DataFrame transform, so
    Catalyst plans the WHOLE pipeline as one DAG — the quality filter pushes
    into the scan feeding both dedup stages, and the near-dup removal is a
    plain keyed left_anti join (no broadcast hint: the loser set grows with
    the corpus duplication rate, i.e. it is unbounded at 100 TB, so the
    planner must stay free to shuffle it; AQE still picks broadcast when the
    runtime size allows). This query is the integration proof that the
    individual operators compose without materialization barriers."""
    docs = _docs(spark, sf_dir)
    quality = docs.filter(F.size(F.split("text", " ")) >= QUALITY_MIN_TOKENS)
    exact_survivors = quality.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    losers = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return exact_survivors.select("doc_id").join(losers, "doc_id", "left_anti")


# --- train/eval contamination check --------------------------------------------

EVAL_SPLIT_MOD = 5  # doc_id % 5 == 0 -> eval split (deterministic 20% holdout)


@register(
    "dedup_contamination_check",
    oracle=f"""
WITH {_SHINGLE_CTES},
cpairs AS (
  SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
         count(*) AS inter, any_value(e.n) AS na, any_value(t.n) AS nb
  FROM ex e JOIN ex t ON e.s = t.s
   AND e.doc_id % {EVAL_SPLIT_MOD} = 0 AND t.doc_id % {EVAL_SPLIT_MOD} <> 0
  GROUP BY 1, 2
)
SELECT eval_id, count(*) AS n_train_dups,
       max(CAST(inter AS DOUBLE) / (na + nb - inter)) AS max_jaccard
FROM cpairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
GROUP BY eval_id
""",
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: find held-out documents (deterministic
    doc_id % {EVAL_SPLIT_MOD} == 0 split) that are near-duplicates of any
    TRAINING document — exactly the leakage scan a benchmark-hygiene pass
    runs before training. Same inverted-index candidate generation as
    dedup_ngram_jaccard (work scales with co-shingled cross-split pairs,
    never |eval| x |train|), with the split predicates pushed into both
    exploded sides so each side scans only its split."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    ev = ex.filter(F.col("doc_id") % EVAL_SPLIT_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("n").alias("na"), "s"
    )
    tr = ex.filter(F.col("doc_id") % EVAL_SPLIT_MOD != 0).select(
        F.col("doc_id").alias("train_id"), F.col("n").alias("nb"), "s"
    )
    jaccard = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        ev.join(tr, "s")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("inter"), F.min("na").alias("na"), F.min("nb").alias("nb"))
        .filter(jaccard >= JACCARD_THRESHOLD)
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_dups"),
            F.max(jaccard).alias("max_jaccard"),
        )
    )


# --- transitive dedup clusters (connected components over dup pairs) -------------


MAX_CC_ITERATIONS = 20
CC_CHECKPOINT_EVERY = 2


# Shared by dedup_clusters (label propagation), dedup_clusters_star
# (star contractions), and er_golden_record (survivorship over the same
# clusters): all compute the same fixpoint, declaratively restated as a
# recursive reachability CTE. _CC_CTES is the CTE body (through `comp`);
# _CC_ORACLE is the standalone (doc_id, cluster_id) labeling query.
_CC_CTES = f"""
{_SHINGLE_CTES},
jp AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jp
  UNION ALL
  SELECT doc_b, doc_a FROM jp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
"""

_CC_ORACLE = f"""
WITH RECURSIVE
{_CC_CTES}
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


@register("dedup_clusters", oracle=_CC_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate CLUSTERS: near-dup pairs are edges; every doc is
    labeled with the smallest doc_id reachable through them (connected
    components), singletons labeling themselves. Pairwise dedup alone under-
    deletes: if A~B and B~C but A!~C, keep-one-per-pair retains two of the
    three — clustering retains exactly one.

    Spark side: iterative min-label propagation — per round, each node takes
    min(own label, neighbors' labels); converges in O(component diameter)
    rounds (each round one shuffle join). Intermediate labels are persisted
    and the loop exits on a converged round — the driver holds ONE scalar per
    round (the changed-row count), never data. The DuckDB oracle computes
    the same fixpoint declaratively with a recursive CTE; the iterative
    Spark form is the one that scales (transitive closure materializes
    O(n^2) rows per component, min-label state stays O(n))."""
    jp = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    fwd = jp.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # localCheckpoint, not persist (VERDICT r5 #3): EVERY round's plan
    # references the edge set, so an un-truncated edges lineage re-embeds
    # the whole inverted-index Jaccard pipeline once per round in the final
    # plan (that alone was ~200 audited shuffles), and an evicted cache
    # block would recompute near-dup from the shingle scan.
    edges = track_checkpoint(
        fwd.union(jp.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    labels = track_persist(docs.select("doc_id", F.col("doc_id").alias("cluster_id")))
    labels.count()

    def min_label_round(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # The changed flag rides the materialized round table (new label is
        # least(old, nbr_min), so changed iff nbr_min < old): the former
        # separate new-vs-old join for the convergence count re-shuffled
        # both label tables once per round; filtering the already-persisted
        # table costs one cached scan and no exchange.
        return labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
            (F.col("nbr_min") < F.col("cluster_id")).alias("chg"),
        )

    # past MAX_CC_ITERATIONS (a wider component) iterate raises: partial
    # labels would diverge from the recursive-CTE oracle
    labels = iterate(
        labels,
        min_label_round,
        MAX_CC_ITERATIONS,
        until=lambda _old, new: new.filter(F.col("chg")).count() == 0,
        checkpoint_every=CC_CHECKPOINT_EVERY,
        name="dedup_clusters",
    )
    return labels.select("doc_id", "cluster_id")


# --- star-contraction connected components (large-star / small-star) -------------

MAX_STAR_ROUNDS = 15


@register("dedup_clusters_star", oracle=_CC_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same transitive dup clusters as ``dedup_clusters``, computed by
    alternating LARGE-STAR / SMALL-STAR contractions (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) instead of
    min-label propagation. Label propagation needs O(component diameter)
    rounds — a 10,000-doc quote chain is 10,000 rounds; star contraction
    converges in O(log^2 n) rounds regardless of diameter, which is why
    it's the published algorithm for planet-scale graphs. Same output, same
    oracle: the recursive-CTE fixpoint (and a row-identical differential vs
    dedup_clusters in tests/test_dedup.py).

    Each round is two grouped aggregates + two joins over the current edge
    set, which only SHRINKS (edges point at component minima ever faster).
    large-star: every node u hangs its larger neighbors onto
    m = min(N(u) ∪ u); small-star: each edge oriented toward its smaller
    endpoint, u hangs N(u) ∪ u onto the minimum. Edge sets are kept
    canonical (a < b) and distinct and checkpointed every round (star
    rounds REWRITE the whole edge set)."""
    jp = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # canonical undirected edge set: (a < b), distinct
    cur = track_checkpoint(
        jp.select(
            F.least("doc_a", "doc_b").alias("a"), F.greatest("doc_a", "doc_b").alias("b")
        ).distinct()
    )

    def star_round(cur: DataFrame) -> DataFrame:
        # ---- large-star: both orientations; attach v > u to min(N(u), u)
        both = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("mn"), F.col("u")).alias("a"), F.col("v").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: orient toward the smaller endpoint (u = larger);
        # attach N(u) ∪ {u} to m = min(N(u))
        sm = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = sm.groupBy("u").agg(F.min("v").alias("m"))
        ss_neighbors = (
            sm.join(smins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        ss_self = smins.select(F.col("m").alias("a"), F.col("u").alias("b"))
        return ss_neighbors.union(ss_self).distinct()

    sizes = [cur.count()]

    def unchanged(old: DataFrame, new: DataFrame) -> bool:
        # converged iff the canonical edge set is unchanged (both distinct:
        # equal counts + empty difference)
        sizes.append(new.count())
        return sizes[-1] == sizes[-2] and new.exceptAll(old).count() == 0

    cur = iterate(cur, star_round, MAX_STAR_ROUNDS, until=unchanged, name="dedup_clusters_star")
    # at the fixpoint every edge is (root, member); roots label themselves
    comp = cur.groupBy(F.col("b").alias("doc_id")).agg(F.min("a").alias("mn")).union(
        cur.groupBy(F.col("a").alias("doc_id")).agg(F.min("a").alias("mn"))
    )
    labels = comp.groupBy("doc_id").agg(F.min("mn").alias("lbl"))
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("doc_id"), F.coalesce(F.col("lbl"), F.col("doc_id"))).alias(
            "cluster_id"
        ),
    )


# --- Asymmetric shingle containment (partial-copy / subset near-dup) --------------

CONTAINMENT_THRESHOLD = 0.5


@register(
    "dedup_shingle_containment",
    oracle=f"""
WITH {_SHINGLE_CTES},
directed AS (
  SELECT doc_a AS contained_id, doc_b AS container_id,
         CAST(inter AS DOUBLE) / na AS containment
  FROM pairs
  UNION ALL
  SELECT doc_b AS contained_id, doc_a AS container_id,
         CAST(inter AS DOUBLE) / nb AS containment
  FROM pairs
)
SELECT contained_id, container_id, containment
FROM directed
WHERE containment >= {CONTAINMENT_THRESHOLD}
""",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment near-dup: C(A->B) = |S(A) ∩ S(B)| / |S(A)|
    (Broder's containment, the asymmetric companion to Jaccard resemblance).
    Containment is THE quote/excerpt/partial-copy detector for training
    corpora: a short doc fully quoted inside a long one has tiny Jaccard
    (the union is dominated by the long doc) but containment ~1.0, so the
    symmetric dedup passes miss exactly the pairs this one keeps.

    Scale: identical inverted-index shape as ``dedup_ngram_jaccard`` — only
    co-shingled pairs materialize, ONE shuffle on the shingle plus one on the
    pair key; both directed rows derive from the same undirected aggregate
    (no second pass over the index). The division inter/|A| is a single IEEE
    op in both engines."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    # BOTH directions explode out of the single pair aggregate in one
    # lineage — a fwd.unionAll(rev) of two selects re-runs the whole
    # inverted-index pipeline per branch (plan audit: 10 shuffles -> 5).
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained_id"),
                    F.col("doc_b").alias("container_id"),
                    (F.col("inter").cast("double") / F.col("na")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained_id"),
                    F.col("doc_a").alias("container_id"),
                    (F.col("inter").cast("double") / F.col("nb")).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.contained_id", "d.container_id", "d.containment")
    return directed.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


# --- Canonical selection: keep the best document per duplicate cluster --------------


@register(
    "dedup_canonical_selection",
    oracle=f"""
WITH RECURSIVE
{_SHINGLE_CTES},
jp AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jp
  UNION ALL
  SELECT doc_b, doc_a FROM jp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
labeled AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
           / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS quality
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT cluster_id,
       -max(struct_pack(q := quality, nd := -doc_id)).nd AS canonical_id,
       max(struct_pack(q := quality, nd := -doc_id)).q AS canonical_quality,
       count(*) AS n_members
FROM labeled
GROUP BY cluster_id
""",
)
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after transitive clustering, keep the
    HIGHEST-QUALITY member of each duplicate cluster (unique-word ratio —
    an exact two-integer division both engines compute identically), ties
    to the smallest doc_id — the curation rule real pipelines use instead
    of keep-smallest-id (the best-written copy survives, not the first
    crawled).

    Scale: inherits dedup_clusters' label-propagation output (one column
    pair), scores each doc with a per-row expression, and picks the argmax
    per cluster with a single struct-max aggregate — deterministic ties via
    (quality, -doc_id) lexicographic order, the stats_argminmax precedent."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (
            F.size(F.array_distinct(F.split("text", " "))).cast("double")
            / F.size(F.split("text", " ")).cast("double")
        ).alias("quality"),
    )
    labeled = clusters.join(docs, "doc_id")
    pair = F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nd"))
    agg = labeled.groupBy("cluster_id").agg(
        F.max(pair).alias("mx"), F.count(F.lit(1)).alias("n_members")
    )
    return agg.select(
        "cluster_id",
        (-F.col("mx.nd")).alias("canonical_id"),
        F.col("mx.q").alias("canonical_quality"),
        "n_members",
    )


# --- self-measuring dedup quality report -------------------------------------------


@register(
    "dedup_quality_report",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_MINHASH_CAND_CTES},
truth AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
approx AS (
  SELECT c.doc_a, c.doc_b
  FROM cands c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
  WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM approx) AS n_approx,
         (SELECT count(*) FROM approx a JOIN truth t
            ON a.doc_a = t.doc_a AND a.doc_b = t.doc_b) AS tp
)
SELECT n_truth, n_approx, tp,
       CASE WHEN n_approx > 0 THEN CAST(tp AS DOUBLE) / n_approx END AS precision,
       CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END AS recall
FROM m
""",
)
def dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring approximate-dedup gate: MinHash-LSH's verified pairs
    scored against the exact inverted-index Jaccard truth — precision and
    recall as a REGISTERED, value-hash-checked query rather than an
    offline tool (tools/approx_quality.py measures the frontier; this row
    keeps the shipped configuration's quality under the same driver gate
    as the operators themselves). Because the LSH path exact-verifies its
    candidates, precision is 1.0 by construction and recall is the banding
    miss rate — a recall drop in this row is a direct signal the
    (bands, rows) config stopped covering the corpus's similarity regime.

    Scale: both pair sets are the existing operators' plans (inverted
    index, band join); the metrics are ONE full-outer join of the two
    |pairs|-sized result sets plus one conditional aggregate — a single
    Spark action in a single Catalyst DAG (VERDICT r5 #4 folded the former
    three driver-side counts into the plan), not a new scan shape."""
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("t", F.lit(1))
    )
    approx = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("a", F.lit(1))
    )
    counts = (
        truth.join(approx, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.count("t").alias("n_truth"),
            F.count("a").alias("n_approx"),
            F.count(F.when(F.col("t").isNotNull() & F.col("a").isNotNull(), 1)).alias("tp"),
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return counts.select(
        "n_truth",
        "n_approx",
        "tp",
        F.when(F.col("n_approx") > 0, dbl("tp") / dbl("n_approx")).alias("precision"),
        F.when(F.col("n_truth") > 0, dbl("tp") / dbl("n_truth")).alias("recall"),
    )


# --- per-source duplication-rate report ------------------------------------------


@register(
    "dedup_rate_by_source",
    oracle=f"""
WITH {_SHINGLE_CTES},
jp AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
ds AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT a.source AS sa, b.source AS sb
  FROM jp JOIN ds a ON a.doc_id = jp.doc_a JOIN ds b ON b.doc_id = jp.doc_b
),
dupdocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b AS doc_id FROM jp
  )
),
per AS (
  SELECT d.source, count(*) AS n_docs,
         sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_docs
  FROM ds d LEFT JOIN dupdocs dd ON dd.doc_id = d.doc_id GROUP BY d.source
),
wp AS (SELECT sa AS source, count(*) AS n FROM lab WHERE sa = sb GROUP BY sa),
cp AS (
  SELECT source, count(*) AS n FROM (
    SELECT sa AS source FROM lab WHERE sa <> sb
    UNION ALL SELECT sb AS source FROM lab WHERE sa <> sb
  ) GROUP BY source
)
SELECT per.source, CAST(per.n_docs AS BIGINT) AS n_docs,
       CAST(per.n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST(per.n_dup_docs AS DOUBLE) / CAST(per.n_docs AS DOUBLE) AS dup_doc_rate,
       CAST(COALESCE(wp.n, 0) AS BIGINT) AS n_pairs_within,
       CAST(COALESCE(cp.n, 0) AS BIGINT) AS n_pairs_cross
FROM per LEFT JOIN wp ON wp.source = per.source
         LEFT JOIN cp ON cp.source = per.source
""",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication diagnostics — the curation report that decides
    which sources get down-weighted or re-crawled: for every source, how
    many of its documents participate in at least one near-dup pair
    (dup_doc_rate), how many pairs stay WITHIN the source (internal
    redundancy — boilerplate, mirrors) vs CROSS sources (syndication,
    scraping overlap; counted once per endpoint source). Consumes the exact
    inverted-index Jaccard pairs, so the report inherits their candidate
    bound; everything after is source-keyed aggregates over the pair list
    (pairs << corpus) plus one doc-grain left join — at 100 TB the report
    costs one corpus scan more than the dedup it audits."""
    # persist: the pair list feeds TWO consumers (the source-label join and
    # the dup-doc distinct) — as pure lineage the whole inverted-index
    # explode + self-join + verify pipeline would run twice. The persisted
    # table is pair-sized (near-dup pairs << corpus).
    jp = track_persist(dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"))
    ds = _docs(spark, sf_dir).select("doc_id", "source")
    lab = (
        jp.join(ds.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a")
        .join(ds.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
        .select("sa", "sb")
    )
    dupdocs = (
        jp.select(F.col("doc_a").alias("doc_id"))
        .union(jp.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    per = (
        ds.join(dupdocs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_docs"),
        )
    )
    wp = lab.filter(F.col("sa") == F.col("sb")).groupBy(F.col("sa").alias("source")).agg(
        F.count(F.lit(1)).alias("n_within")
    )
    cross = lab.filter(F.col("sa") != F.col("sb"))
    cp = (
        cross.select(F.col("sa").alias("source"))
        .union(cross.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_cross"))
    )
    return (
        per.join(F.broadcast(wp), "source", "left")
        .join(F.broadcast(cp), "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            (F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")).alias(
                "dup_doc_rate"
            ),
            F.coalesce(F.col("n_within"), F.lit(0)).cast("long").alias("n_pairs_within"),
            F.coalesce(F.col("n_cross"), F.lit(0)).cast("long").alias("n_pairs_cross"),
        )
    )


# --- SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023) ------------------

SEMDEDUP_K = 8  # coarse clusters at fixture scale; scales with corpus size
SEMDEDUP_T = COSINE_DUP_THRESHOLD  # same near-dup bar as the exact baseline


def _semdedup_sqdist_sql(vec: str, cent: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({vec})+1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - {cent}[i]) * (CAST({vec}[i] AS DOUBLE) - {cent}[i])), "
        "(x, y) -> x + y)"
    )


@register(
    "dedup_semdedup_prune",
    oracle=f"""
WITH c0 AS (
  SELECT vec_id AS ccid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM embeddings WHERE vec_id < {SEMDEDUP_K}
),
s AS (
  SELECT v.vec_id, c0.ccid, {_semdedup_sqdist_sql('v.embedding', 'c0.c')} AS dist
  FROM embeddings v CROSS JOIN c0
),
a AS (
  SELECT vec_id, min(struct_pack(d := dist, c := ccid)).c AS cid
  FROM s GROUP BY vec_id
),
v AS (
  SELECT a.vec_id, a.cid, e.embedding,
         sqrt({dot_fold_sql('e.embedding', 'e.embedding')}) AS nrm
  FROM a JOIN embeddings e ON e.vec_id = a.vec_id
),
m AS (
  SELECT hi.vec_id,
         max({dot_fold_sql('lo.embedding', 'hi.embedding')} / (lo.nrm * hi.nrm))
           AS max_sim_lower
  FROM v hi JOIN v lo ON lo.cid = hi.cid AND lo.vec_id < hi.vec_id
  GROUP BY hi.vec_id
)
SELECT v.vec_id, v.cid,
       coalesce(m.max_sim_lower >= {SEMDEDUP_T}, false) AS dropped,
       m.max_sim_lower
FROM v LEFT JOIN m ON m.vec_id = v.vec_id
""",
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped to coarse
    clusters. One pass assigns every embedding to its nearest of K fixed
    centroids (the first K corpus vectors — the same deterministic
    offline-k-means stand-in as IVF's coarse table; ties to the smaller
    centroid id); pairwise exact cosine then runs WITHIN each cluster only,
    and a vector is pruned when any smaller-id cluster-mate sits at or above
    the near-dup bar (keep-lowest-id, the registry's canonical-selection
    policy). Cross-cluster near-dups are out of scope by construction —
    that is the SemDeDup trade: candidate scope bounded by the cluster, not
    the corpus.

    100 TB shape: centroids broadcast (assignment never shuffles the
    corpus); the quadratic stage is per-cluster, so K grows with the corpus
    to cap member counts and the pair join shuffles on cid only. The
    per-cluster all-pairs scorer swaps for the float64 GEMM screen +
    sequential-fold verify of dedup_embedding_cosine_lsh unchanged (both
    score a bounded candidate bucket). Every emitted cosine is the strict
    left-to-right double fold — bit-identical across engines."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("ccid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    scored = emb.join(F.broadcast(cents)).select(
        "vec_id", "ccid", sqdist(F.col("embedding"), F.col("c")).alias("dist")
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "ccid")).alias("m"))
        .select("vec_id", F.col("m.ccid").alias("cid"))
    )
    v = track_persist(
        assign.join(emb, "vec_id").select(
            "vec_id",
            "cid",
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
        )
    )
    lo = v.select(
        F.col("cid").alias("lo_cid"),
        F.col("vec_id").alias("lo_id"),
        F.col("embedding").alias("lo_e"),
        F.col("nrm").alias("lo_n"),
    )
    hi = v.select(
        F.col("cid").alias("hi_cid"),
        F.col("vec_id").alias("hi_id"),
        F.col("embedding").alias("hi_e"),
        F.col("nrm").alias("hi_n"),
    )
    cos = dot_fold(F.col("lo_e"), F.col("hi_e")) / (F.col("lo_n") * F.col("hi_n"))
    m = (
        lo.join(hi, (F.col("lo_id") < F.col("hi_id")) & (F.col("lo_cid") == F.col("hi_cid")))
        .select(F.col("hi_id").alias("vec_id"), cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_sim_lower"))
    )
    return v.join(m, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.coalesce(F.col("max_sim_lower") >= SEMDEDUP_T, F.lit(False)).alias("dropped"),
        "max_sim_lower",
    )


# --- incremental dedup: new batch vs the standing corpus --------------------------

# Deterministic batch split: every 10th doc is "tonight's ingest", the rest
# is the standing corpus. The MODULUS is the fixture stand-in for an
# ingest-timestamp predicate; the operator's shape is what matters.
INCR_DELTA_MOD = 10


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_MINHASH_CAND_CTES},
rcands AS (
  SELECT doc_a AS new_doc, doc_b AS base_doc FROM cands WHERE doc_a % {INCR_DELTA_MOD} = 0 AND doc_b % {INCR_DELTA_MOD} <> 0
  UNION ALL
  SELECT doc_b AS new_doc, doc_a AS base_doc FROM cands WHERE doc_b % {INCR_DELTA_MOD} = 0 AND doc_a % {INCR_DELTA_MOD} <> 0
),
verified AS (
  SELECT r.new_doc, r.base_doc,
         CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) AS jaccard
  FROM rcands r JOIN pairs p
    ON p.doc_a = least(r.new_doc, r.base_doc) AND p.doc_b = greatest(r.new_doc, r.base_doc)
  WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
)
SELECT new_doc,
       min(struct_pack(nj := -jaccard, b := base_doc)).b AS dup_of,
       max(jaccard) AS best_jaccard,
       count(*) AS n_matches
FROM verified GROUP BY new_doc
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (nightly-ingest) near-dedup: only the NEW batch is
    checked, and only against the standing corpus — never base-vs-base.
    MinHash band signatures bucket-join delta x base, exact Jaccard verifies
    the candidates, and each new document reports its best standing match
    (ties to the smaller doc_id via the (-jaccard, id) struct-min). The
    decision an ingest pipeline actually needs: which of tonight's documents
    are already in the corpus.

    Why this is its own operator and not a filter over dedup_minhash_lsh:
    the work scales with |delta| x bucket-collisions, not |corpus|^2 — the
    base side's band table is a MAINTAINED ARTIFACT at scale (computed once,
    appended per batch, stored bucketed on (band_idx, band_hash) so the
    nightly join is co-located and shuffle-free); only delta signatures are
    computed per run. Here both sides derive from the fixture in one plan,
    which is the same join shape with the artifact inlined. Delta-internal
    duplicates are out of scope by definition (they dedup against each
    other when the batch is folded into the corpus index)."""
    sh = _shingled(spark, sf_dir)
    bands = track_persist(_minhash_bands(sh))
    is_delta = F.col("doc_id") % INCR_DELTA_MOD == 0
    x = bands.filter(is_delta).select(
        F.col("doc_id").alias("new_doc"), "band_idx", "band_hash"
    )
    y = bands.filter(~is_delta).select(
        F.col("doc_id").alias("base_doc"), "band_idx", "band_hash"
    )
    cands = x.join(y, ["band_idx", "band_hash"]).select("new_doc", "base_doc").distinct()
    a = sh.select(F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("base_doc"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    verified = (
        cands.join(a, "new_doc")
        .join(b, "base_doc")
        .select("new_doc", "base_doc", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.groupBy("new_doc").agg(
        F.min(
            F.struct((-F.col("jaccard")).alias("nj"), F.col("base_doc").alias("b"))
        )["b"].alias("dup_of"),
        F.max("jaccard").alias("best_jaccard"),
        F.count(F.lit(1)).alias("n_matches"),
    )


# --- sorted-neighborhood blocking (classic entity-resolution candidate gen) --------

SNM_WINDOW = 4     # sliding window width over the sorted order
SNM_SHARDS = 16    # range shards for the distributed global rank
SNM_KEY_LEN = 12   # normalized-prefix sort key length


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH {_SHINGLE_CTES},
k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, {SNM_KEY_LEN}) AS sk
  FROM documents
),
r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rnk FROM k),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b,
         b.rnk - a.rnk AS rank_gap
  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW - 1}
)
SELECT c.doc_a, c.doc_b, c.rank_gap,
       CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) AS jaccard
FROM cand c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
""",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the classic
    entity-resolution candidate generator the LSH family doesn't cover: sort
    all documents by a normalized prefix key, slide a {SNM_WINDOW}-wide
    window over the order, verify each in-window pair with exact shingle
    Jaccard. Catches near-dups whose EDITS are late in the document (shared
    prefix ⇒ adjacent in sort order) at O(n·w) candidates, independent of
    shingle statistics.

    Scale — the global sort rank is computed WITHOUT a global window: range-
    partition on the key ({SNM_SHARDS} shards; Spark's range partitioner
    samples balanced boundaries, so Zipf-heavy prefixes spread across
    shards), per-shard row_number, plus a broadcast {SNM_SHARDS}-row prefix-
    count offset table (the token_shard_assembly two-level pattern). The
    rank is boundary-invariant because (sk, doc_id) is a strict total
    order. In-window pairs then come from an EQUI-join on the rank band
    rnk DIV {SNM_WINDOW} (each right row also lands in the preceding band,
    so every pair within distance {SNM_WINDOW - 1} matches exactly once) —
    no inequality join, no skew."""
    cand = _snm_candidate_pairs(spark, sf_dir)
    shingles = _shingled(spark, sf_dir)
    sa = shingles.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    sb = shingles.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    # nullif: SNM candidates come from sort adjacency, NOT shared shingles,
    # so two shingle-less docs (shorter than the shingle width) can pair
    # with union = 0 — Jaccard is undefined there and ANSI division crashes
    # (r8 unicode sweep); NULL drops at the threshold filter, exactly like
    # the oracle, whose pairs CTE never contains co-shingle-free pairs.
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "rank_gap",
            (inter.cast("double") / F.nullif(union, F.lit(0))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs (doc_a < doc_b, rank_gap in
    [1, SNM_WINDOW-1]) — the blocking stage of dedup_sorted_neighborhood,
    shared with er_blocking_quality. Global rank without a global window:
    range-shard on the key, per-shard row_number, broadcast prefix-count
    offsets (see the caller's docstring for the full scale argument)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sk = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, SNM_KEY_LEN
    )
    k = docs.select("doc_id", sk.alias("sk"))
    sh = k.repartitionByRange(SNM_SHARDS, "sk", "doc_id").withColumn(
        "shard", F.spark_partition_id()
    )
    s = sh.select(
        "doc_id",
        "shard",
        F.row_number()
        .over(Window.partitionBy("shard").orderBy("sk", "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    offs = (
        s.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "shard",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    r = s.join(F.broadcast(offs), "shard").select(
        "doc_id", (F.col("off") + F.col("pos")).alias("rnk")
    )
    w = SNM_WINDOW
    a = r.select(
        F.col("doc_id").alias("da"), F.col("rnk").alias("ra"),
        F.expr(f"rnk DIV {w}").alias("bk"),
    )
    b = r.select(
        F.col("doc_id").alias("db"), F.col("rnk").alias("rb"),
        F.explode(F.array(F.expr(f"rnk DIV {w}"), F.expr(f"rnk DIV {w} - 1"))).alias("bk"),
    )
    return (
        a.join(b, "bk")
        .filter((F.col("rb") - F.col("ra")).between(1, w - 1))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            (F.col("rb") - F.col("ra")).alias("rank_gap"),
        )
    )


# --- cross-source contamination matrix ----------------------------------------------


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH {_SHINGLE_CTES},
{_MINHASH_CAND_CTES},
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cands c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
  WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= {JACCARD_THRESHOLD}
),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM verified v
  JOIN documents da ON da.doc_id = v.doc_a
  JOIN documents db ON db.doc_id = v.doc_b
),
n_src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT t.source_a, t.source_b, count(*) AS n_dup_pairs,
       any_value(na.n_docs) AS docs_a, any_value(nb.n_docs) AS docs_b,
       CAST(count(*) AS DOUBLE) / CAST(any_value(na.n_docs) * any_value(nb.n_docs) AS DOUBLE)
         AS pair_density
FROM tagged t
JOIN n_src na ON na.source = t.source_a
JOIN n_src nb ON nb.source = t.source_b
GROUP BY 1, 2
""",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — the curation report that tells a
    corpus owner WHERE its near-duplicates come from: every verified
    MinHash/LSH near-dup pair is attributed to its (source_a, source_b)
    bucket (unordered, via least/greatest so the matrix is upper-
    triangular), with pair counts normalized by the source-pair's document
    cross-size (one IEEE division of exact counts). Diagonal cells are
    within-source redundancy; off-diagonal cells are mirror/scrape overlap
    between feeds — the signal that drives source-level dedup ordering and
    mixture-weight corrections.

    Scale: reuses the dedup_minhash_lsh candidate plan unchanged (banded
    signatures, bucket equi-join, exact verification); the attribution adds
    two key joins against the slim (doc_id, source) projection and one
    |sources|^2-bounded aggregate — nothing new shuffles at corpus scale."""
    sh = _shingled(spark, sf_dir)
    bands = track_persist(_minhash_bands(sh))
    x = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    y = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    cands = (
        x.join(y, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = _jaccard_verified(cands, sh, JACCARD_THRESHOLD).select("doc_a", "doc_b")
    docs = _docs(spark, sf_dir)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    tagged = (
        verified.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
    )
    n_src = docs.groupBy(F.col("source")).agg(F.count(F.lit(1)).alias("n_docs"))
    na = n_src.select(F.col("source").alias("source_a"), F.col("n_docs").alias("docs_a"))
    nb = n_src.select(F.col("source").alias("source_b"), F.col("n_docs").alias("docs_b"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a", "source_b", "n_dup_pairs", "docs_a", "docs_b",
            (
                F.col("n_dup_pairs").cast("double")
                / (F.col("docs_a") * F.col("docs_b")).cast("double")
            ).alias("pair_density"),
        )
    )


# --- per-eval-doc n-gram contamination fraction ---------------------------------

CONTAM_FRAC_MIN = 5  # contaminated iff matched * 5 >= total (>= 20% overlap)


@register(
    "contamination_ngram_fraction",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
train_set AS (SELECT DISTINCT s FROM ex WHERE doc_id % {EVAL_SPLIT_MOD} <> 0),
ev AS (SELECT doc_id, s FROM ex WHERE doc_id % {EVAL_SPLIT_MOD} = 0)
SELECT ev.doc_id AS eval_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(t.s) AS BIGINT) AS n_matched,
       CAST(count(t.s) AS DOUBLE) / count(*) AS contaminated_frac,
       count(t.s) * {CONTAM_FRAC_MIN} >= count(*) AS contaminated
FROM ev LEFT JOIN train_set t ON ev.s = t.s
GROUP BY ev.doc_id
""",
)
def contamination_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/PaLM-style decontamination METRIC: for every eval-split document
    (doc_id % {EVAL_SPLIT_MOD} == 0), the fraction of its distinct word
    3-grams that appear anywhere in the train split, plus the >= 20% flag.
    dedup_contamination_check answers "which eval docs near-duplicate a
    train doc" (pair grain); this answers the finer published-decontam
    question "how much of each eval doc leaked" — an eval doc stitched from
    many train snippets contaminates without any single near-dup pair.

    Spark shape: one distinct over the train shingle index (map-side
    combine), then a shingle-keyed LEFT join from the eval explode — the
    inverted-index semi-join shape, never doc x doc. Both sides shuffle on
    the shingle only; the per-doc rollup shuffles |eval shingles| rows. At
    100 TB the documented swap is h60(shingle) for the join key (16x
    narrower rows, same semantics modulo md5 collisions); raw strings here
    keep the oracle exact. Docs with < 3 words have no shingles and drop
    out of BOTH engines identically (explode of an empty array)."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    train_set = (
        ex.filter(F.col("doc_id") % EVAL_SPLIT_MOD != 0)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = ex.filter(F.col("doc_id") % EVAL_SPLIT_MOD == 0)
    return (
        ev.join(train_set, "s", "left")
        .groupBy(F.col("doc_id").alias("eval_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_matched"),
        )
        .select(
            "eval_id",
            "n_shingles",
            "n_matched",
            (F.col("n_matched").cast("double") / F.col("n_shingles")).alias(
                "contaminated_frac"
            ),
            (F.col("n_matched") * CONTAM_FRAC_MIN >= F.col("n_shingles")).alias(
                "contaminated"
            ),
        )
    )


# --- golden-record survivorship over duplicate clusters --------------------------


@register(
    "er_golden_record",
    oracle=f"""
WITH RECURSIVE
{_CC_CTES},
labels AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         d.lang, d.source, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
lang_mode AS (
  SELECT cluster_id, lang AS lang_golden FROM (
    SELECT cluster_id, lang,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC, lang) AS rn
    FROM labels GROUP BY cluster_id, lang) WHERE rn = 1
),
source_mode AS (
  SELECT cluster_id, source AS source_golden FROM (
    SELECT cluster_id, source,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC, source) AS rn
    FROM labels GROUP BY cluster_id, source) WHERE rn = 1
),
base AS (
  SELECT cluster_id, min(doc_id) AS canonical_id,
         count(*) AS n_members,
         max(n_chars) AS max_n_chars,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM labels GROUP BY cluster_id
)
SELECT b.cluster_id, b.canonical_id, b.n_members,
       l.lang_golden, s.source_golden, b.max_n_chars, b.total_chars
FROM base b
JOIN lang_mode l USING (cluster_id)
JOIN source_mode s USING (cluster_id)
""",
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP: one golden record per duplicate
    cluster, each field resolved independently by its own merge rule — the
    step after clustering that dedup_canonical_selection (keep one whole
    member) deliberately skips. Field rules here: `lang`/`source` by mode
    (most frequent value, ties to the lexicographic smallest — the standard
    most-attested-value rule), `n_chars` by max, canonical id by min,
    plus member count and total bytes as merge provenance.

    Spark shape: cluster labels come from the iterative min-label
    propagation (dedup_clusters — O(diameter) rounds, localCheckpointed);
    survivorship itself is two (cluster, field)-keyed counts + one
    cluster-keyed profile aggregate, all map-side combined, joined at
    cluster grain (bounded by |docs|). Nothing here is pair- or
    quadratic-grain; at 100 TB the labels table is the expensive input and
    it is shared work with every other cluster consumer. The mode argmax is
    an integer-ordered row_number — no floats anywhere."""
    labels = dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    # persist: the labeled-docs join feeds THREE aggregates (profile + two
    # field modes) — as pure lineage the label join re-runs per consumer.
    lab = track_persist(labels.join(docs, "doc_id"))
    base = lab.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("max_n_chars"),
        F.sum("n_chars").alias("total_chars"),
    )

    def _mode(col: str, out: str) -> DataFrame:
        # Argmax as a struct-min AGGREGATE, not a row_number window: the
        # (count DESC, value ASC NULLS LAST) order is encoded as
        # min(struct(-c, value IS NULL, value)) — the null flag keeps the r8
        # survivorship rule (a real attested value beats NULL on a count
        # tie; Spark's bare ASC is nulls-FIRST, which diverged from the
        # oracle's nulls-last row_number in the r8 adversarial sweep). The
        # aggregate is map-side combinable and needs no per-cluster sort;
        # the null field itself is never the tiebreaker — a cluster has at
        # most one NULL-value vote row, so two structs never compare equal
        # through the flag.
        return (
            lab.groupBy("cluster_id", col)
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col(col).isNull().alias("un"),
                        F.col(col).alias("v"),
                    )
                ).alias("m")
            )
            .select("cluster_id", F.col("m.v").alias(out))
        )

    return (
        base.join(_mode("lang", "lang_golden"), "cluster_id")
        .join(_mode("source", "source_golden"), "cluster_id")
        .select(
            "cluster_id",
            "canonical_id",
            "n_members",
            "lang_golden",
            "source_golden",
            "max_n_chars",
            "total_chars",
        )
    )


# --- blocking quality audit (reduction ratio / pairs completeness) -------------------


@register(
    "er_blocking_quality",
    oracle=f"""
WITH {_SHINGLE_CTES},
k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, {SNM_KEY_LEN}) AS sk
  FROM documents
),
r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rnk FROM k),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW - 1}
),
truth AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
ng AS (
  SELECT CAST(count(*) AS BIGINT) AS n_caught
  FROM cand c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT n.n_docs, nc.n_candidates, nt.n_true, ng.n_caught,
       CAST(ng.n_caught AS DOUBLE) / nullif(nt.n_true, 0) AS pairs_completeness,
       1.0 - CAST(nc.n_candidates AS DOUBLE)
           / nullif(CAST(n.n_docs AS DOUBLE) * (n.n_docs - 1) / 2.0, 0.0) AS reduction_ratio
FROM n, nc, nt, ng
""",
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit — the two standard entity-resolution metrics
    (Christen, "Data Matching" 2012) that tell a pipeline owner whether a
    blocking scheme is safe to rely on BEFORE committing the expensive
    verify stage to it: reduction ratio (fraction of the O(n^2) pair space
    the blocking prunes) and pairs completeness (recall of the candidate
    set against the exact-Jaccard truth set — here the same J >= t pairs
    the inverted-index dedup family verifies). One row:
    (n_docs, n_candidates, n_true, n_caught, pairs_completeness,
    reduction_ratio); both ratios are single IEEE divisions of exact
    counts, so the row value-hash-checks.

    Scale: the truth set IS the audit's contract — the exact uncapped
    inverted-index pair aggregation (VERDICT r10 #5, resolved by
    measurement): the AllPairs prefix-filtered pipeline was tried as the
    truth leg in r11 (provably identical output, and it WAS verified
    hash-identical at six fixtures), but a same-session min-of-3
    head-to-head measured it 2.6x SLOWER on this corpus (sf1: 13.5 s vs
    5.0 s; sf0.1: 2.8 s vs 1.1 s) — the synthetic corpus's vocabulary
    saturates, so shingle df stays low, there is no Zipf head for the
    prefix to prune, and the prefix machinery's extra stages (df join,
    per-doc rarity sort, posexplode, candidate distinct, array-verify)
    are pure overhead. On a Zipf-real web corpus the prefix/df-capped
    variants are the scale path and ship beside this audit as
    first-class queries; the audit itself keeps the exact index because
    its COMPLETENESS denominator must be beyond doubt (the --skew
    fixture's df == n_docs boilerplate shingle pins the hot-bucket
    aggregation exactness). Candidates come from the shared SNM
    banded-rank join (_snm_candidate_pairs); the final combine is a
    cross-join of four ONE-ROW aggregates — constant data movement. At
    100 TB the truth set would be sampled (audit a stratum, not the
    corpus); the plan is identical, with a filter on doc_id buckets ahead
    of both sides."""
    # Single-pass combine (VERDICT r9 #5): cand and truth are each
    # referenced ONCE — a full outer join on the pair key carries both
    # membership flags, and one aggregate derives n_candidates / n_true /
    # n_caught together. The r9 shape computed them as four one-row
    # aggregates over cached inputs, which repeated the full SNM /
    # inverted-index lineage in every reference (the 38-shuffle audit
    # depth) and needed persists at all; this one needs none.
    cand = _snm_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b").distinct()
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    jacc = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    truth = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"), F.min("na").alias("na"), F.min("nb").alias("nb"))
        .filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    n = _docs(spark, sf_dir).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    both = cand.withColumn("is_cand", F.lit(1)).join(
        truth.withColumn("is_true", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    counts = both.agg(
        F.count("is_cand").cast("long").alias("n_candidates"),
        F.count("is_true").cast("long").alias("n_true"),
        F.count(F.when(F.col("is_cand").isNotNull() & F.col("is_true").isNotNull(), 1))
        .cast("long")
        .alias("n_caught"),
    )
    nd = F.col("n_docs").cast("double")
    return (
        n.crossJoin(counts)
        .select(
            "n_docs",
            "n_candidates",
            "n_true",
            "n_caught",
            (F.col("n_caught").cast("double") / F.nullif(F.col("n_true"), F.lit(0))).alias(
                "pairs_completeness"
            ),
            (
                # nullif-guard the pair-space denominator (0- or 1-doc
                # corpus) to match pairs_completeness and the oracle
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / F.nullif(nd * (nd - F.lit(1.0)) / F.lit(2.0), F.lit(0.0))
            ).alias("reduction_ratio"),
        )
    )


# --- sampled-truth blocking audit (r12, VERDICT r11 #6) ------------------------------

ER_SAMPLE_TARGET = 1000   # target sampled docs; rate = min(1, target/n_docs)
ER_SAMPLE_PPM = 1_000_000  # hash-threshold resolution (parts per million)
_WILSON_Z = 1.96
_WILSON_Z2 = repr(_WILSON_Z * _WILSON_Z)  # exact double literal, both engines


@register(
    "er_blocking_quality_sampled",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {{SHINGLES}} AS shingles FROM documents
),
ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         least(CAST({ER_SAMPLE_PPM} AS BIGINT),
               (CAST({ER_SAMPLE_PPM} AS BIGINT) * {ER_SAMPLE_TARGET}) // count(*)) AS thr
  FROM documents
),
sdoc AS (
  SELECT d.doc_id,
         ({{H60_DOC}} % {ER_SAMPLE_PPM}) < nd.thr AS in_s
  FROM documents d, nd
),
ns AS (SELECT CAST(count(*) FILTER (in_s) AS BIGINT) AS n_sampled FROM sdoc),
exs AS (SELECT ex.* FROM ex JOIN sdoc USING (doc_id) WHERE sdoc.in_s),
exn AS (SELECT ex.* FROM ex JOIN sdoc USING (doc_id) WHERE NOT sdoc.in_s),
anch AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS inter, min(a.n) AS na, min(b.n) AS nb
  FROM exs a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
  UNION ALL
  SELECT a.doc_id, b.doc_id, count(*), min(a.n), min(b.n)
  FROM exn a JOIN exs b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM anch
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
),
k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, {SNM_KEY_LEN}) AS sk
  FROM documents
),
r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rnk FROM k),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW - 1}
),
cand_anch AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sdoc sa ON sa.doc_id = c.doc_a
  JOIN sdoc sb ON sb.doc_id = c.doc_b, nd
  WHERE sa.in_s OR sb.in_s
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates_anchored FROM cand_anch),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true_anchored FROM truth),
ng AS (
  SELECT CAST(count(*) AS BIGINT) AS n_caught_anchored
  FROM cand_anch c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
m AS (
  SELECT nd.n_docs, ns.n_sampled, nd.thr AS sample_thr_ppm,
         nc.n_candidates_anchored, nt.n_true_anchored, ng.n_caught_anchored,
         CAST(ng.n_caught_anchored AS DOUBLE)
           / nullif(nt.n_true_anchored, 0) AS phat,
         CAST(nt.n_true_anchored AS DOUBLE) AS n
  FROM nd, ns, nc, nt, ng
)
SELECT n_docs, n_sampled, sample_thr_ppm,
       n_candidates_anchored, n_true_anchored, n_caught_anchored,
       phat AS pairs_completeness_est,
       CASE WHEN phat IS NULL THEN NULL ELSE
       greatest(0.0, ((phat + {_WILSON_Z2} / (2.0 * n))
          - {_WILSON_Z} * sqrt(phat * (1.0 - phat) / n
                               + {_WILSON_Z2} / (4.0 * n * n)))
         / (1.0 + {_WILSON_Z2} / n)) END AS ci_low,
       CASE WHEN phat IS NULL THEN NULL ELSE
       least(1.0, ((phat + {_WILSON_Z2} / (2.0 * n))
          + {_WILSON_Z} * sqrt(phat * (1.0 - phat) / n
                               + {_WILSON_Z2} / (4.0 * n * n)))
         / (1.0 + {_WILSON_Z2} / n)) END AS ci_high
FROM m
""".replace("{SHINGLES}", SHINGLES_SQL)
   .replace("{H60_DOC}", h60_sql("CAST(d.doc_id AS VARCHAR)")),
)
def er_blocking_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-truth blocking-quality audit — the bounded-cost companion to
    er_blocking_quality (whose exact truth leg is the registry's deepest
    plan and, after the gapfill contract, its worst live scaling exponent:
    0.61). A 100 TB pipeline cannot re-verify all O(index) true pairs every
    run; the standard estimator (Christen, "Data Matching" 2012 §7.3 —
    sampled pairs completeness) audits a deterministic document sample
    instead and reports a confidence interval next to the point estimate.

    Sampling: hash-threshold on h60(doc_id) at rate min(1,
    {ER_SAMPLE_TARGET}/n_docs) — deterministic (no rand(), bit-reproducible
    across engines/sessions), proportional across sources in expectation,
    and ABSOLUTE-size-targeted, so the truth leg's cost stays ~flat as the
    corpus grows instead of scaling with it. The truth estimator covers
    every J >= t pair with AT LEAST ONE sampled endpoint, split into two
    disjoint one-side-sampled index joins (sampled x all, unsampled x
    sampled) so each join's cost is rate x the full index join and no pair
    is double-counted; candidates (full SNM blocking, same as the exact
    audit) are filtered to the same anchored population, making
    caught/true a completeness estimate over anchored pairs. ci_low/
    ci_high are the Wilson 95% interval (z = {_WILSON_Z}) — closed-form
    IEEE arithmetic mirrored expression-for-expression in the oracle, so
    the whole row value-hash-checks; NULL when no anchored true pairs
    exist (micro fixtures), with the counts still exact.

    At the driver fixtures (<= {ER_SAMPLE_TARGET} docs) the threshold
    saturates and the sample is the full corpus — the estimate then EQUALS
    the exact audit's pairs_completeness, which pins the estimator's
    correctness in the driver gate; sampling bites at sf0.1 (20%) and sf1
    (2%). Measured r12 (min-of-3, local[16]): sampled 3.56 s -> 5.86 s
    across sf0.1 -> sf1 (exponent 0.22/decade) vs the exact audit's
    1.91 s -> 6.29 s (0.52); the estimate tracked the exact completeness
    at sf1 (0.875 vs 0.873 on 112 anchored true pairs). Below the
    crossover (~sf0.3) the extra legs cost more than they save — the
    variant exists for the 100 TB regime, where the flat-cost truth leg is
    the difference between auditing nightly and not auditing.

    Scale: the SNM candidate leg is the exact audit's (linearithmic,
    range-sharded rank — no global window); the truth leg is rate-bounded;
    the sample predicate is a per-row md5 (whole-stage codegen, no
    shuffle); the final metric assembly is a crossJoin of six 1-row
    aggregates. No data-proportional driver pulls, no cartesian products.
    Reference parity: the reference has no ER surface (its backend is
    prose + functions.js:1-476); this extends SURVEY §2's dedup/ER family
    along the north-star axis."""
    docs = _docs(spark, sf_dir)
    nd_thr = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.least(
            F.lit(ER_SAMPLE_PPM).cast("long"),
            F.expr(f"CAST({ER_SAMPLE_PPM} AS BIGINT) * {ER_SAMPLE_TARGET} DIV count(1)"),
        ).alias("thr"),
    )
    sh = _shingled(spark, sf_dir)
    # NOTE (r13): persisting the exploded index here was tried and measured
    # SLOWER (min-of-5 A/B at sf0.1: 5.3 s persisted vs 3.7 s re-exploded)
    # — the four join legs re-explode from the cached shingle table inside
    # whole-stage codegen for less than the persist's materialization
    # barrier + memory write of the string-keyed index costs.
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    ).crossJoin(F.broadcast(nd_thr.select("thr")))
    in_s = (h60(F.col("doc_id").cast("string")) % ER_SAMPLE_PPM) < F.col("thr")
    exs = ex.filter(in_s).drop("thr")
    exn = ex.filter(~in_s).drop("thr")
    ex_all = ex.drop("thr")

    def _pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        a = left.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
        b = right.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
        return (
            a.join(b, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"), F.min("na").alias("na"), F.min("nb").alias("nb"))
        )

    jacc = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    truth = (
        _pairs(exs, ex_all)
        .unionAll(_pairs(exn, exs))
        .filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    n_sampled = (
        docs.crossJoin(F.broadcast(nd_thr.select("thr")))
        .filter((h60(F.col("doc_id").cast("string")) % ER_SAMPLE_PPM) < F.col("thr"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    cand = _snm_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b").distinct()
    cand_anch = cand.crossJoin(F.broadcast(nd_thr.select("thr"))).filter(
        ((h60(F.col("doc_a").cast("string")) % ER_SAMPLE_PPM) < F.col("thr"))
        | ((h60(F.col("doc_b").cast("string")) % ER_SAMPLE_PPM) < F.col("thr"))
    ).select("doc_a", "doc_b")
    both = cand_anch.withColumn("is_cand", F.lit(1)).join(
        truth.withColumn("is_true", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    counts = both.agg(
        F.count("is_cand").cast("long").alias("n_candidates_anchored"),
        F.count("is_true").cast("long").alias("n_true_anchored"),
        F.count(F.when(F.col("is_cand").isNotNull() & F.col("is_true").isNotNull(), 1))
        .cast("long")
        .alias("n_caught_anchored"),
    )
    z, z2 = F.lit(_WILSON_Z), F.lit(float(_WILSON_Z2))
    phat = F.col("n_caught_anchored").cast("double") / F.nullif(
        F.col("n_true_anchored"), F.lit(0)
    )
    n = F.col("n_true_anchored").cast("double")
    center_lo = (phat + z2 / (F.lit(2.0) * n)) - z * F.sqrt(
        phat * (F.lit(1.0) - phat) / n + z2 / (F.lit(4.0) * n * n)
    )
    center_hi = (phat + z2 / (F.lit(2.0) * n)) + z * F.sqrt(
        phat * (F.lit(1.0) - phat) / n + z2 / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + z2 / n
    return (
        nd_thr.crossJoin(n_sampled)
        .crossJoin(counts)
        .select(
            "n_docs",
            "n_sampled",
            F.col("thr").alias("sample_thr_ppm"),
            "n_candidates_anchored",
            "n_true_anchored",
            "n_caught_anchored",
            phat.alias("pairs_completeness_est"),
            # NULL phat (no anchored true pairs) must propagate: bare
            # greatest/least SKIP NULL args in both engines, which would
            # emit a misleading full-uncertainty [0, 1] interval instead
            # of NULL (ADVICE r12 #3) — and parity would hinge on both
            # engines agreeing on that skip forever.
            F.when(
                phat.isNotNull(), F.greatest(F.lit(0.0), center_lo / denom)
            ).alias("ci_low"),
            F.when(
                phat.isNotNull(), F.least(F.lit(1.0), center_hi / denom)
            ).alias("ci_high"),
        )
    )
