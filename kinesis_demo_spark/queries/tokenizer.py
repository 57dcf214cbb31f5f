"""SentencePiece-style unigram-LM tokenizer (Kudo 2018), distributed and
integer-deterministic — the second tokenizer family next to BPE
(``corpus.py``): where BPE greedily MERGES the most frequent pair, the
unigram model starts from an over-complete piece inventory and EM-prunes it,
segmenting each word by Viterbi under per-piece probabilities.

Determinism without floats: piece probabilities are the exact rationals
``usage/total``, and Viterbi path scores are compared as
``fractions.Fraction`` products — arbitrary-precision rational arithmetic,
no libm, no rounding, so training is bit-reproducible across runs, engines,
partitionings, and machines. Ties break deterministically: higher score,
then FEWER pieces, then lexicographically smallest piece tuple.

The scale shape (the reason this trains at 100 TB): EM never touches the
raw corpus after one histogram pass —

  1. ONE corpus pass builds the (word, count) histogram
     (vocabulary-bounded, the classic unigram-training trick);
  2. each EM round broadcasts the current piece table (<= vocab-target
     rows) and Viterbi-segments the HISTOGRAM rows in parallel
     (Arrow-batched ``mapInPandas``), emitting count-weighted piece
     usages;
  3. one piece-keyed aggregate (map-side combinable) re-estimates usages;
     the driver holds only the pruned piece table.

Oracle status: EM + Viterbi are not SQL-expressible, so both queries are
registered rows-only (the documented iterative class, like
``pagerank_copurchase``); correctness is pinned by an INDEPENDENT
pure-Python reference implementation matched piece-for-piece and
segmentation-for-segmentation in tests/test_tokenizer.py, plus
reconstruction invariants.
"""

from __future__ import annotations

from fractions import Fraction
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..io import iterate, load_table, spread, track_persist
from ..registry import register
from .corpus import _corpus_memo

UNI_MAX_PIECE = 6     # max piece length seeded from word substrings
UNI_SEED_TOP = 256    # multi-char seed pieces (by count-weighted frequency)
UNI_VOCAB_TARGET = 96 # multi-char pieces kept after each EM prune
UNI_ROUNDS = 3        # EM rounds (seed -> E/M -> prune, repeated)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


def viterbi_segment(
    word: str, usage: dict[str, int], total: int, max_piece: int = UNI_MAX_PIECE
) -> tuple[str, ...]:
    """Best segmentation of ``word`` under the unigram model
    P(piece) = usage/total — exact-rational Viterbi. Deterministic
    tie-break: (score desc, piece count asc, piece tuple lexicographic).
    Single characters are always in the vocabulary, so every word
    segments. Pure function shared by the Spark E-step, the encoder, and
    the test reference."""
    n = len(word)
    # dp[i] = (score: Fraction, n_pieces: int, pieces: tuple)
    dp: list[tuple[Fraction, int, tuple[str, ...]] | None] = [None] * (n + 1)
    dp[0] = (Fraction(1), 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece), i):
            prev = dp[j]
            if prev is None:
                continue
            piece = word[j:i]
            u = usage.get(piece)
            if u is None:
                continue
            cand = (
                prev[0] * Fraction(u, total),
                prev[1] + 1,
                prev[2] + (piece,),
            )
            if (
                best is None
                or cand[0] > best[0]
                or (cand[0] == best[0] and cand[1] < best[1])
                or (cand[0] == best[0] and cand[1] == best[1] and cand[2] < best[2])
            ):
                best = cand
        dp[i] = best
    assert dp[n] is not None, f"unsegmentable word {word!r} (missing char pieces)"
    return dp[n][2]


def _word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.explode(F.split("text", " ")).alias("word")
    return (
        _docs(spark, sf_dir)
        .select(toks)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _seed_pieces(hist: DataFrame) -> tuple[dict[str, int], dict[str, int]]:
    """(single-char usages, multi-char seed usages) from count-weighted
    substring frequencies — one explode + one aggregate over the
    vocabulary-bounded histogram."""
    subs = hist.select(
        "cnt",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            i,
                            F.least(F.length("word"), i + F.lit(UNI_MAX_PIECE - 1)),
                        ),
                        lambda j: F.col("word").substr(i, j - i + F.lit(1)),
                    ),
                )
            )
        ).alias("piece"),
    )
    agg = subs.groupBy("piece").agg(F.sum("cnt").alias("usage")).collect()
    singles = {r.piece: int(r.usage) for r in agg if len(r.piece) == 1}
    multi_all = sorted(
        ((r.piece, int(r.usage)) for r in agg if len(r.piece) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return singles, dict(multi_all[:UNI_SEED_TOP])


def _train_unigram(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """The trained unigram vocabulary, [(piece, usage)] sorted by (usage
    desc, piece asc). Memoized per corpus like the BPE trainer — training
    runs once, encode reuses it."""
    return _corpus_memo(sf_dir, ("unigram",), lambda: _unigram_em(spark, sf_dir))


def _unigram_em(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """EM-train the unigram vocabulary: seed, then UNI_ROUNDS E/M/prune rounds."""
    hist = _word_histogram(spark, sf_dir).persist()
    try:
        singles, multi = _seed_pieces(hist)
        usage = {**singles, **multi}
        for _rnd in range(UNI_ROUNDS):
            total = sum(usage.values())
            bc = spark.sparkContext.broadcast((usage, total))

            def e_step(batches, _bc=bc):
                import pandas as pd

                u, t = _bc.value
                for pdf in batches:
                    counts: dict[str, int] = {}
                    for word, cnt in zip(pdf["word"], pdf["cnt"]):
                        for piece in viterbi_segment(word, u, t):
                            counts[piece] = counts.get(piece, 0) + int(cnt)
                    yield pd.DataFrame(
                        {"piece": list(counts), "usage": list(counts.values())}
                    )

            rows = (
                hist.mapInPandas(e_step, "piece string, usage long")
                .groupBy("piece")
                .agg(F.sum("usage").alias("usage"))
                .collect()
            )
            new_usage = {r.piece: int(r.usage) for r in rows}
            # prune: singles always survive (coverage guarantee); keep the
            # top multi-char pieces by (usage desc, piece asc)
            kept_multi = sorted(
                ((p, n) for p, n in new_usage.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )[:UNI_VOCAB_TARGET]
            usage = {p: new_usage.get(p, 0) for p in singles}
            usage.update(dict(kept_multi))
    finally:
        hist.unpersist()
    return sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))


@register("unigram_tokenizer_train")  # EM + Viterbi -> not SQL-expressible;
# piece-for-piece differential vs an independent reference in tests/test_tokenizer.py
def unigram_tokenizer_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram vocabulary: (piece, piece_len, usage, rank) after
    {UNI_ROUNDS} EM rounds — see module docstring for the distributed shape
    and determinism argument. rank orders by (usage desc, piece asc)."""
    pieces = _train_unigram(spark, sf_dir)
    rows = [
        (piece, len(piece), usage, rank)
        for rank, (piece, usage) in enumerate(pieces, start=1)
    ]
    return spark.createDataFrame(
        rows, "piece string, piece_len bigint, usage bigint, rank bigint"
    )


@register("unigram_encode_corpus")  # Viterbi encode -> not SQL-expressible;
# reconstruction + vocabulary-membership invariants in tests/test_tokenizer.py
def unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide APPLICATION of the trained unigram vocabulary (the
    nightly step, mirroring ``bpe_encode_corpus``): every document's words
    are Viterbi-segmented under the final piece probabilities in one
    embarrassingly parallel Arrow-batched pass — the piece table is a
    broadcast constant, the corpus streams through exactly once, zero
    shuffles. Output per doc: word count, piece count, and the piece
    stream (space-joined; concatenating a word's pieces reconstructs the
    word, pinned in tests)."""
    pieces = _train_unigram(spark, sf_dir)
    usage = dict(pieces)
    total = sum(usage.values())
    bc = spark.sparkContext.broadcast((usage, total))

    def encode(batches, _bc=bc):
        import pandas as pd

        u, t = _bc.value
        cache: dict[str, tuple[str, ...]] = {}
        for pdf in batches:
            out = {"doc_id": [], "n_words": [], "n_pieces": [], "pieces_str": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text encodes to zero words/pieces (matches the BPE
                # family's no-tokens semantics; without the guard a hostile
                # NULL-text doc kills the Python worker)
                words = [w for w in text.split(" ") if w] if text is not None else []
                segs = []
                for w in words:
                    seg = cache.get(w)
                    if seg is None:
                        seg = viterbi_segment(w, u, t)
                        cache[w] = seg
                    segs.append(seg)
                out["doc_id"].append(int(doc_id))
                out["n_words"].append(len(words))
                out["n_pieces"].append(sum(len(s) for s in segs))
                out["pieces_str"].append(" ".join(p for s in segs for p in s))
            yield pd.DataFrame(out)

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(
            encode, "doc_id bigint, n_words bigint, n_pieces bigint, pieces_str string"
        )
    )


# --- WordPiece-style greedy longest-match encode (hash-checkable) -------------------

# Deterministic subword vocabulary: every single character in the corpus
# (guaranteeing full coverage — no OOV path) plus the top multi-character
# n-grams by count-weighted frequency. Small on purpose: with the fixture's
# 31-word generator vocabulary, a larger gram budget would swallow every
# word whole and the greedy matcher would never exercise multi-piece splits.
WP_MAX_PIECE = 4
WP_TOP_GRAMS = 20

_WP_VOCAB_CTES = f"""
words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wcount
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
chars AS (
  SELECT DISTINCT substring(w.word, p.i, 1) AS piece
  FROM words w, LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS i) p
),
grams AS (
  SELECT substring(w.word, p.i, l.l) AS piece, sum(w.wcount) AS weight
  FROM words w,
       LATERAL (SELECT unnest(range(2, {WP_MAX_PIECE} + 1)) AS l) l,
       LATERAL (SELECT unnest(range(1, len(w.word) - l.l + 2)) AS i) p
  GROUP BY 1
),
top_grams AS (
  SELECT piece FROM (
    SELECT piece, row_number() OVER (ORDER BY weight DESC, piece) AS rn
    FROM grams) WHERE rn <= {WP_TOP_GRAMS}
),
vocab AS (SELECT piece FROM chars UNION SELECT piece FROM top_grams)
"""


@register(
    "wordpiece_encode_words",
    oracle=f"""
WITH RECURSIVE
{_WP_VOCAB_CTES},
enc(word, pos, pieces) AS (
  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM words
  UNION ALL
  SELECT e.word, e.pos + len(t.piece), list_append(e.pieces, t.piece)
  FROM enc e, LATERAL (
    SELECT v.piece FROM vocab v
    WHERE v.piece = substring(e.word, CAST(e.pos AS INT), len(v.piece))
    ORDER BY len(v.piece) DESC, v.piece LIMIT 1) t
  WHERE e.pos <= len(e.word)
)
SELECT w.word, w.wcount, CAST(len(e.pieces) AS BIGINT) AS n_pieces,
       array_to_string(e.pieces, ' ') AS encoded
FROM enc e JOIN words w USING (word)
WHERE e.pos = len(e.word) + 1
""",
)
def wordpiece_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style GREEDY LONGEST-MATCH subword encode — the third
    tokenizer family next to BPE (iterative merges, corpus.py) and
    unigram-LM (Viterbi, above), and the first with a full value-hash
    oracle: greedy matching is a deterministic fixpoint a recursive SQL CTE
    can restate, so the hash gate covers vocabulary construction AND every
    segmentation end-to-end (the other two trainers are rows-only by
    necessity). Vocabulary = all corpus characters (full coverage, no OOV)
    + top-{WP_TOP_GRAMS} n-grams (len 2..{WP_MAX_PIECE}) by count-weighted
    frequency; each distinct word is segmented left-to-right, always taking
    the longest vocab piece that prefixes the remainder.

    100 TB shape: like the unigram trainer, the raw corpus is touched ONCE
    (the word histogram — map-side combined, vocabulary-bounded); the gram
    mining explodes the HISTOGRAM (|distinct words| x piece positions), and
    the greedy encode iterates over histogram rows with a broadcast vocab:
    round r advances every still-unfinished word by one piece (one
    broadcast join + per-word argmax on piece length), so rounds are
    bounded by max word length (a constant ~dozens), never corpus size,
    and each round's state is |unfinished words| rows, persisted to keep
    lineage flat. Per-document token counts then follow from one join
    against the histogram — the nightly-encode shape. All string/integer
    ops; no floats anywhere."""
    docs = _docs(spark, sf_dir)
    words = spread(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    words = track_persist(words)
    chars = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        ).alias("piece")
    ).distinct()
    g1 = words.select(
        "word",
        "wcount",
        F.explode(F.expr(f"sequence(2, {WP_MAX_PIECE})")).alias("l"),
    ).filter(F.length("word") >= F.col("l"))
    g2 = g1.select(
        F.col("wcount"),
        F.explode(
            F.expr("transform(sequence(1, length(word) - l + 1), i -> substring(word, i, l))")
        ).alias("piece"),
    )
    gw = g2.groupBy("piece").agg(F.sum("wcount").alias("weight"))
    # |grams|-sized rank (the text_vocab_topk precedent): bounded by the
    # histogram's piece inventory, never the corpus
    wtop = Window.orderBy(F.col("weight").desc(), F.col("piece"))
    top = (
        gw.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= WP_TOP_GRAMS)
        .select("piece")
    )
    vocab = track_persist(
        chars.union(top).distinct().withColumn("plen", F.length("piece"))
    )

    max_len = words.agg(F.max(F.length("word"))).first()[0]
    if max_len is None:  # empty corpus: no words, nothing to encode
        return spark.createDataFrame(
            [], "word string, wcount long, n_pieces long, encoded string"
        )
    active = words.select(
        "word",
        F.length("word").alias("wlen"),
        F.lit(1).alias("pos"),
        F.lit("").alias("encoded"),
        F.lit(0).cast("long").alias("n_pieces"),
    )
    w_pick = Window.partitionBy("word").orderBy(F.col("plen").desc())

    def advance(state: DataFrame) -> DataFrame:
        # rounds after the first carry the finished words forward
        act = state if state is active else state.filter(F.col("pos") <= F.col("wlen"))
        # EQUI-join on the candidate substring, never a substring-match theta
        # join (a theta join plans as BroadcastNestedLoop — O(|active| x
        # |vocab|) row comparisons, which dies when both sides are large at
        # scale): each active word emits its <= {WP_MAX_PIECE} candidate
        # prefixes of the remainder, and the vocab lookup hashes on them.
        cand = act.select(
            "word",
            "wlen",
            "pos",
            "encoded",
            "n_pieces",
            F.explode(
                F.expr(f"sequence(1, least({WP_MAX_PIECE}, wlen - pos + 1))")
            ).alias("l"),
        ).withColumn("piece", F.expr("substring(word, pos, l)"))
        matched = cand.join(F.broadcast(vocab), "piece")
        return (
            matched.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select(
                "word",
                "wlen",
                (F.col("pos") + F.col("plen")).alias("pos"),
                F.when(F.col("n_pieces") == 0, F.col("piece"))
                .otherwise(F.concat("encoded", F.lit(" "), F.col("piece")))
                .alias("encoded"),
                (F.col("n_pieces") + 1).alias("n_pieces"),
            )
        )

    done_parts = []

    def all_done(_old: DataFrame, new: DataFrame) -> bool:
        # each round's checkpoint holds the words it finished; the output is
        # the flat union of those slices
        done_parts.append(new.filter(F.col("pos") > F.col("wlen")))
        return new.filter(F.col("pos") <= F.col("wlen")).count() == 0

    iterate(active, advance, int(max_len), until=all_done, name="wordpiece_encode_words")
    out = reduce(DataFrame.union, done_parts)
    return out.join(words, "word").select("word", "wcount", "n_pieces", "encoded")
