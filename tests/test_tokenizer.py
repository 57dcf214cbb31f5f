"""Differential + invariant tests for the unigram-LM tokenizer
(kinesis_demo_spark/queries/tokenizer.py). The trainer is rows-only for the
driver (EM + Viterbi are not SQL-expressible), so the correctness evidence
is an INDEPENDENT pure-Python reference implementation matched
piece-for-piece, plus reconstruction and vocabulary-membership invariants.
"""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from kinesis_demo_spark.queries.tokenizer import (
    UNI_MAX_PIECE,
    UNI_ROUNDS,
    UNI_SEED_TOP,
    UNI_VOCAB_TARGET,
    unigram_encode_corpus,
    unigram_tokenizer_train,
)

from .conftest import SF_SMOKE


def _reference_viterbi(word, usage, total):
    """Independent Viterbi (recursive with memo, vs the engine's iterative
    DP) — same model, same tie-break spec: (score desc, fewer pieces,
    lexicographically smallest tuple)."""
    memo = {}

    def best(i):  # best segmentation of word[:i]
        if i == 0:
            return (Fraction(1), 0, ())
        if i in memo:
            return memo[i]
        cands = []
        for j in range(max(0, i - UNI_MAX_PIECE), i):
            piece = word[j:i]
            if piece not in usage:
                continue
            prev = best(j)
            if prev is None:
                continue
            cands.append(
                (prev[0] * Fraction(usage[piece], total), prev[1] + 1, prev[2] + (piece,))
            )
        out = None
        for c in cands:
            if out is None or (-c[0], c[1], c[2]) < (-out[0], out[1], out[2]):
                out = c
        memo[i] = out
        return out

    r = best(len(word))
    assert r is not None
    return r[2]


def _reference_train(docs):
    """Independent trainer over raw python strings, mirroring the published
    recipe: histogram -> substring seed -> EM rounds of count-weighted
    Viterbi usage -> prune (singles always kept, top multi by usage)."""
    hist = Counter()
    for text in docs:
        for w in text.split(" "):
            if w:
                hist[w] += 1
    subs = Counter()
    for w, c in hist.items():
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + UNI_MAX_PIECE) + 1):
                subs[w[i:j]] += c
    singles = {p: n for p, n in subs.items() if len(p) == 1}
    multi = dict(
        sorted(
            ((p, n) for p, n in subs.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_SEED_TOP]
    )
    usage = {**singles, **multi}
    for _ in range(UNI_ROUNDS):
        total = sum(usage.values())
        new_usage = Counter()
        for w, c in hist.items():
            for piece in _reference_viterbi(w, usage, total):
                new_usage[piece] += c
        kept_multi = sorted(
            ((p, n) for p, n in new_usage.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_VOCAB_TARGET]
        usage = {p: new_usage.get(p, 0) for p in singles}
        usage.update(dict(kept_multi))
    return sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))


def test_trained_vocab_matches_independent_reference(spark):
    docs = [
        r.text for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    ]
    expect = _reference_train(docs)
    got = [
        (r.piece, r.usage)
        for r in unigram_tokenizer_train(spark, SF_SMOKE)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect
    # EM actually selected multi-char pieces (not a degenerate char model)
    assert any(len(p) > 1 and u > 0 for p, u in got)


def test_encode_reconstructs_text_and_stays_in_vocab(spark):
    vocab = {r.piece for r in unigram_tokenizer_train(spark, SF_SMOKE).collect()}
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    rows = unigram_encode_corpus(spark, SF_SMOKE).collect()
    assert len(rows) == len(texts)
    for r in rows:
        pieces = r.pieces_str.split(" ") if r.pieces_str else []
        assert len(pieces) == r.n_pieces
        assert set(pieces) <= vocab
        # concatenating pieces reconstructs the text with spaces removed
        assert "".join(pieces) == texts[r.doc_id].replace(" ", "")
        assert r.n_words == len([w for w in texts[r.doc_id].split(" ") if w])
        assert r.n_pieces >= r.n_words  # a word is at least one piece


def test_encode_is_run_deterministic(spark):
    a = {(r.doc_id, r.pieces_str) for r in unigram_encode_corpus(spark, SF_SMOKE).collect()}
    b = {(r.doc_id, r.pieces_str) for r in unigram_encode_corpus(spark, SF_SMOKE).collect()}
    assert a == b



def _write_docs(sf_dir, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["src0"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )


def test_rewritten_corpus_retrains_in_the_same_session(spark, tmp_path):
    """The trained pieces are memoized per corpus identity, so rewriting
    documents.parquet in place must retrain, not serve the old pieces."""
    before = ["alpha beta gamma alphabet", "beta beta gamma"] * 6
    after = ["xylophone quartz zephyr", "quartz zephyr zephyrs jinx"] * 7
    for texts in (before, after):
        _write_docs(tmp_path, texts)
        got = [
            (r.piece, r.usage)
            for r in unigram_tokenizer_train(spark, str(tmp_path)).orderBy("rank").collect()
        ]
        assert got == _reference_train(texts)
    encoded = unigram_encode_corpus(spark, str(tmp_path)).orderBy("doc_id").collect()
    assert ["".join(r.pieces_str.split(" ")) for r in encoded] == [
        t.replace(" ", "") for t in after
    ]

# --- WordPiece greedy longest-match encode ---------------------------------------


def test_wordpiece_matches_python_greedy(spark):
    import duckdb

    SF = SF_SMOKE

    from kinesis_demo_spark.queries.tokenizer import (
        WP_MAX_PIECE,
        WP_TOP_GRAMS,
        wordpiece_encode_words,
    )

    con = duckdb.connect()
    texts = [
        t
        for (t,) in con.execute(
            f"SELECT text FROM '{SF}/documents.parquet'"
        ).fetchall()
    ]
    con.close()
    wcount = Counter(w for t in texts for w in t.split(" ") if w != "")
    # vocabulary: all chars + top multi-grams by count-weighted frequency
    vocab = {c for w in wcount for c in w}
    gweight = Counter()
    for w, c in wcount.items():
        for l in range(2, WP_MAX_PIECE + 1):
            for i in range(len(w) - l + 1):
                gweight[w[i : i + l]] += c
    top = sorted(gweight.items(), key=lambda kv: (-kv[1], kv[0]))[:WP_TOP_GRAMS]
    vocab |= {p for p, _ in top}

    def encode(w: str) -> list[str]:
        out, pos = [], 0
        while pos < len(w):
            for l in range(min(WP_MAX_PIECE, len(w) - pos), 0, -1):
                if w[pos : pos + l] in vocab:
                    out.append(w[pos : pos + l])
                    pos += l
                    break
        return out

    got = {r.word: r for r in wordpiece_encode_words(spark, SF).collect()}
    assert set(got) == set(wcount)
    multi = 0
    for w, c in wcount.items():
        pieces = encode(w)
        r = got[w]
        assert r.wcount == c
        assert r.n_pieces == len(pieces)
        assert r.encoded == " ".join(pieces)
        assert "".join(pieces) == w  # lossless
        multi += len(pieces) > 1
    # the greedy matcher must actually split something on this fixture
    assert multi > 0
