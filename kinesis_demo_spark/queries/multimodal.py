"""Multimodal-column queries: a synthetic ``media`` table (binary payload +
typed metadata, derived deterministically from ``documents``) driven through
real Arrow-batched mapInPandas operators (operators/multimodal.py).

The fixture ships no binary media, so the payload is the UTF-8 encoding of
``text`` — an opaque byte string as far as the plumbing is concerned. Because
the fixture text is pure ASCII, byte arithmetic equals character-code
arithmetic, which lets a DuckDB oracle value-hash-check even the
pandas-UDF outputs: the Python path is verified against SQL, not just
rows-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table, spread, track_persist
from ..operators.multimodal import decode_features, frame_sample
from ..registry import register
from .dedup import band_hamming_pairs

FORMATS = ("png", "jpeg", "wav")


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media(doc_id, payload binary, format, width, height).

    NULL-text docs produce NO media row (the payload is constructed from
    text; a media row without a blob is dropped at ingest, the way a real
    pipeline drops missing objects) — this is the downstream kernels'
    non-null payload contract, and the oracle CTE filters identically."""
    # spread: downstream mapInPandas otherwise runs on one Python worker
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(
            F.array(*[F.lit(f) for f in FORMATS]), (F.col("doc_id") % 3).cast("int") + 1
        ).alias("format"),
        ((F.col("n_chars") % 64) * 16 + 16).alias("width"),
        ((F.col("doc_id") % 48) * 16 + 16).alias("height"),
    )


_MEDIA_CTE = f"""
media AS (
  SELECT doc_id, encode(text) AS payload,
         (['{FORMATS[0]}', '{FORMATS[1]}', '{FORMATS[2]}'])[CAST(doc_id % 3 AS INT) + 1] AS format,
         (n_chars % 64) * 16 + 16 AS width,
         (doc_id % 48) * 16 + 16 AS height,
         text
  FROM documents
  WHERE text IS NOT NULL
)
"""


@register(
    "multimodal_metadata",
    oracle=f"""
WITH {_MEDIA_CTE}
SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS byte_len, format, width, height
FROM media
""",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — the schema contract every
    downstream media operator relies on. Pure JVM expressions; the payload
    bytes are never shipped to Python here."""
    return media_table(spark, sf_dir).select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("byte_len"),
        "format",
        "width",
        "height",
    )


@register(
    "multimodal_decode_features",
    # Byte-faithful oracle (r10): the kernel reads PAYLOAD BYTES, and on
    # multi-byte UTF-8 text a char-codepoint model diverges (ascii('中') =
    # 20013 but the first payload byte is 228) — caught the first time the
    # unicode fixture swept this family. to_hex + per-pair parse recovers
    # the exact byte stream in SQL.
    oracle=f"""
WITH {{_MEDIA_CTE}},
hx AS (
  SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
         list_transform(range(0, octet_length(payload)),
           i -> CAST('0x' || substr(to_hex(payload), CAST(2*i+1 AS INT), 2) AS BIGINT)) AS bs,
         width, height
  FROM media
)
SELECT doc_id, n_bytes,
       CASE WHEN n_bytes > 0 THEN bs[1] END AS first_byte,
       CASE WHEN n_bytes > 0 THEN bs[CAST(n_bytes AS INT)] END AS last_byte,
       CAST(coalesce(list_sum(bs), 0) AS BIGINT) AS byte_sum,
       CAST(coalesce(list_sum(bs), 0) % 997 AS BIGINT) AS checksum,
       width // 2 AS resized_w,
       height // 2 AS resized_h
FROM hx
""".format(_MEDIA_CTE=_MEDIA_CTE),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract + resize through Arrow-batched mapInPandas
    (operators/multimodal.py). The 'decode' is the deterministic byte-stat
    fake (real codecs are stubbed — see decode_image_real); the oracle
    recomputes the same stats from ASCII char codes, so the whole
    JVM->Arrow->pandas->Arrow->JVM round trip is value-hash verified."""
    return decode_features(media_table(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    # byte-faithful sampling via to_hex (see multimodal_decode_features)
    oracle=f"""
WITH {{_MEDIA_CTE}},
m AS (
  SELECT doc_id, to_hex(payload) AS h,
         CAST(octet_length(payload) AS BIGINT) AS n_bytes,
         (CAST(octet_length(payload) AS BIGINT) % 4) + 1 AS n_frames
  FROM media
)
SELECT m.doc_id,
       CAST(f.frame_idx AS BIGINT) AS frame_idx,
       CAST(f.frame_idx * (m.n_bytes // m.n_frames) AS BIGINT) AS frame_offset,
       CASE WHEN f.frame_idx * (m.n_bytes // m.n_frames) < m.n_bytes
            THEN CAST('0x' || substr(m.h,
                 CAST(2 * (f.frame_idx * (m.n_bytes // m.n_frames)) + 1 AS INT), 2) AS BIGINT)
       END AS sample_byte
FROM m, (SELECT unnest(range(4)) AS frame_idx) f
WHERE f.frame_idx < m.n_frames
""".format(_MEDIA_CTE=_MEDIA_CTE),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: each payload expands to (n_bytes % 4) + 1 frames at
    even offsets, sampling one byte per frame — the row-expanding mapInPandas
    shape (1 input row -> N output rows) that real video frame extraction
    uses."""
    return frame_sample(media_table(spark, sf_dir))


# --- perceptual-hash near-dup (multimodal x dedup crossover) --------------------------

PHASH_PIXELS = 60  # bits in the average-hash (fits a signed long; bands below)
PHASH_BANDS = 6
_PHASH_BAND_BITS = PHASH_PIXELS // PHASH_BANDS
PHASH_MAX_HAMMING = 5  # <= bands - 1 keeps the band join exact


@register(
    "phash_image_neardup",
    oracle=f"""
WITH {_MEDIA_CTE},
px AS (
  SELECT doc_id,
         list_transform(range(0, {PHASH_PIXELS}),
           i -> CAST(ascii(substr(text, CAST((i * length(text)) // 64 AS INT) + 1, 1)) AS BIGINT)) AS pixels
  FROM media WHERE text IS NOT NULL
),
hashed AS (
  SELECT doc_id, pixels,
         list_reduce(pixels, (a, b) -> a + b) AS psum
  FROM px
),
ph AS (
  SELECT doc_id,
         list_reduce(list_transform(range(0, {PHASH_PIXELS}),
           i -> CASE WHEN {PHASH_PIXELS} * pixels[CAST(i AS INT) + 1] > psum
                     THEN 1::BIGINT << CAST(i AS INT) ELSE 0 END),
           (a, b) -> a + b) AS phash
  FROM hashed
),
bands AS (
  SELECT doc_id, phash, b.band,
         (phash // (1::BIGINT << CAST(b.band * {_PHASH_BAND_BITS} AS INT))) % {1 << _PHASH_BAND_BITS} AS band_bits
  FROM ph CROSS JOIN (SELECT unnest(range({PHASH_BANDS})) AS band) b
)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       bit_count(xor(x.phash, y.phash)) AS hamming
FROM bands x JOIN bands y
  ON x.band = y.band AND x.band_bits = y.band_bits AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.phash, y.phash)) <= {PHASH_MAX_HAMMING}
""",
)
def phash_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash near-duplicate detection over the media
    payloads — the image-dedup member of the dedup family: sample
    {PHASH_PIXELS} evenly-spaced payload bytes as the 'thumbnail' (the
    deterministic stand-in for decode+downsample; a real pipeline swaps in a
    Pandas-UDF codec producing the same {PHASH_PIXELS}-value vector), set
    bit i when pixel_i exceeds the thumbnail mean, then find pairs within
    hamming {PHASH_MAX_HAMMING} via the exact {PHASH_BANDS}-band pigeonhole
    join (same machinery as SimHash). The mean comparison is integer
    cross-multiplication ({PHASH_PIXELS}*px > sum), the sample position an
    exact power-of-two division — every step bit-identical across engines.
    Zero shuffles before the band join; scales like the other banded
    dedups."""
    # payload is the UTF-8 encoding of ASCII text: byte k == char code of
    # text[k+1] and octet_length(payload) == length(text), so the byte
    # sampling runs on the text column directly — no join needed.
    n = F.length("text").cast("long")
    pixels = F.transform(
        F.sequence(F.lit(0), F.lit(PHASH_PIXELS - 1)),
        lambda i: F.ascii(F.col("text").substr(((i * n) / 64).cast("int") + 1, F.lit(1))).cast("long"),
    )
    # NULL-text docs have no image to hash (phash 0 would otherwise
    # cross-match every sparse hash); media rows are text-derived here
    docs_text = (
        spread(load_table(spark, sf_dir, "documents"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    px = docs_text.select("doc_id", pixels.alias("pixels"))
    hashed = px.select(
        "doc_id", "pixels", F.aggregate("pixels", F.lit(0).cast("long"), lambda a, b: a + b).alias("psum")
    )
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(PHASH_PIXELS)])
    phash = F.aggregate(
        F.zip_with(
            F.col("pixels"), pow2,
            lambda px_v, p: F.when(px_v * PHASH_PIXELS > F.col("psum"), p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    ph = hashed.select("doc_id", phash.alias("phash"))
    return band_hamming_pairs(ph, "phash", PHASH_PIXELS, PHASH_BANDS, PHASH_MAX_HAMMING)


# --- REAL decode path (pure-numpy BMP codec, VERDICT r5 #6) --------------------------

_BMP_SCHEMA = "doc_id bigint, payload binary"


def _bmp_media_batches(batches):
    """Fixture side of the real codec path: synthesize a GENUINE 24-bit BMP
    file per doc from (doc_id-derived) dims and a deterministic pixel ramp
    v(i) = (seed + 7*i) % 256 over the row-major RGB byte stream. The
    payload leaving this stage is a spec-compliant image file, not a text
    blob."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp

    for pdf in batches:
        payloads = []
        for doc_id, w, h, seed in zip(pdf["doc_id"], pdf["w"], pdf["h"], pdf["seed"]):
            n = int(w) * int(h) * 3
            vals = (int(seed) + 7 * np.arange(n, dtype=np.int64)) % 256
            payloads.append(encode_bmp(vals.astype(np.uint8).reshape(int(h), int(w), 3)))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register(
    "multimodal_decode_real",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         ((doc_id % 7) + 1) * 4 AS w,
         ((doc_id % 5) + 1) * 2 AS h,
         (doc_id * 131) % 256 AS seed
  FROM documents
),
px AS (
  SELECT doc_id, w, h, seed, unnest(range(w * h * 3)) AS i FROM dims
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(CASE WHEN i % 3 = 0 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN i % 3 = 1 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN i % 3 = 2 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS b_sum
FROM px GROUP BY doc_id, w, h
""",
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: per doc, an Arrow-batched mapInPandas
    stage ENCODES a genuine 24-bit BMP file (deterministic pixel ramp), and a
    second mapInPandas stage DECODES it with the pure-numpy BMP codec
    (operators/multimodal.py:decode_image_real — header parse, 4-byte row
    padding, bottom-up rows, BGR->RGB) and emits exact integer channel
    statistics. The oracle recomputes the stats from the ramp's closed form,
    so the whole encode->bytes->decode->feature path is value-hash verified —
    any header/stride/channel-order bug shifts a sum and fails the gate.

    Scale: identical shape to the stubbed decode path — payload bytes cross
    the JVM<->Python boundary once per Arrow batch, decode is per-payload
    with vectorized pixel math inside, no shuffle anywhere; a PNG/JPEG codec
    swaps in behind the same seam with zero plan changes."""
    from ..operators.multimodal import REAL_FEATURES_SCHEMA, real_decode_features

    dims = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        (((F.col("doc_id") % 7) + 1) * 4).alias("w"),
        (((F.col("doc_id") % 5) + 1) * 2).alias("h"),
        ((F.col("doc_id") * 131) % 256).alias("seed"),
    )
    media = dims.mapInPandas(_bmp_media_batches, _BMP_SCHEMA)
    return media.mapInPandas(real_decode_features, REAL_FEATURES_SCHEMA)


# --- perceptual hash over DECODED pixels (VERDICT r8 #5) --------------------------

THUMB_W = 32  # fixed thumbnail dims: every payload decodes to the same grid
THUMB_H = 8
_THUMB_BYTES = THUMB_W * THUMB_H * 3
# Image-clique fixture parameters: docs in the same group of PHASH_GROUP
# render the same base pattern; each variant perturbs one small block.
PHASH_GROUP = 4
_FLIP_BYTES = 12

# Why the images are doc_id-derived and NOT rendered from text: this was
# measured. Rendering each doc's text (codepoints stretch-resampled across
# the canvas) gives hamming ~21-34 on j=0.99 Jaccard NEAR-DUP TEXT pairs —
# indistinguishable from random pairs (median 29) — because the corpus's
# near-dups are EDIT-shifted: one inserted word shifts every later sampled
# character, and character streams, unlike natural images, have no local
# smoothness for block-averaging to absorb. Edit-near text simply does not
# render to pixel-near images, so an honest IMAGE near-dup fixture needs
# actually-near images: per-group sawtooth base (frequency, vertical
# gradient, and phase all group-derived — high cell-level contrast, unlike
# uniform noise whose cell means all sit at the global mean and turn every
# bit into a coin flip) plus a {_FLIP_BYTES}-byte +128 block per variant.
# Measured separation with hamming <= {PHASH_MAX_HAMMING}: within-group
# recall 743/750 at 500 docs (0 cross-group false pairs) and 7355/7500 at
# 5000 docs (449 of 12.5M cross pairs within threshold).

_PHASH_DECODED_ORACLE = f"""
WITH d AS (
  SELECT doc_id, doc_id // {PHASH_GROUP} AS grp, doc_id % {PHASH_GROUP} AS v
  FROM documents
),
byt AS (
  SELECT doc_id, j.j // 3 AS p,
    CASE WHEN j.j >= v * 48 AND j.j < v * 48 + {_FLIP_BYTES}
         THEN ((j.j * ((grp % 97) + 3) + (j.j // 96) * ((grp % 29) * 16)
                + grp * 53) % 256 + 128) % 256
         ELSE (j.j * ((grp % 97) + 3) + (j.j // 96) * ((grp % 29) * 16)
               + grp * 53) % 256
    END AS b
  FROM d, (SELECT unnest(range({_THUMB_BYTES})) AS j) j
),
px AS (
  SELECT doc_id, sum(b) // 3 AS g,
         ((p // {THUMB_W}) * 6 // {THUMB_H}) * 10
         + ((p % {THUMB_W}) * 10 // {THUMB_W}) AS cell
  FROM byt GROUP BY doc_id, p
),
cells AS (SELECT doc_id, cell, sum(g) AS cs, count(*) AS cc FROM px GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(g) AS ts, count(*) AS tc FROM px GROUP BY 1),
ph AS (
  SELECT c.doc_id,
         sum(CASE WHEN c.cs * t.tc > t.ts * c.cc
                  THEN 1::BIGINT << CAST(c.cell AS INT) ELSE 0 END) AS phash
  FROM cells c JOIN tot t ON t.doc_id = c.doc_id
  GROUP BY c.doc_id
),
bands AS (
  SELECT doc_id, phash, b.band,
         (phash // (1::BIGINT << CAST(b.band * {_PHASH_BAND_BITS} AS INT))) % {1 << _PHASH_BAND_BITS} AS band_bits
  FROM ph CROSS JOIN (SELECT unnest(range({PHASH_BANDS})) AS band) b
)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       bit_count(xor(x.phash, y.phash)) AS hamming
FROM bands x JOIN bands y
  ON x.band = y.band AND x.band_bits = y.band_bits AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.phash, y.phash)) <= {PHASH_MAX_HAMMING}
"""

def _neardup_bmp_batches(batches):
    """Fixture synth for the decoded-phash path: a GENUINE {THUMB_W}x
    {THUMB_H} 24-bit BMP per doc. Byte j of the RGB stream is the group
    sawtooth ((j*f + (j DIV 96)*((grp%29)*16) + grp*53) % 256 with
    f = (grp%97)+3), +128 (mod 256) inside the variant's
    {_FLIP_BYTES}-byte block starting at v*48 — docs in one group are
    near-identical IMAGES, cross-group images are unrelated. Closed-form
    integer arithmetic, mirrored exactly by the SQL oracle."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp

    j = np.arange(_THUMB_BYTES, dtype=np.int64)
    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            g, v = int(doc_id) // PHASH_GROUP, int(doc_id) % PHASH_GROUP
            f = (g % 97) + 3
            b = (j * f + (j // 96) * ((g % 29) * 16) + g * 53) % 256
            mask = (j >= v * 48) & (j < v * 48 + _FLIP_BYTES)
            b = np.where(mask, (b + 128) % 256, b)
            payloads.append(
                encode_bmp(b.astype(np.uint8).reshape(THUMB_H, THUMB_W, 3))
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register("phash_image_neardup_decoded", oracle=_PHASH_DECODED_ORACLE)
def phash_image_neardup_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hash over DECODED PIXELS — the honest pHash recipe, where
    phash_image_neardup samples raw payload bytes: (1) an Arrow mapInPandas
    stage synthesizes a genuine 24-bit BMP per doc (image cliques: same
    group -> near-identical images, see _neardup_bmp_batches and the
    measured note above on why TEXT-rendered images cannot be image
    near-dups); (2) a second stage DECODES those bytes with the pure-numpy
    BMP codec (operators/multimodal.py:decode_image_real) and computes the
    classic average-hash: integer grayscale, 6x10 block-average downsample,
    one bit per cell vs the global mean — all integer-exact, so the DuckDB
    oracle value-hashes the whole encode->decode->downsample->hash path
    (any stride/padding/channel-order bug flips bits and fails the gate);
    (3) the shared {PHASH_BANDS}-band pigeonhole join finds pairs within
    hamming {PHASH_MAX_HAMMING}.

    Versus the byte-sampled variant: tests/test_multimodal.py pins that the
    decoded hash recovers its image cliques (within-group recall 743/750 at
    sf0.01 group size {PHASH_GROUP}) with zero cross-group pairs at 500
    docs — numbers the byte-sampling shortcut cannot produce from real
    image bytes, since it never undoes BMP row padding / bottom-up order /
    BGR (its samples land on raw stored bytes, not pixels).

    Scale: two narrow mapInPandas stages (payload crosses the JVM<->Python
    boundary once per batch, vectorized numpy inside), zero shuffles before
    the band join, then the banded self-join on 10-bit keys — the SimHash
    machinery. A real decoder (PIL/libvips) swaps in behind
    decode_image_real with zero plan changes."""
    from ..operators.multimodal import PHASH_SCHEMA, phash_decoded_batches

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    media = docs.mapInPandas(_neardup_bmp_batches, _BMP_SCHEMA)
    ph = media.mapInPandas(phash_decoded_batches, PHASH_SCHEMA)
    return band_hamming_pairs(ph, "phash", PHASH_PIXELS, PHASH_BANDS, PHASH_MAX_HAMMING)


# --- REAL frame sampling over a video-ish container (r9) ----------------------------

FRAME_STRIDE = 2  # decode every 2nd frame — the sampling step real pipelines take

_FRAME_REAL_ORACLE = """
WITH vids AS (
  SELECT doc_id,
         (doc_id % 4) + 1 AS n_frames,
         ((doc_id % 7) + 1) * 4 AS w,
         ((doc_id % 5) + 1) * 2 AS h
  FROM documents
),
sampled AS (
  SELECT doc_id, w, h, f.fi AS frame_idx,
         (doc_id * 131 + f.fi * 17) % 256 AS seed
  FROM vids, (SELECT unnest(range(4)) AS fi) f
  WHERE f.fi < n_frames AND f.fi % 2 = 0
),
px AS (
  SELECT doc_id, frame_idx, w, h, seed, unnest(range(w * h * 3)) AS i
  FROM sampled
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(sum(CASE WHEN i % 3 = 0 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN i % 3 = 1 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN i % 3 = 2 THEN (seed + 7 * i) % 256 END) AS BIGINT) AS b_sum
FROM px GROUP BY doc_id, frame_idx, w, h
"""


def _bmv_media_batches(batches):
    """Fixture synth for the real frame-extraction path: per doc, a BMV
    container (see operators/multimodal.py) holding (doc_id % 4) + 1 genuine
    24-bit BMP frames; frame f's pixel ramp is v(i) = (doc_id*131 + f*17 +
    7*i) % 256 over the row-major RGB stream — per-frame content, closed
    form, mirrored exactly by the SQL oracle."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, encode_bmv

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = ((d % 7) + 1) * 4, ((d % 5) + 1) * 2
            frames = []
            for f in range((d % 4) + 1):
                seed = (d * 131 + f * 17) % 256
                vals = (seed + 7 * np.arange(w * h * 3, dtype=np.int64)) % 256
                frames.append(encode_bmp(vals.astype(np.uint8).reshape(h, w, 3)))
            payloads.append(encode_bmv(frames))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register("multimodal_frame_sample_real", oracle=_FRAME_REAL_ORACLE)
def multimodal_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end, the container-parsing
    counterpart of multimodal_decode_real: stage 1 synthesizes a genuine
    BMV container per doc (magic + u32 frame index + concatenated 24-bit
    BMP frames — the spec-simple stand-in for an MP4/AVI demux, see
    operators/multimodal.py); stage 2 PARSES the container (magic, index
    bounds, offset arithmetic — corrupt indexes raise), DECODES every
    {FRAME_STRIDE}nd frame with the pure-numpy BMP codec, and emits exact
    per-frame integer channel statistics. The oracle recomputes them from
    the per-frame ramp's closed form, so container parsing, frame offsets,
    stride selection, AND the per-frame decode are all value-hash verified
    — an off-by-one in the frame index or a stride slip shifts a seed and
    breaks the hash. Complements multimodal_frame_sample (the byte-offset
    fake): same row-expanding shape, real bytes.

    Scale: identical to the other mapInPandas media paths — containers
    cross the Arrow boundary once per batch, frame decode is per-payload
    with vectorized pixel math, no shuffle anywhere; a libav demuxer swaps
    in behind decode_bmv with zero plan changes."""
    from ..operators.multimodal import FRAME_FEATURES_SCHEMA, real_frame_sample

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    media = docs.mapInPandas(_bmv_media_batches, _BMP_SCHEMA)
    return media.mapInPandas(real_frame_sample(FRAME_STRIDE), FRAME_FEATURES_SCHEMA)


# --- REAL audio decode over genuine WAV/PCM files (r9) ------------------------------

AUDIO_WINDOW_FRAMES = 64  # per-window feature stride (frames), the VAD/ASR shape


def _wav_media_batches(batches):
    """Fixture side of the real audio codec path: synthesize a GENUINE
    16-bit PCM WAV file per doc — channel count, sample rate, and length
    doc_id-derived; interleaved raw sample k is the ramp
    s(k) = ((seed + 11*k) % 4096) - 2048 (full int16 headroom untouched,
    sign changes guaranteed). The payload leaving this stage is a
    spec-compliant RIFF/WAVE file, not a text blob."""
    import numpy as np
    import pandas as pd

    from ..operators.audio import encode_wav

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            nch = (d % 2) + 1
            rate = 8000 + (d % 3) * 4000
            nframes = ((d % 9) + 1) * 50
            seed = (d * 17) % 4096
            raw = ((seed + 11 * np.arange(nframes * nch, dtype=np.int64)) % 4096) - 2048
            payloads.append(
                encode_wav(raw.astype(np.int16).reshape(nframes, nch), rate)
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


_AUDIO_REAL_ORACLE = """
WITH p AS (
  SELECT doc_id,
         (doc_id % 2) + 1 AS nch,
         8000 + (doc_id % 3) * 4000 AS rate,
         ((doc_id % 9) + 1) * 50 AS nframes,
         (doc_id * 17) % 4096 AS seed
  FROM documents
),
samp AS (
  SELECT doc_id, nch, k.k AS k, ((seed + 11 * k.k) % 4096) - 2048 AS s
  FROM p, (SELECT unnest(range(nframes * nch)) AS k) k
),
base AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN k % nch = 0 THEN s END) AS BIGINT) AS ch0_sum,
         CAST(sum(CASE WHEN k % nch = nch - 1 THEN s END) AS BIGINT) AS chl_sum,
         CAST(max(abs(s)) AS BIGINT) AS peak_abs,
         CAST(sum(s * s) AS BIGINT) AS energy
  FROM samp GROUP BY doc_id
),
zc AS (
  SELECT p.doc_id,
         CAST(sum(CASE WHEN (((seed + 11 * ((f.f - 1) * nch)) % 4096) - 2048 < 0)
                        <> (((seed + 11 * (f.f * nch)) % 4096) - 2048 < 0)
                   THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM p, (SELECT unnest(range(1, nframes)) AS f) f
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       CAST(p.nch AS BIGINT) AS n_channels,
       CAST(p.rate AS BIGINT) AS sample_rate,
       CAST(p.nframes AS BIGINT) AS n_frames,
       CAST(p.nframes * 1000 // p.rate AS BIGINT) AS duration_ms,
       b.ch0_sum, b.chl_sum, b.peak_abs, b.energy, z.zero_crossings
FROM p JOIN base b USING (doc_id) JOIN zc z USING (doc_id)
"""


@register("multimodal_audio_decode_real", oracle=_AUDIO_REAL_ORACLE)
def multimodal_audio_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end, the third honest codec after BMP images
    (multimodal_decode_real) and BMV containers (multimodal_frame_sample_real):
    stage 1 ENCODES a genuine 16-bit PCM RIFF/WAVE file per doc (mono/stereo
    alternating by doc_id, three sample rates, deterministic sample ramp);
    stage 2 DECODES it with the pure-numpy WAV codec
    (operators/audio.py:decode_audio_real — RIFF chunk walk, fmt validation,
    interleaved-frame deinterleave) and emits exact integer features:
    first/last channel sums (an interleave or endianness bug mixes them),
    peak |sample|, total squared energy, and the channel-0 zero-crossing
    count. The oracle recomputes every column from the ramp's closed form,
    so the whole encode -> bytes -> decode -> feature path is value-hash
    verified. MP3/AAC/non-PCM stay behind NotImplementedError — the seam a
    libsndfile call slots into.

    Scale: identical shape to the image paths — two narrow Arrow-batched
    mapInPandas stages, payload crosses the JVM<->Python boundary once per
    batch, vectorized sample math, no shuffle anywhere."""
    from ..operators.audio import AUDIO_FEATURES_SCHEMA, audio_decode_features

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    media = docs.mapInPandas(_wav_media_batches, _BMP_SCHEMA)
    return media.mapInPandas(audio_decode_features, AUDIO_FEATURES_SCHEMA)


_AUDIO_WINDOW_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         (doc_id % 2) + 1 AS nch,
         ((doc_id % 9) + 1) * 50 AS nframes,
         (doc_id * 17) % 4096 AS seed
  FROM documents
),
ch0 AS (
  SELECT doc_id, f.f // {AUDIO_WINDOW_FRAMES} AS window_idx,
         ((seed + 11 * (f.f * nch)) % 4096) - 2048 AS s
  FROM p, (SELECT unnest(range(nframes)) AS f) f
)
SELECT doc_id,
       CAST(window_idx AS BIGINT) AS window_idx,
       CAST(count(*) AS BIGINT) AS n_frames_in_window,
       CAST(sum(s * s) AS BIGINT) AS w_energy,
       CAST(max(abs(s)) AS BIGINT) AS w_peak
FROM ch0 GROUP BY doc_id, window_idx
"""


@register("audio_window_energy_real", oracle=_AUDIO_WINDOW_ORACLE)
def audio_window_energy_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over REAL decoded samples — the row-expanding
    (1 clip -> N windows) shape VAD/ASR preprocessing uses: decode each WAV
    with the pure-numpy codec, take channel 0, and emit one row per
    {AUDIO_WINDOW_FRAMES}-frame window with exact integer energy (sum of
    squares) and peak |sample|. Window boundaries are frame-index integer
    division, so the oracle reproduces them exactly from the fixture ramp's
    closed form; a deinterleave slip (reading channel 1 for stereo docs) or
    a window off-by-one shifts an energy sum and fails the hash.

    Scale: the expansion happens INSIDE the Arrow kernel (vectorized
    bincount per payload), so the plan stays a single narrow mapInPandas
    chain — no explode, no shuffle; window count is bounded by clip length,
    never corpus size."""
    from ..operators.audio import AUDIO_WINDOW_SCHEMA, audio_window_energy

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    media = docs.mapInPandas(_wav_media_batches, _BMP_SCHEMA)
    return media.mapInPandas(
        audio_window_energy(AUDIO_WINDOW_FRAMES), AUDIO_WINDOW_SCHEMA
    )


# --- audio fingerprint near-dup over REAL decoded samples (r9) -----------------------

FP_WINDOW_FRAMES = 25  # fingerprint windows: finer than the 64-frame VAD windows
FP_SEED_MOD = 128  # fixture collision modulus: docs d and d+128k share a ramp
FP_SHINGLE = 3  # consecutive window energies per fingerprint shingle
FP_MIN_MATCH = 2  # pairs must share >= 2 aligned shingles to count as near-dups


def _wav_fp_media_batches(batches):
    """Fixture synth for the fingerprint path: identical WAV shape to
    _wav_media_batches but with the ramp seed folded to mod 128, so docs
    d and d+128k (same parity -> same channel count -> same interleave
    stride) carry IDENTICAL channel-0 sample streams up to the shorter
    clip's length — the classic near-dup shape of a clip and its
    truncation/re-encode. Clip lengths still differ by doc_id, so matches
    are genuine prefix alignments, not exact file duplicates."""
    import numpy as np
    import pandas as pd

    from ..operators.audio import encode_wav

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            nch = (d % 2) + 1
            rate = 8000 + (d % 3) * 4000
            nframes = ((d % 9) + 1) * 50
            seed = (d * 17) % FP_SEED_MOD
            raw = ((seed + 11 * np.arange(nframes * nch, dtype=np.int64)) % 4096) - 2048
            payloads.append(encode_wav(raw.astype(np.int16).reshape(nframes, nch), rate))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


_AUDIO_FP_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         (doc_id % 2) + 1 AS nch,
         ((doc_id % 9) + 1) * 50 AS nframes,
         (doc_id * 17) % {FP_SEED_MOD} AS seed
  FROM documents
),
e AS (
  SELECT doc_id, f.f // {FP_WINDOW_FRAMES} AS window_idx,
         CAST(sum((((seed + 11 * f.f * nch) % 4096) - 2048)
                * (((seed + 11 * f.f * nch) % 4096) - 2048)) AS BIGINT) AS e0
  FROM p, (SELECT unnest(range(nframes)) AS f) f
  GROUP BY doc_id, f.f // {FP_WINDOW_FRAMES}
),
sh AS (
  SELECT doc_id, window_idx, e0,
         lead(e0, 1) OVER (PARTITION BY doc_id ORDER BY window_idx) AS e1,
         lead(e0, 2) OVER (PARTITION BY doc_id ORDER BY window_idx) AS e2
  FROM e
),
shf AS (
  SELECT *, count(*) OVER (PARTITION BY doc_id) AS n_shingles
  FROM sh WHERE e2 IS NOT NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_match,
       CAST(min(least(a.n_shingles, b.n_shingles)) AS BIGINT) AS min_shingles
FROM shf a JOIN shf b
  ON a.window_idx = b.window_idx AND a.e0 = b.e0 AND a.e1 = b.e1 AND a.e2 = b.e2
 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {FP_MIN_MATCH}
"""


@register("audio_fingerprint_neardup", oracle=_AUDIO_FP_ORACLE)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection over REAL decoded samples — the audio
    counterpart of phash_image_neardup_decoded, completing the multimodal
    near-dup story (text shingles / image pixels / audio samples). Stage 1
    synthesizes genuine 16-bit PCM WAV files whose content collides mod 128
    (a clip and its truncations); stage 2 DECODES each file with the
    pure-numpy WAV codec and emits exact integer energies per 25-frame
    window (the no-FFT stand-in for Chromaprint's quantized spectral
    features — an FFT band energy slots into the same kernel); stage 3
    shingles {FP_SHINGLE} consecutive window energies into time-aligned
    sub-fingerprints and self-joins on (window_idx, energy triple) — each
    shingle IS an exact LSH band, so candidate generation is a bucketed
    equi-join, never a cross product; stage 4 scores pairs by matching
    shingle count. Production swaps the raw triple join key for its 64-bit
    hash (same plan, narrower shuffle) — here the raw key keeps the oracle
    value-hash-exact end to end.

    Scale: candidate pairs are bounded by per-band collision counts exactly
    like dedup_minhash_lsh; the only shuffles are the window partition by
    doc_id and the band-key join. No corpus-sized broadcast, no Python in
    the pair path (Python touches bytes only in the decode kernel)."""
    from pyspark.sql import Window as W

    from ..operators.audio import AUDIO_WINDOW_SCHEMA, audio_window_energy

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    media = docs.mapInPandas(_wav_fp_media_batches, _BMP_SCHEMA)
    wins = media.mapInPandas(audio_window_energy(FP_WINDOW_FRAMES), AUDIO_WINDOW_SCHEMA)

    w = W.partitionBy("doc_id").orderBy("window_idx")
    sh = (
        wins.select(
            "doc_id",
            "window_idx",
            F.col("w_energy").alias("e0"),
            F.lead("w_energy", 1).over(w).alias("e1"),
            F.lead("w_energy", 2).over(w).alias("e2"),
        )
        .where(F.col("e2").isNotNull())
        .withColumn("n_shingles", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    # both join sides read the same shingle set; persist so the decode +
    # window + lead pipeline runs once, not twice
    sh = track_persist(sh)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.window_idx") == F.col("b.window_idx"),
                F.col("a.e0") == F.col("b.e0"),
                F.col("a.e1") == F.col("b.e1"),
                F.col("a.e2") == F.col("b.e2"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.min(F.least(F.col("a.n_shingles"), F.col("b.n_shingles"))).alias(
                "min_shingles"
            ),
        )
        .where(F.col("n_match") >= FP_MIN_MATCH)
    )


# --- REAL PNG decode path (stdlib zlib + defilter, VERDICT r9 #4) --------------------


# Deterministic 16-entry palette for the color-type-3 leg: entry j,
# channel c -> (7 + 31*j + 17*c) % 256 (the oracle restates the same
# closed form).
_PNG_PAL_N = 16


def _png_media_batches(batches):
    """Fixture side of the PNG codec path: synthesize a GENUINE 8-bit PNG
    per doc, COLOR TYPE CYCLING by doc_id % 3 — 0: grayscale, 1: RGB,
    2: palette (16-entry PLTE) — from the deterministic pixel ramp
    v(i) = (seed + 11*i) % 256 (indices ramp % 16 for the palette leg),
    row filters cycling 0..4 so every payload exercises all five defilter
    paths across all three color-type decode paths."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_png

    pal = (
        7
        + 31 * np.arange(_PNG_PAL_N, dtype=np.int64)[:, None]
        + 17 * np.arange(3, dtype=np.int64)[None, :]
    ) % 256
    for pdf in batches:
        payloads = []
        for doc_id, w, h, seed in zip(pdf["doc_id"], pdf["w"], pdf["h"], pdf["seed"]):
            w, h, seed = int(w), int(h), int(seed)
            kind = int(doc_id) % 3
            if kind == 1:  # RGB
                vals = (seed + 11 * np.arange(w * h * 3, dtype=np.int64)) % 256
                payloads.append(
                    encode_png(vals.astype(np.uint8).reshape(h, w, 3))
                )
            elif kind == 0:  # grayscale
                vals = (seed + 11 * np.arange(w * h, dtype=np.int64)) % 256
                payloads.append(
                    encode_png(vals.astype(np.uint8).reshape(h, w), color_type=0)
                )
            else:  # palette
                idx = ((seed + 11 * np.arange(w * h, dtype=np.int64)) % _PNG_PAL_N)
                payloads.append(
                    encode_png(
                        idx.astype(np.uint8).reshape(h, w),
                        color_type=3,
                        palette=pal.astype(np.uint8),
                    )
                )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _png_decode_features(batches):
    """Decode each PNG payload with the stdlib-zlib codec and emit exact
    integer channel statistics (same report shape as the BMP real path)."""
    import pandas as pd

    from ..operators.multimodal import decode_png

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "n_pixels", "r_sum", "g_sum", "b_sum")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_png(bytes(payload))
            h, w = img.shape[:2]
            sums = img.reshape(-1, 3).sum(axis=0, dtype="int64")
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["n_pixels"].append(w * h)
            out["r_sum"].append(int(sums[0]))
            out["g_sum"].append(int(sums[1]))
            out["b_sum"].append(int(sums[2]))
        yield pd.DataFrame(out)


@register(
    "multimodal_png_decode_real",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 3 AS kind,
         ((doc_id % 6) + 1) * 5 AS w,
         ((doc_id % 4) + 1) * 3 AS h,
         (doc_id * 97) % 256 AS seed
  FROM documents
),
rgb AS (
  SELECT doc_id, w, h,
         CAST(sum(CASE WHEN i % 3 = 0 THEN (seed + 11 * i) % 256 END) AS BIGINT) AS r_sum,
         CAST(sum(CASE WHEN i % 3 = 1 THEN (seed + 11 * i) % 256 END) AS BIGINT) AS g_sum,
         CAST(sum(CASE WHEN i % 3 = 2 THEN (seed + 11 * i) % 256 END) AS BIGINT) AS b_sum
  FROM dims, unnest(range(w * h * 3)) AS t(i)
  WHERE kind = 1 GROUP BY doc_id, w, h
),
gray AS (
  SELECT doc_id, w, h,
         CAST(sum((seed + 11 * i) % 256) AS BIGINT) AS r_sum,
         CAST(sum((seed + 11 * i) % 256) AS BIGINT) AS g_sum,
         CAST(sum((seed + 11 * i) % 256) AS BIGINT) AS b_sum
  FROM dims, unnest(range(w * h)) AS t(i)
  WHERE kind = 0 GROUP BY doc_id, w, h
),
pal AS (
  SELECT doc_id, w, h,
         CAST(sum((7 + 31 * ((seed + 11 * i) % 16) + 17 * 0) % 256) AS BIGINT) AS r_sum,
         CAST(sum((7 + 31 * ((seed + 11 * i) % 16) + 17 * 1) % 256) AS BIGINT) AS g_sum,
         CAST(sum((7 + 31 * ((seed + 11 * i) % 16) + 17 * 2) % 256) AS BIGINT) AS b_sum
  FROM dims, unnest(range(w * h)) AS t(i)
  WHERE kind = 2 GROUP BY doc_id, w, h
),
allk AS (
  SELECT * FROM rgb UNION ALL SELECT * FROM gray UNION ALL SELECT * FROM pal
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       r_sum, g_sum, b_sum
FROM allk
""",
)
def multimodal_png_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end — the compressed-codec upgrade of the BMP
    real path (VERDICT r9 #4): one mapInPandas stage ENCODES a genuine
    8-bit PNG per doc (zlib IDAT, CRC-checked chunks, row filters cycling
    through all five types, COLOR TYPE cycling gray/RGB/palette by
    doc_id % 3), a second stage DECODES it with the stdlib-only codec
    (operators/multimodal.py:decode_png — chunk walk + CRC verify +
    inflate + integer-exact Sub/Up/Average/Paeth defilter + PLTE lookup /
    gray expansion) and emits exact integer channel statistics. The
    oracle recomputes the stats from each color type's closed form, so
    signature parse, chunk CRCs, inflate, EVERY defilter path, AND all
    three baseline color-type reconstructions are value-hash verified — a
    single wrong predictor byte or palette entry shifts a channel sum and
    fails the gate.

    Scale: identical shape to multimodal_decode_real — payload bytes cross
    the JVM<->Python boundary once per Arrow batch, decode is per-payload,
    no shuffle; JPEG/WebP stay behind the NotImplementedError seam."""
    dims = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        (((F.col("doc_id") % 6) + 1) * 5).alias("w"),
        (((F.col("doc_id") % 4) + 1) * 3).alias("h"),
        ((F.col("doc_id") * 97) % 256).alias("seed"),
    )
    from ..operators.multimodal import REAL_FEATURES_SCHEMA

    media = dims.mapInPandas(_png_media_batches, _BMP_SCHEMA)
    return media.mapInPandas(_png_decode_features, REAL_FEATURES_SCHEMA)
