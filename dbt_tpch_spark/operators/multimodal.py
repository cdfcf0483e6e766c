"""Multimodal column plumbing: treat opaque binary payloads as first-class
columns and run decode / feature-extraction through ``mapInPandas`` (Arrow
batches) — the pattern a 100 TB image/audio/video pipeline uses.

The corpus ships no binary table, so the payload is the utf-8 encoding of
``documents.text`` (a stand-in blob). Real decoders (PIL/librosa/av) are not
installed in this environment, so the decode stage is STUBBED behind an
import-try: the Spark-side plumbing — schema, Arrow batch iteration,
partitioning — is real and tested; the pixel math is a deterministic fake
derived from the payload's md5 (which is exactly what the oracle SQL
recomputes; swapping in a real decoder only changes `_decode_batch`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import oracle

RESULT_SCHEMA = (
    "doc_id long, byte_len long, content_md5 string, "
    "width long, height long, channels long, decode_status string"
)


def _real_decoder_available() -> bool:
    try:  # pragma: no cover - decoders intentionally absent here
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Per-Arrow-batch 'decode': byte stats + md5-derived fake dimensions.

    A real deployment replaces the fake block with PIL/av decode of
    ``payload`` — the surrounding plumbing (schema, batching) is unchanged.
    """
    if _real_decoder_available():  # pragma: no cover
        raise NotImplementedError("real image decode not wired in this environment")
    payloads = batch["payload"]
    md5s = [hashlib.md5(p).hexdigest() for p in payloads]
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "byte_len": [len(p) for p in payloads],
            "content_md5": md5s,
            "width": [int(h[:4], 16) % 4096 for h in md5s],
            "height": [int(h[4:8], 16) % 4096 for h in md5s],
            "channels": 3,
            "decode_status": "stub_decoder",
        }
    )


def decode_binary_metadata(df):
    """mapInPandas decode over (doc_id, payload) — Arrow-batched, runs on
    executors, scales with partition count."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _decode_batch(batch)

    return df.mapInPandas(gen, schema=RESULT_SCHEMA)


@model("multimodal_metadata", layer="operators", materialization="view")
def multimodal_metadata(ctx):
    """Binary-payload metadata extraction via the Arrow/pandas path."""
    d = ctx.source("documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).repartition(8, "doc_id")
    return decode_binary_metadata(payload)


def _nib(k: int) -> str:
    return f"(instr('0123456789abcdef', substr(h, {k + 1}, 1)) - 1)"


def _hex4(start: int) -> str:
    # int(h[start:start+4], 16) as portable SQL
    terms = " + ".join(
        f"{_nib(start + i)} * {16 ** (3 - i)}" for i in range(4)
    )
    return f"({terms})"


oracle(
    "multimodal_metadata",
    ("documents",),
    f"""WITH hashed AS (
    SELECT
        doc_id,
        octet_length(encode(text)) AS byte_len,
        md5(text) AS h
    FROM documents
)
SELECT
    doc_id,
    CAST(byte_len AS BIGINT) AS byte_len,
    h AS content_md5,
    CAST({_hex4(0)} % 4096 AS BIGINT) AS width,
    CAST({_hex4(4)} % 4096 AS BIGINT) AS height,
    CAST(3 AS BIGINT) AS channels,
    'stub_decoder' AS decode_status
FROM hashed""",
)


# --------------------------------------------------------------------------
# feature extraction + resize planning (Arrow-batched, stub model)
# --------------------------------------------------------------------------

FEAT_DIM = 8
FEATURES_SCHEMA = (
    "doc_id long, "
    + ", ".join(f"f{i} double" for i in range(FEAT_DIM))
    + ", resize_width long, resize_height long"
)
RESIZE_BOX = 512


def _features_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Stub 'embedding model': FEAT_DIM floats from md5 nibble windows of
    the payload, plus an aspect-preserving resize plan for the fake
    dimensions. A real deployment swaps the md5 block for a model forward
    pass over the decoded tensor; schema and batching are unchanged."""
    if _real_decoder_available():  # pragma: no cover
        raise NotImplementedError("real feature extractor not wired here")
    md5s = [hashlib.md5(p).hexdigest() for p in batch["payload"]]
    out = {"doc_id": batch["doc_id"]}
    for i in range(FEAT_DIM):
        out[f"f{i}"] = [
            int(int(h[4 * i : 4 * i + 4], 16) / 65535.0 * 1e6 + 0.5) / 1e6
            for h in md5s
        ]
    widths = [int(h[:4], 16) % 4096 for h in md5s]
    heights = [int(h[4:8], 16) % 4096 for h in md5s]
    out["resize_width"] = [
        min(w, max(1, (w * RESIZE_BOX) // max(w, h))) if max(w, h) > RESIZE_BOX else w
        for w, h in zip(widths, heights)
    ]
    out["resize_height"] = [
        min(h, max(1, (h * RESIZE_BOX) // max(w, h))) if max(w, h) > RESIZE_BOX else h
        for w, h in zip(widths, heights)
    ]
    return pd.DataFrame(out)


@model("multimodal_features", layer="operators", materialization="view")
def multimodal_features(ctx):
    """Feature-extract + resize-plan over binary payloads (mapInPandas)."""
    d = ctx.source("documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).repartition(8, "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _features_batch(batch)

    return payload.mapInPandas(gen, schema=FEATURES_SCHEMA)


def _feat_sql(i: int) -> str:
    # int(h[4i:4i+4], 16) / 65535 rounded to 6 via the repo floor convention
    terms = " + ".join(
        f"{_nib(4 * i + j)} * {16 ** (3 - j)}" for j in range(4)
    )
    return f"(FLOOR(({terms}) / 65535.0 * 1000000.0 + 0.5) / 1000000.0)"


oracle(
    "multimodal_features",
    ("documents",),
    f"""WITH hashed AS (
    SELECT doc_id, md5(text) AS h FROM documents
),
dims AS (
    SELECT *,
        CAST({_hex4(0)} % 4096 AS BIGINT) AS w,
        CAST({_hex4(4)} % 4096 AS BIGINT) AS h2
    FROM hashed
)
SELECT
    doc_id,
    {', '.join(f'{_feat_sql(i)} AS f{i}' for i in range(FEAT_DIM))},
    CASE WHEN greatest(w, h2) > {RESIZE_BOX}
         THEN least(w, greatest(1, (w * {RESIZE_BOX}) // greatest(w, h2)))
         ELSE w END AS resize_width,
    CASE WHEN greatest(w, h2) > {RESIZE_BOX}
         THEN least(h2, greatest(1, (h2 * {RESIZE_BOX}) // greatest(w, h2)))
         ELSE h2 END AS resize_height
FROM dims""",
)


# --------------------------------------------------------------------------
# frame sampling (one input row -> many output rows through Arrow)
# --------------------------------------------------------------------------

FRAME_LEN = 16
FRAME_STRIDE = 256
FRAMES_SCHEMA = "doc_id long, frame_idx long, frame_md5 string"


def _frames_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Stub 'video frame sampler': every FRAME_STRIDE bytes, hash a
    FRAME_LEN-byte window (stand-in for decode+keyframe extraction). The
    batch shape this exercises — one input row exploding to a variable
    number of output rows inside mapInPandas — is the real contract a
    frame-sampling UDF must satisfy."""
    if _real_decoder_available():  # pragma: no cover
        raise NotImplementedError("real frame decode not wired here")
    doc_ids, idxs, hashes = [], [], []
    for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
        n = len(payload)
        for k, off in enumerate(range(0, n - FRAME_LEN + 1, FRAME_STRIDE)):
            doc_ids.append(doc_id)
            idxs.append(k)
            hashes.append(hashlib.md5(payload[off : off + FRAME_LEN]).hexdigest())
    return pd.DataFrame({"doc_id": doc_ids, "frame_idx": idxs, "frame_md5": hashes})


@model("multimodal_frame_sample", layer="operators", materialization="view")
def multimodal_frame_sample(ctx):
    """Deterministic frame sampling over binary payloads (mapInPandas,
    row-exploding batch shape)."""
    d = ctx.source("documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).repartition(8, "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _frames_batch(batch)

    return payload.mapInPandas(gen, schema=FRAMES_SCHEMA)


oracle(
    "multimodal_frame_sample",
    ("documents",),
    f"""WITH frames AS (
    SELECT
        doc_id,
        text,
        UNNEST(range(0, length(text) - {FRAME_LEN} + 1, {FRAME_STRIDE})) AS off
    FROM documents
    WHERE length(text) >= {FRAME_LEN}
)
SELECT
    doc_id,
    CAST(off // {FRAME_STRIDE} AS BIGINT) AS frame_idx,
    md5(substr(text, CAST(off + 1 AS INT), {FRAME_LEN})) AS frame_md5
FROM frames""",
)


# --------------------------------------------------------------------------
# perceptual-hash near-dup (aHash over the stub-decoded tensor, banded)
# --------------------------------------------------------------------------

PHASH_BITS = 64
PHASH_BANDS = 8  # 8 x 8-bit bands
#: pigeonhole guarantee: a pair within PHASH_HAMMING_MAX < PHASH_BANDS bit
#: flips MUST agree on at least one band, so band blocking has 100% recall
#: at this threshold (the same argument as MinHash banding).
PHASH_HAMMING_MAX = 7

PHASH_SCHEMA = (
    "doc_id long, hash_hi long, hash_lo long, "
    + ", ".join(f"band{k} long" for k in range(PHASH_BANDS))
)


def _phash_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """aHash over the stub decode: the payload 'decodes' to a 64-bin
    bigram-shingle histogram (each adjacent token pair hashes into one of
    64 bins — the deterministic stand-in for a downscaled grayscale
    tensor, chosen so near-duplicate payloads produce NEAR hashes, which
    byte-level md5 would not; bigrams rather than unigrams so a
    shared-vocabulary corpus stays discriminative), then the classic
    average-hash threshold in exact integer arithmetic:
    bit_i = (64 * bin_i >= total). A real deployment replaces the
    histogram block with decode+downscale of the image; thresholding,
    bit packing, and banding are the real aHash computation, unchanged."""
    if _real_decoder_available():  # pragma: no cover
        raise NotImplementedError("real image decode not wired here")
    out = {
        "doc_id": list(batch["doc_id"]),
        "hash_hi": [],
        "hash_lo": [],
        **{f"band{k}": [] for k in range(PHASH_BANDS)},
    }
    for p in batch["payload"]:
        toks = bytes(p).decode("utf-8").lower().strip().split(" ")
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        bins = [0] * PHASH_BITS
        for g in grams:
            bins[int(hashlib.md5(g.encode()).hexdigest()[:2], 16) % PHASH_BITS] += 1
        total = len(grams)
        bits = [1 if PHASH_BITS * v >= total else 0 for v in bins]
        out["hash_hi"].append(sum(b << i for i, b in enumerate(bits[:32])))
        out["hash_lo"].append(sum(b << i for i, b in enumerate(bits[32:])))
        for k in range(PHASH_BANDS):
            chunk = bits[8 * k : 8 * k + 8]
            out[f"band{k}"].append(sum(b << i for i, b in enumerate(chunk)))
    return pd.DataFrame(out)


@model("multimodal_phash_dedup", layer="operators", materialization="view")
def multimodal_phash_dedup(ctx):
    """Perceptual-hash near-dup through the multimodal path: Arrow-batched
    aHash of every payload (mapInPandas — the 'model stage'), then
    LSH-style band blocking and an exact Hamming verify at
    <= PHASH_HAMMING_MAX — the binary-modality twin of
    dedup_simhash_pairs. Never all-pairs: candidates come from the band
    equi-join, and the 8x8 banding is pigeonhole-complete at the chosen
    threshold (any pair with <= 7 differing bits shares a band)."""
    d = ctx.source("documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).repartition(8, "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _phash_batch(batch)

    hashes = barrier(payload.mapInPandas(gen, schema=PHASH_SCHEMA))
    bands = hashes.select(
        "doc_id",
        "hash_hi",
        "hash_lo",
        F.posexplode(
            F.array(*[F.col(f"band{k}") for k in range(PHASH_BANDS)])
        ).alias("band_idx", "band_val"),
    )
    a = bands.withColumnsRenamed(
        {"doc_id": "doc_a", "hash_hi": "hi_a", "hash_lo": "lo_a"}
    )
    b = bands.withColumnsRenamed(
        {"doc_id": "doc_b", "hash_hi": "hi_b", "hash_lo": "lo_b"}
    )
    ham = (
        F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    ).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
    )


oracle(
    "multimodal_phash_dedup",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id,
           unnest(string_split(lower(trim(text)), ' ')) AS w,
           generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
    FROM documents
),
grams AS (
    SELECT a.doc_id, concat(a.w, ' ', b.w) AS g
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
binned AS (
    SELECT doc_id,
           ((instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1))
               % {PHASH_BITS} AS bin
    FROM grams
),
bins AS (
    SELECT doc_id, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2
),
tot AS (
    SELECT doc_id, SUM(n) AS total FROM bins GROUP BY 1
),
bits AS (
    SELECT t.doc_id, d.bin,
           CASE WHEN b.n IS NOT NULL AND {PHASH_BITS} * b.n >= t.total
                THEN 1 ELSE 0 END AS bit
    FROM tot t
    CROSS JOIN (SELECT UNNEST(range(0, {PHASH_BITS})) AS bin) d
    LEFT JOIN bins b ON b.doc_id = t.doc_id AND b.bin = d.bin
),
hashes AS (
    SELECT doc_id,
        CAST(SUM(CASE WHEN bin < 32
                 THEN bit * (CAST(1 AS BIGINT) << CAST(bin AS INTEGER))
                 ELSE 0 END) AS BIGINT) AS hash_hi,
        CAST(SUM(CASE WHEN bin >= 32
                 THEN bit * (CAST(1 AS BIGINT) << CAST(bin - 32 AS INTEGER))
                 ELSE 0 END) AS BIGINT) AS hash_lo
    FROM bits GROUP BY 1
),
bandtbl AS (
    SELECT doc_id,
           CAST(bin // 8 AS BIGINT) AS band_idx,
           CAST(SUM(bit * (1 << CAST(bin % 8 AS INTEGER))) AS BIGINT)
               AS band_val
    FROM bits GROUP BY 1, 2
)
SELECT DISTINCT
    a.doc_id AS doc_a,
    b.doc_id AS doc_b,
    CAST(bit_count(xor(ha.hash_hi, hb.hash_hi))
         + bit_count(xor(ha.hash_lo, hb.hash_lo)) AS BIGINT) AS hamming
FROM bandtbl a
JOIN bandtbl b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
JOIN hashes ha ON ha.doc_id = a.doc_id
JOIN hashes hb ON hb.doc_id = b.doc_id
WHERE bit_count(xor(ha.hash_hi, hb.hash_hi))
      + bit_count(xor(ha.hash_lo, hb.hash_lo)) <= {PHASH_HAMMING_MAX}""",
)


# --------------------------------------------------------------------------
# audio-style frame energy (numpy-vectorized Arrow batch path)
# --------------------------------------------------------------------------

AUDIO_FRAME = 64  # samples per analysis frame
#: mean-square silence threshold (integer-exact compare: energy < MS * n)
AUDIO_SILENCE_MS = 750_000_000

AUDIO_SCHEMA = (
    "doc_id long, frame_idx long, n_frame_samples long, "
    "energy long, peak long, is_silence boolean"
)


def _audio_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Stub 'audio decode': interpret the payload as little-endian int16
    PCM (dropping a trailing odd byte) and compute per-frame sum-of-squares
    energy, peak amplitude, and an integer-exact silence flag — the
    VAD/silence-trim front end of an audio pipeline. A real deployment
    replaces the frombuffer with an actual codec decode; the framing and
    energy math are the real computation.

    Unlike the md5 stubs above, this path is numpy-VECTORIZED end to end
    (frombuffer + reduceat) — the Arrow batch shape a real DSP front end
    uses: no per-sample Python, one C loop per frame column."""
    import numpy as np

    if _real_decoder_available():  # pragma: no cover
        raise NotImplementedError("real audio decode not wired here")
    doc_ids, fidxs, nsamps, energies, peaks = [], [], [], [], []
    for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
        raw = bytes(payload)
        n = len(raw) // 2
        if n == 0:
            continue
        v = np.frombuffer(raw, dtype="<i2", count=n).astype(np.int64)
        starts = np.arange(0, n, AUDIO_FRAME)
        e = np.add.reduceat(v * v, starts)
        p = np.maximum.reduceat(np.abs(v), starts)
        sizes = np.diff(np.append(starts, n))
        k = len(starts)
        doc_ids.extend([doc_id] * k)
        fidxs.extend(range(k))
        nsamps.extend(sizes.tolist())
        energies.extend(e.tolist())
        peaks.extend(p.tolist())
    out = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "frame_idx": fidxs,
            "n_frame_samples": nsamps,
            "energy": energies,
            "peak": peaks,
        }
    )
    out["is_silence"] = out["energy"] < AUDIO_SILENCE_MS * out["n_frame_samples"]
    return out


@model("multimodal_audio_energy", layer="operators", materialization="view")
def multimodal_audio_energy(ctx):
    """Per-frame audio energy/silence detection over binary payloads —
    the numpy-vectorized mapInPandas member of the multimodal family
    (one input row -> one row per AUDIO_FRAME-sample frame)."""
    d = ctx.source("documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).repartition(8, "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _audio_batch(batch)

    return payload.mapInPandas(gen, schema=AUDIO_SCHEMA)


oracle(
    "multimodal_audio_energy",
    ("documents",),
    f"""WITH samples AS (
    -- int16 little-endian from ASCII byte pairs: lo + 256*hi, sign-folded.
    -- The corpus is pure ASCII so codepoint == byte value (the Python side
    -- reads the same utf-8 bytes).
    SELECT
        doc_id,
        i,
        CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
    FROM (
        SELECT
            doc_id,
            i,
            ord(substr(text, CAST(2 * i + 1 AS INT), 1))
              + 256 * ord(substr(text, CAST(2 * i + 2 AS INT), 1)) AS raw
        FROM (
            SELECT doc_id, text,
                   unnest(range(0, length(text) // 2)) AS i
            FROM documents
            WHERE length(text) >= 2
        )
    )
),
frames AS (
    SELECT
        doc_id,
        CAST(i // {AUDIO_FRAME} AS BIGINT) AS frame_idx,
        CAST(COUNT(*) AS BIGINT) AS n_frame_samples,
        CAST(SUM(v * v) AS BIGINT) AS energy,
        CAST(MAX(abs(v)) AS BIGINT) AS peak
    FROM samples
    GROUP BY 1, 2
)
SELECT
    doc_id,
    frame_idx,
    n_frame_samples,
    energy,
    peak,
    energy < {AUDIO_SILENCE_MS} * n_frame_samples AS is_silence
FROM frames""",
)
