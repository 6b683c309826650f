"""Arrow fast paths for the char-gram text operators (winnowing
fingerprints, CDC chunking): ONE Arrow pass (``session.map_batches``), all
gram hashes computed by vectorized numpy per Arrow batch — no
char-posexplode, no per-doc window shuffle, no row inflation.

Why this exists: the codegen forms in textproc.py (char explode + window
leads + native md5) are the oracle-mirrorable shape and fast for web-page
sized documents, but they inflate every document into len(text) rows that
flow through a (doc_id)-partitioned window — a single giant document
becomes a single giant window task (the skew note in textproc.fingerprints).
These twins keep one row per document end to end; a giant doc costs one
task's worth of LOCAL numpy, nothing shuffles.

Exactness contract: md5 is not computable by vectorized numpy, so the twins
hash grams with XXH64(seed=42) — the SAME hash Spark's ``F.xxhash64``
computes — and textproc.fingerprints/cdc_chunks accept ``hash_fn="xxh"`` to
produce the identical JVM-side plan.  Equality tests assert twin == codegen
bit-for-bit on the xxh variant; the md5 variant remains the DuckDB-oracle
form (q38/q61).  The <32-byte single-lane branch of XXH64 (public
algorithm, Yann Collet, BSD) is what vectorizes: every k-char gram with
k <= 31 ASCII bytes takes the same code path, so the whole gram column is a
handful of numpy u64 ops over a sliding window view.  Non-ASCII documents
(chars != bytes, variable gram byte length) fall back to the scalar
pure-Python xxh64 per gram — correct, slower, and rare in web corpora;
the fallback is exercised by a dedicated unicode equality test.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from crawlspark.session import map_batches
from crawlspark.xxh import SPARK_SEED, xxh64

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_fixed_grams(buf: np.ndarray, k: int, seed: int = SPARK_SEED) -> np.ndarray:
    """XXH64(seed) of every k-byte window of ``buf`` (1-D uint8), vectorized
    over all positions at once; k must be < 32 (the single-accumulator
    branch).  Returns uint64[len(buf) - k + 1]; bit-equal to
    ``crawlspark.xxh.xxh64`` per window (property-tested)."""
    assert 0 < k < 32, "vectorized path covers the <32-byte XXH64 branch"
    n_pos = len(buf) - k + 1
    if n_pos <= 0:
        return np.empty(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(buf, k)  # (n_pos, k) view
    with np.errstate(over="ignore"):
        h = np.full(n_pos, np.uint64((seed + int(_P5) + k) & 0xFFFFFFFFFFFFFFFF))
        i = 0
        while i + 8 <= k:
            lane = np.zeros(n_pos, dtype=np.uint64)
            for b in range(8):
                lane |= win[:, i + b].astype(np.uint64) << np.uint64(8 * b)
            lane = _rotl(lane * _P2, 31) * _P1
            h ^= lane
            h = _rotl(h, 27) * _P1 + _P4
            i += 8
        if i + 4 <= k:
            lane = np.zeros(n_pos, dtype=np.uint64)
            for b in range(4):
                lane |= win[:, i + b].astype(np.uint64) << np.uint64(8 * b)
            h ^= lane * _P1
            h = _rotl(h, 23) * _P2 + _P3
            i += 4
        while i < k:
            h ^= win[:, i].astype(np.uint64) * _P5
            h = _rotl(h, 11) * _P1
            i += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def _gram_hashes(text: str, k: int) -> np.ndarray:
    """Signed-int64 XXH64 of every k-CHAR gram of ``text`` — the value
    ``F.xxhash64(gram)`` produces JVM-side.  ASCII documents take the
    vectorized byte-window path (chars == bytes); otherwise each gram is
    hashed by the scalar reference implementation on its own UTF-8 bytes."""
    n_pos = len(text) - k + 1
    if n_pos <= 0:
        return np.empty(0, dtype=np.int64)
    if text.isascii():
        buf = np.frombuffer(text.encode("ascii"), dtype=np.uint8)
        return xxh64_fixed_grams(buf, k).view(np.int64)
    return np.fromiter(
        (xxh64(text[i : i + k].encode("utf-8")) for i in range(n_pos)),
        dtype=np.uint64,
        count=n_pos,
    ).view(np.int64)


_FP_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("fp", T.LongType())]
)


def fingerprints_arrow(
    df: DataFrame, text_col: str = "text", k: int = 8, w: int = 16
) -> DataFrame:
    """Winnowing fingerprints, map-only: per document, hash all k-grams
    (vectorized XXH64), take the min of every w-window (signed comparison,
    matching the JVM bigint MIN), emit the distinct mins.  Bit-equal to
    ``textproc.fingerprints(df, hash_fn="xxh")`` — equality-tested — with
    zero shuffles in the plan (the codegen form shuffles len(text) rows per
    doc through a window)."""

    def fn(pdf):
        ids: list[int] = []
        fps: list[int] = []
        for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
            h = _gram_hashes(text or "", k)
            if len(h) < w:
                continue
            mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            u = np.unique(mins)
            ids.extend([int(doc_id)] * len(u))
            fps.extend(int(x) for x in u)
        return {"doc_id": ids, "fp": fps}

    return map_batches(df, ["doc_id", text_col], _FP_SCHEMA, fn)


_CDC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_start", T.LongType()),
        T.StructField("chunk_len", T.LongType()),
        T.StructField("chunk_hash", T.LongType()),
    ]
)


def cdc_chunks_arrow(df: DataFrame, w: int = 8, text_col: str = "text") -> DataFrame:
    """Content-defined chunking, map-only: boundary opens at position 0 and
    wherever pmod(XXH64(w-gram), 16) == 0 (the xxh twin of the codegen
    md5-leading-hex-0 rule, same 1/16 boundary probability); chunk hash is
    XXH64 of the chunk text.  Bit-equal to
    ``textproc.cdc_chunks(df, hash_fn="xxh")`` — equality-tested."""
    from crawlspark.xxh import xxh64_str

    def fn(pdf):
        rows: list[tuple] = []
        for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
            # empty text still yields one zero-length chunk (the codegen
            # form's idx==0 row survives its filter), so no skip here
            text = text or ""
            h = _gram_hashes(text, w)
            starts = [0] + [
                i for i in np.nonzero(h.view(np.uint64) % np.uint64(16) == 0)[0]
                if i != 0
            ]
            for ci, st in enumerate(starts):
                end = starts[ci + 1] if ci + 1 < len(starts) else len(text)
                chunk = text[st:end]
                rows.append((int(doc_id), ci, int(st), len(chunk), xxh64_str(chunk)))
        # every input row yields at least one chunk, so rows is non-empty
        return dict(zip(_CDC_SCHEMA.fieldNames(), zip(*rows)))

    return map_batches(df, ["doc_id", text_col], _CDC_SCHEMA, fn)
