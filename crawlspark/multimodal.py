"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed Arrow batch by batch (``session.map_batches``).

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container, so the
decode step is a clearly-marked stub: ``decode_image`` raises
NotImplementedError unless a deterministic fake decoder is requested.  The
Spark-side plumbing — binary schema, metadata struct, partitioning, UDF
signature, Arrow batch shape — is real and tested; swapping in a real decoder
is a one-function change.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.session import map_batches

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def with_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a synthetic binary payload + typed metadata struct: the
    documents table as a stand-in multimodal table (payload bytes are the
    utf-8 text — deterministic, size-realistic)."""
    payload = F.encode(F.col(text_col), "utf-8")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    meta = F.struct(
        kind.alias("media_kind"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.lit("application/octet-stream").alias("mime"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def decode_image(buf: bytes) -> tuple[int, int]:
    """Real decoder injection point.  PIL is not available in this sandbox;
    production would `Image.open(BytesIO(buf)).size` here."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "image decode requires PIL; use fake=True for the deterministic stub"
        ) from None
    raise NotImplementedError("real decoder wiring is production-only")


def _fake_dims(buf: bytes) -> tuple[int, int]:
    """Deterministic fake 'decode': dims derived from payload bytes, so tests
    exercise the full Arrow round-trip with stable expected values."""
    n = len(buf)
    w = 16 + (buf[0] if n else 0) % 64
    h = 16 + (buf[-1] if n else 0) % 64
    return w, h


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.  Arrow streams
    record batches into Python; each batch is processed vectorized-per-batch
    (one Python call per ~32k rows, not per row)."""

    def fn(pdf):
        from pandas.util import hash_pandas_object

        bufs = pdf["payload"]
        if fake:
            dims = [_fake_dims(bytes(b)) for b in bufs]
        else:
            dims = [decode_image(bytes(b)) for b in bufs]
        # whole-column vectorized hash — one call per Arrow batch, never
        # a one-element Series per row
        cs = (
            hash_pandas_object(bufs, index=False).to_numpy().astype(np.uint64)
            % np.uint64(1 << 62)
        ).astype(np.int64)
        return {
            "doc_id": pdf["doc_id"],
            "media_kind": pdf["meta"].map(lambda m: m["media_kind"]),
            "n_bytes": bufs.str.len().astype("int64"),
            "width": [d[0] for d in dims],
            "height": [d[1] for d in dims],
            "checksum": cs,
        }

    return map_batches(media, ["doc_id", "payload", "meta"], FEATURE_SCHEMA, fn)


FRAME_BYTES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 256, every: int = 4) -> DataFrame:
    """Frame sampling for ``video`` payloads: the payload is treated as a
    sequence of ``frame_size``-byte frames (a stand-in for demuxed video
    frames; production swaps the slicer for an ffmpeg keyframe call per
    buffer — opaque C-library work, which is why this is a per-buffer loop
    inside an Arrow batch and not column math); every ``every``-th frame is
    emitted as its own row (fan-OUT through mapInPandas — one input row
    yields many output rows inside the same Arrow batch).

    Returns (doc_id, frame_idx, frame:binary).  Frame hashing/feature math
    belongs JVM-side on the result (see q58: F.md5 over the binary column),
    keeping Python to the minimum the decode genuinely needs."""

    def fn(pdf):
        ids: list[int] = []
        idxs: list[int] = []
        frames: list[bytes] = []
        for did, buf in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(buf)
            n_frames = max(1, -(-len(b) // frame_size))
            for fi in range(0, n_frames, every):
                ids.append(did)
                idxs.append(fi)
                frames.append(b[fi * frame_size : (fi + 1) * frame_size])
        return {
            "doc_id": np.array(ids, dtype=np.int64),
            "frame_idx": np.array(idxs, dtype=np.int32),
            "frame": frames,
        }

    video = media.filter(F.col("meta.media_kind") == "video")
    return map_batches(video, ["doc_id", "payload"], FRAME_BYTES_SCHEMA, fn)
