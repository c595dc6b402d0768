"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by per-item Arrow row UDFs
(``schema.arrow_row_udf``).

The actual codec work (JPEG decode, audio resample, video frame extraction)
needs native libraries that are NOT in this container — those kernels are
STUBBED behind ``_decode_stub`` (a deterministic fake so plumbing is
testable end-to-end) and raise ``NotImplementedError`` when
``require_real=True``.  Everything Spark-side is real: schemas, Arrow
batches, partition behavior, and output shapes are exactly what a
production decode stage uses — swap the stub body for PIL/ffmpeg on a
cluster with the libs installed.
"""

from __future__ import annotations

import io

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import arrow_row_udf

try:  # real image codec, used by the require_real path when present
    from PIL import Image as _PILImage

    _HAVE_PIL = True
except ImportError:  # container has no codec libs — deterministic stubs only
    _HAVE_PIL = False

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media",
    "decode_features",
    "sample_frames",
    "resize_media",
]

#: media sidecar: opaque payload + typed metadata (never inspected by Spark)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

#: what decode_features adds to (media_id, kind)
_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def attach_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Derive a deterministic media sidecar from a text table (test fixture:
    payload = utf-8 bytes; at production the payload is the WARC media
    record). Demonstrates the schema + join-key discipline only."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        (F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                      (F.col(id_col) % 3 + 1).cast("int"))).alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def _decode_real_image(payload: bytes) -> np.ndarray:
    """Real image decode (PIL): pixels → the same 8-bin intensity histogram
    feature contract as the stub, computed over decoded grayscale pixels
    instead of raw container bytes."""
    img = _PILImage.open(io.BytesIO(payload)).convert("L")
    arr = np.asarray(img, dtype=np.uint8).ravel()
    hist = np.bincount(arr >> 5, minlength=8).astype(np.float64)
    return (hist / max(hist.sum(), 1.0)).astype(np.float32)


def _decode_stub(payload: bytes, kind: str, require_real: bool) -> np.ndarray:
    """Media decode. ``require_real=True`` uses the actual codec when the
    library is importable (PIL for images — import-gated so the path
    activates automatically on a container that ships it) and raises for
    codecs genuinely absent; the default is the deterministic fake (8-bin
    byte histogram, L1-normalized) that keeps plumbing testable here."""
    if require_real:
        if kind == "image" and _HAVE_PIL:
            return _decode_real_image(payload or b"")
        raise NotImplementedError(
            "real media decode for this kind requires PIL/librosa/ffmpeg — "
            "not available in this container; deploy with the codec libs"
        )
    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    hist = np.bincount(arr >> 5, minlength=8).astype(np.float64)
    return (hist / max(hist.sum(), 1.0)).astype(np.float32)


def decode_features(df: DataFrame, require_real: bool = False) -> DataFrame:
    """media table → ``(media_id, kind, n_bytes, byte_entropy, feature)``:
    one output row per input row, fixed feature dim, decoded per item by
    an Arrow row UDF."""

    def features(payload: bytes | None, kind: str) -> tuple:
        f = _decode_stub(payload, kind, require_real)
        nz = f[f > 0].astype(np.float64)
        return len(payload or b""), float(-(nz * np.log2(nz)).sum()), f.tolist()

    udf = arrow_row_udf(features, _FEATURE_SCHEMA)
    return df.select(
        "media_id", "kind", udf("payload", "kind").alias("_f")
    ).select("media_id", "kind", "_f.*")


def _resize_stub(payload: bytes, w: int, h: int, require_real: bool) -> bytes:
    """Image resize. ``require_real=True`` + PIL → actual bicubic resize to
    (w, h), re-encoded PNG (the reference resizes to ≤448²,
    transforms.py:89-97). Default: deterministic fake — stride-subsample the
    payload to exactly ``w*h`` bytes (pad with zeros when shorter), so the
    output size contract (fixed target dims) is real and testable."""
    if require_real:
        if _HAVE_PIL:
            img = _PILImage.open(io.BytesIO(payload or b""))
            out = io.BytesIO()
            img.resize((w, h), _PILImage.BICUBIC).save(out, format="PNG")
            return out.getvalue()
        raise NotImplementedError(
            "real image resize requires PIL/cv2 — not available in this "
            "container; deploy with the codec libs"
        )
    p = payload or b"\x00"
    n = w * h
    if len(p) >= n:
        stride = len(p) // n
        return p[:: stride][:n]
    return p + b"\x00" * (n - len(p))


def resize_media(
    df: DataFrame, width: int = 448, height: int = 448, require_real: bool = False
) -> DataFrame:
    """media table → payloads resized to fixed target dims (the analog of
    the reference's 448×448 inference transform) by an Arrow row UDF;
    ``width``/``height`` metadata updated to the target. Only
    ``kind='image'`` rows are transformed; others pass through untouched
    (same schema in and out, so stages compose)."""

    def resize(payload: bytes | None, kind: str) -> bytes | None:
        if kind != "image":
            return payload
        return _resize_stub(payload, width, height, require_real)

    udf = arrow_row_udf(resize, T.BinaryType())
    img = F.col("kind") == "image"
    return df.select(
        "media_id",
        "kind",
        udf("payload", "kind").alias("payload"),
        "mime",
        F.when(img, F.lit(width)).otherwise(F.col("width")).alias("width"),
        F.when(img, F.lit(height)).otherwise(F.col("height")).alias("height"),
        "duration_ms",
    )


def sample_frames(df: DataFrame, every_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Video frame-sampling analog: ``(media_id, frame_idx, frame)`` with
    ≤ ``max_frames`` payload slices per item (1:N — an Arrow row UDF's
    frame list, exploded)."""

    def frames(payload: bytes | None) -> list[bytes]:
        p = payload or b""
        n = min(max_frames, max(1, len(p) // every_bytes))
        return [p[i * every_bytes : (i + 1) * every_bytes] for i in range(n)]

    udf = arrow_row_udf(frames, T.ArrayType(T.BinaryType()))
    return df.filter(F.col("kind") == "video").select(
        "media_id", F.posexplode(udf("payload")).alias("frame_idx", "frame")
    )
