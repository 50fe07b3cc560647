"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payload columns + a typed metadata struct —
the Spark-side schema, partitioning, UDF signatures, and Arrow batch
shapes are real and tested. The decode seam has two implementations:
``_decode_image_real`` (PIL luminance histogram, active when PIL is
importable; corrupt payloads yield NULL features, never task failures)
and ``_decode_image_stub`` (deterministic byte histogram — the default,
since this container ships no codec libs and the driver-contract query
needs a reproducible oracle).

Design rules for 100 TB of media:
- payloads never enter a shuffle: feature extraction runs ``mapInPandas``
  on the scan, emitting only small feature rows;
- batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (payload rows are huge — set it low for media tables);
- deterministic "fake decode" (byte-histogram features) keeps the whole
  pipeline testable end-to-end without codecs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),      # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 32

# ---------------------------------------------------------------------------
# content-type sniffing (magic bytes, pure JVM)
# ---------------------------------------------------------------------------

# (hex magic at offset 0, mime) — public well-known signatures; first match
# wins, longest prefixes listed before shorter ones sharing a stem.
MAGIC_MIMES = (
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("25504446", "application/pdf"),
    ("494433", "audio/mpeg"),     # ID3-tagged mp3
    ("1F8B", "application/gzip"),
    ("3C", "text/html"),          # '<' — html/xml-ish text
)


def sniff_mime_expr(payload):
    """Content-type sniff from leading magic bytes [EXTENSION — asset
    classification by *content*]. The reference classifies children by the
    HTML tag that referenced them (`internal/pageparser.go:60-63` builds
    assets from link/script/img); real crawls also sniff the fetched bytes,
    since servers lie about extensions and Content-Type. RIFF containers
    are disambiguated by the format tag at bytes 9–12 (WAVE→wav,
    WEBP→webp).

    Pure JVM: one `hex(substring(payload, 1, 12))` per row inside
    whole-stage codegen, then a prefix-match CASE — no Python, no shuffle;
    only 12 bytes of each (possibly 64 MB) payload are ever inspected.
    """
    payload = F.col(payload) if isinstance(payload, str) else payload
    h = F.hex(F.substring(payload, 1, 12))  # 24 hex chars
    riff_tag = F.substring(h, 17, 8)
    expr = (
        # NULL payload (fetch miss / skipped download) → NULL mime, not a
        # false octet-stream classification
        F.when(payload.isNull(), F.lit(None).cast("string"))
        .when(h.startswith("52494646") & (riff_tag == "57415645"), "audio/wav")
        .when(h.startswith("52494646") & (riff_tag == "57454250"), "image/webp")
    )
    for magic, mime in MAGIC_MIMES:
        expr = expr.when(h.startswith(magic), mime)
    return expr.otherwise("application/octet-stream")


def _pil_image():
    """Import seam for the optional codec dependency."""
    try:
        import PIL.Image as Image

        return Image
    except ImportError:
        return None


def _hist_features(values: np.ndarray) -> np.ndarray:
    hist, _ = np.histogram(values, bins=FEATURE_DIM, range=(0, 256))
    total = hist.sum()
    return (hist / total if total else hist).astype(np.float64)


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: byte histogram, 32 bins, L1-normalized —
    keeps the full plumbing testable with no codec libs installed."""
    if payload is None or len(payload) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float64)
    return _hist_features(np.frombuffer(payload, dtype=np.uint8))


def _decode_image_real(payload: bytes):
    """Real codec path (PIL): decode → grayscale → 32-bin luminance
    histogram, L1-normalized. Returns None for undecodable payloads —
    a real corpus has corrupt blobs, and a decode failure must be a row
    outcome (feature = NULL), never a task failure."""
    import io

    Image = _pil_image()
    if Image is None or payload is None or len(payload) == 0:
        return None
    try:
        with Image.open(io.BytesIO(payload)) as img:
            arr = np.asarray(img.convert("L"), dtype=np.uint8)
    except Exception:
        return None
    return _hist_features(arr.reshape(-1))


def extract_features(
    media: DataFrame, batch_limit: int = 64, decode: str = "stub"
) -> DataFrame:
    """media → (media_id, kind, feature: array<double>, n_bytes).

    One ``mapInPandas`` pass; payloads are dropped before any shuffle.

    ``decode``: "stub" (deterministic byte-histogram fake, default —
    oracle-checkable), "real" (PIL luminance histogram; feature is NULL
    for undecodable payloads), or "auto" (real when PIL is importable,
    else stub)."""
    if decode == "auto":
        decode = "real" if _pil_image() is not None else "stub"
    if decode == "real" and _pil_image() is None:
        raise RuntimeError("decode='real' requested but PIL is not installed")
    decoder = _decode_image_real if decode == "real" else _decode_image_stub

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("feature", ArrayType(DoubleType())),
            StructField("n_bytes", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # bound working set: media rows are big; sub-chunk the batch
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                feats = []
                for p in chunk["payload"]:
                    f = decoder(p)
                    feats.append(f.tolist() if f is not None else None)
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "kind": chunk["kind"].to_numpy(),
                        "feature": feats,
                        "n_bytes": [
                            len(p) if p is not None else 0 for p in chunk["payload"]
                        ],
                    }
                )

    return media.mapInPandas(run, out_schema)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video rows → one row per sampled frame timestamp (schema plumbing;
    frame bytes stubbed as sliced payload windows — deterministic)."""
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("ts_ms"),
        "payload",
    )
    # stub frame extraction: a deterministic 64-byte window per timestamp
    return frames.select(
        "media_id",
        "ts_ms",
        F.substring(
            F.col("payload"), (F.col("ts_ms") % F.lit(997)).cast("int") + 1, 64
        ).alias("frame_bytes"),
    )


def synthetic_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media corpus for tests/benches."""
    import random

    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        rng = random.Random((seed << 16) ^ i)
        kind = kinds[i % 3]
        payload = bytes(rng.randrange(256) for _ in range(128 + (i % 64) * 7))
        rows.append(
            (
                i,
                kind,
                payload,
                {
                    "mime": f"{kind}/x-fake",
                    "width": 64 + i % 32,
                    "height": 48 + i % 24,
                    "duration_ms": 3000 + 100 * (i % 10) if kind == "video" else None,
                },
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
