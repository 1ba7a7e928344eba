"""Multimodal columns for training-data pipelines (extension ops):
image/audio/video as opaque ``binary`` columns + typed metadata, with
decode / feature-extract / resize / frame-sample stages as Arrow-batched
Pandas functions over ``mapInPandas``.

The Spark-side plumbing (schemas, batch iteration, partition shaping) is
real and tested; the actual media decoding is STUBBED — the image/audio
libraries are not in this container. Each stub either raises
``NotImplementedError`` (strict mode) or produces a deterministic fake
(test mode), with the seam clearly marked so a deployment drops in
PIL/torchaudio/ffmpeg without touching the Spark layer.

Scale design: media bytes dominate row size, so the operators
- never shuffle the binary column (all stages are mapInPandas — narrow),
- carry metadata in plain columns so pruning drops bytes early
  (``select`` of metadata never reads the blob pages in parquet),
- bound Arrow batch memory with maxRecordsPerBatch (session.py) since a
  few hundred images can be gigabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha_hex", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 8


def decode_media(content: bytes, kind: str) -> dict:
    """STUB — media decode seam. A deployment replaces this with
    PIL.Image.open / torchaudio.load / pyav frame extraction."""
    raise NotImplementedError(
        "media decoding requires image/audio libraries not present in "
        "this environment; use fake_decode (deterministic) for tests"
    )


def fake_decode(content: bytes, kind: str) -> dict:
    """Deterministic fake decode: byte-derived dimensions + features.
    Stands in for decode_media so the Spark plumbing is fully testable."""
    h = hashlib.sha256(content or b"").digest()
    return {
        "width": 16 + h[0] % 64,
        "height": 16 + h[1] % 64,
        "features": [float(b) / 255.0 for b in h[:FEATURE_DIM]],
    }


def extract_features(
    media: DataFrame, strict: bool = False
) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.
    The binary column never shuffles; output drops the blob so
    downstream stages are cheap."""
    decode = decode_media if strict else fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode(c, k) for c, k in zip(pdf["content"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "sha_hex": pdf["content"].map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "features": [d["features"] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, kind string, width int, height int, "
    "out_width int, out_height int, resized_sha string"
)


def resize_images(
    media: DataFrame, max_side: int = 224, strict: bool = False
) -> DataFrame:
    """mapInPandas resize stage: decode → aspect-preserving downscale to
    ``max_side`` → re-encode (the standard vision-training preprocessing
    step between ingest and feature extraction). The Spark-side
    contract is real — Arrow batches, blob never shuffles, output
    carries both geometries plus a hash of the resized payload for
    downstream dedup; the pixel work is behind the same decode seam as
    extract_features (strict=True raises until an image lib ships in
    the runtime; the deterministic fake keeps the plumbing testable).
    Aspect math is pure integers (scale = max_side/longest side,
    floor, min 1 px), so outputs are engine-exact."""
    decode = decode_media if strict else fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content, kind, mid in zip(
                pdf["content"], pdf["kind"], pdf["media_id"]
            ):
                d = decode(content, kind)
                w, h = d["width"], d["height"]
                long_side = max(w, h, 1)
                if long_side <= max_side:
                    ow, oh = w, h
                else:
                    ow = max(1, (w * max_side) // long_side)
                    oh = max(1, (h * max_side) // long_side)
                # fake re-encode: the resized payload is a deterministic
                # function of (original bytes, target geometry)
                resized = hashlib.sha256(
                    (content or b"") + f"|{ow}x{oh}".encode()
                ).hexdigest()
                rows.append((mid, kind, w, h, ow, oh, resized))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height",
                    "out_width", "out_height", "resized_sha",
                ],
            )

    return media.mapInPandas(run, schema=RESIZE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for testing: treat document text bytes as opaque media
    blobs (binary column + metadata), the same shape a real
    image/audio table would have."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )


def frame_sample(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """Video frame-sampling plumbing: explode a (stubbed) frame index
    list per video, keeping every nth frame — shows the row-expansion
    shape (posexplode) without a real decoder."""
    n_frames = (F.col("n_bytes") % 16 + 1).cast("int")  # fake frame count
    return (
        media.withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_nth))),
        )
        .select("media_id", "kind", "frame_idx")
    )
