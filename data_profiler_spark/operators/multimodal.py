"""Multimodal (image/audio/video) column plumbing.

Convention: media travels as an opaque ``binary`` column plus a typed
metadata struct. Decode / feature-extraction run as Arrow-batched
``mapInPandas`` operators so the Spark-side contract (schema, partitioning,
batch shape) is real and testable; the actual codecs are STUBBED behind
``DecodeBackend`` because no image/audio libraries exist in this
environment — ``FakeDeterministicBackend`` derives stable pseudo-features
from the bytes, ``RealBackend`` raises NotImplementedError with the
intended implementation documented.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("source", T.StringType()),
                    T.StructField("byte_size", T.LongType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, byte_size long, width int, height int, channels int, "
    "sharpness double, content_sha string"
)


class DecodeBackend:
    """Codec seam. Swap FakeDeterministicBackend for a real one (PIL/ffmpeg)
    where those libraries exist; everything Spark-side stays identical."""

    def image_features(self, data: bytes) -> dict:
        raise NotImplementedError(
            "real backend: PIL.Image.open(BytesIO(data)) -> size/mode; "
            "cv2.Laplacian(...).var() for sharpness"
        )


class FakeDeterministicBackend(DecodeBackend):
    """Pseudo-decoder: features are pure functions of sha256(bytes), so
    tests are deterministic and the pipeline shape is fully exercised."""

    def image_features(self, data: bytes) -> dict:
        h = hashlib.sha256(data).digest()
        return {
            "width": 64 + h[0] * 8,
            "height": 64 + h[1] * 8,
            "channels": 1 + h[2] % 4,
            "sharpness": round(h[3] / 255.0, 6),
            "content_sha": hashlib.sha256(data).hexdigest(),
        }


def extract_image_features(
    media: DataFrame, backend: DecodeBackend | None = None
) -> DataFrame:
    """Arrow-batched decode: one pandas batch in, one feature batch out.
    Partitioning is preserved (narrow op — no shuffle)."""
    backend = backend or FakeDeterministicBackend()

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["data"].map(lambda d: backend.image_features(bytes(d)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_size": pdf["data"].map(len),
                    "width": feats.map(lambda f: f["width"]),
                    "height": feats.map(lambda f: f["height"]),
                    "channels": feats.map(lambda f: f["channels"]),
                    "sharpness": feats.map(lambda f: f["sharpness"]),
                    "content_sha": feats.map(lambda f: f["content_sha"]),
                }
            )

    return media.where(F.col("media_type") == "image").mapInPandas(
        op, schema=IMAGE_FEATURES_SCHEMA
    )


def synthetic_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (binary payload = md5-chain bytes)."""
    i = F.col("id")
    data = F.unhex(
        F.concat(
            F.md5(F.concat(F.lit(f"m{seed}:"), i.cast("string"))),
            F.md5(F.concat(F.lit(f"n{seed}:"), i.cast("string"))),
        )
    )
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(i, F.lit(3)) + 1).cast("int"),
    )
    return spark.range(n).select(
        i.alias("media_id"),
        mt.alias("media_type"),
        data.alias("data"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), mt).alias("mime"),
            F.lit("synthetic").alias("source"),
            F.length(data).cast("long").alias("byte_size"),
        ).alias("meta"),
    )
