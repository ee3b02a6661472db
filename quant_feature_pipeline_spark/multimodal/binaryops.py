"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode/feature-extract as ``mapInPandas`` stages.

The Spark-side plumbing (schemas, Arrow batch shape, partitioning) is
real and tested; the actual pixel/sample decode is STUBBED because this
container has no image/audio libraries — ``decode_image_features`` uses
a clearly-marked deterministic fake (byte-level stats standing in for
pixel stats) where a real decoder would plug in.

Design for 100 TB: binaries never shuffle — metadata extraction and
feature UDFs are map-only (``mapInPandas``); anything that needs a
shuffle (dedup by content hash, grouping by source) first projects the
digest/metadata and drops the payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def synth_media_table(spark: SparkSession, n: int = 256) -> DataFrame:
    """Deterministic fake media rows (payload = seeded digest bytes) for
    exercising the plumbing.

    Every column is reproducible OUTSIDE Spark with hashlib + integer
    arithmetic (payload = UTF-8 bytes of sha512-hex of f"42{id}";
    width/height/duration are modular-arithmetic of id), so an
    independent Python oracle can assert the whole media pipeline
    byte-for-byte — see ``__spark_entry__._media_expected_rows``.
    """
    df = spark.range(n).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.concat(F.lit(42), F.col("id").cast("string")), 512)
        .cast("binary")
        .alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.col("id") * 37, F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod(F.col("id") * 53, F.lit(1080)) + 1).cast("int").alias("height"),
        F.pmod(F.col("id") * 7919, F.lit(600000)).cast("long").alias("duration_ms"),
    )
    return df


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """Payload-derived metadata JVM-side: size + content digest. The
    digest is what downstream dedup/shuffle keys on — never the blob."""
    return df.withColumn("payload_bytes", F.octet_length("payload")).withColumn(
        "payload_sha1", F.sha1("payload")
    )


_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("feat_std", T.DoubleType(), True),
        T.StructField("feat_entropyish", T.DoubleType(), True),
    ]
)


def decode_image_features(df: DataFrame) -> DataFrame:
    """Feature extraction as mapInPandas over Arrow batches.

    ``extract`` is the stub boundary: plug in PIL/libvips there on a
    real cluster. The fake computes deterministic byte-level stats so
    the full plumbing (batching, schema, partition parallelism) is
    exercised and testable.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    feats.append((mid, None, None, None))
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                hist = np.bincount(arr.astype(np.int64), minlength=256) / max(len(arr), 1)
                nz = hist[hist > 0]
                feats.append(
                    (mid, float(arr.mean()), float(arr.std()), float(-(nz * np.log(nz)).sum()))
                )
            yield pd.DataFrame(feats, columns=[f.name for f in _FEAT_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(extract, schema=_FEAT_SCHEMA)


def resize_plan(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Aspect-preserving image-resize *plan* (JVM-side, map-only).

    Computes each image's output dimensions with integer-rational
    arithmetic — width-limited iff ``w·target_h >= h·target_w``, the
    other side scaled with a rounded integer division — and a
    deterministic fingerprint of the (payload, dims) pair standing in
    for the resized bytes. Pure-integer math keeps the plan reproducible
    outside Spark (the media oracle re-derives it with hashlib + // in
    Python). The actual pixel resample is the stub boundary: plug
    PIL/libvips into a mapInPandas over (payload, resized_w, resized_h)
    on a real cluster.

    Non-image rows get resized dims 0 and an empty fingerprint (typed,
    non-null — hash-stable across engines).
    """
    w, h = F.col("width"), F.col("height")
    width_limited = (w * target_h) >= (h * target_w)
    rdiv = lambda num, den: F.floor((num + F.floor(den / 2)) / den).cast("int")  # noqa: E731
    out_w = F.when(width_limited, F.lit(target_w)).otherwise(
        F.greatest(F.lit(1), rdiv(w * target_h, h))
    )
    out_h = F.when(width_limited, F.greatest(F.lit(1), rdiv(h * target_w, w))).otherwise(
        F.lit(target_h)
    )
    is_img = F.col("kind") == "image"
    dims = F.concat(out_w.cast("string"), F.lit("x"), out_h.cast("string"))
    return df.withColumns(
        {
            "resized_w": F.when(is_img, out_w).otherwise(F.lit(0)).cast("int"),
            "resized_h": F.when(is_img, out_h).otherwise(F.lit(0)).cast("int"),
            "resized_sha1": F.when(
                is_img, F.sha1(F.concat(F.col("payload"), F.encode(dims, "UTF-8")))
            ).otherwise(F.lit("")),
        }
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode (media_id, frame_ts_ms) rows
    JVM-side from duration metadata, at most 32 frames per video; the
    decode of each frame is the stubbed boundary. This is how sampling parallelizes at scale: the
    plan is rows, the heavy decode is a map-only UDF over them."""
    n_frames = F.least(
        (F.col("duration_ms") / every_ms).cast("int") + 1, F.lit(32)
    )
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: (i * every_ms).cast("long"),
            )
        ).alias("frame_ts_ms"),
    )
