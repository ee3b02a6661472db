"""Deterministic synthetic token table — the north-rule input shape.

Schema (driver input hint):
    doc_id  string      -- encodes (entity, ts): "{entity}:{epoch_minute}"
    tokens  array<int32> -- passthrough payload; invariant: byte-equality
    n_tok   int32        -- > 0; drives the derived price series
    source  string       -- low-cardinality grouping/skew dimension

Everything is a pure function of (entity index, minute index, seed), built
with JVM-side expressions over ``spark.range`` — no Python in the generate
path, no driver-side loops — so the same call reproduces bit-identical
tables at any scale and any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z, matching the testdata's time origin


def synth_token_table(
    spark: SparkSession,
    n_entities: int = 4,
    minutes: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """Build the token table deterministically: one row per (entity,
    minute), each with 4 to 63 tokens."""
    n_rows = n_entities * minutes
    df = spark.range(n_rows).select(
        (F.col("id") % n_entities).alias("eidx"),
        (F.col("id") / n_entities).cast("long").alias("midx"),
    )

    # deterministic pseudo-random stream: xxhash64 of (seed, eidx, midx)
    h = F.xxhash64(F.lit(seed), F.col("eidx"), F.col("midx"))
    n_tok = (F.pmod(h, F.lit(60)) + 4).cast("int")
    df = df.select(
        F.concat(
            F.lit("E"), F.col("eidx").cast("string"), F.lit(":"),
            (F.lit(EPOCH0 // 60) + F.col("midx")).cast("string"),
        ).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), n_tok - 1),
            lambda i: F.pmod(
                F.xxhash64(F.lit(seed), F.col("eidx"), F.col("midx"), i),
                F.lit(32768),
            ).cast("int"),
        ).alias("tokens"),
        n_tok.alias("n_tok"),
        F.element_at(
            F.array(F.lit("web"), F.lit("books"), F.lit("code")),
            (F.pmod(h, F.lit(3)) + 1).cast("int"),
        ).alias("source"),
        F.col("eidx"),
        F.col("midx"),
    )
    return df.drop("eidx", "midx")
