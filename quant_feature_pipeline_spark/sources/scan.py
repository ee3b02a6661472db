"""Scans: parquet/CSV readers, dedup-keep-last, time-range slice.

Reference behaviors re-expressed (not ported):
- S3 CSV scan with adaptive ts parsing (`/root/reference/step2_resample.py:109-157`)
- P3 time-range predicate (`step2_resample.py:146-149`) — here a plain
  filter that Catalyst pushes into the parquet scan (stats pruning)
- P4 dedup keep-last by ts (`step2_resample.py:143`,
  `tools/incremental.py:33-40`) — here a row_number window

The S5 last-timestamp probe (`tools/io_paths.py:33-134`) is
``Checkpointer.resume_plan`` (plans/checkpoint.py), which reads the
newest ts from the snapshot manifest's lineage and runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

BAR_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
    ]
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_csv_bars(spark: SparkSession, path: str, ts_col: str = "timestamp") -> DataFrame:
    """CSV bar scan with adaptive ts parsing: integer epoch-ms or string.

    Mirrors the reference's adaptive parse (`step2_resample.py:131-134`)
    without pandas: read ts as string, cast by pattern.
    """
    raw = spark.read.option("header", "true").csv(path)
    candidates = [c for c in ("timestamp", "time", "datetime", "ts") if c in raw.columns]
    if not candidates:
        raise ValueError(f"no timestamp column among {raw.columns}")
    tc = candidates[0] if ts_col not in raw.columns else ts_col
    is_int = F.col(tc).rlike(r"^\d+$")
    ts = F.when(is_int, F.timestamp_millis(F.col(tc).cast("long"))).otherwise(
        F.to_timestamp(F.col(tc))
    )
    out = raw.withColumn("ts", ts)
    keep = [c for c in ("entity", "open", "high", "low", "close", "volume") if c in raw.columns]
    cols = (["entity"] if "entity" in keep else []) + ["ts"] + [
        F.col(c).cast("double").alias(c) for c in keep if c != "entity"
    ]
    return out.select(*cols)


def dedup_keep_last(
    df: DataFrame,
    keys: tuple[str, ...] = ("entity", "ts"),
    order_col: str | None = None,
) -> DataFrame:
    """Keep the last row per key — reference keep='last' dedup.

    ``order_col`` defines "last" (e.g. an ingest sequence); without one,
    ties are broken arbitrarily-but-deterministically by a stable hash of
    all columns, which matches the reference's file-order semantics only
    when duplicates are exact copies.
    """
    order = F.col(order_col).desc() if order_col else F.xxhash64(*df.columns).asc()
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def slice_time_range(df: DataFrame, start=None, end=None, ts_col: str = "ts") -> DataFrame:
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(ts_col) <= F.lit(end))
    return df
