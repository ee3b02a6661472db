"""A1/A3 — time-bucket resample and rolling (sliding) bars.

Reference semantics (`/root/reference/step2_resample.py:220-244`): pandas
``resample(tf, label='right', closed='right')`` with
``{open: first, high: max, low: min, close: last, volume: sum}``,
dropping incomplete buckets. The reference documents its own look-ahead
bug (closed='right' puts the bar stamped T INTO the bar labeled T,
`step2_resample.py:237-239`); the *correct* leakage-free semantics is the
half-open bucket ``[T-p, T)`` labeled T. We default to the correct form
and expose ``closed="right"`` as an explicit reference-compat mode.
Incomplete buckets are kept; their ``bar_count`` tells them apart.

Spark-first: ``groupBy(entity, window(ts, tf))`` with
``min_by/max_by`` picking open/close by timestamp — one shuffle on
(entity, bucket), map-side partial aggregation for min/max/sum, and
Parquet stats pruning upstream. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import tf_interval, tf_seconds
from ..tsutil import epoch_seconds


def bucket_window(ts: Column, tf: str, closed: str) -> Column:
    """The ``tf`` bucket of ``ts`` as Spark's epoch-aligned window struct
    (``start``, ``end``).

    closed="left"  -> bucket [start, end)   (leakage-free; resample_ohlcv's default)
    closed="right" -> bucket (start, end]   (reference-compat,
                      `step2_resample.py:229` label/closed='right')
    """
    if closed == "right":
        # shift ts by -1us so a row exactly on a boundary lands in the
        # bucket that *ends* at its timestamp
        ts = ts - F.expr("INTERVAL 1 MICROSECOND")
    return F.window(ts, tf_interval(tf))


def resample_ohlcv(
    bars: DataFrame,
    tf: str,
    by: str = "entity",
    ts_col: str = "ts",
    closed: str = "left",
) -> DataFrame:
    """Tumbling OHLCV aggregation onto timeframe ``tf``; every bucket is
    labelled with its end and kept, with its row count in ``bar_count``.
    ``closed`` picks the bucket boundaries (``bucket_window``). The
    streaming resample runs the same aggregate list on a watermarked
    stream."""
    agg = (
        bars.groupBy(F.col(by), bucket_window(F.col(ts_col), tf, closed).alias("w"))
        .agg(
            F.min_by("open", ts_col).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", ts_col).alias("close"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("bar_count"),
        )
    )
    return agg.select(
        F.col(by),
        F.col("w.end").alias(ts_col),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "bar_count",
    )


def rolling_bars(
    bars: DataFrame,
    k: int,
    by: str = "entity",
    ts_col: str = "ts",
) -> DataFrame:
    """A3 — sliding bar per base step: trailing-k-row OHLCV
    (`/root/reference/step2_resample.py:298-322`). Pure window frames."""
    w = Window.partitionBy(by).orderBy(ts_col).rowsBetween(-(k - 1), 0)
    return bars.select(
        by,
        ts_col,
        F.first("open").over(w).alias("open"),
        F.max("high").over(w).alias("high"),
        F.min("low").over(w).alias("low"),
        F.last("close").over(w).alias("close"),
        F.sum("volume").over(w).alias("volume"),
        F.count(F.lit(1)).over(w).alias("bar_count"),
    )


def continuity_stats(
    bars: DataFrame, tf: str, by: str = "entity", ts_col: str = "ts"
) -> DataFrame:
    """A8 — max inter-bar gap + missing ratio vs the expected grid
    (`/root/reference/run1_step1_data.py:31-60`)."""
    step = tf_seconds(tf)
    w = Window.partitionBy(by).orderBy(ts_col)
    gaps = bars.select(
        by,
        ts_col,
        (epoch_seconds(F.col(ts_col)) - epoch_seconds(F.lag(ts_col, 1).over(w))).alias("gap_s"),
    )
    return gaps.groupBy(by).agg(
        F.max("gap_s").alias("max_gap_s"),
        F.count(F.lit(1)).alias("n_rows"),
        (
            (epoch_seconds(F.max(ts_col)) - epoch_seconds(F.min(ts_col))) / step + 1
        ).cast("long").alias("expected_rows"),
        (
            1.0
            - F.count(F.lit(1))
            / ((epoch_seconds(F.max(ts_col)) - epoch_seconds(F.min(ts_col))) / step + 1)
        ).alias("missing_ratio"),
    )
