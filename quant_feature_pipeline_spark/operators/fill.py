"""W14 — grid reindex + forward/backward fill.

Reference semantics (`/root/reference/tools/filling.py:19-73`): build a
complete time grid at the bar frequency, reindex onto it and
forward-fill; generic ffill/bfill on request (`fill_nan`,
`tools/filling.py:49-73`).

Spark-first: ``grid_fill_ranges`` explodes each bar over its own
validity range (no driver loop, no O(grid) sort); ffill is
``last(x, ignorenulls=True)`` over an unbounded-preceding row frame;
bfill is the same running frame on the reversed time axis (ts DESC).
All Catalyst, one shuffle on entity.

The reference's OHLCV seeding rules (open/high/low from the filled
close, volume 0) have no implementation here: the pipeline fills no
OHLCV gaps, since resample emits only observed buckets and the as-of
merge carries the last observed value forward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import tf_seconds


def _w_running(by: str, order):
    return (
        Window.partitionBy(by)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def ffill(df: DataFrame, cols: list[str], by: str = "entity", ts_col: str = "ts") -> DataFrame:
    w = _w_running(by, F.col(ts_col).asc())
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def bfill(df: DataFrame, cols: list[str], by: str = "entity", ts_col: str = "ts") -> DataFrame:
    # ffill on the reversed time axis: a frame ending at unbounded
    # following is re-evaluated for every row, quadratic per entity
    w = _w_running(by, F.col(ts_col).desc())
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def grid_fill_ranges(
    bars: DataFrame,
    tf: str,
    by: str = "entity",
    ts_col: str = "ts",
    value_cols: tuple[str, ...] = ("close",),
    grid_bounds: DataFrame | None = None,
) -> DataFrame:
    """Scale variant of the grid+ffill pattern: each bar EXPLODES over
    its own validity range instead of sorting the full exploded grid.

    The join+window formulation sorts O(grid) rows (12.6M at sf0.1 for
    ~0.6M bars) just to forward-fill; here the only window is a lead()
    over O(bars) rows — each bar generates the grid points in
    [bar_ts, next_bar_ts - step] carrying its value, and a head segment
    covers [t0, first_bar_ts - step] with NULLs. Row-identical to
    ``grid.join(bars).ffill(value_cols)`` when bar timestamps are
    step-aligned and the grid is step-aligned from ``t0`` (both hold for
    resampled bars and hour/step-aligned bounds; asserted in tests).

    ``grid_bounds``: optional (by, t0, t1) frame defining each entity's
    grid span (default: the bars' own min/max ts). Bars labeled after
    ``t1`` generate nothing; entities with no bars yield all-NULL grids.
    Output: (by, ts, *value_cols) on the completed grid.
    """
    step = tf_seconds(tf)
    interval = F.expr(f"INTERVAL {step} SECONDS")
    if grid_bounds is None:
        grid_bounds = bars.groupBy(by).agg(
            F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1")
        )
    # bars outside [t0, t1] contribute nothing — identical to the
    # equality join, where off-grid bars never match a grid point
    b = (
        bars.select(by, ts_col, *value_cols)
        .join(F.broadcast(grid_bounds), [by])
        .filter((F.col(ts_col) >= F.col("t0")) & (F.col(ts_col) <= F.col("t1")))
    )
    w = Window.partitionBy(by).orderBy(ts_col)
    nxt = F.lead(ts_col).over(w)
    seg = (
        b.withColumn("_stop", F.least(F.coalesce(nxt - interval, F.col("t1")), F.col("t1")))
        .select(
            by,
            *value_cols,
            F.explode(F.sequence(F.col(ts_col), F.col("_stop"), interval)).alias(ts_col),
        )
        .select(by, ts_col, *value_cols)
    )
    first_bar = b.groupBy(by).agg(F.min(ts_col).alias("_first"))
    head = (
        grid_bounds.join(first_bar, [by], "left")
        .withColumn(
            "_stop",
            F.least(
                F.coalesce(F.col("_first") - interval, F.col("t1")), F.col("t1")
            ),
        )
        .filter(F.col("_stop") >= F.col("t0"))
        .select(
            by,
            F.explode(F.sequence(F.col("t0"), F.col("_stop"), interval)).alias(ts_col),
            *[F.lit(None).cast(bars.schema[c].dataType).alias(c) for c in value_cols],
        )
    )
    return head.unionByName(seg)

