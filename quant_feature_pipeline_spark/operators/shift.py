"""W2/W7 — boundary-anchored momentum and log return.

Reference semantics:
- W2 boundary-anchored momentum (`step5_featueres_unified.py:320-424`),
  see ``boundary_momentum``.
- W7 log return (`step5_featueres_unified.py:1158-1163`): log(p_t/p_{t-1})
  with zero-price guard.

The plain W1 lag momentum ``close/close.shift(k) - 1`` is one ``lag``
expression: the indicator layers' ``mom`` column
(functions/indicators.py) and the ``lag_momentum_3`` gate query.

All pure window/lag expressions — whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _w(by: str, ts_col: str):
    return Window.partitionBy(by).orderBy(ts_col)


def log_return(
    df: DataFrame,
    src: str = "close",
    out: str = "ret_log",
    by: str = "entity",
    ts_col: str = "ts",
) -> DataFrame:
    w = _w(by, ts_col)
    prev = F.lag(src, 1).over(w)
    return df.withColumn(
        out,
        F.coalesce(
            F.when((prev > 0) & (F.col(src) > 0), F.log(F.col(src) / prev)),
            F.lit(0.0),
        ),
    )


def boundary_momentum(
    df: DataFrame,
    lookback: int,
    steps: int,
    src: str = "close",
    out: str = "bmom",
    by: str = "entity",
    ts_col: str = "ts",
) -> DataFrame:
    """W2 — boundary-anchored momentum
    (`/root/reference/step5_featueres_unified.py:320-424`), the
    reference's ``boundary`` method.

    Positional semantics on the per-entity row grid (0-based rn), with
    buckets of ``steps`` rows anchored at row 0:
      Ls = lookback*steps
      cur = (i//steps)*steps
      out[i] = c[cur]/c[cur-Ls] - 1                           (i >= Ls)
      warm-up rows -> 0 (reference ffills NaN then zero-fills).

    Spark-first: cur's close is `first(src)` over the bucket
    frame; c[cur-Ls] is `lag(bucket_start_close, Ls)` — the phase of
    i-Ls matches i, so the lagged row's bucket-start IS cur-Ls. No UDF.
    """
    Ls = lookback * steps
    w_ord = Window.partitionBy(by).orderBy(ts_col)
    rn = F.row_number().over(w_ord) - 1
    dfi = df.withColumn("_rn", rn).withColumn(
        "_bucket", F.floor(F.col("_rn") / steps)
    )
    w_bucket = (
        Window.partitionBy(by, "_bucket")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dfi = dfi.withColumn("_bs", F.first(src).over(w_bucket))
    prev = F.lag("_bs", Ls).over(w_ord)
    raw = F.when(
        (F.col("_rn") >= Ls) & prev.isNotNull() & (prev != 0),
        F.col("_bs") / prev - 1.0,
    )
    return (
        dfi.withColumn(out, F.coalesce(raw, F.lit(0.0)))
        .drop("_rn", "_bucket", "_bs")
    )
