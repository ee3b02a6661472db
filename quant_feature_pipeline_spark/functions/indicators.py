"""Stateless rolling indicators — O(1)-per-row prefix-sum windows.

Spark evaluates a sliding frame ``rowsBetween(-n+1, 0)`` by re-scanning
the frame buffer per row — O(W) per row, so an sma_200 costs 200 ops per
row. The reference's own step5 kernels avoid this with prefix sums
(`/root/reference/step5_featueres_unified.py:157-196, 1010-1025`); we do
the same in Catalyst: one unbounded-preceding running sum (O(1)/row,
UnboundedPrecedingWindowFunctionFrame) + a lag(n) (O(1) offset frame),
windowed sum = S_t − S_{t−n}. Variance via the (S, SS, count) triple.
``window_indicator_layers`` is the one place these expressions are
built; every caller (pipeline, flagship, the ``bb_width_20`` gate query)
applies them with ``apply_window_indicators``.

Numerical note: differencing large cumsums loses relative precision on
very long per-entity series (~1e-7 at 10M rows of 1e2-magnitude values)
— same class of error as pandas' own streaming rolling aggregates, and
inside every oracle/test tolerance used here. Per-entity cumsums reset
at entity boundaries, which bounds the growth.

Reproduced semantics (SURVEY.md §2.4/2.5):
- SMA windows (`congfigs/base_indicators.yaml` moving_averages)
- Bollinger width (20, 2σ, min_periods=max(10, n//2)): (up-low)/ma
  (`tools/real_sliding_simple.py:158-209`), sample std like pandas
- ROC momentum: close/close.shift(n)-1 (`tools/real_sliding_simple.py:44`)
- realized vol rv_win{n}: rolling sample std of log returns
- rolling z-score: population σ (reference cumsum form)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import BB_STD, BB_WINDOW, MOM_WINDOW, RV_WINDOWS, SMA_WINDOWS


def _cum(by: str, ts_col: str):
    return (
        Window.partitionBy(by).orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def _ord(by: str, ts_col: str):
    return Window.partitionBy(by).orderBy(ts_col)


def rolling_zscore(
    df: DataFrame,
    n: int,
    src: str,
    by: str = "entity",
    ts_col: str = "ts",
    out: str | None = None,
) -> DataFrame:
    """z=(x-μ)/max(σ,1e-6); population σ like the reference
    (`step5_featueres_unified.py:157-196`).

    Uses the exact sliding frame, not the prefix-sum trick: z divides by
    σ, so the sum-of-squares cancellation error (harmless for bb/rv,
    which divide by the large mean) is amplified when σ is tiny. O(W)
    per row is acceptable at typical z windows."""
    w = (
        Window.partitionBy(by).orderBy(ts_col).rowsBetween(-(n - 1), 0)
    )
    mu = F.avg(src).over(w)
    sigma = F.stddev_pop(src).over(w)
    return df.withColumn(
        out or f"{src}_z{n}", (F.col(src) - mu) / F.greatest(sigma, F.lit(1e-6))
    )


def window_indicator_layers(
    by: str = "entity",
    ts_col: str = "ts",
    src: str = "close",
) -> tuple[list[dict[str, Column]], dict[str, Column], list[str]]:
    """The full sma/bollinger/roc/realized-vol expression set as four
    reusable withColumns layers + one final projection.

    Layer 1 holds the running (S, C, Q) prefix sums of ``src`` and its
    lags; layer 2 the lagged prefix sums each window needs plus the log
    return; layers 3-4 the same for the log return (realized vol).
    NaN counts as missing exactly like null (pandas skip-NaN semantics):
    a NaN reaching a cumsum would poison S and Q for every later row of
    the entity. Expressions are built once and reused across
    every timeframe table — Column objects are plan-independent, so the
    py4j construction cost is paid once, not per table. Columns a caller
    never selects are pruned by Catalyst with their window expressions.

    Returns (layers, final, drop_cols): apply each layer dict in order
    with ``withColumns``, then ``withColumns(final)``, then drop
    ``drop_cols`` (``apply_window_indicators`` does all three)."""
    wc = _cum(by, ts_col)
    wo = _ord(by, ts_col)
    x = F.col(src).cast("double")
    ok = x.isNotNull() & ~F.isnan(x)
    lag_ns = sorted({*SMA_WINDOWS, BB_WINDOW})
    l1 = {
        "_fw_S": F.sum(F.when(ok, x).otherwise(0.0)).over(wc),
        "_fw_C": F.sum(F.when(ok, 1.0).otherwise(0.0)).over(wc),
        "_fw_Q": F.sum(F.when(ok, x * x).otherwise(0.0)).over(wc),
        "_fw_lag1": F.lag(src, 1).over(wo),
        "_fw_lagm": F.lag(src, MOM_WINDOW).over(wo),
    }
    prev = F.col("_fw_lag1")
    l2: dict[str, Column] = {
        "_fw_lr": F.when((prev > 0) & (F.col(src) > 0), F.log(F.col(src) / prev)),
    }
    for n in lag_ns:
        l2[f"_fw_S{n}"] = F.lag("_fw_S", n).over(wo)
        l2[f"_fw_C{n}"] = F.lag("_fw_C", n).over(wo)
    l2[f"_fw_Q{BB_WINDOW}"] = F.lag("_fw_Q", BB_WINDOW).over(wo)
    xr = F.col("_fw_lr").cast("double")
    okr = xr.isNotNull() & ~F.isnan(xr)
    l3 = {
        "_fr_S": F.sum(F.when(okr, xr).otherwise(0.0)).over(wc),
        "_fr_C": F.sum(F.when(okr, 1.0).otherwise(0.0)).over(wc),
        "_fr_Q": F.sum(F.when(okr, xr * xr).otherwise(0.0)).over(wc),
    }
    l4: dict[str, Column] = {}
    for n in RV_WINDOWS:
        l4[f"_fr_S{n}"] = F.lag("_fr_S", n).over(wo)
        l4[f"_fr_C{n}"] = F.lag("_fr_C", n).over(wo)
        l4[f"_fr_Q{n}"] = F.lag("_fr_Q", n).over(wo)

    def win(tag: str, n: int) -> Column:
        return F.col(f"{tag}_S") - F.coalesce(F.col(f"{tag}_S{n}"), F.lit(0.0))

    def cnt(tag: str, n: int) -> Column:
        return F.col(f"{tag}_C") - F.coalesce(F.col(f"{tag}_C{n}"), F.lit(0.0))

    def qwin(tag: str, n: int) -> Column:
        return F.col(f"{tag}_Q") - F.coalesce(F.col(f"{tag}_Q{n}"), F.lit(0.0))

    def var(tag: str, n: int, ddof: int, min_periods: int) -> Column:
        c = cnt(tag, n)
        s = win(tag, n)
        q = qwin(tag, n)
        denom = c - ddof
        v = (q - s * s / c) / denom
        return F.when(
            (c >= min_periods) & (denom > 0), F.greatest(v, F.lit(0.0))
        )

    final: dict[str, Column] = {}
    for n in SMA_WINDOWS:
        c = cnt("_fw", n)
        final[f"sma_{n}"] = F.when(c >= 1, win("_fw", n) / c)
    bb_mp = max(10, BB_WINDOW // 2)
    c_bb = cnt("_fw", BB_WINDOW)
    ma = F.when(c_bb >= bb_mp, win("_fw", BB_WINDOW) / c_bb)
    sd = F.sqrt(var("_fw", BB_WINDOW, 1, bb_mp))
    final["bb_width"] = F.when(ma != 0, (2.0 * BB_STD * sd) / ma)
    prevm = F.col("_fw_lagm")
    final["mom"] = F.when(
        prevm.isNotNull() & (prevm != 0), F.col(src) / prevm - 1.0
    )
    for n in RV_WINDOWS:
        final[f"rv_win{n}"] = F.sqrt(var("_fr", n, 1, 2))
    drop = (
        list(l1) + list(l2) + list(l3) + list(l4)
    )
    return [l1, l2, l3, l4], final, drop


def apply_window_indicators(
    df: DataFrame, layers, final, drop
) -> DataFrame:
    for layer in layers:
        df = df.withColumns(layer)
    return df.withColumns(final).drop(*drop)

