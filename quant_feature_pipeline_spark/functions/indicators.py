"""Stateless rolling indicators — O(1)-per-row prefix-sum windows.

Spark evaluates a sliding frame ``rowsBetween(-n+1, 0)`` by re-scanning
the frame buffer per row — O(W) per row, so an sma_200 costs 200 ops per
row. The reference's own step5 kernels avoid this with prefix sums
(`/root/reference/step5_featueres_unified.py:157-196, 1010-1025`); we do
the same in Catalyst: one unbounded-preceding running sum (O(1)/row,
UnboundedPrecedingWindowFunctionFrame) + a lag(n) (O(1) offset frame),
windowed sum = S_t − S_{t−n}. Variance via the (S, SS, count) triple.

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


def _cum(by: str, ts_col: str):
    return (
        Window.partitionBy(by).orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def _ord(by: str, ts_col: str):
    return Window.partitionBy(by).orderBy(ts_col)


class _RollStats:
    """Shared (sum, sum-of-squares, count) prefix columns over one
    (by, ts) ordering; hands out O(1) windowed mean/std expressions."""

    def __init__(self, df: DataFrame, src: str, by: str, ts_col: str, need_sq: bool):
        self.by, self.ts = by, ts_col
        wc = _cum(by, ts_col)
        x = F.col(src).cast("double")  # isnan/arith need floating input
        self.tag = f"_rs_{src}"
        # NaN is treated as missing exactly like null (pandas skip-NaN
        # semantics): a NaN reaching the cumsum would poison S (and Q)
        # for every later row of the entity while C still excluded it
        ok = x.isNotNull() & ~F.isnan(x)
        cols = {
            f"{self.tag}_S": F.sum(F.when(ok, x).otherwise(0.0)).over(wc),
            f"{self.tag}_C": F.sum(F.when(ok, 1.0).otherwise(0.0)).over(wc),
        }
        if need_sq:
            cols[f"{self.tag}_Q"] = F.sum(
                F.when(ok, x * x).otherwise(0.0)
            ).over(wc)
        self.df = df.withColumns(cols)
        self.need_sq = need_sq

    def _win(self, base: str, n: int) -> Column:
        wo = _ord(self.by, self.ts)
        c = F.col(f"{self.tag}_{base}")
        return c - F.coalesce(F.lag(f"{self.tag}_{base}", n).over(wo), F.lit(0.0))

    def count(self, n: int) -> Column:
        return self._win("C", n)

    def mean(self, n: int, min_periods: int = 1) -> Column:
        cnt = self.count(n)
        return F.when(cnt >= min_periods, self._win("S", n) / cnt)

    def var(self, n: int, ddof: int, min_periods: int) -> Column:
        cnt = self.count(n)
        s = self._win("S", n)
        q = self._win("Q", n)
        denom = cnt - ddof
        v = (q - s * s / cnt) / denom
        return F.when((cnt >= min_periods) & (denom > 0), F.greatest(v, F.lit(0.0)))

    def std(self, n: int, ddof: int = 1, min_periods: int = 1) -> Column:
        return F.sqrt(self.var(n, ddof, min_periods))

    def strip(self, df: DataFrame) -> DataFrame:
        drop = [c for c in df.columns if c.startswith(self.tag + "_")]
        return df.drop(*drop)


def sma(
    df: DataFrame,
    windows: tuple[int, ...],
    src: str = "close",
    by: str = "entity",
    ts_col: str = "ts",
    min_periods: int = 1,
    prefix: str = "sma_",
) -> DataFrame:
    rs = _RollStats(df, src, by, ts_col, need_sq=False)
    out = rs.df.withColumns(
        {f"{prefix}{n}": rs.mean(n, min_periods) for n in windows}
    )
    return rs.strip(out)


def bollinger_width(
    df: DataFrame,
    n: int = 20,
    n_std: float = 2.0,
    src: str = "close",
    by: str = "entity",
    ts_col: str = "ts",
    out: str = "bb_width",
    min_periods: int | None = None,
) -> DataFrame:
    """width = (upper-lower)/ma = 2*k*σ/ma; min_periods defaults to
    max(10, n//2) like the reference (`tools/real_sliding_simple.py:170`)."""
    mp = min_periods if min_periods is not None else max(10, n // 2)
    rs = _RollStats(df, src, by, ts_col, need_sq=True)
    ma = rs.mean(n, mp)
    sd = rs.std(n, ddof=1, min_periods=mp)
    res = rs.df.withColumn(
        out, F.when(ma != 0, (2.0 * n_std * sd) / ma)
    )
    return rs.strip(res)


def roc_momentum(
    df: DataFrame,
    n: int = 14,
    src: str = "close",
    by: str = "entity",
    ts_col: str = "ts",
    out: str = "mom",
) -> DataFrame:
    w = _ord(by, ts_col)
    prev = F.lag(src, n).over(w)
    return df.withColumn(
        out, F.when(prev.isNotNull() & (prev != 0), F.col(src) / prev - 1.0)
    )


def realized_vol(
    df: DataFrame,
    windows: tuple[int, ...] = (20, 50, 100),
    src: str = "close",
    by: str = "entity",
    ts_col: str = "ts",
    prefix: str = "rv_win",
) -> DataFrame:
    wlag = _ord(by, ts_col)
    prev = F.lag(src, 1).over(wlag)
    tmp = df.withColumn(
        "_lr", F.when((prev > 0) & (F.col(src) > 0), F.log(F.col(src) / prev))
    )
    rs = _RollStats(tmp, "_lr", by, ts_col, need_sq=True)
    out = rs.df.withColumns(
        {f"{prefix}{n}": rs.std(n, ddof=1, min_periods=2) for n in windows}
    )
    return rs.strip(out).drop("_lr")


def rolling_zscore(
    df: DataFrame,
    n: int,
    src: str,
    by: str = "entity",
    ts_col: str = "ts",
    out: str | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """z=(x-μ)/max(σ,eps); population σ like the reference
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
        out or f"{src}_z{n}", (F.col(src) - mu) / F.greatest(sigma, F.lit(eps))
    )


def window_indicator_layers(
    cfg,
    by: str = "entity",
    ts_col: str = "ts",
    src: str = "close",
) -> tuple[list[dict[str, Column]], dict[str, Column], list[str]]:
    """The full sma/bollinger/roc/realized-vol expression set as THREE
    reusable withColumns layers + one final projection (r6).

    Motivation (guide §1.2 per-task work + §7.2 plan size): the chained
    sma() -> bollinger_width() -> roc_momentum() -> realized_vol() form
    rebuilt identical prefix-sum columns per helper and paid ~750 ms of
    py4j Column construction PER TIMEFRAME (25k JVM round-trips across
    the 4-tf flagship build); expressions here are built once per config
    and reused across every timeframe table — Column objects are plan-
    independent. Formulas are verbatim _RollStats algebra, so outputs
    are expression-identical to the chained helpers (pinned by the
    unchanged oracle hashes and tests/test_indicators.py).

    Returns (layers, final, drop_cols): apply each layer dict in order
    with ``withColumns``, then ``withColumns(final)``, then drop
    ``drop_cols``."""
    wc = _cum(by, ts_col)
    wo = _ord(by, ts_col)
    x = F.col(src).cast("double")
    ok = x.isNotNull() & ~F.isnan(x)
    sma_ns = list(cfg.sma_windows)
    lag_ns = sorted({*sma_ns, cfg.bb_window})
    l1 = {
        "_fw_S": F.sum(F.when(ok, x).otherwise(0.0)).over(wc),
        "_fw_C": F.sum(F.when(ok, 1.0).otherwise(0.0)).over(wc),
        "_fw_Q": F.sum(F.when(ok, x * x).otherwise(0.0)).over(wc),
        "_fw_lag1": F.lag(src, 1).over(wo),
        "_fw_lagm": F.lag(src, cfg.mom_window).over(wo),
    }
    prev = F.col("_fw_lag1")
    l2: dict[str, Column] = {
        "_fw_lr": F.when((prev > 0) & (F.col(src) > 0), F.log(F.col(src) / prev)),
    }
    for n in lag_ns:
        l2[f"_fw_S{n}"] = F.lag("_fw_S", n).over(wo)
        l2[f"_fw_C{n}"] = F.lag("_fw_C", n).over(wo)
    l2[f"_fw_Q{cfg.bb_window}"] = F.lag("_fw_Q", cfg.bb_window).over(wo)
    xr = F.col("_fw_lr").cast("double")
    okr = xr.isNotNull() & ~F.isnan(xr)
    l3 = {
        "_fr_S": F.sum(F.when(okr, xr).otherwise(0.0)).over(wc),
        "_fr_C": F.sum(F.when(okr, 1.0).otherwise(0.0)).over(wc),
        "_fr_Q": F.sum(F.when(okr, xr * xr).otherwise(0.0)).over(wc),
    }
    l4: dict[str, Column] = {}
    for n in cfg.rv_windows:
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
    for n in sma_ns:
        c = cnt("_fw", n)
        final[f"sma_{n}"] = F.when(c >= 1, win("_fw", n) / c)
    bb_n, bb_mp = cfg.bb_window, max(10, cfg.bb_window // 2)
    c_bb = cnt("_fw", bb_n)
    ma = F.when(c_bb >= bb_mp, win("_fw", bb_n) / c_bb)
    sd = F.sqrt(var("_fw", bb_n, 1, bb_mp))
    final["bb_width"] = F.when(ma != 0, (2.0 * cfg.bb_std * sd) / ma)
    prevm = F.col("_fw_lagm")
    final["mom"] = F.when(
        prevm.isNotNull() & (prevm != 0), F.col(src) / prevm - 1.0
    )
    for n in cfg.rv_windows:
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


def true_range(high: Column, low: Column, prev_close: Column) -> Column:
    """TR = max(h-l, |h-prev_c|, |l-prev_c|) — ATR's building block."""
    return F.greatest(high - low, F.abs(high - prev_close), F.abs(low - prev_close))
