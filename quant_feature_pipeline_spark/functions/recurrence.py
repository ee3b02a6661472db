"""Stateful recurrence indicators — one grouped Arrow stage of array kernels.

EMA-family recurrences (e_t = α·x_t + (1-α)·e_{t-1}) are inherently
sequential per entity and not expressible as Spark window aggregates, so
they run as ONE grouped Arrow stage (functions/grouped.py: one stable
(entity, ts) sort per partition, the array kernel per entity slice —
never per-row Python), exactly as the north rule mandates. Inside the
kernel everything is numpy and pandas' Cython ``ewm(adjust=False)``; the
only scalar loop is SuperTrend's band-flip scan (path-dependent by
definition — the reference's external `IndicatorCalculator` does the
same, `/root/reference/indicators.py:1-3`).

Reproduced semantics (SURVEY.md §2.5 indicator table; parameters from
`/root/reference/congfigs/base_indicators.yaml`):

- EMA spans [7,9,12,20,26,55,100,200]: ``ewm(span, adjust=False)``
- RSI Wilder window 14: gains/losses smoothed with ``ewm(alpha=1/n,
  adjust=False)``; output reshaped to [-100,100] via (rsi-50)*2
  (`📊 重塑 rsi.md`); events: ±threshold on the reshaped axis with
  run-length >= min_persist → {-1,0,+1} + binary ob/os columns
  (`step5_featueres_unified.py:1027-1065`)
- MACD 12/26/9: ema_fast-ema_slow, signal=EMA9(macd), histogram
- ATR 14: Wilder-smoothed true range; atr_pct = atr/close
  (`step5_featueres_unified.py:816-823`)
- SuperTrend (10, 3.0): direction ∈ {-1,+1}
- warm-up: first row seeds the recurrence (pandas adjust=False), no
  look-ahead anywhere.

Partition-boundary discipline: groups are whole entities (the group IS
the unit of state). Incremental runs must replay a warm-up tail before
the resume point (plans/checkpoint.py), mirroring the reference's
warm-start (`step2_resample.py:370-397`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..config import (
    ATR_WINDOW,
    EMA_SPANS,
    MACD_FAST,
    MACD_SIGNAL,
    MACD_SLOW,
    RSI_EVENT_THRESHOLD,
    RSI_MIN_PERSIST,
    RSI_WINDOW,
    SUPERTREND_MULT,
    SUPERTREND_PERIOD,
)
from .grouped import grouped_apply, grouped_apply_chunked


# ---- direct Cython ewm (r6 optimization, guide §4.2) -------------------
# pandas' Series.ewm(...).mean() pays ~0.15 ms of Series/em-window object
# construction PER CALL; the flagship runs ~15 ewm calls per (entity, tf)
# group, which dominates the whole indicator stage when groups are small
# (measured: 4.75 ms/group of 66 rows at sf0.1 — ~70% pandas overhead,
# ~7 s single-threaded for 6000 groups). Calling the underlying Cython
# aggregation directly on the float64 array is BIT-IDENTICAL (it is the
# exact code Series.ewm dispatches to, with the same com/minp/deltas
# arguments) and skips all of it. Guarded import: any pandas that
# renames the private module falls back to the Series path.
try:
    from pandas._libs.window.aggregations import ewm as _ewm_cython
except ImportError:  # pragma: no cover - pinned pandas always has it
    _ewm_cython = None


def _ewm_arr(x: np.ndarray, com: float) -> np.ndarray:
    """adjust=False, ignore_na=False, min_periods<=1 EWM over one array —
    bit-identical to pd.Series(x).ewm(com=com, adjust=False).mean()
    (asserted over real data in tests/test_kernel_numpy.py)."""
    n = len(x)
    if _ewm_cython is None:  # fallback: the reference pandas path
        return pd.Series(x).ewm(com=com, adjust=False).mean().to_numpy()
    start = np.zeros(1, dtype=np.int64)
    end = np.full(1, n, dtype=np.int64)
    deltas = np.ones(max(n - 1, 0), dtype=np.float64)
    return _ewm_cython(x, start, end, 1, com, False, False, deltas, True)


def _span_com(span: int) -> float:
    return (span - 1) / 2  # exactly how pandas derives com from span


def _alpha_com(n: float) -> float:
    # pandas derives com from alpha as 1/alpha - 1 IN FLOATING POINT;
    # float(n - 1) would differ in the last ulp for e.g. n=14 and break
    # bit-equality with the Series path
    alpha = 1.0 / n
    return 1.0 / alpha - 1.0


def _wilder_arr(x: np.ndarray, n: int) -> np.ndarray:
    return _ewm_arr(x, _alpha_com(n))


def _rsi_wilder_arr(c: np.ndarray, n: int) -> np.ndarray:
    """Raw Wilder RSI in [0,100] — same op order as the Series oracle
    (tests/oracles.py::rsi_wilder), bit-identical."""
    m = len(c)
    d = np.empty(m, dtype=np.float64)
    if m:
        d[0] = np.nan
        np.subtract(c[1:], c[:-1], out=d[1:])
    gain = np.where(d < 0.0, 0.0, d)  # clip(lower=0): NaN stays NaN
    neg = -d
    loss = np.where(neg < 0.0, 0.0, neg)
    ag = _wilder_arr(np.where(np.isnan(gain), 0.0, gain), n)
    al = _wilder_arr(np.where(np.isnan(loss), 0.0, loss), n)
    with np.errstate(invalid="ignore", divide="ignore"):
        rs = ag / np.where(al == 0.0, np.nan, al)
        rsi = 100.0 - 100.0 / (1.0 + rs)
    rsi = np.where(al != 0.0, rsi, 100.0)
    if m:
        rsi[0] = np.nan  # first diff undefined
    return rsi


def _run_len(mask: np.ndarray) -> np.ndarray:
    # consecutive-True counter, vectorized gaps-and-islands
    idx = np.arange(len(mask))
    start = np.where(mask & ~np.concatenate(([False], mask[:-1])), idx, -1)
    start = np.maximum.accumulate(np.where(mask, start, idx + 1))
    return np.where(mask, idx - start + 1, 0)


def _rsi_events_arr(
    rsi_reshaped: np.ndarray, threshold: float, min_persist: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Run-length-filtered RSI events on the [-100,100] axis.

    overbought mask = rsi' >= +threshold; oversold = rsi' <= -threshold;
    an event fires only when the mask has been true for >= min_persist
    consecutive bars (`step5_featueres_unified.py:1045-1064`). NaN
    compares False."""
    with np.errstate(invalid="ignore"):
        ob = rsi_reshaped >= threshold
        os_ = rsi_reshaped <= -threshold
    ob_persist = _run_len(ob) >= min_persist
    os_persist = _run_len(os_) >= min_persist
    event = np.where(ob_persist, 1.0, np.where(os_persist, -1.0, 0.0))
    return event, ob_persist.astype(np.float64), os_persist.astype(np.float64)


def supertrend_direction(
    high: np.ndarray, low: np.ndarray, close: np.ndarray, atr: np.ndarray, mult: float
) -> np.ndarray:
    """Path-dependent SuperTrend direction scan (period folded into atr)."""
    n = len(close)
    hl2 = (high + low) / 2.0
    # plain-python lists: a scalar loop over numpy elements pays ~5-10x
    # boxing overhead per access; tolist() once keeps the loop cheap
    up = (hl2 + mult * atr).tolist()
    dn = (hl2 - mult * atr).tolist()
    c = close.tolist()
    direction = np.ones(n)
    d_prev = 1.0
    f_up_prev = up[0] if n else 0.0
    f_dn_prev = dn[0] if n else 0.0
    for i in range(1, n):
        ui, di, ci_prev, ci = up[i], dn[i], c[i - 1], c[i]
        f_up = ui if (ui < f_up_prev or ci_prev > f_up_prev) else f_up_prev
        f_dn = di if (di > f_dn_prev or ci_prev < f_dn_prev) else f_dn_prev
        if d_prev > 0:
            d = -1.0 if ci < f_dn else 1.0
        else:
            d = 1.0 if ci > f_up else -1.0
        direction[i] = d
        d_prev, f_up_prev, f_dn_prev = d, f_up, f_dn
    return direction


def _indicator_arrays(
    c: np.ndarray, h: np.ndarray, low: np.ndarray
) -> dict[str, np.ndarray]:
    """The per-group indicator math on plain float64 arrays (ts-sorted).
    Same op order per element as the Series-form oracle
    (tests/oracles.py::indicator_frame_ref) — bit-identical."""
    m = len(c)
    new: dict[str, np.ndarray] = {}

    for span in EMA_SPANS:
        new[f"ema_{span}"] = _ewm_arr(c, _span_com(span))

    reshaped = (_rsi_wilder_arr(c, RSI_WINDOW) - 50.0) * 2.0
    new[f"rsi{RSI_WINDOW}"] = reshaped
    ev, ob, os_ = _rsi_events_arr(reshaped, RSI_EVENT_THRESHOLD, RSI_MIN_PERSIST)
    new["rsi_event"] = ev
    new["rsi_overbought"] = ob
    new["rsi_oversold"] = os_

    ema_fast = _ewm_arr(c, _span_com(MACD_FAST))
    ema_slow = _ewm_arr(c, _span_com(MACD_SLOW))
    macd = ema_fast - ema_slow
    signal = _ewm_arr(macd, _span_com(MACD_SIGNAL))
    new["macd"] = macd
    new["macd_signal"] = signal
    new["macd_histogram"] = macd - signal

    prev_c = np.empty(m, dtype=np.float64)
    if m:
        prev_c[0] = np.nan
        prev_c[1:] = c[:-1]
    hl = h - low
    tr_np = np.maximum(
        hl, np.maximum(np.abs(h - prev_c), np.abs(low - prev_c))
    )
    tr_np = np.where(np.isnan(tr_np), hl, tr_np)
    atr = _wilder_arr(tr_np, ATR_WINDOW)
    new[f"atr{ATR_WINDOW}"] = atr
    with np.errstate(invalid="ignore", divide="ignore"):
        new[f"atr{ATR_WINDOW}_pct"] = np.where(c > 0, atr / c, np.nan)

    st_atr = _wilder_arr(tr_np, SUPERTREND_PERIOD)
    new["supertrend_direction"] = supertrend_direction(
        h, low, c, st_atr, SUPERTREND_MULT
    )
    return new


def indicator_columns() -> list[str]:
    """The recurrence stage's output columns, in _indicator_arrays order."""
    return [f"ema_{s}" for s in EMA_SPANS] + [
        f"rsi{RSI_WINDOW}",
        "rsi_event",
        "rsi_overbought",
        "rsi_oversold",
        "macd",
        "macd_signal",
        "macd_histogram",
        f"atr{ATR_WINDOW}",
        f"atr{ATR_WINDOW}_pct",
        "supertrend_direction",
    ]


def compute_recurrence_indicators(
    bars: DataFrame,
    cfg=None,
    by: str = "entity",
    ts_col: str = "ts",
    chunk_rows: int | None = None,
    warmup_rows: int = 4_096,
    prepartitioned: bool = False,
) -> DataFrame:
    """Runs as grouped_apply (explicit hash repartition + mapInPandas),
    NOT groupBy().applyInPandas: FlatMapGroupsInPandas reports unknown
    output partitioning, which forces Catalyst to re-exchange the WIDE
    indicator output for every downstream window/join — mapInPandas
    preserves the (narrow, pre-stage) entity partitioning, so the later
    window indicators and the as-of merge need no further exchange.

    ``chunk_rows`` opts into grouped_apply_chunked for corpora where a
    single entity's history exceeds task memory: the entity is split
    into warm-up-overlapped chunks that process in parallel (default
    warmup 4096 rows drives the slowest recurrence seed error — span-200
    EMA — below float64 ulp; see grouped.py).

    ``cfg`` is accepted and ignored: the indicator parameters are the
    config.py constants, and callers still pass their PipelineConfig."""
    src = ["close", "high", "low"]
    new = indicator_columns()

    def kernel(sl: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
        return _indicator_arrays(sl["close"], sl["high"], sl["low"])

    if chunk_rows is not None:
        return grouped_apply_chunked(
            bars, by, ts_col, src, kernel, new,
            chunk_rows=chunk_rows, warmup_rows=warmup_rows,
        )
    # prepartitioned: caller guarantees entity-complete partitions (the
    # pipeline's one up-front repartition) — skips this stage's shuffle
    return grouped_apply(
        bars, by, ts_col, src, kernel, new,
        warmup_rows=warmup_rows, prepartitioned=prepartitioned,
    )
