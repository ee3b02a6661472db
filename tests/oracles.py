"""Test-only reference implementations (oracles).

The Series-form recurrence indicators: the production engine runs the
array kernels in ``functions/recurrence.py``; these pandas formulations
are what those kernels are asserted bit-identical against. The
Series-form rolling rank wraps the production ``_rank_kernel`` for
per-entity pandas comparisons.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from quant_feature_pipeline_spark.config import (
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
from quant_feature_pipeline_spark.functions.rank import _rank_kernel
from quant_feature_pipeline_spark.functions.recurrence import supertrend_direction


def rolling_rank_series(
    s: pd.Series, window: int, min_periods: int | None = None
) -> pd.Series:
    """Single-series rolling percentile rank (the production kernel;
    ``min_periods`` defaults to ``rolling_percentile_rank``'s)."""
    mp = min_periods if min_periods is not None else max(2, window // 2)
    return pd.Series(
        _rank_kernel(s.to_numpy(dtype=np.float64), window, mp), index=s.index
    )


def _wilder(s: pd.Series, n: int) -> pd.Series:
    return s.ewm(alpha=1.0 / n, adjust=False).mean()


def rsi_wilder(close: pd.Series, n: int = 14) -> pd.Series:
    """Raw Wilder RSI in [0,100]."""
    d = close.diff()
    gain = d.clip(lower=0.0)
    loss = (-d).clip(lower=0.0)
    ag = _wilder(gain.fillna(0.0), n)
    al = _wilder(loss.fillna(0.0), n)
    rs = ag / al.replace(0.0, np.nan)
    rsi = 100.0 - 100.0 / (1.0 + rs)
    rsi = rsi.where(al != 0, 100.0)
    rsi.iloc[: 1] = np.nan  # first diff undefined
    return rsi


def rsi_events(
    rsi_reshaped: pd.Series, threshold: float, min_persist: int
) -> tuple[pd.Series, pd.Series, pd.Series]:
    """Run-length-filtered RSI events on the [-100,100] axis.

    overbought mask = rsi' >= +threshold; oversold = rsi' <= -threshold;
    an event fires only when the mask has been true for >= min_persist
    consecutive bars (`step5_featueres_unified.py:1045-1064`).
    """
    ob = (rsi_reshaped >= threshold).fillna(False).to_numpy()
    os_ = (rsi_reshaped <= -threshold).fillna(False).to_numpy()

    def run_len(mask: np.ndarray) -> np.ndarray:
        # consecutive-True counter, vectorized gaps-and-islands
        idx = np.arange(len(mask))
        start = np.where(mask & ~np.concatenate(([False], mask[:-1])), idx, -1)
        start = np.maximum.accumulate(np.where(mask, start, idx + 1))
        return np.where(mask, idx - start + 1, 0)

    ob_persist = run_len(ob) >= min_persist
    os_persist = run_len(os_) >= min_persist
    event = np.where(ob_persist, 1.0, np.where(os_persist, -1.0, 0.0))
    return (
        pd.Series(event, index=rsi_reshaped.index),
        pd.Series(ob_persist.astype(np.float64), index=rsi_reshaped.index),
        pd.Series(os_persist.astype(np.float64), index=rsi_reshaped.index),
    )


def indicator_frame_ref(pdf: pd.DataFrame, ts_col: str = "ts") -> pd.DataFrame:
    """Single-entity, ts-sorted pandas REFERENCE kernel — the
    Series-based formulation the production array kernel
    (recurrence._indicator_arrays) is asserted bit-identical against
    (tests/test_kernel_numpy.py, tests/test_indicators.py).

    All derived columns are assembled in a dict and concatenated once:
    per-column insertion into a wide DataFrame churns the pandas block
    manager (measured ~4x slower at 80k-row groups).
    """
    pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
    c = pdf["close"].astype(np.float64)
    h = pdf["high"].astype(np.float64)
    low = pdf["low"].astype(np.float64)
    new: dict[str, object] = {}

    for span in EMA_SPANS:
        new[f"ema_{span}"] = c.ewm(span=span, adjust=False).mean()

    raw_rsi = rsi_wilder(c, RSI_WINDOW)
    reshaped = (raw_rsi - 50.0) * 2.0
    new[f"rsi{RSI_WINDOW}"] = reshaped
    ev, ob, os_ = rsi_events(reshaped, RSI_EVENT_THRESHOLD, RSI_MIN_PERSIST)
    new["rsi_event"] = ev
    new["rsi_overbought"] = ob
    new["rsi_oversold"] = os_

    ema_fast = c.ewm(span=MACD_FAST, adjust=False).mean()
    ema_slow = c.ewm(span=MACD_SLOW, adjust=False).mean()
    macd = ema_fast - ema_slow
    signal = macd.ewm(span=MACD_SIGNAL, adjust=False).mean()
    new["macd"] = macd
    new["macd_signal"] = signal
    new["macd_histogram"] = macd - signal

    prev_c = c.shift(1)
    hl = (h - low).to_numpy()
    tr_np = np.maximum(
        hl,
        np.maximum(
            np.abs((h - prev_c).to_numpy()), np.abs((low - prev_c).to_numpy())
        ),
    )
    tr_np = np.where(np.isnan(tr_np), hl, tr_np)
    tr = pd.Series(tr_np, index=c.index)
    atr = _wilder(tr, ATR_WINDOW)
    new[f"atr{ATR_WINDOW}"] = atr
    new[f"atr{ATR_WINDOW}_pct"] = np.where(c > 0, atr / c, np.nan)

    st_atr = _wilder(tr, SUPERTREND_PERIOD).to_numpy()
    new["supertrend_direction"] = supertrend_direction(
        h.to_numpy(), low.to_numpy(), c.to_numpy(), st_atr, SUPERTREND_MULT
    )
    return pd.concat([pdf, pd.DataFrame(new, index=pdf.index)], axis=1)
