"""Indicator kernels vs independent pandas oracles.

The recurrence stage is validated two ways: (a) the Spark grouped Arrow
stage's output == the pandas oracle `tests/oracles.py::indicator_frame_ref`
per entity (plumbing/grouping correctness), and (b) spot formulas vs pandas ewm/rolling computed here
from first principles (no shared code path) — EMA, Wilder RSI, MACD,
ATR, Bollinger width, realized vol, z-score."""

from __future__ import annotations

import numpy as np
import pandas as pd

from quant_feature_pipeline_spark.config import (
    BB_STD,
    BB_WINDOW,
    MOM_WINDOW,
    RV_WINDOWS,
    SMA_WINDOWS,
    PipelineConfig,
)
from quant_feature_pipeline_spark.functions.indicators import (
    apply_window_indicators,
    rolling_zscore,
    window_indicator_layers,
)
from quant_feature_pipeline_spark.functions.recurrence import (
    _rsi_events_arr,
    compute_recurrence_indicators,
)

from .conftest import assert_frame_close, make_bars_pdf
from .oracles import indicator_frame_ref


def test_recurrence_stage_matches_pandas_per_entity(spark):
    pdf = make_bars_pdf(n=300, entities=("A", "B", "C"))
    got = compute_recurrence_indicators(spark.createDataFrame(pdf)).toPandas()
    want = pd.concat(
        [indicator_frame_ref(g.copy()) for _, g in pdf.groupby("entity")],
        ignore_index=True,
    )
    assert_frame_close(got, want, keys=["entity", "ts"])


def test_ema_first_principles(spark):
    pdf = make_bars_pdf(n=200, entities=("A",))
    got = (
        compute_recurrence_indicators(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("ts")
    )
    c = pdf.sort_values("ts")["close"].reset_index(drop=True)
    for span in (7, 26, 200):
        alpha = 2.0 / (span + 1)
        e = np.empty(len(c))
        e[0] = c[0]
        for i in range(1, len(c)):
            e[i] = alpha * c[i] + (1 - alpha) * e[i - 1]
        np.testing.assert_allclose(got[f"ema_{span}"].to_numpy(), e, rtol=1e-9)


def test_wilder_rsi_first_principles(spark):
    pdf = make_bars_pdf(n=250, entities=("A",))
    got = (
        compute_recurrence_indicators(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("ts")["rsi14"]
        .to_numpy()
    )
    c = pdf.sort_values("ts")["close"].reset_index(drop=True).to_numpy()
    d = np.diff(c)
    gain = np.where(d > 0, d, 0.0)
    loss = np.where(d < 0, -d, 0.0)
    a = 1.0 / 14
    ag, al = np.zeros(len(c)), np.zeros(len(c))
    # pandas ewm(adjust=False) over fillna(0) series: seeds at index 0 with 0
    for i in range(1, len(c)):
        ag[i] = a * gain[i - 1] + (1 - a) * ag[i - 1]
        al[i] = a * loss[i - 1] + (1 - a) * al[i - 1]
    rsi = np.where(al != 0, 100 - 100 / (1 + ag / np.where(al != 0, al, 1)), 100.0)
    reshaped = (rsi - 50.0) * 2.0
    np.testing.assert_allclose(got[1:], reshaped[1:], rtol=1e-9)
    assert np.isnan(got[0])
    assert np.nanmin(got) >= -100.0 and np.nanmax(got) <= 100.0


def test_macd_first_principles(spark):
    pdf = make_bars_pdf(n=150, entities=("A",))
    got = (
        compute_recurrence_indicators(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("ts")
    )
    c = pdf.sort_values("ts")["close"].reset_index(drop=True)
    macd = c.ewm(span=12, adjust=False).mean() - c.ewm(span=26, adjust=False).mean()
    sig = macd.ewm(span=9, adjust=False).mean()
    np.testing.assert_allclose(got["macd"].to_numpy(), macd.to_numpy(), rtol=1e-9)
    np.testing.assert_allclose(got["macd_signal"].to_numpy(), sig.to_numpy(), rtol=1e-9)
    np.testing.assert_allclose(
        got["macd_histogram"].to_numpy(), (macd - sig).to_numpy(), rtol=1e-9
    )


def test_rsi_event_persistence():
    """Run-length gate: events fire only after min_persist consecutive
    bars beyond the threshold (`step5_featueres_unified.py:1045-1064`)."""
    r = np.array([0, 45, 45, 0, 50, -45, -45, -45, 41], dtype=np.float64)
    ev, ob, os_ = _rsi_events_arr(r, threshold=40, min_persist=2)
    assert ev.tolist() == [0, 0, 1, 0, 0, 0, -1, -1, 0]
    assert ob.tolist() == [0, 0, 1, 0, 0, 0, 0, 0, 0]
    assert os_.tolist() == [0, 0, 0, 0, 0, 0, 1, 1, 0]


def test_supertrend_direction_values(spark):
    pdf = make_bars_pdf(n=200, entities=("A", "B"))
    got = compute_recurrence_indicators(spark.createDataFrame(pdf)).toPandas()
    assert set(got["supertrend_direction"].unique()) <= {-1.0, 1.0}


def test_atr_first_principles(spark):
    pdf = make_bars_pdf(n=150, entities=("A",))
    got = (
        compute_recurrence_indicators(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("ts")
    )
    g = pdf.sort_values("ts").reset_index(drop=True)
    prev_c = g["close"].shift(1)
    tr = pd.concat(
        [g["high"] - g["low"], (g["high"] - prev_c).abs(), (g["low"] - prev_c).abs()],
        axis=1,
    ).max(axis=1)
    tr.iloc[0] = g["high"].iloc[0] - g["low"].iloc[0]
    atr = tr.ewm(alpha=1 / 14, adjust=False).mean()
    np.testing.assert_allclose(got["atr14"].to_numpy(), atr.to_numpy(), rtol=1e-9)
    np.testing.assert_allclose(
        got["atr14_pct"].to_numpy(), (atr / g["close"]).to_numpy(), rtol=1e-9
    )


def _windows(df):
    """The production window-indicator layers."""
    return apply_window_indicators(df, *window_indicator_layers())


def test_window_indicators_vs_pandas(spark):
    pdf = make_bars_pdf(n=300)
    sdf = spark.createDataFrame(pdf)
    got = rolling_zscore(
        _windows(sdf),
        20,
        "close",
        out="z20",
    ).toPandas()
    out = []
    for e, g in pdf.groupby("entity"):
        g = g.sort_values("ts").reset_index(drop=True)
        r = g.copy()
        for n in SMA_WINDOWS:
            r[f"sma_{n}"] = g["close"].rolling(n, min_periods=1).mean()
        ma = g["close"].rolling(BB_WINDOW, min_periods=10).mean()
        sd = g["close"].rolling(BB_WINDOW, min_periods=10).std()
        r["bb_width"] = 2 * BB_STD * sd / ma
        r["mom"] = g["close"] / g["close"].shift(MOM_WINDOW) - 1.0
        mu = g["close"].rolling(20, min_periods=1).mean()
        sg = g["close"].rolling(20, min_periods=1).std(ddof=0)
        r["z20"] = (g["close"] - mu) / np.maximum(sg, 1e-6)
        lr = np.log(g["close"] / g["close"].shift(1))
        for n in RV_WINDOWS:
            r[f"rv_win{n}"] = lr.rolling(n, min_periods=1).std()
        out.append(r)
    want = pd.concat(out, ignore_index=True)
    # pandas rolling.std over a single point is NaN; Spark stddev_samp null — equal_nan covers
    assert_frame_close(got, want, keys=["entity", "ts"])


def test_rollstats_nan_does_not_poison(spark):
    """A single NaN input must behave like a missing value: later windows
    that no longer contain it are unaffected (pandas skip-NaN semantics);
    windows that do contain it use the remaining observations."""
    pdf = make_bars_pdf(n=60, entities=("A",))
    pdf.loc[10, "close"] = np.nan
    df = spark.createDataFrame(pdf)
    got = _windows(df).toPandas().sort_values("ts").reset_index(drop=True)
    want = pdf["close"].rolling(5, min_periods=1).mean()
    np.testing.assert_allclose(
        got["sma_5"].to_numpy(), want.to_numpy(), rtol=1e-9, equal_nan=True
    )
    # bb_width sums squares too: the NaN must not poison Q either
    ma = pdf["close"].rolling(BB_WINDOW, min_periods=10).mean()
    sd = pdf["close"].rolling(BB_WINDOW, min_periods=10).std()
    np.testing.assert_allclose(
        got["bb_width"].to_numpy(), (2 * BB_STD * sd / ma).to_numpy(),
        rtol=1e-9, equal_nan=True,
    )


def test_indicator_table_stage_reorder_equivalence(spark):
    """r6 reorder lock: indicator_table (windows FIRST, recurrence Arrow
    stage LAST) must produce value-identical columns to the original
    order (recurrence first, window layers after) — only the column
    ORDER may differ."""
    from quant_feature_pipeline_spark.plans.pipeline import indicator_table

    pdf = make_bars_pdf(n=500, entities=("A", "B"), seed=11)
    df = spark.createDataFrame(pdf)

    old = apply_window_indicators(
        compute_recurrence_indicators(df), *window_indicator_layers()
    )

    new = indicator_table(df, PipelineConfig())
    assert sorted(new.columns) == sorted(old.columns)
    key = ["entity", "ts"]
    a = old.toPandas().sort_values(key).reset_index(drop=True)
    b = new.toPandas().sort_values(key).reset_index(drop=True)
    for c in a.columns:
        ga, gb = a[c].to_numpy(), b[c].to_numpy()
        if ga.dtype.kind == "f":
            assert np.array_equal(ga, gb, equal_nan=True), c
        else:
            assert (ga == gb).all(), c
