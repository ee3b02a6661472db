"""Rolling percentile rank (W4) vs a naive python oracle replicating the
reference's mid-rank semantics (`step5_featueres_unified.py:104-154`)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from quant_feature_pipeline_spark.functions.rank import rolling_percentile_rank

from .conftest import assert_frame_close, make_bars_pdf
from .oracles import rolling_rank_series


def _naive_rank(x: np.ndarray, window: int, min_periods: int) -> np.ndarray:
    out = np.full(len(x), np.nan)
    for i in range(len(x)):
        w = x[max(0, i - window + 1) : i + 1]
        if len(w) < min_periods:
            continue
        less = (w < x[i]).sum()
        eq = (w == x[i]).sum()
        out[i] = min(max((less + 0.5 * eq) / len(w), 0.01), 0.99)
    return out


def test_rolling_rank_vs_naive(spark):
    pdf = make_bars_pdf(n=150)
    got = rolling_percentile_rank(
        spark.createDataFrame(pdf), "close", 20, out="rank20"
    ).toPandas()
    out = []
    for e, g in pdf.groupby("entity"):
        g = g.sort_values("ts").copy()
        g["rank20"] = _naive_rank(g["close"].to_numpy(), 20, 10)
        out.append(g)
    assert_frame_close(got, pd.concat(out)[got.columns], keys=["entity", "ts"])


def test_rank_with_duplicates():
    s = pd.Series([1.0, 1.0, 1.0, 2.0, 0.5])
    r = rolling_rank_series(s, window=3, min_periods=2)
    assert np.isnan(r.iloc[0])
    assert r.iloc[1] == 0.5  # (0 + 0.5*2)/2
    assert r.iloc[2] == 0.5
    assert abs(r.iloc[3] - (2 + 0.5) / 3) < 1e-12  # less=2, equal=1 (itself)
    assert abs(r.iloc[4] - 0.5 / 3) < 1e-12  # less=0, equal=1 (itself)

