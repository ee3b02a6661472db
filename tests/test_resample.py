"""Resample (A1/A3) vs pandas resample/rolling oracles, both bucket
semantics (leakage-free default and reference-compat closed='right',
`/root/reference/step2_resample.py:220-244`)."""

from __future__ import annotations

import pandas as pd

from quant_feature_pipeline_spark.operators.resample import (
    continuity_stats,
    resample_ohlcv,
    rolling_bars,
)

from .conftest import assert_frame_close, make_bars_pdf

AGG = {"open": "first", "high": "max", "low": "min", "close": "last", "volume": "sum"}


def _pandas_resample(pdf: pd.DataFrame, tf: str, closed: str) -> pd.DataFrame:
    out = []
    for e, g in pdf.groupby("entity"):
        g = g.set_index("ts").sort_index()
        r = g.resample(tf, label="right", closed=closed).agg(AGG).dropna(how="all")
        r["bar_count"] = g["close"].resample(tf, label="right", closed=closed).count()
        r = r[r.bar_count > 0]
        r.insert(0, "entity", e)
        out.append(r.reset_index())
    return pd.concat(out, ignore_index=True)


def test_resample_closed_left(spark):
    pdf = make_bars_pdf(n=500, gap_every=17)
    got = resample_ohlcv(spark.createDataFrame(pdf), "15m", closed="left").toPandas()
    want = _pandas_resample(pdf, "15min", closed="left")
    assert_frame_close(got, want, keys=["entity", "ts"])


def test_resample_closed_right_reference_compat(spark):
    pdf = make_bars_pdf(n=500)
    got = resample_ohlcv(spark.createDataFrame(pdf), "15m", closed="right").toPandas()
    want = _pandas_resample(pdf, "15min", closed="right")
    assert_frame_close(got, want, keys=["entity", "ts"])


def test_rolling_bars(spark):
    pdf = make_bars_pdf(n=200)
    got = rolling_bars(spark.createDataFrame(pdf), k=5).toPandas()
    out = []
    for e, g in pdf.groupby("entity"):
        g = g.sort_values("ts")
        r = pd.DataFrame(
            {
                "entity": e,
                "ts": g["ts"],
                "open": g["open"].rolling(5, min_periods=1).agg(lambda s: s.iloc[0]),
                "high": g["high"].rolling(5, min_periods=1).max(),
                "low": g["low"].rolling(5, min_periods=1).min(),
                "close": g["close"],
                "volume": g["volume"].rolling(5, min_periods=1).sum(),
                "bar_count": g["close"].rolling(5, min_periods=1).count().astype(int),
            }
        )
        out.append(r)
    want = pd.concat(out, ignore_index=True)
    assert_frame_close(got, want, keys=["entity", "ts"])


def test_continuity_stats(spark):
    pdf = make_bars_pdf(n=120, gap_every=10)
    got = continuity_stats(spark.createDataFrame(pdf), "1m").toPandas()
    a = got[got.entity == "A"].iloc[0]
    # one row removed every 10 -> max gap is 2 minutes
    assert a["max_gap_s"] == 120.0
    assert a["n_rows"] == len(pdf[pdf.entity == "A"])
    assert 0.0 < a["missing_ratio"] < 0.2


def test_read_csv_bars_adaptive_ts(spark, tmp_path):
    """S3 — CSV scan with adaptive ts parsing (int epoch-ms vs string)."""
    import pandas as pd

    from quant_feature_pipeline_spark.sources.scan import read_csv_bars

    pdf = make_bars_pdf(n=10, entities=("A",))
    p1 = str(tmp_path / "ms.csv")
    df1 = pdf.copy()
    df1["timestamp"] = (df1["ts"].astype("int64") // 10**6).astype("int64")
    df1.drop(columns=["ts"]).to_csv(p1, index=False)
    got1 = read_csv_bars(spark, p1).toPandas().sort_values("ts").reset_index(drop=True)
    assert got1["ts"].equals(pdf["ts"])
    assert (got1["close"] - pdf["close"]).abs().max() < 1e-9

    p2 = str(tmp_path / "str.csv")
    df2 = pdf.copy()
    df2["time"] = df2["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    df2.drop(columns=["ts"]).to_csv(p2, index=False)
    got2 = read_csv_bars(spark, p2).toPandas().sort_values("ts").reset_index(drop=True)
    assert got2["ts"].equals(pdf["ts"])
