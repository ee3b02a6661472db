"""r6 optimization guard: the array-form indicator kernel must be
BIT-identical to the Series-form reference kernel (tests/oracles.py::
indicator_frame_ref), column by column, NaN placement included — the
gate hashes round-6 floats, so even a last-ulp drift could flip a
quantization boundary."""

import numpy as np
import pandas as pd
import pytest

from quant_feature_pipeline_spark.functions.recurrence import (
    _indicator_arrays,
    indicator_columns,
)

from .oracles import indicator_frame_ref


def _assert_bit_identical(pdf: pd.DataFrame) -> None:
    ref = indicator_frame_ref(pdf.copy())
    # the kernel's contract: one group's rows, stable-sorted by ts
    srt = pdf.sort_values("ts", kind="mergesort")
    got = _indicator_arrays(
        *(srt[c].to_numpy(dtype=np.float64) for c in ("close", "high", "low"))
    )
    assert list(got) == indicator_columns()
    assert list(ref.columns) == list(pdf.columns) + list(got)
    for c, g in got.items():
        r = ref[c].to_numpy()
        assert len(g) == len(pdf), c
        assert np.array_equal(g, r, equal_nan=True), c


def _bars(n: int, seed: int, entity: str = "E") -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    close = 100.0 + np.cumsum(rng.randn(n))
    return pd.DataFrame(
        {
            "entity": entity,
            "ts": pd.date_range("2024-01-01", periods=n, freq="3min"),
            "open": close + rng.randn(n) * 0.1,
            "high": close + np.abs(rng.randn(n)),
            "low": close - np.abs(rng.randn(n)),
            "close": close,
            "volume": rng.rand(n) * 10,
        }
    )


@pytest.mark.parametrize("n", [1, 2, 5, 66, 1000])
def test_bit_identical_random_walks(n):
    _assert_bit_identical(_bars(n, seed=n))


def test_bit_identical_constant_and_zero_prices():
    pdf = _bars(50, seed=3)
    pdf["close"] = 100.0  # zero diffs -> al == 0 RSI branch
    pdf["high"] = 100.0
    pdf["low"] = 100.0
    _assert_bit_identical(pdf)
    pdf2 = _bars(50, seed=4)
    pdf2.loc[10:20, "close"] = 0.0  # atr_pct c>0 gate
    _assert_bit_identical(pdf2)


def test_bit_identical_duplicate_ts_stable_sort():
    pdf = _bars(120, seed=5)
    pdf["ts"] = pdf["ts"].iloc[::2].repeat(2).reset_index(drop=True).values
    _assert_bit_identical(pdf)


def test_bit_identical_real_sf001_entities():
    ev = pd.read_parquet("/root/testdata/sf0.01/events.parquet")
    bars = pd.DataFrame(
        {
            "entity": ev["user_id"].astype(str),
            "ts": ev["ts"],
            "open": ev["value"],
            "high": ev["value"] * 1.001,
            "low": ev["value"] * 0.999,
            "close": ev["value"],
            "volume": 1.0,
        }
    )
    for _, g in bars.groupby("entity", sort=False):
        _assert_bit_identical(g.reset_index(drop=True))
