"""Property-based invariants (hypothesis) for the core operators.

Each example builds a small adversarial frame — duplicate timestamps,
empty sides, single-row entities, exact boundary collisions — and
asserts the Spark operator against the pandas reference. Example counts
are kept small because every example is a real Spark job.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from quant_feature_pipeline_spark.operators.asof import asof_join
from quant_feature_pipeline_spark.operators.resample import resample_ohlcv

T0 = datetime.datetime(2024, 1, 1)

# second offsets with forced duplicates and boundary values
_ts_offsets = st.lists(
    st.sampled_from([0, 1, 59, 60, 61, 900, 900, 1800, 3600, 3601, 7200]),
    min_size=1,
    max_size=12,
)


def _frame(offsets, col):
    return pd.DataFrame(
        {
            "entity": "E",
            "ts": [T0 + datetime.timedelta(seconds=s) for s in sorted(offsets)],
            col: np.arange(len(offsets), dtype=np.float64),
        }
    )


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    loffs=_ts_offsets,
    roffs=_ts_offsets,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    exact=st.booleans(),
    tolerance_s=st.sampled_from([None, 60, 600]),
)
def test_asof_union_ffill_matches_pandas(spark, loffs, roffs, direction, exact, tolerance_s):
    """Both partitionings of the union fill: by entity, and by (entity,
    900 s bucket), where the 0-7200 s offsets span nine buckets."""
    lpdf, rpdf = _frame(loffs, "lval"), _frame(roffs, "rval")
    r = rpdf.copy()
    r["matched_ts"] = r["ts"]
    want = pd.merge_asof(
        lpdf,
        r.drop(columns=["entity"]),
        on="ts",
        direction=direction,
        allow_exact_matches=exact,
        tolerance=None if tolerance_s is None else pd.Timedelta(seconds=tolerance_s),
    ).sort_values(["ts", "lval"]).reset_index(drop=True)
    for strategy in ("union_ffill", "bucketed"):
        got = (
            asof_join(
                spark.createDataFrame(lpdf),
                spark.createDataFrame(rpdf),
                direction=direction,
                allow_exact_matches=exact,
                tolerance_s=tolerance_s,
                strategy=strategy,
                bucket_s=900,
            )
            .toPandas()
            .sort_values(["ts", "lval"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), strategy
        np.testing.assert_allclose(
            got["rval"].to_numpy(), want["rval"].to_numpy(), rtol=0, atol=0,
            err_msg=strategy,
        )


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offs=st.lists(
        st.sampled_from([0, 1, 59, 60, 61, 900, 1800, 3600, 3601, 7200]),
        min_size=1,
        max_size=10,
        unique=True,  # resample's open/close contract: unique (entity, ts)
        # bar input; min_by/max_by on tied ts is tie-arbitrary by design
    )
)
def test_resample_matches_pandas(spark, offs):
    """Tumbling OHLCV == pandas resample(label/closed='right'-equivalent)
    on arbitrary boundary-colliding inputs."""
    n = len(offs)
    pdf = pd.DataFrame(
        {
            "entity": "E",
            "ts": [T0 + datetime.timedelta(seconds=s) for s in sorted(offs)],
            "open": np.arange(n, dtype=np.float64),
            "high": np.arange(n, dtype=np.float64) + 1.0,
            "low": np.arange(n, dtype=np.float64) - 1.0,
            "close": np.arange(n, dtype=np.float64) * 2.0,
            "volume": np.ones(n),
        }
    )
    got = (
        resample_ohlcv(spark.createDataFrame(pdf), "15m")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    g = pdf.set_index("ts")
    want = (
        g.resample("15min", label="right", closed="left")
        .agg(
            open=("open", "first"),
            high=("high", "max"),
            low=("low", "min"),
            close=("close", "last"),
            volume=("volume", "sum"),
            bar_count=("close", "size"),
        )
        .dropna(subset=["open"])
        .reset_index()
    )
    assert len(got) == len(want)
    for c in ("open", "high", "low", "close", "volume"):
        np.testing.assert_allclose(got[c].to_numpy(), want[c].to_numpy())
