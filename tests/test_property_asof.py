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
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from quant_feature_pipeline_spark.config import PipelineConfig
from quant_feature_pipeline_spark.operators.asof import asof_join
from quant_feature_pipeline_spark.operators.resample import resample_ohlcv
from quant_feature_pipeline_spark.plans.pipeline import merge_timeframes, resample_all

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


# minutes (of four hours) that hold a raw 1m bar; the rest are dropped
_bar_minutes = st.sets(st.integers(0, 239), min_size=1, max_size=40)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=_bar_minutes, b=_bar_minutes, ntz=st.booleans())
# A starts mid-bucket (its first base label, 00:08, precedes every
# coarse label), closes the 5m and 15m buckets at 00:15, closes the 1h
# bucket at 01:00, and skips the coarse buckets of 01:02-03:20
@example(a={7, 14, 15, 16, 44, 59, 60, 61, 200}, b={0, 1, 2, 3, 4, 134, 239}, ntz=False)
@example(a={7, 14, 15, 16, 44, 59, 60, 61, 200}, b={0, 1, 2, 3, 4, 134, 239}, ntz=True)
def test_merge_timeframes_matches_pandas(spark, a, b, ntz):
    """merge_timeframes == one backward ``pd.merge_asof`` (exact matches
    allowed) per coarse timeframe, then the base block on (entity, ts),
    on 1m bars with random minutes dropped, over TIMESTAMP and
    TIMESTAMP_NTZ: the keyed match equals the general as-of."""
    cfg = PipelineConfig(base_tf="1m", resample_targets=("1m", "5m", "15m", "1h"))
    pdf = pd.concat(
        [
            pd.DataFrame(
                {"entity": e, "ts": [T0 + datetime.timedelta(minutes=m) for m in sorted(offs)]}
            )
            for e, offs in (("A", a), ("B", b))
        ],
        ignore_index=True,
    )
    x = np.arange(len(pdf), dtype=np.float64)
    pdf = pdf.assign(open=x, high=x + 1.0, low=x - 1.0, close=x * 2.0, volume=x + 3.0)
    bars = spark.createDataFrame(pdf)
    if ntz:
        bars = bars.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    tfs = resample_all(bars, cfg)
    keep = ("open", "close")
    got = merge_timeframes(tfs["1m"], tfs, cfg, keep_right_cols=keep).toPandas()

    tables = {tf: df.toPandas().sort_values("ts") for tf, df in tfs.items()}

    def block(tf):
        return tables[tf][["entity", "ts", *keep]].rename(
            columns={c: f"{tf}_{c}" for c in keep}
        )

    want = tables["1m"]
    for tf in cfg.resample_targets[1:]:
        want = pd.merge_asof(
            want, block(tf), on="ts", by="entity",
            direction="backward", allow_exact_matches=True,
        )
    want = want.merge(block("1m"), on=["entity", "ts"], how="left")
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(
        got.sort_values(["entity", "ts"]).reset_index(drop=True),
        want.sort_values(["entity", "ts"]).reset_index(drop=True),
    )
