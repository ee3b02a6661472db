"""As-of join: both Spark formulations (union_ffill, bucketed) vs the
pandas merge_asof oracle (the reference's own operator,
`/root/reference/step4_merge_features.py:522-535`), across direction /
exact-match / tolerance, with edge timestamps per FIXTURES.md F5: exact
boundary matches, mid-bucket, before-all-right."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from quant_feature_pipeline_spark.operators.asof import asof_join

from .conftest import T0, assert_frame_close

STRATEGIES = ["union_ffill", "bucketed"]


def _left_right(seed=7):
    rng = np.random.RandomState(seed)
    frames_l, frames_r = [], []
    for e in ("A", "B", "HOT"):
        n = 300 if e == "HOT" else 60
        lts = sorted(
            T0 + datetime.timedelta(seconds=int(s))
            for s in rng.choice(range(0, 36000), size=n, replace=False)
        )
        frames_l.append(
            pd.DataFrame({"entity": e, "ts": lts, "lval": rng.randn(n)})
        )
        # right axis: 15-minute marks, includes exact-boundary collisions
        rts = [T0 + datetime.timedelta(minutes=15 * k) for k in range(0, 40)]
        frames_r.append(
            pd.DataFrame({"entity": e, "ts": rts, "rval": rng.randn(len(rts))})
        )
    left = pd.concat(frames_l, ignore_index=True)
    # plant exact matches and a left row before all right rows
    left.loc[0, "ts"] = T0 - datetime.timedelta(minutes=5)
    left.loc[1, "ts"] = T0 + datetime.timedelta(minutes=15)
    right = pd.concat(frames_r, ignore_index=True)
    # entity present on left only
    ghost = pd.DataFrame({"entity": ["GHOST"], "ts": [T0], "lval": [1.0]})
    return pd.concat([left, ghost], ignore_index=True), right


def _oracle(left, right, direction, allow_exact, tol_s):
    out = []
    for e, lg in left.groupby("entity"):
        rg = right[right.entity == e].drop(columns=["entity"]).sort_values("ts")
        lg = lg.sort_values("ts")
        rg = rg.rename(columns={"rval": "rval"})
        rg["matched_ts"] = rg["ts"]
        if rg.empty:
            m = lg.copy()
            m["rval"] = np.nan
            m["matched_ts"] = pd.NaT
        else:
            m = pd.merge_asof(
                lg,
                rg,
                on="ts",
                direction=direction,
                allow_exact_matches=allow_exact,
                tolerance=pd.Timedelta(seconds=tol_s) if tol_s else None,
            )
        out.append(m)
    return pd.concat(out, ignore_index=True)


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize(
    "direction,allow_exact,tol_s",
    [
        ("backward", True, None),
        ("backward", False, None),
        ("backward", True, 600),
        ("forward", True, None),
        ("forward", False, None),
        ("nearest", True, None),
        ("nearest", True, 600),
        ("nearest", False, None),
        ("nearest", False, 600),
    ],
)
def test_asof_matches_pandas(spark, strategy, direction, allow_exact, tol_s):
    lpdf, rpdf = _left_right()
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    got = asof_join(
        left,
        right,
        direction=direction,
        allow_exact_matches=allow_exact,
        tolerance_s=tol_s,
        strategy=strategy,
    ).toPandas()
    want = _oracle(lpdf, rpdf, direction, allow_exact, tol_s)
    assert_frame_close(got, want, keys=["entity", "ts", "lval"])


@pytest.mark.parametrize("strategy", ["sorted_merge", "multi"])
def test_asof_unknown_strategy_rejected(spark, strategy):
    lpdf, rpdf = _left_right()
    with pytest.raises(ValueError, match="union_ffill, bucketed, auto"):
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            strategy=strategy,
        )


def test_asof_misspelt_keyword_raises(spark):
    """A misspelt option is a TypeError, not a silently ignored keyword
    (``tolerance=60`` used to run untoleranced and return a 600 s stale
    match)."""
    lpdf, rpdf = _left_right()
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    # splatted, so the static keyword check in test_reachability lets
    # these deliberate typos through to the runtime check under test
    with pytest.raises(TypeError, match="tolerance"):
        asof_join(left, right, **{"tolerance": 60})
    with pytest.raises(TypeError, match="tolerence_s"):
        asof_join(left, right, strategy="union_ffill", **{"tolerence_s": 60})


def test_asof_nearest(spark):
    lpdf, rpdf = _left_right()
    got = asof_join(
        spark.createDataFrame(lpdf),
        spark.createDataFrame(rpdf),
        direction="nearest",
    ).toPandas()
    want = _oracle(lpdf, rpdf, "nearest", True, None)
    assert_frame_close(got, want, keys=["entity", "ts", "lval"])


def test_asof_prefix(spark):
    lpdf, rpdf = _left_right()
    got = asof_join(
        spark.createDataFrame(lpdf),
        spark.createDataFrame(rpdf),
        right_prefix="15m_",
    )
    assert "15m_rval" in got.columns and "15m_matched_ts" in got.columns


@pytest.mark.parametrize("direction", ["backward", "nearest"])
@pytest.mark.parametrize("bucket_s", [900, 3600, 86400])
def test_asof_bucketed_bucket_sizes(spark, bucket_s, direction):
    """Bucket size must not change results — boundary carry correctness
    (nearest exercises the dual-direction carry union)."""
    lpdf, rpdf = _left_right()
    from quant_feature_pipeline_spark.operators.asof import asof_join_bucketed

    got = asof_join_bucketed(
        spark.createDataFrame(lpdf),
        spark.createDataFrame(rpdf),
        direction=direction,
        bucket_s=bucket_s,
    ).toPandas()
    want = _oracle(lpdf, rpdf, direction, True, None)
    assert_frame_close(got, want, keys=["entity", "ts", "lval"])


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_null_right_values(spark, strategy, direction):
    """A matched right row with NULL in a value column must yield that
    NULL (paired with its own matched_ts) — not an older row's value
    (ADVICE r3: independent per-column ignorenulls fills mixed rows).
    Entity A: two value columns with nulls planted on different rows so
    a row-mixing bug is visible in either column. Entities C and D: the
    NULL sits on a row carried across hour-bucket edges. C: rights
    (00:10, 5.0) and (01:10, NULL), left at 02:30, which matches NULL @
    01:10 backward and nearest. D: NULLs on the first and the last right
    row of hour buckets, lefts every 20 minutes across eight buckets,
    four of them with no right row."""
    rng = np.random.RandomState(11)
    lts = [T0 + datetime.timedelta(seconds=int(s)) for s in range(30, 3600, 90)]
    lpdf = pd.DataFrame({"entity": "A", "ts": lts, "lval": rng.randn(len(lts))})
    rts = [T0 + datetime.timedelta(minutes=5 * k) for k in range(12)]
    rpdf = pd.DataFrame(
        {
            "entity": "A",
            "ts": rts,
            "rval": rng.randn(len(rts)),
            "rval2": rng.randn(len(rts)),
        }
    )
    rpdf.loc[rpdf.index % 3 == 1, "rval"] = np.nan
    rpdf.loc[rpdf.index % 3 == 2, "rval2"] = np.nan

    def at(h, m):
        return T0 + datetime.timedelta(hours=h, minutes=m)

    carried = [
        ("C", 0, 10, 5.0), ("C", 1, 10, None), ("D", 0, 20, 1.0),
        ("D", 1, 10, None), ("D", 1, 40, 2.0), ("D", 3, 5, 4.0),
        ("D", 3, 50, None), ("D", 6, 15, None), ("D", 6, 45, 7.0),
    ]
    rpdf = pd.concat([rpdf, pd.DataFrame(
        [(e, at(h, m), v, float(k)) for k, (e, h, m, v) in enumerate(carried)],
        columns=["entity", "ts", "rval", "rval2"],
    )], ignore_index=True)
    lpdf = pd.concat([lpdf, pd.DataFrame(
        [("C", at(2, 30), 0.0)]
        + [("D", at(0, 20 * k), float(k)) for k in range(24)],
        columns=["entity", "ts", "lval"],
    )], ignore_index=True)
    got = asof_join(
        spark.createDataFrame(lpdf),
        spark.createDataFrame(rpdf),
        direction=direction,
        strategy=strategy,
    ).toPandas()
    want = _oracle(lpdf, rpdf, direction, True, None)
    assert_frame_close(got, want, keys=["entity", "ts", "lval"])
