"""Grid fill / ffill / bfill (W14) and log return (W7) vs pandas
oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd

from quant_feature_pipeline_spark.operators.fill import bfill, ffill
from quant_feature_pipeline_spark.operators.shift import log_return

from .conftest import assert_frame_close, make_bars_pdf


def test_ffill_bfill(spark):
    pdf = make_bars_pdf(n=100)
    pdf.loc[pdf.index % 3 == 0, "close"] = np.nan
    sdf = spark.createDataFrame(pdf)
    got_f = ffill(sdf, ["close"]).toPandas()
    got_b = bfill(sdf, ["close"]).toPandas()
    out_f, out_b = [], []
    for e, g in pdf.groupby("entity"):
        g = g.sort_values("ts").copy()
        f = g.copy()
        f["close"] = g["close"].ffill()
        b = g.copy()
        b["close"] = g["close"].bfill()
        out_f.append(f)
        out_b.append(b)
    assert_frame_close(got_f, pd.concat(out_f)[got_f.columns], keys=["entity", "ts"])
    assert_frame_close(got_b, pd.concat(out_b)[got_b.columns], keys=["entity", "ts"])


def test_lag_momentum_and_log_return(spark):
    pdf = make_bars_pdf(n=120)
    sdf = spark.createDataFrame(pdf)
    got = log_return(sdf, src="close").toPandas()
    out = []
    for e, g in pdf.groupby("entity"):
        g = g.sort_values("ts").copy()
        g["ret_log"] = np.log(g["close"] / g["close"].shift(1)).fillna(0.0)
        out.append(g)
    assert_frame_close(got, pd.concat(out)[got.columns], keys=["entity", "ts"])


def test_grid_fill_ranges_matches_join_ffill(spark):
    """grid_fill_ranges (per-bar range explode, O(bars) window) must be
    row-identical to the grid-join + ffill formulation (O(grid) window)
    — including head NULLs before the first bar, gap segments, entities
    whose bars end before t1, bars labeled past t1 (excluded), and an
    entity with no bars at all (all-NULL grid)."""
    import datetime

    from pyspark.sql import functions as F

    from quant_feature_pipeline_spark.operators.fill import grid_fill_ranges

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    bars = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity": ["A"] * 4 + ["B"] * 2 + ["C"],
                # A: starts past t0 (head nulls), has a gap, ends early;
                # B: dense; C: single bar AFTER its t1 (contributes nothing)
                "ts": [ts(15), ts(20), ts(45), ts(60), ts(5), ts(10), ts(500)],
                "close": [1.0, 2.0, 3.0, 4.0, 10.0, 20.0, 99.0],
            }
        )
    )
    bounds = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity": ["A", "B", "C", "D"],  # D has no bars at all
                "t0": [ts(0), ts(0), ts(0), ts(0)],
                "t1": [ts(90), ts(10), ts(30), ts(20)],
            }
        )
    )
    grid = bounds.select(
        "entity",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 5 MINUTES"))).alias("ts"),
    )
    want = (
        ffill(grid.join(bars, ["entity", "ts"], "left"), ["close"])
        .select("entity", "ts", "close")
        .toPandas()
        .sort_values(["entity", "ts"])
        .reset_index(drop=True)
    )
    got = (
        grid_fill_ranges(bars, "5m", value_cols=("close",), grid_bounds=bounds)
        .toPandas()
        .sort_values(["entity", "ts"])
        .reset_index(drop=True)
    )
    assert got["entity"].equals(want["entity"]) and got["ts"].equals(want["ts"])
    a, b = got["close"].to_numpy(), want["close"].to_numpy()
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.array_equal(a[~np.isnan(a)], b[~np.isnan(b)])



def _null(v):
    return None if pd.isna(v) else v


def _bfill_admissible(ev: pd.DataFrame) -> dict[int, set]:
    """event_id -> the purchase_val values a per-user backward fill in ts
    order may give the row (``None`` for null). The window orders by ts
    only, so rows tied on (user_id, ts) may come in any order: a null row
    takes a non-null value of a tied row or, placed last among its ties,
    the fill from later ts. An untied row has exactly one value."""
    out: dict[int, set] = {}
    for _, user in ev.groupby("user_id"):
        later = {None}  # what the first non-null after the current ts may be
        for _, tied in reversed(list(user.groupby("ts"))):
            vals = dict(zip(tied["event_id"], map(_null, tied["purchase_val"])))
            for eid, v in vals.items():
                others = {w for k, w in vals.items() if k != eid and w is not None}
                out[eid] = {v} if v is not None else others | later
            later = {v for v in vals.values() if v is not None} or later
    return out


def _check_bfill(got: pd.DataFrame, ev: pd.DataFrame) -> dict[int, set]:
    """``got`` == pandas' per-user ``bfill`` of ``ev`` in (ts, event_id)
    order wherever the ts order decides the value; elsewhere (ties) the
    value is one that some order of the tied rows gives."""
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    want = dict(zip(ev["event_id"], map(_null, ev.groupby("user_id")["purchase_val"].bfill())))
    admissible = _bfill_admissible(ev)
    assert sorted(got["event_id"]) == sorted(want)
    for eid, v in zip(got["event_id"], map(_null, got["purchase_val"])):
        assert want[eid] in admissible[eid]
        if len(admissible[eid]) == 1:
            assert v == want[eid], (eid, v, want[eid])
        assert v in admissible[eid], (eid, v, admissible[eid])
    return admissible


def test_bfill_value_query_matches_pandas(spark):
    """bfill_value (the declared query without a DuckDB oracle entry) ==
    a pandas per-user backward fill of purchase_val in ts order."""
    import __spark_entry__ as e

    from .test_plan_shape import SF

    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(purchase_val=ev["value"].where(ev["event_type"] == "purchase"))
    got = e.queries()["bfill_value"](spark, SF).toPandas()
    assert got["purchase_val"].notna().any() and got["purchase_val"].isna().any()
    _check_bfill(got, ev[["user_id", "ts", "event_id", "purchase_val"]])


def test_bfill_ties_on_ts(spark):
    """Rows tied on (user_id, ts) may take either order's fill."""
    t0 = pd.Timestamp("2024-01-01")
    ev = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 1, 1],
            "ts": [t0 + pd.Timedelta(minutes=m) for m in (0, 0, 1, 2, 2, 3)],
            "event_id": [1, 2, 3, 4, 5, 6],
            "purchase_val": [np.nan, 5.0, np.nan, 7.0, 8.0, np.nan],
        }
    )
    got = bfill(spark.createDataFrame(ev), ["purchase_val"], by="user_id").toPandas()
    admissible = _check_bfill(got, ev)
    assert admissible == {
        1: {5.0, 7.0, 8.0}, 2: {5.0}, 3: {7.0, 8.0}, 4: {7.0}, 5: {8.0}, 6: {None}
    }
