"""Physical-plan regression guards: the optimizations the engine relies
on must stay visible in the executed plan (SURVEY.md §4)."""

from __future__ import annotations

import logging
import re

import pytest
from pyspark.sql import functions as F

from .conftest import make_bars_pdf


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "value")
        .filter(F.col("user_id") < 10)
    )
    p = _plan(df)
    assert "LessThan(user_id,10)" in p, "filter not pushed to parquet scan"
    rs = re.search(r"ReadSchema: ([^\n]*)", p).group(1)
    assert "props" not in rs and "event_type" not in rs, f"columns not pruned: {rs}"


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["tpch_q5like"](spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_union_ffill_single_window(spark, direction, exact):
    """The union-fill as-of join must stay one sorted Window over one
    union — no join, no extra shuffle beyond the two inputs. Nearest
    runs both fills, one per time-axis direction: two sorts, still one
    exchange."""
    from quant_feature_pipeline_spark.operators.asof import asof_join

    pdf = make_bars_pdf(n=50)
    left = spark.createDataFrame(pdf[["entity", "ts", "close"]])
    right = spark.createDataFrame(
        pdf[["entity", "ts", "volume"]].rename(columns={"volume": "v"})
    )
    p = _plan(
        asof_join(
            left, right, direction=direction, allow_exact_matches=exact,
            strategy="union_ffill",
        )
    )
    sorts = 2 if direction == "nearest" else 1
    assert p.count("Exchange") == 1
    assert p.count("Window") == sorts
    assert p.count("Sort") == sorts
    assert "Join" not in p


@pytest.mark.parametrize("strategy", ["union_ffill", "bucketed"])
def test_asof_plans_use_running_frames_only(spark, strategy):
    """Every as-of fill is a running frame: a frame that ends at
    unbounded following is re-evaluated for every row, quadratic in the
    partition. Neither strategy joins: the bucketed carry is the union
    fill over the bucket axis, so no left row meets a candidate join."""
    from quant_feature_pipeline_spark.operators.asof import asof_join

    pdf = make_bars_pdf(n=50)
    left = spark.createDataFrame(pdf[["entity", "ts", "close"]])
    right = spark.createDataFrame(
        pdf[["entity", "ts", "volume"]].rename(columns={"volume": "v"})
    )
    for direction in ("backward", "forward", "nearest"):
        for exact in (True, False):
            p = _plan(
                asof_join(
                    left, right, direction=direction, allow_exact_matches=exact,
                    strategy=strategy,
                )
            ).lower()
            assert "unboundedpreceding" in p, (direction, exact)
            assert "unboundedfollowing" not in p, (direction, exact)
            assert "join" not in p, (direction, exact)


def test_bfill_running_frame_only(spark):
    """bfill is the ffill frame on the reversed time axis: a frame that
    ends at unbounded following is re-evaluated for every row, quadratic
    in the entity."""
    from quant_feature_pipeline_spark.operators.fill import bfill

    pdf = make_bars_pdf(n=50)
    p = _plan(bfill(spark.createDataFrame(pdf), ["close"])).lower()
    assert "unboundedpreceding" in p
    assert "unboundedfollowing" not in p


def test_prefix_sum_sma_no_sliding_frame(spark):
    """sma must compile to running frames + lag, not O(W) sliding frames."""
    from quant_feature_pipeline_spark.functions.indicators import (
        apply_window_indicators,
        window_indicator_layers,
    )

    pdf = make_bars_pdf(n=50)
    layers = window_indicator_layers()  # SMA_WINDOWS holds 200
    p = _plan(apply_window_indicators(spark.createDataFrame(pdf), *layers))
    # sliding frames print as 'ROWS BETWEEN 199 PRECEDING AND CURRENT ROW'
    assert "199 PRECEDING" not in p
    assert "unboundedpreceding" in p.lower() or "UNBOUNDED PRECEDING" in p


class _NoStatsJdf:
    """A Java DataFrame handle whose size estimate is unavailable."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise RuntimeError("no statistics")

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def test_repartition_by_size_warns_without_estimate(spark, caplog):
    """A missing size estimate falls back to a bare repartition, loudly."""
    from quant_feature_pipeline_spark.tsutil import repartition_by_size

    df = spark.createDataFrame(make_bars_pdf(n=20))
    df._jdf = _NoStatsJdf(df._jdf)
    with caplog.at_level(logging.WARNING, logger="quant_feature_pipeline_spark.tsutil"):
        out = repartition_by_size(df, "entity")
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "no size estimate" in warnings[0] and "entity" in warnings[0]
    assert out.count() == 40
    assert "RepartitionByExpression ['entity]\n" in out._jdf.queryExecution().logical().toString()
