"""Physical-plan regression tripwires.

These pin the plan PROPERTIES the engine's scale story depends on —
predicate pushdown reaching the parquet scan, column pruning, broadcast
of small sides, and exchange budgets for the fused pipelines. Counts are
generous upper bounds (a regression like losing the single up-front
entity partitioning adds several exchanges at once); they are tripwires,
not exact-plan snapshots, so minor Catalyst changes don't false-alarm.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from quant_feature_pipeline_spark.config import PipelineConfig
from quant_feature_pipeline_spark.plans.pipeline import run_pipeline
from quant_feature_pipeline_spark.sources.bars import bars_from_events
from quant_feature_pipeline_spark.sources.scan import slice_time_range

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_time_range_predicate_reaches_scan(spark):
    """P3: the ts bound must appear in the FileScan's filters (pushed to
    parquet row-group pruning), not only in a post-scan Filter node."""
    s = slice_time_range(
        _events(spark).select("user_id", "ts", "value"),
        start=datetime.datetime(2024, 1, 2),
    )
    scan_lines = [l for l in _plan(s).splitlines() if "FileScan" in l]
    assert scan_lines and "ts" in scan_lines[0]
    assert ">= 2024-01-02" in scan_lines[0], scan_lines[0]


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must scan 2 columns: unread columns may not
    appear in the FileScan output list."""
    p = _plan(_events(spark).select("user_id", "value"))
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "user_id" in scan and "value" in scan
    assert "event_type" not in scan and "event_id" not in scan, scan


def test_knn_broadcasts_query_side(spark):
    """Brute-force top-k: the (small) query side is broadcast; the
    corpus side never shuffles except the final per-query top-k."""
    from quant_feature_pipeline_spark.textops.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = _plan(cosine_topk_bruteforce(emb, q, k=3))
    assert "Broadcast" in p
    assert p.count("Exchange") <= 4, p.count("Exchange")


def test_ivf_shuffles_only_per_query_sets(spark):
    """The IVF scale claim: corpus cell assignment is map-only (one
    vectorized Arrow stage — no crossJoin blow-up, no per-vector
    window), centroids broadcast. The ONLY shuffles key per-query rows:
    the nprobe window over the (tiny) query side and the final top-k —
    exactly 2, both independent of corpus size. (`ShuffleExchange` never
    appears in this plan format — shuffles print as `Exchange
    hashpartitioning` — so count that, not the class name.)"""
    from quant_feature_pipeline_spark.textops.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    p = _plan(ivf_topk(emb, q, k=3, n_cells=8, nprobe=2, dim=dim))
    shuffles = p.count("Exchange hashpartitioning")
    assert shuffles <= 2, shuffles
    # both shuffle keys are per-query (query_id), never corpus-wide
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line, line


def test_pipeline_exchange_budget_2tf(spark):
    """The single up-front entity partitioning must keep the whole
    2-timeframe resample -> indicators -> merge -> features chain within
    a small exchange budget; losing the partitioning reuse adds several
    exchanges at once."""
    bars = bars_from_events(_events(spark)).select(
        "entity", "ts", "open", "high", "low", "close", "volume"
    )
    feat = run_pipeline(
        bars,
        PipelineConfig(base_tf="3m", resample_targets=("3m", "15m")),
        persist_stages=False,
    )
    n = _plan(feat).count("Exchange")
    assert n <= 9, n


def test_pipeline_merge_has_no_union(spark):
    """The timeframe merge matches each coarse bar by key: two running
    windows on the base's (entity, ts) order and one equi-join per
    timeframe. No left/right union is sorted anywhere in the plan."""
    bars = bars_from_events(_events(spark)).select(
        "entity", "ts", "open", "high", "low", "close", "volume"
    )
    feat = run_pipeline(
        bars,
        PipelineConfig(base_tf="3m", resample_targets=("3m", "15m", "30m", "2h")),
        persist_stages=False,
    )
    assert "Union" not in _plan(feat)
