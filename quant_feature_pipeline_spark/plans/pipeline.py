"""End-to-end feature pipeline — the Spark re-expression of the
reference's Step2→Step5 chain (`/root/reference/unified_feature_pipeline.py:596-676`).

Stages (each a lazy DataFrame transformation; checkpointable between):

1. resample: base bars → one OHLCV table per timeframe (A1)
2. indicators: per-tf stateless window indicators + ONE grouped Arrow
   recurrence stage of array kernels (functions/grouped.py; SURVEY.md §2.5)
3. merge: backward as-of match (exact matches allowed, no tolerance) of
   every larger tf onto the base axis, columns prefixed ``{tf}_``
   (J1 + P6, `step4_merge_features.py:340-344, 522-535`). Every coarse
   bar is a rollup of the base axis, so the match is a key lookup: two
   running windows on the base's order and one equi-join per tf
4. features: sliding momentum on the base grid (W1), time encodings
   (W12), market state (W13), RSI normalization (W11), log return (W7),
   tanh compressions — the Step5 feature family
   (`step5_featueres_unified.py:689-745`)

The token payload (``tokens`` array) rides through every stage untouched
when present (north-rule passthrough invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import RSI_WINDOW, PipelineConfig, tf_seconds
from ..functions.indicators import (
    apply_window_indicators,
    window_indicator_layers,
)
from ..functions.normalize import market_state, rsi_unit, tanh_compress
from ..functions.recurrence import compute_recurrence_indicators
from ..functions.timefeat import time_encodings
from ..operators.resample import bucket_window, resample_ohlcv
from ..operators.shift import log_return
from ..tsutil import repartition_by_size

OHLCV = ("open", "high", "low", "close", "volume")


def indicator_table(
    bars_tf: DataFrame,
    cfg: PipelineConfig,
    by: str = "entity",
    ts_col: str = "ts",
    prepartitioned: bool = False,
    window_exprs=None,
) -> DataFrame:
    """Step3 equivalent: full indicator set for one timeframe table.

    Stage order (r6): the Catalyst window indicators run FIRST, on the
    resampled bar table — whose hash(entity) partitioning Catalyst can
    SEE, so their one sort needs no exchange — and the recurrence Arrow
    stage runs LAST. The previous order (recurrence first) hid the
    partitioning behind the opaque mapInPandas node, so EnsureRequirements
    re-exchanged every timeframe's indicator output for the window sort
    (measured: 4 exchanges x ~14 MiB per flagship run at sf0.1; the
    550 MB "indicators" shuffle slice of the token scaling job). The
    trade is ~11 window columns riding through the Arrow stage's
    serialization — ~90 bytes/row each way, far cheaper than a shuffle
    of the full indicator frame. Same rows, same expressions on the
    same inputs — bit-identical output, only column ORDER changes
    (window family before the recurrence block).

    The sma/bollinger/roc/realized-vol family applies as the expression
    layers from window_indicator_layers, built once per config and
    REUSED across every timeframe (building them per table paid ~750 ms
    of py4j Column construction per tf on the driver). ``window_exprs``:
    pass the prebuilt window_indicator_layers(...) tuple to share it
    across calls. ``cfg`` is unused: the indicator parameters are the
    config.py constants.

    ``prepartitioned``: the input is already hash-partitioned by ``by``
    with every entity's rows in one partition (run_pipeline's up-front
    repartition, preserved through the resample aggs and the window
    operators) — the recurrence Arrow stage then skips its own
    repartition (r5: Spark does not elide an explicit redundant
    RepartitionByExpression, so this was one full extra shuffle per
    timeframe)."""
    layers, final, drop = window_exprs or window_indicator_layers(
        by=by, ts_col=ts_col
    )
    df = apply_window_indicators(bars_tf, layers, final, drop)
    return compute_recurrence_indicators(
        df, by=by, ts_col=ts_col, prepartitioned=prepartitioned
    )


def resample_all(
    bars: DataFrame,
    cfg: PipelineConfig,
    by: str = "entity",
    ts_col: str = "ts",
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Hierarchical rollup: each timeframe aggregates the FINEST already-
    computed table it divides evenly (15m from 3m, 2h from 30m), not the
    raw base — OHLCV aggregation is associative, so this is exact while
    cutting total shuffle volume by ~an order of magnitude at 4 tfs.

    Intermediate tables are right-labeled (bar T covers [T-p, T)), so
    rollups of them use closed="right" bucketing: the sub-bar labeled
    exactly on a coarser boundary belongs to the bucket it closes.
    """
    out: dict[str, DataFrame] = {}
    done: list[tuple[int, str]] = []  # (seconds, tf) computed so far
    for tf in sorted(cfg.resample_targets, key=tf_seconds):
        sec = tf_seconds(tf)
        src_tf = None
        for s_sec, s_tf in sorted(done, reverse=True):
            if sec % s_sec == 0 and sec > s_sec:
                src_tf = s_tf
                break
        if src_tf is None:
            df = resample_ohlcv(bars, tf, by=by, ts_col=ts_col, closed="left")
        else:
            df = resample_ohlcv(out[src_tf], tf, by=by, ts_col=ts_col, closed="right")
        df = df.drop("bar_count")
        if persist:
            df = df.persist()
        out[tf] = df
        done.append((sec, tf))
    return {tf: out[tf] for tf in cfg.resample_targets}


def merge_timeframes(
    base: DataFrame,
    indicator_tables: dict[str, DataFrame],
    cfg: PipelineConfig,
    by: str = "entity",
    ts_col: str = "ts",
    keep_right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Step4 equivalent: as-of join each tf's indicators (OHLCV dropped,
    P2; ``keep_right_cols`` exempts columns the consumer needs, e.g. the
    flagship price group keeps ``close``) onto the base axis with
    ``{tf}_`` prefixes.

    The merge is backward with exact matches allowed and no tolerance
    (the reference's default `merge.align_direction`). Every coarse
    table is a rollup of the base axis (``resample_all``; every target
    is a whole multiple of ``base_tf``), so the coarse bar labelled K
    holds exactly the base labels in (K-P, K]. The backward match of base
    row t is therefore a key: t itself when t closes its coarse bucket,
    else the label of the latest earlier bucket that holds a base row.
    Two running windows on the base's own (entity, ts) order compute it
    (``lag`` of the bucket label, then ``last(ignorenulls)`` of the label
    where it changes), and each coarse table equi-joins on
    (entity, matched ts). The windows reuse the sort the base already
    has, and the joins' clustering on entity is the base's partitioning.
    """
    rights = {
        tf: ind.drop(
            *[c for c in OHLCV if c in ind.columns and c not in keep_right_cols]
        )
        for tf, ind in indicator_tables.items()
    }

    def block(tf: str, key: str) -> DataFrame:  # (by, key, {tf}_ values)
        r = rights.pop(tf)
        return r.select(
            by, F.col(ts_col).alias(key),
            *[F.col(c).alias(f"{tf}_{c}") for c in r.columns if c not in (by, ts_col)],
        )

    # the base-tf block lives on exactly the base axis: a [by, ts] join
    base_block = block(cfg.base_tf, ts_col) if cfg.base_tf in rights else None
    merged = base
    if rights:
        ts, coarse = F.col(ts_col), list(rights)
        # _k: the label of t's coarse bucket, ceil(t/P)*P (Spark takes one
        # window() per projection); _p: the previous base row's _k; _m:
        # t when t closes its bucket, else the latest _p where _k changed
        for i, tf in enumerate(coarse):
            merged = merged.withColumn(f"_k{i}", bucket_window(ts, tf, "right").end)
        w = Window.partitionBy(by).orderBy(ts_col)
        merged = merged.withColumns(
            {f"_p{i}": F.lag(f"_k{i}").over(w) for i in range(len(coarse))}
        )
        w = w.rowsBetween(Window.unboundedPreceding, 0)
        merged = merged.withColumns(
            {
                f"_m{i}": F.when(F.col(f"_k{i}") == ts, ts).otherwise(
                    F.last(
                        F.when(F.col(f"_p{i}") != F.col(f"_k{i}"), F.col(f"_p{i}")),
                        ignorenulls=True,
                    ).over(w)
                )
                for i in range(len(coarse))
            }
        )
        out = [by, ts_col, *[c for c in base.columns if c not in (by, ts_col)]]
        for i, tf in enumerate(coarse):
            r = block(tf, f"_m{i}")
            out += r.columns[2:]
            merged = merged.join(r, [by, f"_m{i}"], "left")
        merged = merged.select(*out)
    if base_block is not None:
        merged = merged.join(base_block, [by, ts_col], "left")
    return merged


def feature_table(
    merged: DataFrame, cfg: PipelineConfig, by: str = "entity", ts_col: str = "ts"
) -> DataFrame:
    """Step5 equivalent: the normalized feature family on the merged
    wide table. Emits per-tf ``{tf}_market_state/{tf}_mom_n/{tf}_rsi_n``
    plus time encodings and the base log return."""
    df = merged
    new_cols = {}
    for tf in cfg.resample_targets:
        new_cols[f"{tf}_market_state"] = market_state(
            F.col(f"{tf}_supertrend_direction")
        )
        new_cols[f"{tf}_mom_n"] = tanh_compress(
            F.coalesce(F.col(f"{tf}_mom"), F.lit(0.0))
        )
        new_cols[f"{tf}_rsi_n"] = rsi_unit(
            F.coalesce(F.col(f"{tf}_rsi{RSI_WINDOW}"), F.lit(0.0))
        )
    df = df.withColumns(new_cols)
    df = time_encodings(df, ts_col=ts_col)
    ret_col = f"ret_{cfg.base_tf}_log"
    if ret_col not in df.columns:
        df = log_return(df, src="close", out=ret_col, by=by, ts_col=ts_col)
    else:
        # computed upstream on the NARROW base table (r4): a lag window
        # here would sort the full ~100-column merged frame once more —
        # the single largest memory-bandwidth item left in the fused
        # stage. Same float math on the same rows; reorder to keep the
        # output schema identical (projection, free).
        df = df.select(*[c for c in df.columns if c != ret_col], ret_col)
    return df


def run_pipeline(
    bars: DataFrame,
    cfg: PipelineConfig | None = None,
    by: str = "entity",
    ts_col: str = "ts",
    persist_stages: bool = True,
    input_partitioned: bool = False,
) -> DataFrame:
    """bars(1-row-per-base-step) → wide feature table on the base axis.

    ``persist_stages`` caches the per-tf resampled tables: each feeds
    both the indicator branch and (for the base tf) the merge axis, and
    the hierarchical rollup chains through them — without persistence
    Catalyst recomputes the whole upstream per consumer. On a cluster
    these are the per-stage checkpoint tables (plans/checkpoint.py).
    The CALLER owns the cache lifecycle: the cached tables back the
    returned (lazy) DataFrame, so they cannot be released here; a
    long-lived session that builds many pipelines should
    ``spark.catalog.clearCache()`` between them or pass
    ``persist_stages=False``.

    The base is hash-partitioned on ``by`` ONCE up front (to
    spark.sql.shuffle.partitions so SQL-shuffle consumers are
    compatible): HashPartitioning(entity) satisfies the clustering
    requirement of every downstream (entity, bucket) aggregation,
    (entity)-window and (entity, ts) join, so the whole resample →
    indicators → merge chain reuses this single exchange (measured
    -18% wall, 124 -> 95 exchange nodes on the 4-tf token job).
    """
    cfg = cfg or PipelineConfig()
    if not input_partitioned:
        # partition count derived from the input size estimate (r6,
        # guide §2.2): scale-adaptive instead of a constant pinned at
        # plan time, deterministic instead of an AQE boundary decision
        bars = repartition_by_size(bars, by)
    # ``input_partitioned=True``: the caller's input is ALREADY hash-
    # distributed by ``by`` (e.g. a bucketed table scan, sink.py
    # write_bucketed_table) — the up-front exchange is skipped and the
    # scan's layout plays the role of the repartition below.
    tfs = resample_all(bars, cfg, by=by, ts_col=ts_col, persist=persist_stages)
    base = tfs[cfg.base_tf]
    # base log return on the NARROW axis (7 cols) — feature_table would
    # otherwise window-sort the merged ~100-col frame for one lag; the
    # merge's match windows reuse this sort
    base = log_return(
        base, src="close", out=f"ret_{cfg.base_tf}_log", by=by, ts_col=ts_col
    )
    wexprs = window_indicator_layers(by=by, ts_col=ts_col)
    inds = {
        # the tf tables inherit the entity hash layout (subset-key
        # distribution satisfaction leaves agg output partitioning at
        # hash(entity)) — every recurrence stage skips its repartition;
        # the window-indicator expression layers are built ONCE and
        # shared across timeframes (r6 driver-side cost)
        tf: indicator_table(
            df, cfg, by=by, ts_col=ts_col, prepartitioned=True,
            window_exprs=wexprs,
        )
        for tf, df in tfs.items()
    }
    merged = merge_timeframes(base, inds, cfg, by=by, ts_col=ts_col)
    return feature_table(merged, cfg, by=by, ts_col=ts_col)
