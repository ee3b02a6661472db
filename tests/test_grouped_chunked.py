"""grouped_apply_chunked: a single huge entity processed in warm-up
overlapped chunks must equal the unchunked whole-entity result — the
100x-scale memory-hazard fix for the recurrence/rank stages (one entity
larger than any sane Arrow batch no longer needs to fit in one task)."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

from quant_feature_pipeline_spark.functions import grouped
from quant_feature_pipeline_spark.functions.grouped import (
    grouped_apply,
    grouped_apply_chunked,
)
from quant_feature_pipeline_spark.functions.recurrence import (
    compute_recurrence_indicators,
)

from .conftest import make_bars_pdf


def _key(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["entity", "ts"]).reset_index(drop=True)


def _roll20(sl: dict) -> dict:
    c = sl["close"]
    out = np.full(len(c), np.nan)
    if len(c) >= 20:
        # window-LOCAL mean (each window summed independently):
        # pandas' rolling().mean() streams an accumulator across the
        # whole series, so its float result is not chunk-invariant
        out[19:] = np.lib.stride_tricks.sliding_window_view(c, 20).mean(axis=1)
    return {"roll20": out}


def test_chunked_exact_for_finite_window_kernel(spark):
    """A rolling window-20 kernel is EXACTLY reproduced as long as
    warmup_rows >= window - 1 (here with plenty of margin)."""
    pdf = make_bars_pdf(n=2600, entities=("A", "B"))
    df = spark.createDataFrame(pdf)
    cols = df.columns + ["roll20"]

    want = _key(
        grouped_apply(df, "entity", "ts", ["close"], _roll20, ["roll20"]).toPandas()
    )
    got = _key(
        grouped_apply_chunked(
            df, "entity", "ts", ["close"], _roll20, ["roll20"],
            chunk_rows=500, warmup_rows=100,
        ).toPandas()
    )
    assert list(got.columns) == list(want.columns) == cols
    assert len(got) == len(want) == len(pdf)
    for c in cols:
        if got[c].dtype.kind == "f":
            a, b = got[c].to_numpy(), want[c].to_numpy()
            assert np.array_equal(a, b, equal_nan=True), c
        else:
            assert got[c].equals(want[c]), c


def test_chunked_recurrence_identical_on_huge_entity(spark):
    """One entity of 16k rows (4x the 4k chunk budget) through the full
    EMA/Wilder/MACD/ATR/SuperTrend stack: chunked == unchunked
    bit-for-bit, because 4096 warm-up rows shrink the slowest seed error
    (span-200 EMA, (1-alpha)^4096) below float64 ulp."""
    pdf = make_bars_pdf(n=16_000, entities=("HUGE",))
    df = spark.createDataFrame(pdf)

    want = _key(compute_recurrence_indicators(df).toPandas())
    got = _key(
        compute_recurrence_indicators(
            df, chunk_rows=4_096, warmup_rows=4_096
        ).toPandas()
    )
    assert len(got) == len(want) == len(pdf)
    float_cols = [c for c in want.columns if want[c].dtype.kind == "f"]
    for c in float_cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        assert np.array_equal(a, b, equal_nan=True), (
            c,
            np.nanmax(np.abs(a - b)),
        )


def test_chunked_rejects_warmup_larger_than_chunk(spark):
    import pytest

    df = spark.createDataFrame(make_bars_pdf(n=10, entities=("A",)))

    def ident(sl: dict) -> dict:
        return {"x": sl["close"]}

    # a hard kernel window (ADVICE r4) the chunk size cannot cover must
    # fail loudly
    with pytest.raises(ValueError, match="warm-up"):
        grouped_apply_chunked(
            df, "entity", "ts", ["close"], ident, ["x"],
            chunk_rows=10, warmup_rows=11,
        )


def test_rank_window_larger_than_warmup_exact_under_auto_chunking(spark, monkeypatch):
    """ADVICE r4 (high): rolling rank with window > warmup_rows was
    silently corrupted at chunk boundaries for entities above
    _AUTO_CHUNK_ROWS. The fix passes the kernel window as lookback_rows,
    which bumps the replayed history — the production rank kernel under
    auto-chunking must be BIT-identical to the unchunked path AND to a
    per-entity pandas rolling_rank_series, even with warmup_rows far
    below the window."""
    from quant_feature_pipeline_spark.functions.rank import (
        _rank_kernel,
        rolling_percentile_rank,
    )

    from .oracles import rolling_rank_series

    pdf = make_bars_pdf(n=4_000, entities=("HUGE", "T"))
    pdf = pdf[(pdf.entity == "HUGE") | (pdf.index % 37 == 0)].reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    window = 300  # >> the warmup_rows=64 below: old code corrupted here
    mp = max(2, window // 2)

    def rank(sl: dict) -> dict:
        return {"rk": _rank_kernel(sl["close"], window, mp)}

    monkeypatch.setattr(grouped, "_AUTO_CHUNK_ROWS", sys.maxsize)  # unchunked
    want = _key(
        grouped_apply(df, "entity", "ts", ["close"], rank, ["rk"]).toPandas()
    )
    monkeypatch.setattr(grouped, "_AUTO_CHUNK_ROWS", 1_000)
    monkeypatch.setattr(grouped, "_CHUNK_ROWS", 500)
    got = _key(
        grouped_apply(
            df, "entity", "ts", ["close"], rank, ["rk"],
            warmup_rows=64, lookback_rows=window,
        ).toPandas()
    )
    ref = _key(pdf)
    ref["rk"] = pd.concat(
        [rolling_rank_series(g["close"], window) for _, g in ref.groupby("entity")]
    )
    assert len(got) == len(want) == len(pdf)
    a, b = got["rk"].to_numpy(), want["rk"].to_numpy()
    assert np.array_equal(a, b, equal_nan=True)
    assert np.array_equal(a, ref["rk"].to_numpy(), equal_nan=True)
    # and the public entry point wires the lookback itself
    via_api = _key(
        rolling_percentile_rank(df, "close", window, out="rk").toPandas()
    )
    assert np.array_equal(via_api["rk"].to_numpy(), b, equal_nan=True)


def test_auto_local_chunking_bit_identical(spark, monkeypatch):
    """grouped_apply's in-task auto-chunking (no caller opt-in, r4):
    an entity above _AUTO_CHUNK_ROWS is processed in warm-up-overlapped
    local slices — output must be BIT-identical to the unchunked path.
    Exercised through the generic compute_recurrence_indicators entry
    point (the full EMA/Wilder/MACD/ATR/SuperTrend stack) with the
    threshold lowered so a 16k-row entity trips the dispatch."""
    pdf = make_bars_pdf(n=16_000, entities=("HUGE", "TINY"))
    pdf = pdf[(pdf.entity == "HUGE") | (pdf.index % 40 == 0)].reset_index(drop=True)
    df = spark.createDataFrame(pdf)

    monkeypatch.setattr(grouped, "_AUTO_CHUNK_ROWS", sys.maxsize)  # unchunked
    want = _key(compute_recurrence_indicators(df).toPandas())
    monkeypatch.setattr(grouped, "_AUTO_CHUNK_ROWS", 8_000)
    monkeypatch.setattr(grouped, "_CHUNK_ROWS", 5_000)
    got = _key(compute_recurrence_indicators(df).toPandas())
    assert len(got) == len(want) == len(pdf)
    for c in got.columns:
        if got[c].dtype.kind == "f":
            a, b = got[c].to_numpy(), want[c].to_numpy()
            an, bn = np.isnan(a), np.isnan(b)
            assert np.array_equal(an, bn), c
            assert (a[~an] == b[~bn]).all(), c
        else:
            assert got[c].equals(want[c]), c


def test_auto_local_chunking_rejects_row_dropping_kernel(spark, monkeypatch):
    """A kernel whose output length differs from its input must FAIL
    LOUDLY on every call — auto-chunked, whole-group and cross-task
    chunked alike — not silently misalign rows (ADVICE r3). The
    two-entity case is the one a per-partition total cannot catch: +1
    row for A and -1 for B cancel to the right partition length, and
    without the per-call check B's rows carried A's values."""
    import pytest

    pdf = make_bars_pdf(n=3_000, entities=("A",))
    df = spark.createDataFrame(pdf)

    def drop_first(sl: dict) -> dict:
        return {"x": sl["close"][1:]}

    two = make_bars_pdf(n=5, entities=("A", "B"))
    two["side"] = np.where(two["entity"] == "A", 1.0, -1.0)
    df2 = spark.createDataFrame(two).coalesce(1)  # A and B share a partition

    def cancelling(sl: dict) -> dict:
        c = sl["close"]
        return {"x": np.append(c, 0.0) if sl["side"][0] > 0 else c[:-1]}

    monkeypatch.setattr(grouped, "_AUTO_CHUNK_ROWS", 1_000)
    monkeypatch.setattr(grouped, "_CHUNK_ROWS", 1_000)
    runs = [
        grouped_apply(
            df, "entity", "ts", ["close"], drop_first, ["x"], warmup_rows=100,
        ),
        grouped_apply(
            df2, "entity", "ts", ["close", "side"], cancelling, ["x"],
            prepartitioned=True,
        ),
        grouped_apply_chunked(
            df2, "entity", "ts", ["close", "side"], cancelling, ["x"],
            chunk_rows=4, warmup_rows=2,
        ),
    ]
    for out in runs:
        with pytest.raises(Exception, match="one row per input row"):
            out.collect()


def _skewed_asof_pair(spark):
    """Left: HOT 5,000 rows, C1 300, C2 7 (11 s apart); right: 20 rows
    per entity, 5 min apart."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for e, n in (("HOT", 5_000), ("C1", 300), ("C2", 7)):
        for k in range(n):
            rows.append((e, t0 + datetime.timedelta(seconds=11 * k), float(k)))
    left = spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "ts", "lval"])
    )
    rrows = [
        (e, t0 + datetime.timedelta(minutes=5 * k), float(100 + k))
        for e in ("HOT", "C1", "C2")
        for k in range(20)
    ]
    right = spark.createDataFrame(
        pd.DataFrame(rrows, columns=["entity", "ts", "rval"])
    )
    return left, right


def test_asof_auto_routes_hot_entity(spark, monkeypatch):
    """asof_join(strategy='auto'): hot entities route through the
    bucketed path, cold through union_ffill — results identical to the
    plain union_ffill join (both branches are exact)."""
    from quant_feature_pipeline_spark.operators import asof as asof_mod
    from quant_feature_pipeline_spark.operators.asof import asof_join

    monkeypatch.setattr(asof_mod, "_HOT_ROWS", 1_000)
    left, right = _skewed_asof_pair(spark)
    for direction, tol in (
        ("backward", None), ("forward", None), ("nearest", None), ("backward", 400)
    ):
        want = _key(
            asof_join(
                left, right, direction=direction, tolerance_s=tol,
                strategy="union_ffill",
            ).toPandas()
        )
        got = _key(
            asof_join(
                left, right, direction=direction, tolerance_s=tol,
                strategy="auto",
            ).toPandas()
        )
        assert got.equals(want), (direction, tol)


def test_asof_auto_hot_list_past_cap_stays_exact(spark, monkeypatch):
    """The detected hot list is capped; hot entities past the cap take
    the cold union_ffill branch. The router splits on one literal isin
    over the capped list, and the result is still the exact join."""
    from quant_feature_pipeline_spark.operators import asof as asof_mod

    left, right = _skewed_asof_pair(spark)
    monkeypatch.setattr(asof_mod, "_HOT_ISIN_MAX", 1)
    # HOT (5,000 rows) and C1 (300) both exceed 200 rows
    monkeypatch.setattr(asof_mod, "_HOT_ROWS", 200)
    assert len(asof_mod._detect_hot_entities(left, "entity", 200)) == 1
    want = _key(
        asof_mod.asof_join(left, right, strategy="union_ffill").toPandas()
    )
    got = _key(
        asof_mod.asof_join(left, right, strategy="auto").toPandas()
    )
    assert got.equals(want)


def test_asof_auto_small_input_skips_detection(spark):
    """r6 (VERDICT r5 item 3): when the optimizer's size estimate proves
    the left is smaller than ``_HOT_ROWS`` BYTES (hence < _HOT_ROWS rows),
    the auto router must return the plain union_ffill plan WITHOUT
    running the detection count job — zero routing tax on small inputs."""
    import datetime

    from quant_feature_pipeline_spark.operators.asof import asof_join

    t0 = datetime.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        pd.DataFrame(
            [("A", t0 + datetime.timedelta(seconds=9 * k), float(k)) for k in range(200)],
            columns=["entity", "ts", "lval"],
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            [("A", t0 + datetime.timedelta(minutes=3 * k), float(k)) for k in range(20)],
            columns=["entity", "ts", "rval"],
        )
    )
    sc = spark.sparkContext
    sc.setJobGroup("asof_skip_probe", "asof_skip_probe")
    try:
        df = asof_join(left, right)  # default auto, 4M-row threshold
        jobs = sc.statusTracker().getJobIdsForGroup("asof_skip_probe")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == [], "plan build must run NO detection job on small inputs"
    want = _key(asof_join(left, right, strategy="union_ffill").toPandas())
    assert _key(df.toPandas()).equals(want)


def test_asof_bad_direction_rejected_before_any_job(spark, monkeypatch):
    """An unknown ``direction`` raises ValueError before any Spark job —
    for every strategy, including ``auto`` with a threshold low enough
    that hot-entity detection would otherwise run its count job first."""
    import pytest

    from quant_feature_pipeline_spark.operators import asof as asof_mod
    from quant_feature_pipeline_spark.operators.asof import asof_join

    monkeypatch.setattr(asof_mod, "_HOT_ROWS", 1)
    left, right = _skewed_asof_pair(spark)
    sc = spark.sparkContext
    for strategy in ("union_ffill", "bucketed", "auto"):
        group = f"asof_bad_direction_{strategy}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="direction"):
                asof_join(left, right, direction="sideways", strategy=strategy)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == [], (strategy, list(jobs))


def test_asof_auto_null_keys_survive_hot_routing(spark, monkeypatch):
    """ADVICE r5 (medium): with a detected hot list, rows whose ``by``
    key is NULL must flow to the cold branch, not vanish under the
    three-valued isin split."""
    import datetime

    from quant_feature_pipeline_spark.operators import asof as asof_mod
    from quant_feature_pipeline_spark.operators.asof import asof_join

    monkeypatch.setattr(asof_mod, "_HOT_ROWS", 1_000)
    t0 = datetime.datetime(2024, 1, 1)
    rows = [("HOT", t0 + datetime.timedelta(seconds=7 * k), float(k)) for k in range(5000)]
    rows += [(None, t0 + datetime.timedelta(seconds=60 * k), float(1000 + k)) for k in range(5)]
    rows += [("C1", t0 + datetime.timedelta(seconds=60 * k), float(2000 + k)) for k in range(40)]
    left = spark.createDataFrame(pd.DataFrame(rows, columns=["entity", "ts", "lval"]))
    rrows = [
        (e, t0 + datetime.timedelta(minutes=5 * k), float(100 + k))
        for e in ("HOT", "C1", None)
        for k in range(12)
    ]
    right = spark.createDataFrame(pd.DataFrame(rrows, columns=["entity", "ts", "rval"]))
    out = asof_join(left, right, strategy="auto").toPandas()
    assert len(out) == len(rows), "no rows may be lost by the hot split"
    nulls = out[out["entity"].isna()]
    assert len(nulls) == 5
    # null-key lefts match null-key rights in the cold union_ffill branch
    want = _key(asof_join(left, right, strategy="union_ffill").toPandas())
    assert _key(out).equals(want)
