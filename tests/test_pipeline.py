"""End-to-end pipeline properties: token passthrough, temporal leakage,
schema contract, the base-timeframe check, checkpoint warm-start
equivalence."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quant_feature_pipeline_spark.config import PipelineConfig
from quant_feature_pipeline_spark.plans.checkpoint import Checkpointer
from quant_feature_pipeline_spark.plans.pipeline import run_pipeline
from quant_feature_pipeline_spark.plans.schema_contract import schema_sha
from quant_feature_pipeline_spark.sources.bars import bars_from_tokens
from quant_feature_pipeline_spark.sources.tokens import synth_token_table

from .conftest import T0, make_bars_pdf

CFG = PipelineConfig(base_tf="3m", resample_targets=("3m", "15m"))
BAR_COLS = ["entity", "ts", "open", "high", "low", "close", "volume"]


def test_token_passthrough_exact(spark):
    tok = synth_token_table(spark, n_entities=2, minutes=240)
    bars = bars_from_tokens(tok)
    # a realistic surviving-row chain: filter + window features + join back
    out = bars.filter(F.col("volume") > 100)
    joined = out.join(
        tok.select("doc_id", F.col("tokens").alias("tokens_orig")), "doc_id"
    )
    assert joined.filter(F.expr("tokens != tokens_orig")).count() == 0
    assert joined.count() == out.count()


def test_zero_temporal_leakage(spark):
    """Features at ts <= t_cut are invariant to any mutation of rows with
    ts > t_cut (FIXTURES.md leakage test)."""
    pdf = make_bars_pdf(n=400, entities=("A", "B"))
    t_cut = T0 + datetime.timedelta(minutes=200)

    mutated = pdf.copy()
    mask = mutated["ts"] > t_cut
    mutated.loc[mask, ["open", "high", "low", "close"]] *= 7.7
    mutated.loc[mask, "volume"] += 1e6

    f1 = run_pipeline(spark.createDataFrame(pdf[BAR_COLS]), CFG).filter(
        F.col("ts") <= F.lit(t_cut)
    )
    f2 = run_pipeline(spark.createDataFrame(mutated[BAR_COLS]), CFG).filter(
        F.col("ts") <= F.lit(t_cut)
    )
    p1 = f1.toPandas().sort_values(["entity", "ts"]).reset_index(drop=True)
    p2 = f2.toPandas().sort_values(["entity", "ts"]).reset_index(drop=True)
    assert len(p1) == len(p2) and len(p1) > 0
    for c in p1.columns:
        if pd.api.types.is_float_dtype(p1[c]):
            np.testing.assert_array_equal(
                p1[c].to_numpy(), p2[c].to_numpy(), err_msg=f"leak in {c}"
            )
        else:
            assert p1[c].equals(p2[c]), f"leak in {c}"


def test_schema_sha_contract(spark):
    pdf = make_bars_pdf(n=100)
    feat = run_pipeline(spark.createDataFrame(pdf[BAR_COLS]), CFG)
    sha1 = schema_sha(feat.columns)
    sha2 = schema_sha(run_pipeline(spark.createDataFrame(pdf[BAR_COLS]), CFG).columns)
    assert sha1 == sha2 and len(sha1) == 40


def test_base_tf_must_be_the_first_target():
    """The base axis is ``resample_targets[0]``; a different ``base_tf``
    would name a return column the flagship never emits."""
    with pytest.raises(ValueError, match="'3m'.*'15m', '1h'"):
        PipelineConfig(base_tf="3m", resample_targets=("15m", "1h"))
    with pytest.raises(ValueError):
        PipelineConfig(base_tf="3m", resample_targets=())


def test_checkpoint_warm_start_equivalence(spark, tmp_path):
    """Incremental tail recompute + merge == full recompute (W15/S2,
    `/root/reference/step2_resample.py:370-397`)."""
    pdf = make_bars_pdf(n=300, entities=("A",))
    split_ts = pdf["ts"].iloc[200]
    hist, inc = pdf[pdf.ts <= split_ts], pdf[pdf.ts > split_ts]

    ck = Checkpointer(str(tmp_path / "ck"), spark)
    ck.write(spark.createDataFrame(hist), "bars")
    plan = ck.resume_plan("bars", warmup_s=50 * 60)
    assert not plan.full_rebuild and plan.last_ts is not None

    # recompute tail from warmup point over the merged raw stream
    full = spark.createDataFrame(pdf)
    merged = ck.merge_increment("bars", spark.createDataFrame(inc))
    got = merged.toPandas().sort_values("ts").reset_index(drop=True)
    want = full.toPandas().sort_values("ts").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)

    # merge_increment commits: the lineage counts the merged snapshot
    manifest = ck.manifest("bars")
    assert manifest["lineage"]["A"]["rows"] == len(pdf)
    assert manifest["schema_sha"] == schema_sha(merged.columns)


def test_checkpoint_merge_dedup_keeps_increment(spark, tmp_path):
    pdf = make_bars_pdf(n=50, entities=("A",))
    ck = Checkpointer(str(tmp_path / "ck2"), spark)
    ck.write(spark.createDataFrame(pdf), "bars")
    # overlapping increment with changed values must win (keep-last)
    inc = pdf.tail(10).copy()
    inc["close"] = -1.0
    merged = ck.merge_increment("bars", spark.createDataFrame(inc)).toPandas()
    assert len(merged) == len(pdf)
    tail = merged.sort_values("ts").tail(10)
    assert (tail["close"] == -1.0).all()


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_resume_plan_reads_no_data(spark, tmp_path, ts_type):
    """resume_plan takes last_ts from the manifest: it starts no Spark
    job and agrees with a max(ts) over the snapshot, for both timestamp
    types, on a one-segment and a two-segment snapshot."""
    pdf = make_bars_pdf(n=120, entities=("A", "B"))
    bars = spark.createDataFrame(pdf).withColumn("ts", F.col("ts").cast(ts_type))
    ck = Checkpointer(str(tmp_path / "ck"), spark)
    ck.write(bars.where(F.col("ts") < F.lit(T0 + datetime.timedelta(minutes=90))), "bars")
    tracker = spark.sparkContext.statusTracker()

    def check():
        jobs = set(tracker.getJobIdsForGroup())
        plan = ck.resume_plan("bars", warmup_s=600)
        assert set(tracker.getJobIdsForGroup()) == jobs
        want = ck.read("bars").agg(F.max("ts")).first()[0]
        assert not plan.full_rebuild and plan.last_ts == want
        assert plan.recompute_from == want - datetime.timedelta(seconds=600)
        return want

    last = check()
    ck.merge_increment("bars", bars.where(F.col("ts") >= F.lit(last)))
    assert len(ck.manifest("bars")["segments"]) == 2
    assert check() > last


def test_unsegmented_snapshot_rebuilds(spark, tmp_path):
    """A stage written before snapshots had segments (parquet files and
    a manifest without ``segments``) resumes as a full rebuild; the full
    write that follows replaces its files."""
    import json

    ck = Checkpointer(str(tmp_path / "ck"), spark)
    stage = tmp_path / "ck" / "bars"
    spark.createDataFrame(make_bars_pdf(n=20)).write.parquet(str(stage))
    (stage / "_manifest.json").write_text(json.dumps({"stage": "bars", "lineage": {}}))
    assert ck.resume_plan("bars", warmup_s=60).full_rebuild

    pdf = make_bars_pdf(n=30)
    ck.merge_increment("bars", spark.createDataFrame(pdf))
    assert ck.read("bars").count() == len(pdf)
    assert {p.name for p in stage.iterdir()} == {
        "_manifest.json", *(s["path"] for s in ck.manifest("bars")["segments"])}


def test_write_table_fmt_dispatch(spark, tmp_path):
    """S6 format dispatch: parquet / csv / both round-trip with manifest."""
    import json

    from quant_feature_pipeline_spark.sources.sink import write_table

    df = spark.createDataFrame(make_bars_pdf(n=20, entities=("A",)))
    p = str(tmp_path / "both")
    write_table(df, p, fmt="both")
    assert spark.read.parquet(p).count() == 20
    csv_back = spark.read.option("header", True).csv(p + "_csv")
    assert csv_back.count() == 20
    assert set(csv_back.columns) == set(df.columns)
    meta = json.loads((tmp_path / "both" / "_manifest.json").read_text())
    assert meta["format"] == "both" and meta["columns"] == df.columns

    pc = str(tmp_path / "csvonly")
    write_table(df, pc, fmt="csv")
    assert spark.read.option("header", True).csv(pc).count() == 20
