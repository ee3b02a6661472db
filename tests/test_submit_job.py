"""The cluster deployment surface (jobs.py): spark-submit --py-files on
a multi-executor local-cluster, and checkpoint-resumable incremental
builds (north rule: "run via spark-submit --py-files ... resumable from
snapshot checkpoints with per-partition lineage and metrics")."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from .conftest import make_bars_pdf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job_args(tmp_path, input_path, mode="auto", warmup_bars=600,
              input_kind="bars"):
    return argparse.Namespace(
        input=str(input_path),
        input_kind=input_kind,
        checkpoint_root=str(tmp_path / "ck"),
        output=None,
        output_format="parquet",
        targets="3m,15m",
        by="entity",
        ts_col="ts",
        warmup_bars=warmup_bars,
        mode=mode,
    )


def test_spark_submit_pyfiles(tmp_path):
    """The package runs from the ZIP alone: spark-submit on a
    local-cluster (separate executor JVMs) with --py-files, PYTHONPATH
    stripped and cwd outside the repo, so neither driver nor executors
    can import quant_feature_pipeline_spark except from the artifact."""
    from tools.make_pyfiles import build_zip

    zip_path = build_zip(REPO, str(tmp_path / "dist"))
    # deterministic artifact: same tree -> byte-identical zip
    assert open(zip_path, "rb").read() == open(
        build_zip(REPO, str(tmp_path / "dist2")), "rb"
    ).read()

    bars = make_bars_pdf(n=240, entities=("A", "B"), freq_s=180)
    inp = tmp_path / "bars.parquet"
    bars.to_parquet(inp, coerce_timestamps="us")

    spark_submit = os.path.join(
        os.path.dirname(pytest.importorskip("pyspark").__file__),
        "bin", "spark-submit",
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    p = subprocess.run(
        [
            spark_submit,
            "--master", "local-cluster[1,2,1536]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "run_features.py"),
            "--input", str(inp),
            "--checkpoint-root", str(tmp_path / "ck"),
            "--mode", "full",
            "--targets", "3m,15m",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    metrics = json.loads(p.stdout.strip().splitlines()[-1])
    assert metrics["mode"] == "full"
    assert metrics["rows_published"] == len(bars)
    assert metrics["entities"] == 2
    manifest = json.load(open(tmp_path / "ck" / "features" / "_manifest.json"))
    assert manifest["lineage"]["A"]["rows"] == len(bars) // 2
    assert metrics["schema_sha"] == manifest["schema_sha"]


def test_job_token_table_input(spark, tmp_path):
    """--input-kind tokens: the job reads the north-rule pre-tokenized
    sequence table (doc_id, tokens, n_tok, source) directly and builds
    the same feature snapshot as a pre-decoded bars input."""
    from quant_feature_pipeline_spark.jobs import build_features
    from quant_feature_pipeline_spark.sources.bars import bars_from_tokens
    from quant_feature_pipeline_spark.sources.tokens import synth_token_table

    tok = synth_token_table(spark, n_entities=2, minutes=240)
    tok_path = tmp_path / "tokens.parquet"
    tok.write.mode("overwrite").parquet(str(tok_path))

    m = build_features(
        spark, _job_args(tmp_path, tok_path, mode="full", input_kind="tokens")
    )
    assert m["mode"] == "full" and m["entities"] == 2

    bars_path = tmp_path / "bars.parquet"
    bars_from_tokens(tok).select(
        "entity", "ts", "open", "high", "low", "close", "volume"
    ).write.mode("overwrite").parquet(str(bars_path))
    m2 = build_features(spark, _job_args(tmp_path / "ref", bars_path, mode="full"))
    assert m2["schema_sha"] == m["schema_sha"]
    got = pd.read_parquet(tmp_path / "ck" / "features").sort_values(
        ["entity", "ts"]).reset_index(drop=True)
    want = pd.read_parquet(tmp_path / "ref" / "ck" / "features").sort_values(
        ["entity", "ts"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in want.columns:
        if pd.api.types.is_float_dtype(want[c]):
            np.testing.assert_allclose(
                got[c].to_numpy(), want[c].to_numpy(),
                rtol=1e-12, atol=1e-12, err_msg=c, equal_nan=True,
            )
        else:
            assert got[c].equals(want[c]), c


def test_job_incremental_resume_matches_full(spark, tmp_path):
    """build_features in auto mode: second run recomputes ONLY the tail
    (warm-up replay), publishes strictly-new rows, and — because the
    pipeline is leakage-free — the merged snapshot is value-identical to
    a one-shot full build over the complete input."""
    from quant_feature_pipeline_spark.jobs import build_features

    full_pdf = make_bars_pdf(n=300, entities=("A", "B"), freq_s=180)
    split_ts = full_pdf[full_pdf.entity == "A"]["ts"].iloc[199]
    hist = full_pdf[full_pdf.ts <= split_ts]

    hist_path, full_path = tmp_path / "hist.parquet", tmp_path / "full.parquet"
    hist.to_parquet(hist_path, coerce_timestamps="us")
    full_pdf.to_parquet(full_path, coerce_timestamps="us")

    # run 1: full build on history
    m1 = build_features(spark, _job_args(tmp_path, hist_path, mode="auto"))
    assert m1["mode"] == "full" and m1["rows_published"] == len(hist)

    # run 2: same checkpoint root, extended input -> incremental
    m2 = build_features(spark, _job_args(tmp_path, full_path, mode="auto"))
    assert m2["mode"] == "incremental"
    # base buckets are right-labeled: resume point = last hist bar's label
    assert m2["resumed_from"] == str(split_ts + pd.Timedelta(seconds=180))
    assert m2["rows_published"] == len(full_pdf)

    # reference: one-shot full build over the complete input
    m3 = build_features(
        spark, _job_args(tmp_path / "ref", full_path, mode="full")
    )
    assert m3["schema_sha"] == m2["schema_sha"]

    got = (
        pd.read_parquet(tmp_path / "ck" / "features")
        .sort_values(["entity", "ts"]).reset_index(drop=True)
    )
    want = (
        pd.read_parquet(tmp_path / "ref" / "ck" / "features")
        .sort_values(["entity", "ts"]).reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) == len(full_pdf)
    for c in want.columns:
        if pd.api.types.is_float_dtype(want[c]):
            np.testing.assert_allclose(
                got[c].to_numpy(), want[c].to_numpy(),
                rtol=1e-9, atol=1e-12, err_msg=c, equal_nan=True,
            )
        else:
            assert got[c].equals(want[c]), c


def test_job_failed_publish_removes_staging(spark, tmp_path, monkeypatch):
    """An incremental build whose snapshot publish raises: the error
    propagates, the ``_staging-*`` copy is removed, and the previous
    snapshot still reads its rows."""
    from quant_feature_pipeline_spark.jobs import build_features
    from quant_feature_pipeline_spark.plans.checkpoint import Checkpointer

    full_pdf = make_bars_pdf(n=240, entities=("A", "B"), freq_s=180)
    hist = full_pdf[full_pdf.ts <= full_pdf["ts"].iloc[159]]
    hist_path, full_path = tmp_path / "hist.parquet", tmp_path / "full.parquet"
    hist.to_parquet(hist_path, coerce_timestamps="us")
    full_pdf.to_parquet(full_path, coerce_timestamps="us")

    m1 = build_features(spark, _job_args(tmp_path, hist_path, mode="auto"))
    assert m1["mode"] == "full"

    def failing_write(self, *a, **k):
        raise RuntimeError("publish failed")

    monkeypatch.setattr(Checkpointer, "write", failing_write)
    with pytest.raises(RuntimeError, match="publish failed"):
        build_features(spark, _job_args(tmp_path, full_path, mode="auto"))
    ck_root = tmp_path / "ck"
    assert not [p.name for p in ck_root.iterdir() if p.name.startswith("_staging-")]
    snap = pd.read_parquet(ck_root / "features")
    assert len(snap) == m1["rows_published"] == len(hist)
