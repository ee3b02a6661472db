"""spark-submit job entry — the cluster deployment surface.

North-rule clause this closes: "jobs run via spark-submit --py-files on
a multi-executor cluster, resumable from snapshot checkpoints with
per-partition lineage and row-count/latency metrics". The reference
runs its chain as ad-hoc scripts (`/root/reference/unified_feature_pipeline.py`
__main__ block); here the same chain is one argparse main that any
Spark cluster can run:

    python tools/make_pyfiles.py                 # -> dist/quant_feature_pipeline_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/quant_feature_pipeline_spark.zip \
        jobs/run_features.py \
        --input /data/bars.parquet --checkpoint-root /ck \
        --targets 3m,15m,30m,2h

The job is RESUMABLE: a snapshot is a Checkpointer stage, immutable
parquet segments under a JSON manifest carrying per-entity lineage row
counts / min-max ts and write-latency metrics (the Iceberg table model,
plans/checkpoint.py). A publish writes one segment and then swaps the
manifest, so a failed publish leaves the previous snapshot live.
``--mode auto`` reruns incrementally: only bars after
``last_ts - warmup`` are recomputed (the warm-up tail exists solely to
converge the EMA/Wilder recurrences; its rows are discarded), and only
the rows from a short backtrack before ``last_ts`` on are written, as a
new segment that shadows the history rows it overlaps (keep-last).

No per-row Python anywhere on this path — the pipeline underneath is
the same Catalyst/Arrow plan the library tests gate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig, tf_seconds
from .plans.checkpoint import Checkpointer
from .plans.pipeline import run_pipeline
from .session import build_session

FEATURES_STAGE = "features"


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="run_features",
        description="bars parquet -> wide feature table, checkpointed + resumable",
    )
    p.add_argument("--input", required=True, help="base-bar parquet path/dir")
    p.add_argument("--input-kind", default="bars", choices=("bars", "tokens"),
                   help="'tokens' = the north-rule pre-tokenized sequence "
                        "table (doc_id, tokens:array<int>, n_tok, source); "
                        "decoded via sources.bars.bars_from_tokens")
    p.add_argument("--checkpoint-root", required=True)
    p.add_argument("--output", default=None,
                   help="optional extra sink dir (sources.sink.write_table)")
    p.add_argument("--output-format", default="parquet",
                   choices=("parquet", "csv", "both"))
    p.add_argument("--targets", default="3m,15m,30m,2h",
                   help="comma-separated resample targets (first = base axis)")
    p.add_argument("--by", default="entity")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--warmup-bars", type=int, default=600,
                   help="recurrence warm-up replayed before last_ts on "
                        "incremental runs, in LARGEST-target-tf bars")
    p.add_argument("--mode", default="auto", choices=("auto", "full"),
                   help="auto = incremental when a features snapshot exists")
    return p.parse_args(argv)


def build_features(spark: SparkSession, args: argparse.Namespace) -> dict:
    """One resumable build. Returns the run's metrics dict (also printed
    as the job's final JSON line); the published snapshot's manifest
    carries the per-entity lineage."""
    targets = tuple(t.strip() for t in args.targets.split(",") if t.strip())
    cfg = PipelineConfig(base_tf=targets[0], resample_targets=targets)
    ck = Checkpointer(args.checkpoint_root, spark)
    bars = spark.read.parquet(args.input)
    if args.input_kind == "tokens":
        from .sources.bars import bars_from_tokens

        # decode the pre-tokenized sequence table onto the bar shape;
        # the feature axis aggregates bars, so the variable-grain token
        # payload stays queryable at its own grain via doc_id joins
        # (q_token_passthrough is the invariant gate for that surface)
        bars = bars_from_tokens(bars).select(
            args.by, args.ts_col, "open", "high", "low", "close", "volume"
        )
    warmup_s = float(args.warmup_bars) * max(
        tf_seconds(tf) for tf in cfg.resample_targets
    )

    t0 = time.time()
    plan = ck.resume_plan(FEATURES_STAGE, warmup_s=warmup_s)
    incremental = args.mode == "auto" and not plan.full_rebuild
    if incremental:
        # recompute only the tail; warm-up rows converge the recurrences
        # and are then DISCARDED. Publish from a small BACKTRACK before
        # the watermark (ADVICE r5): the bucket labeled last_ts may have
        # been partial at checkpoint time (input bars finer than base_tf)
        # or revised by late arrivals — republishing the last few base
        # buckets lets the new segment shadow any stale boundary rows
        # (keep-last), mirroring the reference's 5-period backtrack
        # (step1_data.py:864-872). Republished rows sit deep inside the
        # warm-up-converged zone, so their recomputed values match the
        # full rebuild to the same tolerance as the new rows.
        backtrack_s = 5 * tf_seconds(cfg.base_tf)
        tail = bars.filter(F.col(args.ts_col) >= F.lit(plan.recompute_from))
        feats = run_pipeline(tail, cfg, by=args.by, ts_col=args.ts_col).filter(
            F.col(args.ts_col)
            >= F.lit(plan.last_ts) - F.expr(f"INTERVAL {backtrack_s} SECONDS")
        )
    else:
        feats = run_pipeline(bars, cfg, by=args.by, ts_col=args.ts_col)
    compute_planned_s = time.time() - t0

    # a publish writes one new segment and swaps the manifest; until the
    # swap the previous snapshot stays the live one
    t0 = time.time()
    if incremental:
        ck.merge_increment(FEATURES_STAGE, feats, keys=(args.by, args.ts_col))
    else:
        ck.write(feats, FEATURES_STAGE, by=args.by, ts_col=args.ts_col)
    publish_s = time.time() - t0

    if args.output:
        from .sources.sink import write_table

        write_table(ck.read(FEATURES_STAGE), args.output, fmt=args.output_format)

    manifest = ck.manifest(FEATURES_STAGE)
    metrics = {
        "mode": "incremental" if incremental else "full",
        "snapshot": os.path.join(args.checkpoint_root, FEATURES_STAGE),
        "rows_published": manifest["metrics"]["total_rows"],
        "rows_written": manifest["metrics"]["rows_written"],
        "segments": len(manifest["segments"]),
        "entities": len(manifest["lineage"]),
        "schema_sha": manifest["schema_sha"],
        "plan_s": round(compute_planned_s, 3),
        "publish_s": round(publish_s, 3),
        "snapshot_write_rows_per_sec": manifest["metrics"]["rows_per_sec"],
    }
    if incremental:
        metrics["resumed_from"] = str(plan.last_ts)
        metrics["recomputed_from"] = str(plan.recompute_from)
    return metrics


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv if argv is not None else sys.argv[1:])
    # no master here: spark-submit's --master decides where the job runs
    spark = build_session("qfp-features", {})
    try:
        metrics = build_features(spark, args)
    finally:
        spark.stop()
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
