"""Generate PLANS.md: physical-plan evidence for the scale claims.

For each exhibit query: the FileScan lines (pushdown + pruning), the
exchange census, and whole-stage-codegen span count, plus a short note
on why that plan shape is the one a 100 TB run wants. Run:

    python tools/plan_report.py
"""

from __future__ import annotations

import datetime
import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def census(p: str, fmt: str) -> dict:
    return {
        "exchange_nodes": p.count("Exchange"),
        "shuffle_exchanges": len(re.findall(r"Exchange hashpartitioning", p)),
        "broadcasts": p.count("Broadcast"),
        "codegen_spans": max(
            len(set(re.findall(r"\[codegen id : (\d+)\]", fmt))),
            len(set(re.findall(r"WholeStageCodegen \((\d+)\)", p))),
        ),
        "sorts": p.count("Sort "),
    }


def scan_lines(p: str) -> list[str]:
    return [l.strip()[:160] for l in p.splitlines() if "FileScan" in l][:3]


def main() -> None:
    from pyspark.sql import functions as F

    from quant_feature_pipeline_spark.config import PipelineConfig
    from quant_feature_pipeline_spark.operators.asof import asof_join
    from quant_feature_pipeline_spark.plans.pipeline import (
        merge_timeframes,
        resample_all,
        run_pipeline,
    )
    from quant_feature_pipeline_spark.session import get_spark
    from quant_feature_pipeline_spark.sources.bars import bars_from_events
    from quant_feature_pipeline_spark.sources.scan import slice_time_range
    from quant_feature_pipeline_spark.textops.similarity import ivf_topk
    from quant_feature_pipeline_spark.tsutil import repartition_by_size

    spark = get_spark(cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    ev = spark.read.parquet(f"{SF}/events.parquet")
    bars = bars_from_events(ev).select(
        "entity", "ts", "open", "high", "low", "close", "volume"
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    cfg3 = PipelineConfig(base_tf="3m", resample_targets=("3m", "15m", "30m"))
    # the merge's inputs as run_pipeline builds them: one up-front
    # entity partitioning feeds the resample rollups
    tfs = resample_all(repartition_by_size(bars, "entity"), cfg3)

    exhibits = [
        (
            "Time-range scan (P3)",
            slice_time_range(
                ev.select("user_id", "ts", "value"),
                start=datetime.datetime(2024, 1, 2),
            ),
            "the ts bound reaches the parquet FileScan (row-group pruning), and the "
            "projection prunes the scan to the 3 referenced columns.",
        ),
        (
            "As-of join, union-ffill (J1)",
            asof_join(
                bars,
                bars.select("entity", "ts", F.col("close").alias("r")),
                strategy="union_ffill",
            ),
            "one entity-partitioned sort window; no join node at all — the match is a "
            "forward-fill over the tagged union.",
        ),
        (
            "As-of join, DEFAULT auto routing (J1, r5; r6 estimate skip)",
            asof_join(bars, bars.select("entity", "ts", F.col("close").alias("r"))),
            "the default entry point first bounds left's row count from the "
            "optimizer's size ESTIMATE (r6): an estimate below hot_rows bytes "
            "proves no entity can be hot, so small inputs — this one — get the "
            "plain one-window union-ffill plan with ZERO extra jobs (1 exchange, "
            "1 sort). Larger inputs pay one bounded detection count; with a hot "
            "entity the branches split on a literal isin filter: cold entities "
            "keep the union-ffill window, the hot one takes the range-bucketed "
            "branch, unioned — never one straggler sort task.",
        ),
        (
            "Multi-timeframe merge (keyed join)",
            merge_timeframes(tfs["3m"], tfs, cfg3, keep_right_cols=("close",)),
            "every coarse bar is a rollup of the base axis, so each base row's "
            "backward match is a key: two running windows on the base's (entity, "
            "ts) order compute it, and each coarse table equi-joins on (entity, "
            "matched ts) — no union, and the windows and joins reuse the "
            "HashPartitioning(entity) of the resampled tables (the census "
            "includes the 3-tf resample chain).",
        ),
        (
            "Full 2-tf pipeline",
            run_pipeline(
                bars,
                PipelineConfig(base_tf="3m", resample_targets=("3m", "15m")),
                persist_stages=False,
            ),
            "ONE up-front hashpartitioning(entity) satisfies resample groupBys, "
            "entity windows, the recurrence Arrow stage and the as-of merge. NOTE: "
            "this exhibit runs persist_stages=False, so the textual tree re-prints "
            "the shared upstream (including its exchanges) once per consumer — the "
            "node census over-counts duplicated subtrees. The dedup effect is the "
            "measured 124 -> 95 exchange-node drop and -18% wall on the 4-tf token "
            "job when the up-front partitioning landed.",
        ),
        (
            "IVF top-k (ANN scale path)",
            ivf_topk(emb, q, k=3, n_cells=8, nprobe=2, dim=dim),
            "corpus cell assignment is a map-only Arrow stage and centroids are "
            "broadcast; the only shuffles key per-query rows (nprobe window + "
            "final top-k) — the corpus itself never shuffles.",
        ),
    ]

    lines = [
        "# PLANS — physical-plan evidence (generated by tools/plan_report.py)\n",
        f"Input: `{SF}` parquet; Spark local mode; counts from "
        "`executedPlan` before AQE re-optimization. The regression "
        "tripwires for these properties live in tests/test_plan_shape.py.\n",
    ]
    for title, df, note in exhibits:
        p = plan_str(df)  # PRE-execution: clean structural counts (the
        # final adaptive plan's toString re-prints reused subtrees,
        # inflating node counts; the plan-shape tests also pin pre-exec)
        df.collect()  # execute THIS plan so AQE stamps codegen ids
        c = census(p, formatted(df))
        lines.append(f"## {title}\n")
        lines.append(f"{note}\n")
        lines.append(
            f"- exchanges: {c['exchange_nodes']} (shuffle: {c['shuffle_exchanges']}, "
            f"broadcast: {c['broadcasts']}) · codegen spans: {c['codegen_spans']} · sorts: {c['sorts']}"
        )
        for s in scan_lines(p):
            lines.append(f"- `{s}`")
        lines.append("")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
