"""Extra benchmarks for paths ``perfbench/`` does not measure.

bench.py stays fixed for measurement; exploratory timings live here.
Per-layer and per-stage traces of the flagship and refresh runs come
from ``perfbench/tracing.py`` (``python perfbench/run.py --trace 1``).
Each mode prints one JSON line.

Usage:
    python bench_extra.py --query NAME [--reps N]  # first/warm timing of one gate query (same method as bench.py)
    python bench_extra.py --headline [A,B,...]     # first/warm sum over bench.HEADLINE (or the named queries)
    python bench_extra.py --stream-state50         # streaming as-of state rows over ~50 micro-batches
    python bench_extra.py --explain NAME           # write plans/r06/<NAME>_<PLAN_TAG>.txt (PLAN_TAG defaults to "before")
"""

from __future__ import annotations

import json
import os
import sys
import time

from quant_feature_pipeline_spark.session import DEFAULT_CPUS as CPUS

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from quant_feature_pipeline_spark.session import get_spark

    return get_spark(
        app_name="bench-extra", cpus=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _warm(spark):
    """Same session warm-up bench.py uses (JIT + python workers)."""
    from pyspark.sql import functions as F

    spark.range(10_000_000).select(F.sum(F.pmod(F.xxhash64("id"), F.lit(997)))).first()
    _w = F.pandas_udf(lambda x: x, "long")
    spark.range(100_000).repartition(CPUS).select(F.sum(_w("id"))).first()


def time_query(name: str, reps: int = 1) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    _warm(spark)
    qs = entrymod.queries()
    out = {}
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        sec = round(time.time() - t0, 3)
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm = round(time.time() - t0, 3)
        out.setdefault("first", []).append(sec)
        out.setdefault("warm", []).append(warm)
    out["rows"] = df.count()
    spark.stop()
    print(json.dumps({name: out}))


def _probe() -> float:
    import numpy as np

    a = np.random.RandomState(0).rand(40_000_000)
    t0 = time.time()
    for _ in range(5):
        a.cumsum()
    return round(time.time() - t0, 2)


def headline(names: list[str] | None = None) -> None:
    """Same methodology as bench.py _bench_queries (clearCache, noop
    sink, first+warm), one JSON line."""
    import __spark_entry__ as entrymod

    import bench as benchmod

    probe0 = _probe()
    spark = _spark()
    _warm(spark)
    qs = entrymod.queries()
    out = {}
    for name in names or benchmod.HEADLINE:
        spark.catalog.clearCache()
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        sec = round(time.time() - t0, 3)
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm = round(time.time() - t0, 3)
        out[name] = {"sec": sec, "warm_sec": warm}
    out["value"] = round(sum(v["sec"] for v in out.values()), 3)
    out["value_warm"] = round(
        sum(v["warm_sec"] for v in out.values() if isinstance(v, dict)), 3
    )
    spark.stop()
    out["probe_start"] = probe0
    out["probe_end"] = _probe()
    print(json.dumps(out))


def stream_state_50() -> None:
    """VERDICT r5 item 7: the watermark-buffered streaming as-of over
    ~50 micro-batches at sf0.1 with a realistic (30 min) watermark,
    per-batch held-rows telemetry — evidence that state PLATEAUS with
    batch count instead of growing. Left events replay in-order in 48
    file slices (1 file per trigger); rights are the closed 15m bars in
    one batch plus two far-future sentinel files to flush the tail."""
    import datetime as _dt
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from quant_feature_pipeline_spark.operators.resample import resample_ohlcv
    from quant_feature_pipeline_spark.session import get_spark
    from quant_feature_pipeline_spark.streaming.micro import stream_bars_from_dir
    from quant_feature_pipeline_spark.streaming.stateful import (
        streaming_asof_buffered,
    )
    import __spark_entry__ as entrymod

    spark = _spark()
    ev = entrymod._t(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    n_files = 48
    ldir = f"/tmp/stream50_left_{uuid.uuid4().hex[:8]}"
    # in-order slices by ts rank so event time advances batch by batch
    from pyspark.sql.window import Window

    rk = F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
    ev_rk = ev.withColumn("_f", rk)
    mt = 1_700_000_000
    for i in range(1, n_files + 1):
        d = f"{ldir}/f{i:02d}"
        ev_rk.filter(F.col("_f") == i).drop("_f").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        import os as _os

        for root, _dirs, files in _os.walk(d):
            for fn in files:
                _os.utime(_os.path.join(root, fn), (mt + 4 * i, mt + 4 * i))
    left = stream_bars_from_dir(
        spark, f"{ldir}/f*", schema=ev.schema, max_files_per_trigger=1
    )
    bars = resample_ohlcv(
        entrymod._ticks(spark, SF_DIR), "15m", by="user_id"
    ).select("user_id", "ts", F.col("close").alias("rclose"))
    st = bars.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = st["lo"], st["hi"]
    ent = bars.select("user_id").first()[0]
    sent1 = hi + _dt.timedelta(days=2)
    rdir = f"/tmp/stream50_right_{uuid.uuid4().hex[:8]}"
    # rights co-flow aligned to the LEFT slices' time boundaries (one
    # right file per left batch window): both sides share ONE watermark
    # column after the union, so a right feed racing ahead of the lefts
    # would advance the watermark past them and late-drop them —
    # pacing the feeds together is the realistic joint-ingest contract.
    bounds = [
        r["_b"]
        for r in ev_rk.groupBy("_f").agg(F.max("ts").alias("_b"))
        .orderBy("_f").collect()
    ]
    b_arr = F.array(*[F.lit(b) for b in bounds[:-1]])
    bars_rk = bars.withColumn(
        "_f", F.size(F.filter(b_arr, lambda b: b < F.col("ts"))) + 1
    )
    pieces = [
        bars_rk.filter(F.col("_f") == i).drop("_f")
        for i in range(1, n_files + 1)
    ] + [
        spark.createDataFrame([(ent, s, 0.0)], bars.schema)
        for s in (sent1, sent1 + _dt.timedelta(seconds=900))
    ]
    for i, piece in enumerate(pieces):
        d = f"{rdir}/f{i}"
        piece.coalesce(1).write.mode("overwrite").parquet(d)
        import os as _os

        for root, _dirs, files in _os.walk(d):
            for fn in files:
                _os.utime(_os.path.join(root, fn), (mt + 2 * i, mt + 2 * i))
    right = stream_bars_from_dir(
        spark, f"{rdir}/f*", schema=bars.schema, max_files_per_trigger=1
    )
    out = streaming_asof_buffered(
        left, right, on="ts", by="user_id", right_prefix="r15_",
        watermark="1800 seconds",
    )
    name = f"stream50_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    finished = q.awaitTermination(1200)
    sec = round(time.time() - t0, 2)
    prog = [p for p in q.recentProgress if p]
    per_batch = [
        sum(o.get("numRowsTotal", 0) for o in (p.get("stateOperators") or []))
        for p in prog
    ]
    res = {
        "finished": bool(finished),
        "sec": sec,
        "batches": len(prog),
        "out_rows": spark.table(name).count(),
        "watermark_s": 1800,
        "state_rows_per_batch": per_batch,
        "max_state_rows": max(per_batch) if per_batch else None,
        "final_state_rows": per_batch[-1] if per_batch else None,
    }
    spark.stop()
    shutil.rmtree(ldir, ignore_errors=True)
    shutil.rmtree(rdir, ignore_errors=True)
    print(json.dumps(res))


def explain_query(name: str, tag: str) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    df = qs[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    os.makedirs("plans/r06", exist_ok=True)
    path = f"plans/r06/{name}_{tag}.txt"
    with open(path, "w") as fh:
        fh.write(plan)
    spark.stop()
    print(json.dumps({"written": path, "exchanges": plan.count("Exchange")}))


def main() -> None:
    if "--headline" in sys.argv:
        i = sys.argv.index("--headline")
        names = sys.argv[i + 1].split(",") if len(sys.argv) > i + 1 else None
        headline(names)
    elif "--stream-state50" in sys.argv:
        stream_state_50()
    elif "--query" in sys.argv:
        name = sys.argv[sys.argv.index("--query") + 1]
        reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 1
        time_query(name, reps)
    elif "--explain" in sys.argv:
        name = sys.argv[sys.argv.index("--explain") + 1]
        tag = os.environ.get("PLAN_TAG", "before")
        explain_query(name, tag)
    else:
        print(__doc__)


if __name__ == "__main__":
    main()
