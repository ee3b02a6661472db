"""Structured-Streaming equivalents of the reference's online
micro-batch mode (`/root/reference/unified_feature_pipeline.py:284-531`:
poll the bar cache, recompute an aligned tail window).

Spark-first mapping (SURVEY.md §2.9):
- micro-batch "online" mode → ``readStream`` + ``Trigger.AvailableNow``
  over the bar table directory
- late/duplicate handling → watermark + dropDuplicates on (entity, ts)
- tumbling resample → ``window(ts, tf)`` agg with watermark
- sessionization → ``session_window(ts, gap)``

These run in the sandbox via file-source streams on parquet dirs; in
production the source would be Kafka/Iceberg-CDC with identical plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resample import resample_ohlcv


def stream_bars_from_dir(
    spark: SparkSession, path: str, schema=None, max_files_per_trigger: int = 10
) -> DataFrame:
    reader = spark.readStream.format("parquet").option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(path).schema)
    return reader.load(path)


def streaming_resample(
    stream: DataFrame,
    tf: str,
    by: str = "entity",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming tumbling OHLCV with a 10-minute late-data watermark;
    the batch resample's aggregate list (``resample_ohlcv``, A1)."""
    # watermarks require TIMESTAMP_LTZ; parquet from other engines is NTZ
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return resample_ohlcv(
        stream.withWatermark(ts_col, "10 minutes"), tf, by=by, ts_col=ts_col
    )


# last-run telemetry per memory-sink query name: batch count + the final
# trigger's stateOperators (rows/memory) and the max memory seen across
# batches — the state-growth surface BENCH.md publishes per round
# (VERDICT r4 item 7). Telemetry only; never read by the queries.
LAST_PROGRESS: dict[str, dict] = {}

# wall-clock budget for one AvailableNow run of a bounded replay
_STREAM_TIMEOUT_S = 600


def run_stream_to_table(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "complete",
) -> None:
    """Execute a streaming DataFrame to completion with AvailableNow into
    a memory sink (``spark.table(table_name)`` afterwards). Complete
    output mode emits every window at the final trigger, so on bounded
    input the result equals the batch aggregation exactly — append mode
    would withhold windows the terminal watermark never closed."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout with the query still
    # running — a caller reading the memory table then would see a
    # partially-filled result and silently pass it downstream. Fail loud.
    finished = q.awaitTermination(_STREAM_TIMEOUT_S)
    prog = [p for p in q.recentProgress if p]
    if prog:
        ops = prog[-1].get("stateOperators") or []
        LAST_PROGRESS[table_name] = {
            "batches": len(prog),
            "final_state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "max_state_rows": max(
                sum(o.get("numRowsTotal", 0) for o in (p.get("stateOperators") or []))
                for p in prog
            ),
            "max_state_memory_bytes": max(
                sum(o.get("memoryUsedBytes", 0) for o in (p.get("stateOperators") or []))
                for p in prog
            ),
            "operators": [o.get("operatorName", "?") for o in ops],
        }
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming query '{table_name}' did not finish within {_STREAM_TIMEOUT_S}s"
        )


def streaming_session_counts(
    stream: DataFrame,
    by: str = "entity",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based session windows (30-minute gap) with a 10-minute
    late-data watermark (the built-in streaming analog of
    operators.sessionize)."""
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, "10 minutes")
        .groupBy(F.col(by), F.session_window(F.col(ts_col), "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            by,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
