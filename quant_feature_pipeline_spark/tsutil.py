"""Timestamp helpers that work for both TIMESTAMP and TIMESTAMP_NTZ.

Parquet written by other engines (e.g. the driver testdata, DuckDB)
carries TIMESTAMP_NTZ, which Spark refuses to cast directly to numeric.
Casting NTZ→LTZ first is exact under the UTC session timezone set in
session.py.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def epoch_seconds(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("double")


def estimated_bytes(df) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None when
    Catalyst cannot produce one (estimation must never break a plan)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return None


# target INPUT bytes per partition for the up-front entity hash
# partitioning. Sized well below the shuffle advisory because the
# pipeline's widest intermediate (the ~100-column merged frame) is
# ~10-25x wider than the narrow bar input that the estimate measures.
INPUT_BYTES_PER_PARTITION = 8 << 20  # 8 MiB of input per partition


def repartition_by_size(df, *keys):
    """Hash-repartition by ``keys`` with a partition count derived from
    the optimizer's size estimate of ``df`` (r6, guide §2.2: make
    partitioning scale-adaptive — derive from input size — rather than a
    constant tuned for one scale).

    count = max(defaultParallelism,
                ceil(estimated_bytes / INPUT_BYTES_PER_PARTITION)). The
    count is explicit and deterministic at plan time: deriving it from
    statistics rather than leaving a bare repartition for AQE avoids the
    near-boundary coalescing flips that can merge the downstream WIDE
    stages (10-25x the input width) into partitions that exhaust task
    memory. Tiny inputs get defaultParallelism partitions; big inputs
    scale linearly with bytes. Falls back, with a warning, to a bare
    AQE-coalescible repartition when no estimate is available."""
    est = estimated_bytes(df)
    if est is None or est <= 0:
        log.warning(
            "repartition_by_size: no size estimate for the input keyed by %s; "
            "falling back to a bare repartition (count from "
            "spark.sql.shuffle.partitions, coalesced by AQE)",
            ", ".join(map(str, keys)),
        )
        return df.repartition(*keys)
    parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        -(-est // INPUT_BYTES_PER_PARTITION),
    )
    return df.repartition(parts, *keys)
