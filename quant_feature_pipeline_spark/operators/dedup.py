"""Exact deduplication operators (P4 + training-data-pipeline exact dedup).

- ``dedup_exact`` — hash-groupBy exact dedup on a content column: keep
  one representative row per distinct content hash (deterministically the
  min of ``order_col``). At 100 TB this is a single hash-shuffle on a
  64/128-bit digest, not the raw content: project the digest first so
  the shuffle moves ~16 bytes/row + the representative key.
- The keep-last-by-key variant used for bar streams lives in
  sources/scan.py (``dedup_keep_last``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_exact(
    df: DataFrame,
    content_col: str = "text",
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep the first row (min order_col) per exact content match (md5)."""
    h = F.md5(F.col(content_col).cast("binary"))
    w = Window.partitionBy("_h").orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )

