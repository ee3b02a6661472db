"""Skew handling: explicit key salting + AQE.

North-rule requirement: hot entities must not dominate wall-clock.
Three mechanisms, used by operator class:

1. **Per-row ops / aggregations** (`salted_agg`): pre-aggregate on
   (key, salt) then merge — classic two-phase salting. The salt is a
   deterministic hash of the timestamp, so re-runs place rows
   identically.
2. **Order-sensitive windows / as-of joins on huge entities**: salting
   cannot split running state by rows; range-partition the TIME axis
   instead — ``asof_join_bucketed`` (operators/asof.py) parallelizes a
   single entity across ts buckets with carry-in rows.
3. **AQE** (session.py): ``spark.sql.adaptive.skewJoin.enabled`` splits
   oversized join partitions at runtime; coalescePartitions rebalances.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# salt buckets: a hot key's rows spread over this many partial groups
_SALT_BUCKETS = 8


def salt_column(ts_col: str = "ts") -> Column:
    """Deterministic salt in [0, _SALT_BUCKETS) from the event time."""
    return F.pmod(F.xxhash64(F.col(ts_col)), F.lit(_SALT_BUCKETS)).cast("int")


def add_salt(df: DataFrame, ts_col: str = "ts", out: str = "_salt") -> DataFrame:
    return df.withColumn(out, salt_column(ts_col))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    ts_col: str = "ts",
) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt) partials then merge.

    ``aggs`` maps column -> {sum,count,min,max}; mergeable aggregates
    only (the same restriction real map-side combine has).
    """
    partial_exprs = []
    merge_exprs = []
    for c, how in aggs.items():
        pname = f"_p_{how}_{c}"
        if how == "sum":
            partial_exprs.append(F.sum(c).alias(pname))
            merge_exprs.append(F.sum(pname).alias(f"{how}_{c}"))
        elif how == "count":
            partial_exprs.append(F.count(c).alias(pname))
            merge_exprs.append(F.sum(pname).alias(f"{how}_{c}"))
        elif how == "min":
            partial_exprs.append(F.min(c).alias(pname))
            merge_exprs.append(F.min(pname).alias(f"{how}_{c}"))
        elif how == "max":
            partial_exprs.append(F.max(c).alias(pname))
            merge_exprs.append(F.max(pname).alias(f"{how}_{c}"))
        else:
            raise ValueError(f"non-mergeable agg: {how}")
    salted = add_salt(df, ts_col)
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*merge_exprs)

