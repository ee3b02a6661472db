"""F6 — final feature-matrix contract (the reference's NPZ equivalent).

The reference exports ``observations (N,45) float32`` + feature_names +
feature_groups + schema_sha + per-group health gates
(`/root/reference/step5_featueres_unified.py:1237-1261`,
`tools/export_utils.py:166-225, 268-278`). Spark-first: the matrix is a
``features array<float>`` column (float32 downcast) beside the key
columns; the manifest is a plain dict; health checks are one aggregate
job over range masks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema_contract import schema_sha

# per-group valid ranges (`tools/export_utils.py:211-225`)
GROUP_RANGES: dict[str, tuple[float, float]] = {
    "market_state": (-1.0, 1.0),
    "momentum": (-1.0, 1.0),
    "bb_width": (0.0, 1.0),
    "volume": (0.0, 1.0),
    "rsi": (-1.0, 1.0),
    "price": (0.0, float("inf")),
    "time": (-1.0, 1.0),
    "return": (float("-inf"), float("inf")),
    "atr": (0.0, 1.0),
    "rv": (0.0, float("inf")),
}


def group_of(name: str) -> str:
    """Feature-name → group, reference naming conventions
    (`📊 README_RL2_Featueres_特征数据.md` §9)."""
    n = name.lower()
    if "market_state" in n:
        return "market_state"
    if "rsi" in n:
        return "rsi"
    if "bb_width" in n:
        return "bb_width"
    if "mom" in n:
        return "momentum"
    if "volume" in n:
        return "volume"
    if "atr" in n:
        return "atr"
    if "rv" in n:
        return "rv"
    if n.startswith("time_"):
        return "time"
    if "ret_" in n or "return" in n:
        return "return"
    if n in ("open", "high", "low", "close") or "_close" in n or "price" in n:
        return "price"
    return "other"


@dataclass
class FeatureManifest:
    feature_names: list[str]
    feature_groups: dict[str, str]
    schema_sha: str

    def to_dict(self) -> dict:
        return {
            "feature_names": self.feature_names,
            "feature_groups": self.feature_groups,
            "schema_sha": self.schema_sha,
            "n_features": len(self.feature_names),
        }


def assemble_features(
    df: DataFrame,
    feature_cols: list[str],
    by: str = "entity",
    ts_col: str = "ts",
    out: str = "features",
) -> tuple[DataFrame, FeatureManifest]:
    """Dense float32 feature vector + manifest — NPZ-equivalent table.

    Nulls → 0.0 like the reference's final clean (`tools/export_utils.py:72-94`).
    """
    vec = F.array(
        *[
            F.coalesce(F.col(c), F.lit(0.0)).cast("float")
            for c in feature_cols
        ]
    )
    res = df.select(
        by, ts_col, vec.alias(out)
    )
    manifest = FeatureManifest(
        feature_names=list(feature_cols),
        feature_groups={c: group_of(c) for c in feature_cols},
        schema_sha=schema_sha(feature_cols),
    )
    return res, manifest


def export_npz_contract(
    wide: DataFrame,
    manifest: FeatureManifest,
    path: str,
    by: str = "entity",
    ts_col: str = "ts",
    prices: DataFrame | None = None,
    metadata: dict | None = None,
) -> str:
    """Write the reference's literal NPZ artifact
    (`/root/reference/tools/export_utils.py:268-290`): version,
    observations (N,45) float32, feature_names, feature_groups,
    timestamps (ms), prices (N,4) float64, schema_sha, metadata — with
    the same tmp-then-rename atomicity.

    This is the OFFLINE/small-scale export (driver-side collect by
    design, like the reference's single-file npz); the 100 TB path is
    ``sources.sink.write_table`` parquet + `_manifest.json` with the
    identical schema_sha. ``prices`` optionally supplies the base OHLC
    keyed (by, ts); absent columns are NaN-filled like the reference's
    missing-column fallback."""
    import json as _json
    import os

    import numpy as np

    if prices is not None:
        p = prices.select(
            by, ts_col,
            *[F.col(c).alias(f"_px_{c}") for c in ("open", "high", "low", "close")],
        )
        wide = wide.join(p, [by, ts_col], "left")
    pdf = wide.orderBy(by, ts_col).toPandas()
    obs = pdf[manifest.feature_names].to_numpy(dtype="float32")
    ts_ms = (
        pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000
    ).to_numpy()
    if prices is not None:
        px = pdf[[f"_px_{c}" for c in ("open", "high", "low", "close")]].to_numpy(
            dtype="float64"
        )
    else:
        px = np.full((len(pdf), 4), np.nan, dtype="float64")
    meta = dict(metadata or {})
    meta.setdefault("n_features", len(manifest.feature_names))
    meta.setdefault("schema_sha", manifest.schema_sha)
    tmp = path + ".tmp"
    np.savez_compressed(
        tmp,
        version=np.array("rl_features_v1"),
        observations=obs,
        feature_names=np.array(manifest.feature_names, dtype=object),
        feature_groups=np.array(
            [manifest.feature_groups[n] for n in manifest.feature_names], dtype=object
        ),
        timestamps=ts_ms,
        prices=px,
        entities=np.array(pdf[by].astype(str), dtype=object),
        schema_sha=np.array(manifest.schema_sha),
        metadata=np.array(_json.dumps(meta, sort_keys=True)),
    )
    os.replace(tmp + ".npz", path)
    return path


def health_check(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """A7 — per-feature mean/std/min/max + out-of-range ratio against
    ``GROUP_RANGES`` (`tools/export_utils.py:166-225`).

    Unpivot-then-groupBy form (VERDICT r3 nit: the previous single-job
    variant compiled 5 aggregate expressions PER feature — 225 for the
    45-column contract — into one fat codegen stage; a 10×-wider
    contract would have blown codegen limits). The melt emits narrow
    (feature, value) rows, the per-feature bounds ride as broadcast map
    literals, and the aggregation partial-combines map-side, so cost is
    linear in rows × features with a fixed 5-expression plan."""
    spark = df.sparkSession
    bounds = {
        c: GROUP_RANGES.get(group_of(c), (float("-inf"), float("inf"))) for c in feature_cols
    }
    lo_map = F.create_map(
        *[e for c in feature_cols for e in (F.lit(c), F.lit(float(bounds[c][0])))]
    )
    hi_map = F.create_map(
        *[e for c in feature_cols for e in (F.lit(c), F.lit(float(bounds[c][1])))]
    )
    long = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols]
    ).unpivot([], feature_cols, "feature", "value")
    x = F.col("value")
    lo = F.element_at(lo_map, F.col("feature"))
    hi = F.element_at(hi_map, F.col("feature"))
    agg = long.groupBy("feature").agg(
        F.avg(x).alias("mean"),
        F.stddev_samp(x).alias("std"),
        F.min(x).alias("min"),
        F.max(x).alias("max"),
        F.avg(F.when(x.isNull() | (x < lo) | (x > hi), 1.0).otherwise(0.0)).alias(
            "oor_ratio"
        ),
    )
    # left-join against the literal feature list so every requested
    # feature yields a row (all-null stats on empty input, like the
    # previous formulation) and the group label attaches
    feats = spark.createDataFrame(
        [(c, group_of(c)) for c in feature_cols], "feature string, grp string"
    )
    return feats.join(agg, "feature", "left").select(
        "feature", "grp", "mean", "std", "min", "max", "oor_ratio"
    )
