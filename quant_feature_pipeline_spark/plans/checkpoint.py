"""Per-stage snapshot checkpointing + warm-start resume (W15/S2).

Reference semantics: each step persists its table; incremental runs read
the last persisted timestamp and recompute only from
``last_ts - warmup_window`` onward, then append the recomputed tail
(`/root/reference/step2_resample.py:370-397`, `tools/incremental.py:6-40`,
5-bar backtrack `step1_data.py:864-872`).

Spark-first realization, the table model of https://iceberg.apache.org/spec/
without the package: a stage directory holds immutable parquet segments
(``<stage>/seg-<id>/``) and one ``_manifest.json`` listing them oldest to
newest, each with per-entity ``rows``/``min_ts``/``max_ts`` (epoch
microseconds). A commit writes its segment, then swaps the manifest with
``os.replace``; only after the swap are unlisted segments deleted, so a
failed write leaves the live snapshot as it was. ``merge_increment``
commits a recomputed tail as one new segment and never reads history
rows; ``read`` resolves keep-last precedence with a plain filter: a row
of an older segment is visible while its ``ts`` is below the smallest
``min_ts`` a newer segment has for its entity. ``resume_plan`` reads
``last_ts`` from the manifest and runs no Spark job.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema_contract import schema_sha

_MANIFEST = "_manifest.json"
# a commit that leaves more segments than this rewrites the visible view
# as one segment, so reads never union an unbounded chain
_MAX_SEGMENTS = 8


@dataclass
class ResumePlan:
    last_ts: object  # datetime | None
    recompute_from: object  # datetime | None — last_ts minus warm-up
    full_rebuild: bool


def _micros(ts_col: str):
    """Epoch microseconds of ``ts_col``; the ``timestamp_ltz`` cast makes
    TIMESTAMP and TIMESTAMP_NTZ columns both valid input."""
    return F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))


def _lookup(values: dict, by: str):
    """``values[str(by)]`` as a column, null for an entity not in it."""
    pairs = [F.lit(x) for kv in values.items() for x in kv]
    return F.element_at(F.create_map(*pairs), F.col(by).cast("string"))


class Checkpointer:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest(self, stage: str) -> dict:
        with open(os.path.join(self._path(stage), _MANIFEST)) as fh:
            return json.load(fh)

    def _segmented(self, stage: str) -> dict | None:
        """The stage's manifest, or None when there is none or it predates
        segments."""
        if not os.path.exists(os.path.join(self._path(stage), _MANIFEST)):
            return None
        m = self.manifest(stage)
        return m if "segments" in m else None

    def write(
        self,
        df: DataFrame,
        stage: str,
        by: str = "entity",
        ts_col: str = "ts",
    ) -> None:
        """Full replace: ``df`` becomes the stage's only segment."""
        self._commit(df, stage, by, ts_col, base=None)

    def read(self, stage: str) -> DataFrame:
        m = self.manifest(stage)
        frames = self._visible(self._path(stage), m["segments"], m["by"], m["ts_col"])
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [df for _, df in frames],
        )

    def _visible(self, path: str, segments: list, by: str, ts_col: str) -> list:
        """[(segment, its rows no newer segment shadows)], oldest first."""
        cut, out = {}, []
        for seg in reversed(segments):
            df = self.spark.read.parquet(os.path.join(path, seg["path"]))
            if cut:
                df = df.where(F.coalesce(_micros(ts_col) < _lookup(cut, by), F.lit(True)))
            out.append((seg, df))
            for e, s in seg["lineage"].items():
                cut[e] = min(cut.get(e, s["min_ts"]), s["min_ts"])
        return out[::-1]

    def _shadowed(self, path: str, base: dict, by: str, ts_col: str, new: dict) -> dict:
        """Visible rows of ``base`` per entity that a segment with lineage
        ``new`` hides. One count job, over only the older segments whose
        range reaches the new segment's, and none if no range does."""
        bound = {
            e: s["min_ts"] for e, s in new.items()
            if e in base["lineage"] and base["lineage"][e]["max_ts"] >= s["min_ts"]
        }
        if not bound:
            return {}
        frames = [
            df for seg, df in self._visible(path, base["segments"], by, ts_col)
            if any(e in seg["lineage"] and seg["lineage"][e]["max_ts"] >= b
                   for e, b in bound.items())
        ]
        # the literal lower bound is what the parquet scan can prune on
        lo = F.timestamp_micros(F.lit(min(bound.values()))).cast(
            frames[0].schema[ts_col].dataType)
        hidden = functools.reduce(DataFrame.unionByName, [
            df.select(by, ts_col).where(F.col(ts_col) >= lo) for df in frames
        ]).where(_micros(ts_col) >= _lookup(bound, by))
        return {str(r[0]): r[1] for r in hidden.groupBy(by).count().collect()}

    def _commit(self, df: DataFrame, stage: str, by: str, ts_col: str, base: dict | None) -> dict:
        """Write ``df`` as a new segment after ``base``'s (None: replace
        them all), swap the manifest in, then delete what it no longer
        lists — an earlier failed commit's orphan segment too."""
        path = self._path(stage)
        seg = f"seg-{uuid.uuid4().hex[:12]}"
        t0 = time.time()
        df.write.parquet(os.path.join(path, seg))
        write_s = time.time() - t0
        ts_us = _micros(ts_col)
        new = {
            str(r[0]): {"rows": r[1], "min_ts": r[2], "max_ts": r[3]}
            for r in self.spark.read.parquet(os.path.join(path, seg))
            .groupBy(by).agg(F.count(F.lit(1)), F.min(ts_us), F.max(ts_us)).collect()
        }
        written = sum(s["rows"] for s in new.values())
        if base is None:
            segments, columns, lineage = [], list(df.columns), {}
        else:
            segments = base["segments"]
            columns = base["columns"] + [c for c in df.columns if c not in base["columns"]]
            lineage = {e: dict(v) for e, v in base["lineage"].items()}
            for e, n in self._shadowed(path, base, by, ts_col, new).items():
                lineage[e]["rows"] -= n
        for e, s in new.items():
            rows = lineage.get(e, {}).get("rows", 0) + s["rows"]
            lineage[e] = {"rows": rows, "max_ts": s["max_ts"]}
        total = sum(v["rows"] for v in lineage.values())
        manifest = {
            "stage": stage,
            "by": by,
            "ts_col": ts_col,
            "ts_ntz": isinstance(df.schema[ts_col].dataType, T.TimestampNTZType),
            "columns": columns,
            "schema_sha": schema_sha(columns),
            "metrics": {
                "write_wall_s": round(write_s, 3),
                "rows_written": written,
                "total_rows": total,
                "rows_per_sec": round(written / write_s, 1) if write_s > 0 else None,
            },
            "segments": [*segments, {"path": seg, "lineage": new}],
            # per entity: visible rows, and the newest visible ts
            "lineage": lineage,
        }
        tmp = os.path.join(path, f".{_MANIFEST}.{seg}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(path, _MANIFEST))
        keep = {_MANIFEST, *(s["path"] for s in manifest["segments"])}
        for name in set(os.listdir(path)) - keep:
            p = os.path.join(path, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        return manifest

    def resume_plan(self, stage: str, warmup_s: float) -> ResumePlan:
        """recompute_from = snapshot max(ts) − warmup (global max across
        entities, from the manifest's lineage: no Spark job). A stage
        without a segmented manifest is rebuilt in full.

        Watermark contract (ADVICE r5, documented limitation): last_ts is
        a single GLOBAL max(ts) — incremental publish assumes all
        entities advance in lockstep (true for the synchronized bar
        feeds this engine ingests). An entity whose new rows lag behind
        the global watermark by more than the publish backtrack
        (jobs.py) would not republish them; feeds with per-entity lag
        should resume per entity from the manifest's per-entity max_ts
        lineage instead."""
        m = self._segmented(stage)
        if m is None or not m["lineage"]:
            return ResumePlan(None, None, True)
        us = max(v["max_ts"] for v in m["lineage"].values())
        # the datetime a collect of max(ts) returns: local wall clock for
        # TIMESTAMP, the session time zone's wall clock for TIMESTAMP_NTZ
        tz = ZoneInfo(self.spark.conf.get("spark.sql.session.timeZone")) if m["ts_ntz"] else None
        last = datetime.datetime.fromtimestamp(us // 10**6, tz).replace(
            microsecond=us % 10**6, tzinfo=None)
        return ResumePlan(last, last - datetime.timedelta(seconds=warmup_s), False)

    def merge_increment(
        self,
        stage: str,
        increment: DataFrame,
        keys: tuple[str, ...] = ("entity", "ts"),
    ) -> DataFrame:
        """Commit ``increment`` as the newest segment — keep-last on
        ``keys`` = (entity, ts) against history, J3 + P4 — and return the
        merged snapshot, lazily. No history row is rewritten, except by a
        compaction once the chain passes ``_MAX_SEGMENTS``; history is
        read only to count the rows the increment shadows (see
        ``_shadowed``)."""
        by, ts_col = keys
        base = self._segmented(stage)
        if base is None:
            self.write(increment, stage, by=by, ts_col=ts_col)
        elif len(self._commit(increment, stage, by, ts_col, base)["segments"]) > _MAX_SEGMENTS:
            self.write(self.read(stage), stage, by=by, ts_col=ts_col)
        return self.read(stage)
