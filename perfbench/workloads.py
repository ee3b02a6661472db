"""The benchmark's workloads: seeded inputs, a timed rep, output checks.

Every workload decodes a token table made by
``sources.tokens.synth_token_table(seed=...)`` and written to parquet at
set-up, so the ``sources`` layer runs inside every rep. Each is a closed
loop with one client: the next rep starts when the previous one ends.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import zlib

from pyspark.sql import functions as F

from quant_feature_pipeline_spark import jobs
from quant_feature_pipeline_spark.config import PipelineConfig
from quant_feature_pipeline_spark.plans import flagship
from quant_feature_pipeline_spark.plans.checkpoint import Checkpointer
from quant_feature_pipeline_spark.sources import bars as bars_mod
from quant_feature_pipeline_spark.sources.tokens import EPOCH0, synth_token_table

# few timeframes keep a rep (mostly per-job overhead) short enough for the
# runs to fit the time budget: the flagship merges one timeframe onto the
# base, the refresh runs on the base timeframe alone and is mostly publish
FLAGSHIP_TARGETS = ("3m", "30m")
REFRESH_TARGETS = ("3m",)
CFG = PipelineConfig(base_tf="3m", resample_targets=FLAGSHIP_TARGETS)
BAR_COLS = ("entity", "ts", "open", "high", "low", "close", "volume")
HASH_MOD = 1_000_000_007


def checksum(df, *distinct) -> tuple[int, ...]:
    """(rows, sum of xxhash64 over every column mod p[, distinct values
    of the ``distinct`` columns]). As the sink of a timed rep it forces
    every output column through the plan, like a noop write, and leaves
    a value to compare across reps."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(HASH_MOD))
    aggs = [F.count(F.lit(1)), F.sum(h)]
    if distinct:
        aggs.append(F.count_distinct(*distinct))
    r = df.agg(*aggs).first()
    return (int(r[0]), int(r[1] or 0), *r[2:])


class Workload:
    """Set-up, one timed rep, and the untimed check of that rep."""

    name = ""
    loop = "closed, 1 client"
    oracle = False  # also gate the run on the flagship DuckDB oracle
    base_rows = 0  # rows of the snapshot a rep starts from
    published_rows = 0  # rows of the snapshot a rep publishes

    def __init__(self, spark, work: str, seed: int, entities: int, minutes: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.entities, self.minutes = entities, minutes
        self.tokens = os.path.join(work, "tokens")
        self.output = None  # the last rep's output DataFrame, for plan counts
        self.tracer = None

    @property
    def sequences(self) -> int:
        """Token sequences a rep reads."""
        return self.entities * self.minutes

    def size(self) -> dict:
        return {"entities": self.entities, "minutes": self.minutes, "sequences": self.sequences}

    def setup_data(self) -> None:
        """Generate and write the token table; repeated, the median is kept."""
        tok = synth_token_table(
            self.spark, n_entities=self.entities, minutes=self.minutes, seed=self.seed
        )
        tok.write.mode("overwrite").parquet(self.tokens)

    def setup_once(self) -> None:
        """Set-up done once per run, after ``setup_data``."""

    def bars(self):
        tok = self.spark.read.parquet(self.tokens)
        return bars_mod.bars_from_tokens(tok).select(*BAR_COLS)

    def before_rep(self) -> None:
        """Untimed reset before each rep."""

    def rep(self):
        """The timed rep; returns what ``outcome`` checks."""
        raise NotImplementedError

    def outcome(self, out) -> tuple[tuple, list[str]]:
        """Untimed: (value every rep must repeat, problems found)."""
        return out, []

    def after_rep(self) -> None:
        self.spark.catalog.clearCache()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


class FlagshipTrain(Workload):
    """Flagship training run, 27 features on 3m and 30m bars: the only
    workload with the rank Arrow stage and the two exact global-stats
    passes."""

    name = "flagship_train"
    oracle = True

    def rep(self):
        bars = self.bars()
        with self.span("flagship"):
            self.output, stats = flagship.run_flagship(bars, CFG, return_stats=True)
            rows, h = checksum(self.output)
        return rows, h, zlib.crc32(stats.to_json().encode())


class RefreshIncremental(Workload):
    """Checkpointed refresh: restore a snapshot, recompute a warm-up tail
    and publish. The only workload that resumes and publishes."""

    name = "refresh_incremental"
    new_minutes = 1440
    # a day of 3m bars, so the recomputed tail (warm-up plus the new day)
    # is two of the input's 3.8 days and most of a rep is publish
    warmup_bars = 480

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.history = os.path.join(self.work, "tokens_history")
        self.base_root = os.path.join(self.work, "base_checkpoint")
        self.root = os.path.join(self.work, "checkpoint")
        self.full_rows = 0  # rows a full build over the same input publishes

    @property
    def sequences(self) -> int:
        return self.entities * (self.minutes + self.new_minutes)

    def size(self) -> dict:
        return {**super().size(), "new_minutes": self.new_minutes,
                "warmup_bars": self.warmup_bars}

    def setup_data(self) -> None:
        synth_token_table(
            self.spark, n_entities=self.entities, minutes=self.minutes + self.new_minutes,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.tokens)

    def _args(self, tokens: str, root: str):
        return jobs._parse_args([
            "--input", tokens, "--input-kind", "tokens", "--checkpoint-root", root,
            "--targets", ",".join(REFRESH_TARGETS),
            "--warmup-bars", str(self.warmup_bars), "--mode", "auto",
        ])

    def setup_once(self) -> None:
        # a token row is a function of (entity, minute, seed) alone, so the
        # history is the full table's first ``minutes``, as a table of that
        # length would hold them; the minute is the doc_id's second field
        minute = F.split_part(F.col("doc_id"), F.lit(":"), F.lit(2)).cast("long")
        self.spark.read.parquet(self.tokens).where(
            minute < EPOCH0 // 60 + self.minutes
        ).write.mode("overwrite").parquet(self.history)
        shutil.rmtree(self.base_root, ignore_errors=True)
        base = jobs.build_features(self.spark, self._args(self.history, self.base_root))
        self.base_rows = base["rows_published"]
        self.spark.catalog.clearCache()

    def before_rep(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.base_root, self.root)

    def rep(self):
        orig = Checkpointer.merge_increment

        def capture(ck, *args, **kwargs):
            self.output = orig(ck, *args, **kwargs)
            return self.output

        Checkpointer.merge_increment = capture
        try:
            return jobs.build_features(self.spark, self._args(self.tokens, self.root))
        finally:
            Checkpointer.merge_increment = orig

    def outcome(self, out):
        problems = []
        if out["mode"] != "incremental":
            problems.append(f"refresh ran in {out['mode']} mode")
        if not self.full_rows:
            # a full build publishes one row per (entity, base bar) that
            # holds a token: every layer after resample keeps the base axis
            doc = F.col("doc_id")
            bucket = F.floor(F.split_part(doc, F.lit(":"), F.lit(2)).cast("long") / 3)
            self.full_rows = self.spark.read.parquet(self.tokens).select(
                F.count_distinct(F.split_part(doc, F.lit(":"), F.lit(1)), bucket)
            ).first()[0]
        snap = Checkpointer(self.root, self.spark).read(jobs.FEATURES_STAGE)
        rows, h, keys = checksum(snap, "entity", "ts")
        if keys != rows:
            problems.append(f"{rows - keys} duplicate (entity, ts) keys")
        if rows != self.full_rows:
            problems.append(f"{rows} rows published, a full build has {self.full_rows}")
        self.published_rows = rows
        return (rows, h), problems


WORKLOADS = {w.name: w for w in (FlagshipTrain, RefreshIncremental)}
