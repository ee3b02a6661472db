"""Grouped Arrow stages over array kernels, with amortized per-group
overhead.

``applyInPandas`` pays a fixed Python-side cost per group (Arrow batch
+ DataFrame construction), which dominates when groups are small/many.
``grouped_apply`` instead hash-repartitions by the group key and runs
ONE ``mapInPandas`` over each partition: the partition is stable-sorted
once by (group key, ts) and every contiguous group slice runs through
an array kernel — no pandas groupby, no per-group DataFrame. Identical
semantics for whole-key groups (hash partitioning puts a key's rows in
exactly one partition), a fraction of the overhead.

Kernel contract: ``kernel({src_col: float64 slice})`` receives ONE
group's rows in ts order (stable: ts ties keep input order) and returns
``{new_col: float64 array}`` with exactly one value per input row —
checked on every call (ValueError otherwise), because a length mismatch
would silently shift values onto the neighbouring group's rows. The
stage's output is the input columns plus one double column per name in
``new_cols``.

Memory note: buffers one partition per task (like applyInPandas buffers
one group); partition sizing via spark.sql.shuffle.partitions /
maxPartitionBytes controls the bound at scale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..tsutil import repartition_by_size

Kernel = Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]]

# grouped_apply's in-task auto-chunking: a group above _AUTO_CHUNK_ROWS
# rows runs through the kernel in _CHUNK_ROWS-row slices, and output
# flushes every ~_CHUNK_ROWS rows
_AUTO_CHUNK_ROWS = 1_048_576
_CHUNK_ROWS = 262_144


def _output_schema(df: DataFrame, new_cols: list[str]) -> T.StructType:
    return T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.DoubleType(), True) for c in new_cols]
    )


def _concat(batches: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    chunks = list(batches)
    pdf = pd.concat(chunks, ignore_index=True) if chunks else None
    return None if pdf is None or pdf.empty else pdf


def _group_bounds(pdf: pd.DataFrame, keys: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """[start, end) of every run of equal ``keys`` in a key-sorted frame."""
    n = len(pdf)
    change = np.zeros(n - 1, dtype=bool)
    for k in keys:
        a = pdf[k].to_numpy()
        change |= a[1:] != a[:-1]
    cut = np.nonzero(change)[0] + 1
    return np.concatenate(([0], cut)), np.concatenate((cut, [n]))


def _call(
    kernel: Kernel, arrs: dict[str, np.ndarray], new_cols: list[str],
    lo: int, hi: int, stage: str,
) -> dict[str, np.ndarray]:
    res = kernel({c: a[lo:hi] for c, a in arrs.items()})
    for k in new_cols:
        if len(res[k]) != hi - lo:
            raise ValueError(
                f"{stage}: the kernel must return exactly one row per input "
                f"row (got {len(res[k])} values of {k!r} for {hi - lo} rows)"
            )
    return res


def _attach(base: pd.DataFrame, new: dict[str, np.ndarray]) -> pd.DataFrame:
    return pd.concat([base, pd.DataFrame(new, index=base.index)], axis=1)


def grouped_apply(
    df: DataFrame,
    by: str,
    ts_col: str,
    src_cols: list[str],
    kernel: Kernel,
    new_cols: list[str],
    warmup_rows: int = 4_096,
    lookback_rows: int | None = None,
    prepartitioned: bool = False,
) -> DataFrame:
    """One Arrow stage over entity-hash partitions; see module docstring.

    ``lookback_rows`` declares the kernel's EXACT finite history
    requirement (e.g. a rolling-rank window): auto-chunking replays
    ``max(warmup_rows, lookback_rows)`` rows of history per slice, so a
    hard-windowed kernel stays bit-exact no matter how its window
    compares to the default warm-up (ADVICE r4: a window > warmup_rows
    silently corrupted boundary rows for entities above _AUTO_CHUNK_ROWS).
    Leave it None for infinite-decay recurrences, where warmup_rows is a
    ulp-convergence bound rather than an exactness requirement.

    ``prepartitioned=True`` skips the hash repartition: the CALLER
    asserts every group's rows already live in one partition (e.g. the
    pipeline's single up-front ``repartition(parts, entity)``, whose
    hash layout every downstream agg/window preserves under subset-key
    co-partitioning). Spark does NOT elide an explicit redundant
    RepartitionByExpression, so without this flag each grouped Arrow
    stage re-shuffles rows that are already correctly placed (r5
    scaling work). Passing True on input that is NOT group-complete
    per partition silently corrupts results — internal pipeline use
    only.

    Huge-entity auto-dispatch (no caller opt-in): a group above
    ``_AUTO_CHUNK_ROWS`` rows runs through the kernel in ts-ordered
    ``_CHUNK_ROWS`` slices with ``warmup_rows`` of replayed history per
    slice, and output flushes every ~``_CHUNK_ROWS`` rows, so neither the
    kernel temporaries nor the wide output frame ever cover a whole huge
    entity — with NO plan change: partitioning is preserved, nothing
    extra shuffles or sorts JVM-side, and normal-size groups pay zero
    overhead. Same exactness contract as grouped_apply_chunked (warm-up
    ≥ the slowest recurrence decay ⇒ bit-identical; asserted in tests).
    This dispatch is LOCAL — a huge entity still lands in one task; when
    single entities dwarf task memory or need cross-task parallelism,
    use grouped_apply_chunked, which range-splits the entity across the
    cluster."""
    warm = max(warmup_rows, lookback_rows or 0)
    # bound here, not read inside run: the pickled closure then carries
    # the values current at plan time (tests monkeypatch the constants)
    auto_chunk_rows, chunk_rows = _AUTO_CHUNK_ROWS, _CHUNK_ROWS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = _concat(batches)
        if pdf is None:
            return
        pdf = pdf.sort_values([by, ts_col], kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        starts, ends = _group_bounds(pdf, [by])
        arrs = {c: pdf[c].to_numpy(dtype=np.float64) for c in src_cols}
        flush_from = 0
        bufs: dict[str, list] = {k: [] for k in new_cols}

        def assemble(upto: int) -> pd.DataFrame:
            nonlocal flush_from, bufs
            out = _attach(
                pdf.iloc[flush_from:upto],
                {k: (np.concatenate(v) if len(v) > 1 else v[0]) for k, v in bufs.items()},
            )
            flush_from = upto
            bufs = {k: [] for k in new_cols}
            return out

        for s, e in zip(starts, ends):
            if e - s > auto_chunk_rows:
                if s > flush_from:  # flush buffered smaller groups first
                    yield assemble(s)
                for cs in range(s, e, chunk_rows):
                    lo = max(s, cs - warm)
                    ce = min(e, cs + chunk_rows)
                    res = _call(kernel, arrs, new_cols, lo, ce, "grouped_apply")
                    for k in new_cols:
                        bufs[k].append(res[k][cs - lo :])
                    yield assemble(ce)
            else:
                res = _call(kernel, arrs, new_cols, s, e, "grouped_apply")
                for k in new_cols:
                    bufs[k].append(res[k])
                if e - flush_from >= chunk_rows:
                    yield assemble(e)
        if flush_from < n:
            yield assemble(n)

    schema = _output_schema(df, new_cols)
    if prepartitioned:
        return df.mapInPandas(run, schema=schema)
    # partition count derived from the input size estimate (r6)
    return repartition_by_size(df, by).mapInPandas(run, schema=schema)


def grouped_apply_chunked(
    df: DataFrame,
    by: str,
    ts_col: str,
    src_cols: list[str],
    kernel: Kernel,
    new_cols: list[str],
    chunk_rows: int = 262_144,
    warmup_rows: int = 4_096,
) -> DataFrame:
    """grouped_apply for HUGE entities: no task ever buffers a whole
    entity history in pandas.

    ``warmup_rows`` must cover the kernel's exact finite history (e.g. a
    rolling-rank window); the call FAILS LOUDLY when chunk_rows cannot
    cover it (warm rows replicate only from the immediately preceding
    chunk), instead of silently corrupting boundary rows (ADVICE r4).

    Each entity's ts-ordered rows are split into ``chunk_rows`` chunks;
    the last ``warmup_rows`` rows of every chunk are REPLICATED into the
    next chunk as warm-up (the same replay-a-tail warm-start the
    incremental resume uses, plans/checkpoint.py / reference
    `step2_resample.py:370-397`), the kernel runs per (entity, chunk),
    and the warm rows are sliced off the output. Memory per task is
    bounded by chunk_rows + warmup_rows regardless of entity size, and a
    single entity's chunks process in PARALLEL (shuffle key is (by,
    chunk)).

    Output equality vs the unchunked path: EXACT for kernels whose state
    window is <= warmup_rows (rolling windows, lags); for infinite-decay
    recurrences (EMA/Wilder) the seed error shrinks by (1-alpha) per
    warm-up row, so warmup_rows >= ~53·ln2/alpha_min drives it below
    float64 ulp — the default 4096 covers the indicator stack's slowest
    alpha (span-200 EMA needs ~3.7k rows); asserted bit-identical in
    tests/test_grouped_chunked.py.

    Rows reach the kernel in (ts, content-hash) order, the JVM-side
    row_number below; that sort spills to disk, so assigning chunk ids
    does not reintroduce the memory hazard. Note the output partitioning
    is (by, chunk), not (by): a downstream per-entity window or join
    will re-exchange — use plain grouped_apply when entities fit in
    memory.
    """
    if warmup_rows > chunk_rows:
        raise ValueError(
            f"warm-up ({warmup_rows} rows) must be <= chunk_rows "
            f"({chunk_rows}): warm rows "
            "replicate only from the immediately preceding chunk — raise "
            "chunk_rows to at least the kernel's lookback"
        )
    # deterministic rank: content-hash tiebreaker for duplicate ts (ties
    # among byte-identical rows are interchangeable)
    tiebreak = F.xxhash64(F.lit(13), *[F.col(c) for c in df.columns])
    w = Window.partitionBy(by).orderBy(F.col(ts_col).asc(), tiebreak.asc())
    # the per-entity max rank shares the row_number window's exchange
    # (same partitioning, no extra shuffle) and stops warm rows from
    # replicating into a chunk that would hold no real rows
    base = df.withColumn("_rn", F.row_number().over(w) - 1).withColumn(
        "_last", F.max(F.col("_rn")).over(Window.partitionBy(by))
    )
    pos = F.col("_rn") % chunk_rows
    ck = (F.col("_rn") / chunk_rows).cast("long")
    own = F.struct(ck.alias("c"), F.lit(False).alias("w"))
    also_next = F.struct((ck + 1).alias("c"), F.lit(True).alias("w"))
    next_exists = (ck + 1) * chunk_rows <= F.col("_last")
    dup = base.select(
        *[F.col(c) for c in df.columns],
        F.col("_rn"),
        F.explode(
            F.when(
                (pos >= chunk_rows - warmup_rows) & next_exists,
                F.array(own, also_next),
            ).otherwise(F.array(own))
        ).alias("_cw"),
    ).select(
        *[F.col(c) for c in df.columns],
        F.col("_rn"),
        F.col("_cw.c").alias("_ck"),
        F.col("_cw.w").alias("_warm"),
    )
    cols = list(df.columns)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = _concat(batches)
        if pdf is None:
            return
        pdf = pdf.sort_values([by, "_ck", "_rn"], kind="mergesort").reset_index(drop=True)
        starts, ends = _group_bounds(pdf, [by, "_ck"])
        arrs = {c: pdf[c].to_numpy(dtype=np.float64) for c in src_cols}
        warm = pdf["_warm"].to_numpy()
        for s, e in zip(starts, ends):
            res = _call(kernel, arrs, new_cols, s, e, "grouped_apply_chunked")
            # warm rows strictly precede the chunk's own rows in _rn order,
            # so they are exactly the first n_warm rows of the slice
            w = s + int(warm[s:e].sum())
            if e > w:
                yield _attach(
                    pdf.iloc[w:e][cols], {k: res[k][w - s :] for k in new_cols}
                )

    return repartition_by_size(dup, by, "_ck").mapInPandas(
        run, schema=_output_schema(df, new_cols)
    )
