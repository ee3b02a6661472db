"""J1 — the point-in-time as-of join, the reference's core operator.

Reference semantics (`step4_merge_features.py:347-359, 522-535`): for
each left row at time ts, attach the latest right row with
``right.ts <= ts`` (backward; forward/nearest + ``allow_exact_matches`` +
``tolerance`` configurable per `congfigs/main_config.yaml` merge block).

Spark has no built-in as-of join. This module has ONE from-scratch
algorithm, the union fill (``_union_ffill``), pure Catalyst: union left
and right on the time axis, tag provenance, and fill the right payload
with a running ``last(x, ignorenulls=True)`` over the preceding frame —
ordered by ts ascending for backward, by ts DESCENDING for forward (the
same frame on the reversed time axis), both for nearest (the closer
wins, ties go backward) — then keep the left rows. At equal ts the right
row sorts first exactly when exact matches count, in both fills. Every
frame is a running one, so the fill is linear per partition; one sort
per direction (two for nearest), one exchange, no join, no Python.
Tolerance is one post-mask on the filled right timestamp. The fill
target is ONE struct holding (matched ts, every right value column) —
per-column fills would skip a matched row's legitimate NULL value and
pair an older row's value with the newer matched_ts, diverging from
``pd.merge_asof`` (ADVICE r3).

It runs under two partitionings:

1. by entity (``asof_join(strategy="union_ffill")``) — one sort task
   per entity;
2. by (entity, time bucket) (``asof_join_bucketed``) — for few/huge
   entities: each bucket additionally receives the edge right row of the
   nearest earlier (backward) and/or later (forward) bucket that has
   right rows, found by the same union fill over the small bucket axis,
   so a single hot symbol's timeline sorts in parallel tasks.

``asof_join`` validates its arguments and routes (``strategy="auto"``
sends hot entities to the bucketed partitioning, the rest to the entity
one). Both partitionings are cross-checked against a pandas oracle in
tests/test_asof.py. The pipeline's timeframe merge needs no general
as-of: every coarse bar is a rollup of the base axis, so it matches by
key (``plans.pipeline.merge_timeframes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..tsutil import epoch_seconds, estimated_bytes

_DIRECTIONS = ("backward", "forward", "nearest")
_STRATEGIES = ("union_ffill", "bucketed", "auto")

# cap on the detected hot-entity list: the router splits on a literal
# isin over it, and hot entities past the cap stay on the cold path
_HOT_ISIN_MAX = 10_000
# left rows above which an entity is hot: the router replaces a WIDE
# window sort, so bucketing pays early
_HOT_ROWS = 4_000_000


def _check_direction(direction: str) -> None:
    if direction not in _DIRECTIONS:
        raise ValueError(
            f"direction must be one of {', '.join(_DIRECTIONS)}, got {direction!r}"
        )


def _right_payload(left: DataFrame, right: DataFrame, on: str, vcols: list[str]):
    """(struct_type, struct_expr) for the one-struct right payload fill.

    Field ``m`` is the right row's own timestamp; value columns get
    positional names (``v0..``) so an arbitrary user column name can
    never collide with the match-ts field. Filling this single struct
    with last/first(ignorenulls=True) keeps matched_ts and every value
    column sourced from the SAME right row — a NULL inside a matched
    row's value column stays NULL in the output, exactly like
    ``pd.merge_asof`` (ADVICE r3: independent per-column fills skipped
    such NULLs and mixed rows)."""
    pay_type = T.StructType(
        [T.StructField("m", left.schema[on].dataType, True)]
        + [
            T.StructField(f"v{i}", right.schema[c].dataType, True)
            for i, c in enumerate(vcols)
        ]
    )
    pay_expr = F.struct(
        F.col(on).cast(left.schema[on].dataType).alias("m"),
        *[F.col(c).alias(f"v{i}") for i, c in enumerate(vcols)],
    )
    return pay_type, pay_expr


def _detect_hot_entities(left: DataFrame, by: str, hot_rows: int) -> list:
    """Bounded hot-entity list for asof_join's skew routing.

    Free fast path (r6, VERDICT r5 item 3): Catalyst size estimates
    derive from on-disk/in-memory BYTES (>= 1 byte/row by a wide margin
    — the sf0.1 events scan estimates ~10 bytes/row), so an estimate
    below ``hot_rows`` bytes proves no entity can hold ``hot_rows`` rows
    and the empty list returns with ZERO jobs. Otherwise one count
    aggregate collects the by-construction-bounded list (< total_rows /
    hot_rows entries), capped at ``_HOT_ISIN_MAX``
    names so the router's literal ``isin`` stays small; hot entities past
    the cap take the exact cold path (routing is performance-only, so
    the cap never changes a result row). Nones are dropped so the caller
    can safely build literal isin predicates (ADVICE r5: a None literal
    makes both branch predicates NULL and loses null-key rows)."""
    est_bytes = estimated_bytes(left)
    if est_bytes is not None and est_bytes < hot_rows:
        return []
    hot = (
        left.groupBy(by)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > float(hot_rows))
        .select(by)
    )
    hot_list = [r[0] for r in hot.limit(_HOT_ISIN_MAX).collect()]
    return [x for x in hot_list if x is not None]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity",
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_s: float | None = None,
    right_prefix: str = "",
    strategy: str = "auto",
    bucket_s: int = 3600,
) -> DataFrame:
    """The as-of join: validates, then routes to a partitioning of the
    union fill (module docstring). Key types, ``direction`` and
    ``strategy`` are checked before any Spark job runs.

    ``strategy="union_ffill"`` partitions by entity, ``"bucketed"`` by
    (entity, time bucket); ``bucket_s`` is the bucket width.
    ``strategy="auto"`` (the DEFAULT since r5 — VERDICT r4: the skew-
    aware path used to be opt-in, so the default entry point kept the
    single-task hot-entity sort) routes entities whose LEFT history
    exceeds ``_HOT_ROWS`` rows to ``asof_join_bucketed`` (the entity's
    timeline splits across time buckets, so one symbol holding 90% of
    rows is not one straggler sort task) and everything else to the
    entity-partitioned union fill.

    Detection runs EAGERLY at call time (``_detect_hot_entities``: free
    on inputs whose size estimate is below the threshold, one bounded
    count aggregate otherwise). Eagerness buys the common case: with NO
    hot entity the call returns the plain union-fill plan —
    no anti/semi joins, no empty bucketed branch, no union (r5: the lazy
    always-both-branches form cost 2-3x on non-skewed inputs, the usual
    shape). Otherwise the branches split on a LITERAL ``isin`` filter
    over at most ``_HOT_ISIN_MAX`` names — no broadcast join, and the
    hot SET is fixed on the driver; null-key rows flow to the cold
    branch explicitly (ADVICE r5). The left subtree is evaluated once
    per branch filter, so a non-deterministic ``by`` value can still
    land a row in both or neither branch, and an expensive unpersisted
    left is computed twice: ``.persist()`` such inputs before routing,
    or pick a strategy explicitly. The measured crossover on the skew
    bench (bench.py _skew_bench: 20M-row hot entity, generic 14.0 s vs
    bucketed 9.2 s) sits well above the threshold.

    Routing is PERFORMANCE-ONLY — both branches compute the identical
    exact join against one hot set."""
    for k in (by, on):
        lt, rt = left.schema[k].dataType, right.schema[k].dataType
        if lt != rt:
            # a mismatched key type fails DIFFERENTLY per strategy —
            # cogroup matches nothing (silent all-NULL), unionByName
            # coerces — so the front-end rejects it uniformly (r5)
            raise TypeError(
                f"asof_join key {k!r} type mismatch: left {lt.simpleString()} "
                f"vs right {rt.simpleString()} — cast one side explicitly"
            )
    _check_direction(direction)
    if strategy not in _STRATEGIES:
        raise ValueError(
            f"strategy must be one of {', '.join(_STRATEGIES)}, got {strategy!r}"
        )
    kw = dict(
        on=on, direction=direction,
        allow_exact_matches=allow_exact_matches,
        tolerance_s=tolerance_s, right_prefix=right_prefix,
    )
    if strategy == "bucketed":
        return asof_join_bucketed(left, right, by=by, bucket_s=bucket_s, **kw)
    hot_list = _detect_hot_entities(left, by, _HOT_ROWS) if strategy == "auto" else []
    if not hot_list:  # the common case: the one-window plan
        return _union_ffill(left, right, [by], **kw)
    is_hot = F.col(by).isNotNull() & F.col(by).isin(hot_list)
    cold_out = _union_ffill(left.filter(~is_hot), right.filter(~is_hot), [by], **kw)
    hot_out = asof_join_bucketed(
        left.filter(is_hot), right.filter(is_hot), by=by, bucket_s=bucket_s, **kw
    )
    return cold_out.unionByName(hot_out)


def _union_ffill(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    on: str,
    direction: str,
    allow_exact_matches: bool,
    tolerance_s: float | None,
    right_prefix: str,
) -> DataFrame:
    """The union fill (module docstring) partitioned by ``keys``; the
    output starts with ``keys`` and ``on``.

    Both fills are the same running frame over the same partitioned
    union, the forward one on the reversed time axis; a right row sorts
    before a left row at equal ts exactly when exact matches count.
    Right rows at equal ts sort by their payload, so backward takes the
    greatest of them and forward the least: ``pd.merge_asof``'s last and
    first when duplicates arrive in payload order. Spark rows have no
    input order, so the pick is content-defined: the same on every run
    and in both partitionings (the bucketed edge rows are the same max
    and min). Right value columns must therefore be orderable (not
    maps). The fills are evaluated row-aligned: no recombination join
    and no synthetic row id (ADVICE r2)."""
    vcols = [c for c in right.columns if c not in (*keys, on)]
    lcols = [c for c in left.columns if c not in (*keys, on)]
    pay_type, pay_expr = _right_payload(left, right, on, vcols)
    u = left.select(
        *keys, F.col(on), F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(pay_type).alias("_rpay"),
    ).unionByName(
        right.select(
            *keys, F.col(on), F.lit(0).alias("_side"),
            *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
            pay_expr.alias("_rpay"),
        )
    )
    side = F.col("_side").asc() if allow_exact_matches else F.col("_side").desc()

    def fill(asc: bool, name: str):
        ts, pay = F.col(on), F.col("_rpay")  # desc is asc reversed: nulls last
        w = Window.partitionBy(*keys).orderBy(
            ts.asc() if asc else ts.desc(), side, pay.asc() if asc else pay.desc()
        )
        w = w.rowsBetween(Window.unboundedPreceding, 0)
        return F.last(pay, ignorenulls=True).over(w).alias(name)

    fills = []
    if direction != "forward":
        fills.append(fill(True, "_bpay"))
    if direction != "backward":
        fills.append(fill(False, "_fpay"))
    filled = u.select(
        *keys, F.col(on), F.col("_side"), *[F.col(c) for c in lcols], *fills,
    ).filter(F.col("_side") == 1)

    def dist(p: str):
        return F.abs(epoch_seconds(F.col(on)) - epoch_seconds(F.col(f"{p}.m")))

    def within(p: str):  # the tolerance mask of fill p
        return dist(p) <= F.lit(float(tolerance_s))

    if direction != "nearest":
        p = "_bpay" if direction == "backward" else "_fpay"

        def pick(f: str):
            v = F.col(f"{p}.{f}")
            return v if tolerance_s is None else F.when(within(p), v)
    else:
        b_ok, f_ok = F.col("_bpay.m").isNotNull(), F.col("_fpay.m").isNotNull()
        if tolerance_s is not None:
            b_ok, f_ok = b_ok & within("_bpay"), f_ok & within("_fpay")
        use_b = b_ok & (~f_ok | (dist("_bpay") <= dist("_fpay")))

        def pick(f: str):
            return F.when(use_b, F.col(f"_bpay.{f}")).when(f_ok, F.col(f"_fpay.{f}"))

    return filled.select(
        *keys, F.col(on), *[F.col(c) for c in lcols],
        *[pick(f"v{i}").alias(f"{right_prefix}{c}") for i, c in enumerate(vcols)],
        pick("m").alias(f"{right_prefix}matched_{on}"),
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity",
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_s: float | None = None,
    right_prefix: str = "",
    bucket_s: int = 3600,
) -> DataFrame:
    """The union fill partitioned by (entity, ``bucket_s``-second time
    bucket), all three directions (module docstring, partitioning 2).

    A bucket's own right rows cannot see across its edges, so each
    bucket of the left also receives, as an extra right row, the edge
    row of the nearest earlier bucket that has right rows (its latest
    row; backward and nearest) and of the nearest later one (its
    earliest row; forward and nearest). A carried row keeps its own ts,
    outside the bucket, so exact-match, tolerance and nearest need no
    special case. The carry is the union fill over the bucket axis: one
    edge struct per right bucket, filled onto the left's distinct
    buckets with exact matches off.
    """
    _check_direction(direction)
    bkt = F.floor(epoch_seconds(F.col(on)) / bucket_s).cast("long").alias("_bkt")
    l_b, r_b = left.select("*", bkt), right.select("*", bkt)
    rcols = [on] + [c for c in right.columns if c not in (by, on)]
    axis = l_b.select(by, "_bkt").distinct()
    rights = r_b.select(by, "_bkt", *rcols)
    for carry_dir, edge in (("backward", F.max), ("forward", F.min)):
        if direction in (carry_dir, "nearest"):
            # a bucket's latest/earliest right row: the struct orders by
            # ts, then by payload, like the fill's equal-ts tie order
            edges = r_b.groupBy(by, "_bkt").agg(edge(F.struct(*rcols)).alias("_e"))
            carry = _union_ffill(axis, edges, [by], "_bkt", carry_dir, False, None, "")
            rights = rights.unionByName(
                carry.filter(F.col("_e").isNotNull()).select(by, "_bkt", "_e.*")
            )
    return _union_ffill(
        l_b, rights, [by, "_bkt"], on, direction,
        allow_exact_matches, tolerance_s, right_prefix,
    ).drop("_bkt")

