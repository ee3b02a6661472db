"""W4 — rolling percentile rank, the reference's one custom JIT kernel.

Semantics (`/root/reference/step5_featueres_unified.py:104-154`): for each
row, the mid-rank of the current value within the trailing ``window``
values: ``(count_less + 0.5*count_equal)/count``, clipped to
[0.01, 0.99]; warm-up (fewer than ``min_periods`` values) → NaN.

No Spark built-in computes a rolling rank, so this is a grouped Arrow
stage (functions/grouped.py) with an O(N·W) vectorized numpy kernel (a
sliding-window broadcast compare, chunked to bound memory) — the Spark
analog of the reference's numba kernel. Bounded windows keep the cost
linear in N at fixed W (SURVEY.md §7.3.6).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from .grouped import grouped_apply


def _rank_kernel(x: np.ndarray, window: int, min_periods: int) -> np.ndarray:
    """Fully vectorized O(N·W): NaN-pad the head so sliding_window_view
    covers EVERY row (warm-up rows see leading NaNs, which the validity
    mask drops — identical to an expanding window), then broadcast
    compare in chunks of ~4M cells — the numpy analog of the reference's
    numba kernel (`step5_featueres_unified.py:103-127`)."""
    n = len(x)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    with np.errstate(invalid="ignore"):
        padded = np.concatenate([np.full(window - 1, np.nan), x])
        sw = np.lib.stride_tricks.sliding_window_view(padded, window)
        chunk = max(1, (1 << 22) // window)  # ~4M cells per chunk
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            blk = sw[s:e]
            c = x[s:e, None]
            valid = ~np.isnan(blk)
            cnt = valid.sum(axis=1)
            less = ((blk < c) & valid).sum(axis=1)
            equal = ((blk == c) & valid).sum(axis=1)
            ok = (cnt >= min_periods) & ~np.isnan(x[s:e])
            vals = (less + 0.5 * equal) / np.maximum(cnt, 1)
            out[s:e] = np.where(ok, vals, np.nan)
    return np.clip(out, 0.01, 0.99, out=out)


def rolling_percentile_rank(
    df: DataFrame,
    src: str,
    window: int,
    by: str = "entity",
    ts_col: str = "ts",
    out: str | None = None,
) -> DataFrame:
    """Mid-rank of ``src`` over the trailing ``window`` rows per entity;
    NaN until ``max(2, window // 2)`` values are in the window."""
    out_name = out or f"{src}_rank{window}"
    mp = max(2, window // 2)
    # lookback_rows: rank is a HARD window — auto-chunking must replay
    # >= window-1 rows or boundary rows silently corrupt (ADVICE r4)
    return grouped_apply(
        df, by, ts_col, [src],
        lambda sl: {out_name: _rank_kernel(sl[src], window, mp)},
        [out_name], lookback_rows=window,
    )


def rolling_rank_multi(
    df: DataFrame,
    specs: list[tuple[str, int, int, str]],
    by: str = "entity",
    ts_col: str = "ts",
    prepartitioned: bool = False,
) -> DataFrame:
    """Many rolling ranks in ONE grouped Arrow stage.

    ``specs`` = [(src_col, window, min_periods, out_col), ...]. The
    flagship contract needs 24 rank kernels (4 tfs × {atr, bb_width,
    volume} × fast/slow); computing them in a single grouped pass costs
    one shuffle+sort instead of 24 (`step5_featueres_unified.py:547-587,
    810-883` run the same kernels serially over one in-memory frame)."""
    return grouped_apply(
        df, by, ts_col, sorted({s[0] for s in specs}),
        lambda sl: {
            out: _rank_kernel(sl[src], window, mp)
            for src, window, mp, out in specs
        },
        [s[3] for s in specs],
        lookback_rows=max(w for _, w, _, _ in specs),
        prepartitioned=prepartitioned,
    )

