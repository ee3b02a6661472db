"""Flagship 45-feature contract — the reference's full NPZ observation
matrix re-expressed Spark-first.

The reference exports ``observations (N, 45) float32`` per
`/root/reference/📊 README_RL2_Featueres_特征数据.md` §2.2:

    45 = 4 tfs × 7  (market_state, mom, bb_width, volume, atr_pct, rv, close)
       + 3 tfs × 4  (rsi, rsi_event, rsi_overbought, rsi_oversold — no 2h RSI)
       + 4          (time_day_sin/cos, time_hour_sin/cos)
       + 1          (ret_{base}_log, winsorize+tanh governed)

Normalization per `step5_featueres_unified.py`:

- bb_width (`:547-587`): log1p → fused fast/slow rolling percentile rank
  (0.6/0.4, windows 25/100 × period multiplier) → scale to [ε, 1-ε], ε=0.03
- volume (`:595-657`): coarser-tf volume synthesized as a rolling sum of
  base volume over ``steps`` (min_periods=1), then log1p → rank(100 × mult)
- atr_pct (`:810-883`): log1p → global 2–98% clip → fused rank → one-sided
  power calibration (γ from q95^γ = 0.99) → clamp [ε, 1-ε]
- momentum (`:513-526`): tanh(mom × 30)
- return governance (`:1181-1235`): winsorize to global [p0.1, p99.9],
  tanh(x / (3·std(clipped)))

Scale design: volume synthesis is prefix-sum O(1)/row; ALL 20 rank
kernels run in ONE grouped Arrow stage over a narrow (key + 12 source
columns) projection and join back on (entity, ts), so the wide payload
never rides through Python; global stats are computed once per pass and
broadcast as literals (A6 contract — at 100 TB swap percentile for
percentile_approx; same one-job-then-broadcast shape).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..config import (
    ATR_WINDOW,
    RSI_WINDOW,
    RV_WINDOWS,
    PipelineConfig,
    tf_seconds,
)
from ..functions.indicators import window_indicator_layers
from ..functions.normalize import market_state, rsi_unit, tanh_compress
from ..functions.rank import rolling_rank_multi
from ..functions.timefeat import time_encodings_rounded
from ..operators.shift import log_return
from ..tsutil import repartition_by_size
from .features_contract import FeatureManifest, assemble_features, health_check
from .pipeline import indicator_table, merge_timeframes, resample_all

# reference step5 defaults (congfigs/step5_mapping.yaml equivalents)
RANK_FAST_BASE = 25
RANK_SLOW_BASE = 100
FUSE_W_FAST = 0.6
SHRINK_EPS = 0.03
VOL_RANK_BASE = 100
ATR_CLIP_P = (0.02, 0.98)
ATR_CALIB_P = 0.95
ATR_CALIB_TARGET = 0.99
RET_WINSOR_P = (0.001, 0.999)
RET_TANH_FACTOR = 3.0
RSI_MAX_TF_S = 3600  # no RSI features for tfs >= 1h (README §3.5)


def rsi_tfs(cfg: PipelineConfig) -> list[str]:
    return [tf for tf in cfg.resample_targets if tf_seconds(tf) < RSI_MAX_TF_S]


def flagship_feature_names(cfg: PipelineConfig | None = None) -> list[str]:
    """The ordered 45-name contract (4-tf default config)."""
    cfg = cfg or PipelineConfig()
    names: list[str] = []
    for tf in cfg.resample_targets:
        names += [
            f"{tf}_market_state", f"{tf}_mom", f"{tf}_bb_width",
            f"{tf}_volume", f"{tf}_atr_pct", f"{tf}_rv", f"{tf}_close",
        ]
    for tf in rsi_tfs(cfg):
        names += [
            f"{tf}_rsi", f"{tf}_rsi_event",
            f"{tf}_rsi_overbought", f"{tf}_rsi_oversold",
        ]
    names += ["time_day_sin", "time_day_cos", "time_hour_sin", "time_hour_cos"]
    names += [f"ret_{cfg.base_tf}_log"]
    return names


def _clip01(c: Column) -> Column:
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))


@dataclass
class FlagshipStats:
    """The flagship's global normalization statistics, persistable for
    train/serve determinism (SURVEY §7.3 hard part 5; the reference's
    ``per_period fixed_gamma`` in `congfigs/step5_mapping.yaml` — serve
    mode must reuse TRAIN-time winsor bounds and calibration γ, not
    recompute them on serving data). ``run_flagship(stats=...)`` skips
    both global-stats jobs and reproduces train-time features
    bit-for-bit; JSON round-trip is exact (repr shortest-float).

    Fields: ``ax_bounds`` tf -> (lo, hi) atr 2–98% clip bounds (None
    when undefined on the training data), ``ret_lo/ret_hi`` return
    winsor bounds, ``gammas`` tf -> power-calibration γ, ``ret_std``
    population σ of the winsorized return."""

    ax_bounds: dict[str, tuple[float | None, float | None]]
    ret_lo: float
    ret_hi: float
    gammas: dict[str, float]
    ret_std: float

    def to_json(self) -> str:
        return json.dumps(
            {
                "ax_bounds": {k: list(v) for k, v in self.ax_bounds.items()},
                "ret_lo": self.ret_lo,
                "ret_hi": self.ret_hi,
                "gammas": self.gammas,
                "ret_std": self.ret_std,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "FlagshipStats":
        d = json.loads(s)
        return cls(
            ax_bounds={
                k: (v[0], v[1]) for k, v in d["ax_bounds"].items()
            },
            ret_lo=d["ret_lo"],
            ret_hi=d["ret_hi"],
            gammas=d["gammas"],
            ret_std=d["ret_std"],
        )


def run_flagship(
    bars: DataFrame,
    cfg: PipelineConfig | None = None,
    by: str = "entity",
    ts_col: str = "ts",
    approx_percentiles: bool = False,
    stats: FlagshipStats | None = None,
    return_stats: bool = False,
) -> DataFrame:
    """bars → (entity, ts, <45 contract feature columns>) on the base axis.

    ``approx_percentiles`` swaps the two global-stats passes from exact
    ``F.percentile`` (a full sort of the stat column — required for the
    byte-exact oracle, fine at gate scale) to ``F.percentile_approx``
    (KLL-sketch at accuracy 10,000, one streaming pass, the 100 TB path).
    Approximate quantiles move the winsor/clip bounds by O(1e-4) quantile
    mass, so downstream features shift within the health-gate ranges but
    are no longer bit-comparable — keep False wherever the oracle runs
    (VERDICT r3 item 3 made this a real switch instead of a doc note).

    ``stats`` (serve mode): reuse persisted train-time global statistics
    — BOTH global-stats jobs are skipped, the serve-time plan has zero
    driver actions for stats, and features on shared history are
    bit-identical to the training run (train/serve determinism, the
    reference's fixed_gamma discipline). ``return_stats=True`` makes the
    training run return ``(DataFrame, FlagshipStats)``."""
    cfg = cfg or PipelineConfig()

    def pctl(col: str, p: float):
        if approx_percentiles:
            return F.percentile_approx(col, F.lit(p), F.lit(10_000))
        return F.percentile(col, F.lit(p))
    base_tf = cfg.base_tf
    ret_name = f"ret_{base_tf}_log"
    mult = {tf: tf_seconds(tf) // tf_seconds(base_tf) for tf in cfg.resample_targets}

    # stages 1-3 of the standard pipeline, keeping each tf's close for the
    # price group (P2 anti-projection normally drops right OHLCV).
    # One up-front entity partitioning feeds the whole chain (same
    # rationale as run_pipeline: HashPartitioning(entity) satisfies every
    # downstream clustering requirement, so later stages add no exchange).
    # Partition count derived from the input size estimate (r6, guide
    # §2.2): scale-adaptive — defaultParallelism partitions on small
    # inputs (measured: flagship first 27.8 -> ~22 s at sf0.1 when the
    # 2*cores pin went away), bytes/16MiB at scale — and deterministic
    # at plan time (tsutil.repartition_by_size; a bare AQE-coalescible
    # repartition was measured flipping the token job's wide stages to
    # too-few partitions on a near-boundary coalesce decision)
    bars = repartition_by_size(bars, by)
    tfs = resample_all(bars, cfg, by=by, ts_col=ts_col, persist=True)
    # the tf tables inherit the up-front entity hash layout (subset-key
    # distribution satisfaction leaves agg output partitioning at
    # hash(entity)), so every recurrence Arrow stage skips its own
    # repartition — same elision run_pipeline ships with (r5)
    wexprs = window_indicator_layers(by=by, ts_col=ts_col)
    inds = {
        tf: indicator_table(
            df, cfg, by=by, ts_col=ts_col, prepartitioned=True,
            window_exprs=wexprs,
        )
        for tf, df in tfs.items()
    }
    # volume synthesis + base log return on the NARROW base axis BEFORE
    # the merge (r6, guide §2.3 — project before the exchange/sort):
    # both depend only on (entity, ts, volume/close), which are base
    # columns, so computing them here sorts a 12-column frame once
    # instead of window-sorting the ~100-column merged frame after the
    # merge, whose match windows reuse this same sort (run_pipeline has
    # shipped log_return this way since r4). Same expressions on the
    # same rows — bit-identical.
    base = tfs[base_tf]
    wc_v = (
        Window.partitionBy(by)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wo_v = Window.partitionBy(by).orderBy(ts_col)
    xv = F.col("volume").cast("double")
    okv = xv.isNotNull() & ~F.isnan(xv)
    base = base.withColumn(
        "_vv_S", F.sum(F.when(okv, xv).otherwise(0.0)).over(wc_v)
    )
    base = base.withColumns(
        {
            f"_vs_{tf}": F.col("_vv_S")
            - F.coalesce(F.lag("_vv_S", mult[tf]).over(wo_v), F.lit(0.0))
            for tf in cfg.resample_targets
        }
    ).drop("_vv_S")
    base = log_return(base, src="close", out=ret_name, by=by, ts_col=ts_col)

    df = merge_timeframes(
        base, inds, cfg, by=by, ts_col=ts_col, keep_right_cols=("close",),
    )

    # rank-stage inputs + base log return (all JVM expressions).
    # The reference applies log1p before ranking; log1p is strictly
    # monotone, so the mid-rank is IDENTICAL on the raw values — ranking
    # raw skips a transform whose only effect would be collapsing
    # within-ulp pairs differently across engines (raw bb/atr/volume are
    # exact-float chains, so an external oracle reproduces them
    # bit-for-bit and the rank rationals match exactly)
    prep_cols: dict[str, Column] = {}
    for tf in cfg.resample_targets:
        bw = F.coalesce(F.col(f"{tf}_bb_width"), F.lit(0.0))
        prep_cols[f"_bw_{tf}"] = F.greatest(bw, F.lit(0.0))
        prep_cols[f"_vl_{tf}"] = F.greatest(F.col(f"_vs_{tf}"), F.lit(0.0))
        ax = F.coalesce(F.col(f"{tf}_atr{ATR_WINDOW}_pct"), F.lit(0.0))
        prep_cols[f"_ax_{tf}"] = F.greatest(ax, F.lit(0.0))
    # consumed by the stats pass, the rank branch, and the join-back —
    # without persistence Catalyst recomputes the merge per consumer
    df = df.withColumns(prep_cols).persist()

    # pass-1 global stats (one job, broadcast as literals): atr 2-98%
    # winsor bounds per tf + return winsorize bounds — or the persisted
    # train-time values in serve mode
    if stats is None:
        aggs = []
        for tf in cfg.resample_targets:
            aggs += [
                pctl(f"_ax_{tf}", ATR_CLIP_P[0]).alias(f"axlo_{tf}"),
                pctl(f"_ax_{tf}", ATR_CLIP_P[1]).alias(f"axhi_{tf}"),
            ]
        aggs += [
            pctl(ret_name, RET_WINSOR_P[0]).alias("ret_lo"),
            pctl(ret_name, RET_WINSOR_P[1]).alias("ret_hi"),
        ]
        s1 = df.agg(*aggs).first()
        ax_bounds = {
            tf: (
                float(s1[f"axlo_{tf}"]) if s1[f"axlo_{tf}"] is not None else None,
                float(s1[f"axhi_{tf}"]) if s1[f"axhi_{tf}"] is not None else None,
            )
            for tf in cfg.resample_targets
        }
        ret_lo = float(s1["ret_lo"]) if s1["ret_lo"] is not None else 0.0
        ret_hi = float(s1["ret_hi"]) if s1["ret_hi"] is not None else 0.0
    else:
        ax_bounds = stats.ax_bounds
        ret_lo, ret_hi = float(stats.ret_lo), float(stats.ret_hi)

    clip_cols: dict[str, Column] = {}
    for tf in cfg.resample_targets:
        lo, hi = ax_bounds.get(tf, (None, None))
        if lo is not None and hi is not None and hi > lo:
            clip_cols[f"_ax_{tf}"] = F.least(
                F.greatest(F.col(f"_ax_{tf}"), F.lit(float(lo))), F.lit(float(hi))
            )
    if clip_cols:
        df = df.withColumns(clip_cols)
    df = df.withColumn(
        "_retc",
        F.least(F.greatest(F.col(ret_name), F.lit(ret_lo)), F.lit(ret_hi)),
    )

    # ALL rank kernels in one grouped stage over a narrow projection
    specs: list[tuple[str, int, int, str]] = []
    for tf in cfg.resample_targets:
        fw, sw = RANK_FAST_BASE * mult[tf], RANK_SLOW_BASE * mult[tf]
        specs += [
            (f"_bw_{tf}", fw, 1, f"_bwrf_{tf}"),
            (f"_bw_{tf}", sw, 1, f"_bwrs_{tf}"),
            (f"_ax_{tf}", fw, 1, f"_axrf_{tf}"),
            (f"_ax_{tf}", sw, 1, f"_axrs_{tf}"),
            (f"_vl_{tf}", VOL_RANK_BASE * mult[tf], 1, f"_vlr_{tf}"),
        ]
    # narrow inherits entity-complete partitions from the persisted
    # merge/window chain (every upstream window requires and preserves
    # hash(entity)), so the rank Arrow stage skips its repartition too
    narrow = df.select(by, ts_col, *sorted({s[0] for s in specs}))
    ranked = rolling_rank_multi(
        narrow, specs, by=by, ts_col=ts_col, prepartitioned=True
    ).select(by, ts_col, *[s[3] for s in specs])
    # base axis is unique on (by, ts): plain equi-join re-attaches the
    # rank columns without the wide payload ever entering the Arrow stage
    df = df.join(ranked, [by, ts_col], "left")

    fused_cols: dict[str, Column] = {}
    for tf in cfg.resample_targets:
        fused_cols[f"_axf_{tf}"] = (
            FUSE_W_FAST * F.col(f"_axrf_{tf}")
            + (1.0 - FUSE_W_FAST) * F.col(f"_axrs_{tf}")
        )
    # the rank stage feeds pass-2 stats AND the final select
    df = df.withColumns(fused_cols).persist()

    # pass-2 global stats: q95 of each fused atr rank (γ solve) + std of
    # the winsorized return (population σ like np.std) — or train-time γ
    if stats is None:
        s2 = df.agg(
            *[
                pctl(f"_axf_{tf}", ATR_CALIB_P).alias(f"q_{tf}")
                for tf in cfg.resample_targets
            ],
            F.stddev_pop("_retc").alias("ret_std"),
        ).first()

        gammas: dict[str, float] = {}
        for tf in cfg.resample_targets:
            q = s2[f"q_{tf}"]
            q = min(max(float(q) if q is not None else 0.5, 1e-6), 1.0 - 1e-6)
            gammas[tf] = 1.0 if abs(1.0 - q) < 1e-6 else max(
                math.log(ATR_CALIB_TARGET) / math.log(q), 1e-6
            )
        ret_std = float(s2["ret_std"]) if s2["ret_std"] is not None else 0.0
    else:
        gammas = {tf: float(stats.gammas[tf]) for tf in cfg.resample_targets}
        ret_std = float(stats.ret_std)
    tanh_scale = RET_TANH_FACTOR * max(ret_std, 1e-12)

    # round-6 lookup variant: engine-libm-independent (see timefeat.py),
    # and 1e-6 granularity is harmless for [-1,1] features
    df = time_encodings_rounded(df, ts_col=ts_col)

    eps = SHRINK_EPS
    sel: list[Column] = [F.col(by), F.col(ts_col)]
    for tf in cfg.resample_targets:
        bw_fused = (
            FUSE_W_FAST * F.col(f"_bwrf_{tf}")
            + (1.0 - FUSE_W_FAST) * F.col(f"_bwrs_{tf}")
        )
        atr_cal = F.pow(_clip01(F.col(f"_axf_{tf}")), F.lit(gammas[tf]))
        sel += [
            market_state(F.col(f"{tf}_supertrend_direction")).alias(f"{tf}_market_state"),
            tanh_compress(F.coalesce(F.col(f"{tf}_mom"), F.lit(0.0))).alias(f"{tf}_mom"),
            (bw_fused * (1.0 - 2.0 * eps) + eps).alias(f"{tf}_bb_width"),
            F.col(f"_vlr_{tf}").alias(f"{tf}_volume"),
            F.least(F.greatest(atr_cal, F.lit(eps)), F.lit(1.0 - eps)).alias(f"{tf}_atr_pct"),
            F.coalesce(F.col(f"{tf}_rv_win{RV_WINDOWS[0]}"), F.lit(0.0)).alias(f"{tf}_rv"),
            F.col(f"{tf}_close").alias(f"{tf}_close"),
        ]
    for tf in rsi_tfs(cfg):
        rsi_n = rsi_unit(F.coalesce(F.col(f"{tf}_rsi{RSI_WINDOW}"), F.lit(0.0)))
        sel += [
            rsi_n.alias(f"{tf}_rsi"),
            F.coalesce(F.col(f"{tf}_rsi_event"), F.lit(0.0)).alias(f"{tf}_rsi_event"),
            F.coalesce(F.col(f"{tf}_rsi_overbought"), F.lit(0.0)).alias(f"{tf}_rsi_overbought"),
            F.coalesce(F.col(f"{tf}_rsi_oversold"), F.lit(0.0)).alias(f"{tf}_rsi_oversold"),
        ]
    sel += [
        F.col("time_day_sin"), F.col("time_day_cos"),
        F.col("time_hour_sin"), F.col("time_hour_cos"),
        F.tanh(F.col("_retc") / F.lit(tanh_scale)).alias(ret_name),
    ]
    out = df.select(*sel)
    if return_stats:
        return out, FlagshipStats(
            ax_bounds=ax_bounds, ret_lo=ret_lo, ret_hi=ret_hi,
            gammas=gammas, ret_std=ret_std,
        )
    return out


def run_flagship_contract(
    bars: DataFrame,
    cfg: PipelineConfig | None = None,
    by: str = "entity",
    ts_col: str = "ts",
) -> tuple[DataFrame, FeatureManifest]:
    """NPZ-equivalent output: (entity, ts, features array<float>) plus the
    manifest (names, groups, schema_sha) — `tools/export_utils.py:268-278`."""
    cfg = cfg or PipelineConfig()
    wide = run_flagship(bars, cfg, by=by, ts_col=ts_col)
    return assemble_features(wide, flagship_feature_names(cfg), by=by, ts_col=ts_col)


def flagship_health(
    wide: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Per-feature health gate over the contract ranges (A7)."""
    return health_check(wide, flagship_feature_names(cfg or PipelineConfig()))
