"""DuckDB oracle for the 45-feature flagship contract.

Generates ONE standalone SQL statement that recomputes q_flagship_features
from the raw ``events`` view, replicating the Spark engine's float
arithmetic closely enough that round-6 values hash-match:

- hierarchical resample: 3m from ticks (closed-left), 15m/30m/2h rolled
  up closed-right (the -1 µs boundary shift), labels = bucket end
- per-tf recurrences (Wilder RSI + run-length events, ATR, SuperTrend)
  as recursive CTEs whose per-step updates replicate pandas
  ``ewm(adjust=False)`` bit-for-bit (see __spark_entry__._ewm_sql notes)
- the engine's prefix-sum window stats (the S/Q folds of
  ``window_indicator_layers``) carried IN the recursion as exact
  sequential adds, then differenced with LAG — the same fl-op sequence
  Spark's cumulative window frame performs
- backward as-of merge via DuckDB ASOF LEFT JOIN (exact matches allowed)
- rolling mid-ranks via a bounded self-join producing the identical
  (less + 0.5·equal)/count rationals the numpy kernel emits
- global stats (2-98 % atr clip, q95 → γ, return winsorize + σ) computed
  with quantile_cont/stddev_pop; residual engine-libm ulps only flip a
  round-6 boundary with probability ~1e-9 per value

Engine reference points: plans/flagship.py (assembly),
functions/indicators.py (window_indicator_layers), functions/recurrence.py
(folds), operators/resample.py (bucketing), operators/asof.py (merge).
"""

from __future__ import annotations

import math

from ..config import (
    ATR_WINDOW,
    BB_STD,
    BB_WINDOW,
    MOM_TANH_SCALE,
    MOM_WINDOW,
    RSI_EVENT_THRESHOLD,
    RSI_MIN_PERSIST,
    RSI_WINDOW,
    RV_WINDOWS,
    SUPERTREND_MULT,
    SUPERTREND_PERIOD,
    tf_seconds,
)
from . import flagship as FL

TFS = ("3m", "15m", "30m", "2h")
BASE = "3m"
RSI_TFS = ("3m", "15m", "30m")
TF_MIN = {"3m": 3, "15m": 15, "30m": 30, "2h": 120}
ROLLUP_SRC = {"15m": "3m", "30m": "15m", "2h": "30m"}  # finest even divisor


def _ewm(prev: str, cur: str, alpha: float) -> str:
    oma = 1.0 - alpha
    den = oma + alpha
    return (
        f"CASE WHEN {prev} = {cur} THEN {prev} "
        f"ELSE ({oma!r} * {prev} + {alpha!r} * {cur}) / {den!r} END"
    )


def _bars_ctes() -> str:
    parts = [
        f"""
        b_3m AS (
          SELECT CAST(user_id AS VARCHAR) AS entity,
                 time_bucket(INTERVAL {TF_MIN['3m']} MINUTE, ts)
                   + INTERVAL {TF_MIN['3m']} MINUTE AS ts,
                 arg_min(value, ts) AS open, max(value) AS high,
                 min(value) AS low, arg_max(value, ts) AS close,
                 sum(1.0::DOUBLE) AS volume
          FROM events GROUP BY 1, 2
        )"""
    ]
    for tf in ("15m", "30m", "2h"):
        src = ROLLUP_SRC[tf]
        parts.append(
            f"""
        b_{tf} AS (
          SELECT entity,
                 time_bucket(INTERVAL {TF_MIN[tf]} MINUTE, ts - INTERVAL 1 MICROSECOND)
                   + INTERVAL {TF_MIN[tf]} MINUTE AS ts,
                 arg_min(open, ts) AS open, max(high) AS high,
                 min(low) AS low, arg_max(close, ts) AS close,
                 sum(volume) AS volume
          FROM b_{src} GROUP BY 1, 2
        )"""
        )
    for tf in TFS:
        parts.append(
            f"""
        rb_{tf} AS (
          SELECT *, row_number() OVER (PARTITION BY entity ORDER BY ts) AS rn
          FROM b_{tf}
        )"""
        )
    return ",".join(parts)


def _rec_cte(tf: str) -> str:
    """Recursive fold per tf: RSI gains/losses, ATR, SuperTrend bands,
    RSI-event run lengths, and the window_indicator_layers S/Q folds for close
    (bollinger) and log-return (realized vol)."""
    a14 = 1.0 / RSI_WINDOW
    a_atr = 1.0 / ATR_WINDOW
    a_st = 1.0 / SUPERTREND_PERIOD
    thr, mult = RSI_EVENT_THRESHOLD, SUPERTREND_MULT
    return f"""
        rec_{tf} AS (
          SELECT entity, ts, rn, close AS pc, close,
                 0.0::DOUBLE AS ag, 0.0::DOUBLE AS al,
                 high - low AS atr, high - low AS st_atr,
                 ((high + low) / 2.0) + ({mult!r} * (high - low)) AS f_up,
                 ((high + low) / 2.0) - ({mult!r} * (high - low)) AS f_dn,
                 1.0::DOUBLE AS dir, CAST(NULL AS DOUBLE) AS rsi_r,
                 0 AS ob_run, 0 AS os_run,
                 close AS s_c, close * close AS q_c,
                 0.0::DOUBLE AS s_lr, 0.0::DOUBLE AS q_lr, 0 AS c_lr
          FROM rb_{tf} WHERE rn = 1
          UNION ALL
          SELECT entity, ts, rn, close AS pc, close, ag, al, atr, st_atr,
                 f_up, f_dn,
                 CASE WHEN p_dir > 0
                      THEN CASE WHEN close < f_dn THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END
                      ELSE CASE WHEN close > f_up THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END
                 END AS dir,
                 rsi_r, ob_run, os_run, s_c, q_c, s_lr, q_lr, c_lr
          FROM (
            SELECT *,
                   CASE WHEN up < p_f_up OR pc > p_f_up THEN up ELSE p_f_up END AS f_up,
                   CASE WHEN dn > p_f_dn OR pc < p_f_dn THEN dn ELSE p_f_dn END AS f_dn,
                   CASE WHEN rsi_r >= {thr!r} THEN p_ob_run + 1 ELSE 0 END AS ob_run,
                   CASE WHEN rsi_r <= -{thr!r} THEN p_os_run + 1 ELSE 0 END AS os_run
            FROM (
              SELECT *,
                     ((high + low) / 2.0) + ({mult!r} * st_atr) AS up,
                     ((high + low) / 2.0) - ({mult!r} * st_atr) AS dn,
                     CASE WHEN al = 0 THEN 100.0
                          ELSE ((100.0 - 100.0 / (1.0 + ag / al)) - 50.0) * 2.0
                     END AS rsi_r
              FROM (
                SELECT *,
                       {_ewm("p_ag", "gain", a14)} AS ag,
                       {_ewm("p_al", "loss", a14)} AS al,
                       {_ewm("p_atr", "tr", a_atr)} AS atr,
                       {_ewm("p_st_atr", "tr", a_st)} AS st_atr,
                       p_s_c + close AS s_c,
                       p_q_c + close * close AS q_c,
                       p_s_lr + CASE WHEN lr IS NOT NULL THEN lr ELSE 0.0 END AS s_lr,
                       p_q_lr + CASE WHEN lr IS NOT NULL THEN lr * lr ELSE 0.0 END AS q_lr,
                       p_c_lr + CASE WHEN lr IS NOT NULL THEN 1 ELSE 0 END AS c_lr
                FROM (
                  SELECT *,
                         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr,
                         greatest(close - pc, 0.0) AS gain,
                         greatest(pc - close, 0.0) AS loss,
                         CASE WHEN pc > 0 AND close > 0 THEN ln(close / pc) END AS lr
                  FROM (
                    SELECT r.entity, b.ts, b.rn, b.high, b.low, b.close, r.pc,
                           r.ag AS p_ag, r.al AS p_al, r.atr AS p_atr,
                           r.st_atr AS p_st_atr, r.f_up AS p_f_up,
                           r.f_dn AS p_f_dn, r.dir AS p_dir,
                           r.ob_run AS p_ob_run, r.os_run AS p_os_run,
                           r.s_c AS p_s_c, r.q_c AS p_q_c,
                           r.s_lr AS p_s_lr, r.q_lr AS p_q_lr,
                           r.c_lr AS p_c_lr
                    FROM rec_{tf} r JOIN rb_{tf} b
                      ON b.entity = r.entity AND b.rn = r.rn + 1
                  )
                )
              )
            )
          )
        )"""


def _ind_ctes(tf: str) -> str:
    """Windowed layers over the recursion output: bollinger width,
    realized vol (rv_win20), roc momentum, RSI features, atr_pct."""
    n_bb, mp_bb = BB_WINDOW, max(10, BB_WINDOW // 2)
    n_rv = RV_WINDOWS[0]
    n_mom = MOM_WINDOW
    mp = RSI_MIN_PERSIST
    return f"""
        w_{tf} AS (
          SELECT *,
                 lag(s_c, {n_bb}) OVER wi_{tf} AS s_c_l,
                 lag(q_c, {n_bb}) OVER wi_{tf} AS q_c_l,
                 lag(s_lr, {n_rv}) OVER wi_{tf} AS s_lr_l,
                 lag(q_lr, {n_rv}) OVER wi_{tf} AS q_lr_l,
                 lag(c_lr, {n_rv}) OVER wi_{tf} AS c_lr_l,
                 lag(close, {n_mom}) OVER wi_{tf} AS close_lm
          FROM rec_{tf}
          WINDOW wi_{tf} AS (PARTITION BY entity ORDER BY rn)
        ),
        v_{tf} AS (
          SELECT *,
                 s_c - coalesce(s_c_l, 0.0) AS s_win,
                 q_c - coalesce(q_c_l, 0.0) AS q_win,
                 CAST(least(rn, {n_bb}) AS DOUBLE) AS cnt_c,
                 s_lr - coalesce(s_lr_l, 0.0) AS slr_win,
                 q_lr - coalesce(q_lr_l, 0.0) AS qlr_win,
                 -- count NON-NULL log returns in the window: a close <= 0
                 -- nulls two consecutive returns, so least(rn-1, n) would
                 -- over-count exactly where the data is degenerate (caught
                 -- by the sf0.1 scale-up gate; sf0.01 has no such rows)
                 CAST(c_lr - coalesce(c_lr_l, 0) AS DOUBLE) AS cnt_lr
          FROM w_{tf}
        ),
        ind_{tf} AS (
          SELECT entity, ts, close, dir, rsi_r,
                 CASE WHEN ob_run >= {mp} THEN 1.0
                      WHEN os_run >= {mp} THEN -1.0 ELSE 0.0 END AS rsi_event,
                 CASE WHEN ob_run >= {mp} THEN 1.0 ELSE 0.0 END AS rsi_ob,
                 CASE WHEN os_run >= {mp} THEN 1.0 ELSE 0.0 END AS rsi_os,
                 CASE WHEN close > 0 THEN atr / close END AS atr_pct,
                 CASE WHEN ma <> 0 THEN (2.0 * {BB_STD!r} * sqrt(bvar)) / ma END AS bb,
                 sqrt(rvvar) AS rv,
                 CASE WHEN close_lm IS NOT NULL AND close_lm <> 0
                      THEN close / close_lm - 1.0 END AS mom
          FROM (
            SELECT *,
                   CASE WHEN cnt_c >= {mp_bb} THEN s_win / cnt_c END AS ma,
                   CASE WHEN cnt_c >= {mp_bb} AND (cnt_c - 1) > 0
                        THEN greatest((q_win - s_win * s_win / cnt_c) / (cnt_c - 1), 0.0)
                   END AS bvar,
                   CASE WHEN cnt_lr >= 2 AND (cnt_lr - 1) > 0
                        THEN greatest((qlr_win - slr_win * slr_win / cnt_lr) / (cnt_lr - 1), 0.0)
                   END AS rvvar
            FROM v_{tf}
          )
        )"""


def _merged_cte() -> str:
    cols = ["b.entity", "b.ts", "b.close AS base_close", "b.volume AS base_volume"]
    for tf in TFS:
        a = f"i{tf}"
        cols += [
            f"{a}.close AS c_{tf}", f"{a}.dir AS dir_{tf}",
            f"{a}.rsi_r AS rsi_{tf}", f"{a}.rsi_event AS ev_{tf}",
            f"{a}.rsi_ob AS ob_{tf}", f"{a}.rsi_os AS os_{tf}",
            f"{a}.atr_pct AS ap_{tf}", f"{a}.bb AS bb_{tf}",
            f"{a}.rv AS rv_{tf}", f"{a}.mom AS mom_{tf}",
        ]
    joins = [f"LEFT JOIN ind_3m i3m ON b.entity = i3m.entity AND b.ts = i3m.ts"]
    for tf in ("15m", "30m", "2h"):
        joins.append(
            f"ASOF LEFT JOIN ind_{tf} i{tf} "
            f"ON b.entity = i{tf}.entity AND b.ts >= i{tf}.ts"
        )
    return f"""
        merged AS (
          SELECT {', '.join(cols)}
          FROM b_3m b
          {' '.join(joins)}
        )"""


def _prep_cte() -> str:
    mult = {tf: tf_seconds(tf) // tf_seconds(BASE) for tf in TFS}
    vs = []
    for tf in TFS:
        m = mult[tf]
        if m == 1:
            vs.append(f"base_volume AS vs_{tf}")
        else:
            vs.append(
                f"sum(base_volume) OVER (PARTITION BY entity ORDER BY ts "
                f"ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW) AS vs_{tf}"
            )
    srcs = []
    for tf in TFS:
        srcs.append(f"greatest(coalesce(bb_{tf}, 0.0), 0.0) AS bw_{tf}")
        srcs.append(f"greatest(coalesce(ap_{tf}, 0.0), 0.0) AS ax_{tf}")
    return f"""
        prep AS (
          SELECT *,
                 row_number() OVER (PARTITION BY entity ORDER BY ts) AS brn,
                 coalesce(CASE WHEN lag(base_close) OVER wb > 0 AND base_close > 0
                               THEN ln(base_close / lag(base_close) OVER wb) END,
                          0.0) AS ret,
                 {', '.join(vs)},
                 {', '.join(srcs)}
          FROM merged
          WINDOW wb AS (PARTITION BY entity ORDER BY ts)
        ),
        st1 AS (
          SELECT {', '.join(
              f"quantile_cont(ax_{tf}, {FL.ATR_CLIP_P[0]!r}) AS lo_{tf}, "
              f"quantile_cont(ax_{tf}, {FL.ATR_CLIP_P[1]!r}) AS hi_{tf}"
              for tf in TFS)},
                 quantile_cont(ret, {FL.RET_WINSOR_P[0]!r}) AS rlo,
                 quantile_cont(ret, {FL.RET_WINSOR_P[1]!r}) AS rhi
          FROM prep
        ),
        prep2 AS (
          SELECT p.*,
                 {', '.join(
                     f"CASE WHEN s.hi_{tf} > s.lo_{tf} "
                     f"THEN least(greatest(p.ax_{tf}, s.lo_{tf}), s.hi_{tf}) "
                     f"ELSE p.ax_{tf} END AS axc_{tf}, "
                     f"greatest(p.vs_{tf}, 0.0) AS vl_{tf}"
                     for tf in TFS)},
                 least(greatest(p.ret, s.rlo), s.rhi) AS retc
          FROM prep p CROSS JOIN st1 s
        )"""


def _rank_cte() -> str:
    mult = {tf: tf_seconds(tf) // tf_seconds(BASE) for tf in TFS}
    specs = []
    for tf in TFS:
        fw, sw = FL.RANK_FAST_BASE * mult[tf], FL.RANK_SLOW_BASE * mult[tf]
        specs += [
            (f"bw_{tf}", fw, f"bwrf_{tf}"), (f"bw_{tf}", sw, f"bwrs_{tf}"),
            (f"axc_{tf}", fw, f"axrf_{tf}"), (f"axc_{tf}", sw, f"axrs_{tf}"),
            (f"vl_{tf}", FL.VOL_RANK_BASE * mult[tf], f"vlr_{tf}"),
        ]
    maxw = max(w for _, w, _ in specs)
    aggs = []
    for col, w, out in specs:
        in_w = f"b.brn >= a.brn - {w - 1}"
        aggs.append(
            f"least(greatest((sum(CASE WHEN {in_w} AND b.{col} < a.{col} THEN 1 ELSE 0 END)"
            f" + 0.5 * sum(CASE WHEN {in_w} AND b.{col} = a.{col} THEN 1 ELSE 0 END))"
            f" / sum(CASE WHEN {in_w} THEN 1 ELSE 0 END), 0.01), 0.99) AS {out}"
        )
    group_cols = ["a.entity", "a.ts", "a.brn"] + [f"a.{c}" for c in sorted({s[0] for s in specs})]
    return f"""
        ranks AS (
          SELECT a.entity, a.ts,
                 {', '.join(aggs)}
          FROM prep2 a JOIN prep2 b
            ON a.entity = b.entity
           AND b.brn BETWEEN a.brn - {maxw - 1} AND a.brn
          GROUP BY {', '.join(group_cols)}
        ),
        fz AS (
          SELECT p.*, {', '.join(
              f"r.bwrf_{tf}, r.bwrs_{tf}, r.vlr_{tf}, "
              f"{FL.FUSE_W_FAST!r} * r.axrf_{tf} + {1.0 - FL.FUSE_W_FAST!r} * r.axrs_{tf} AS axf_{tf}"
              for tf in TFS)}
          FROM prep2 p JOIN ranks r ON p.entity = r.entity AND p.ts = r.ts
        ),
        st2 AS (
          SELECT {', '.join(
              f"quantile_cont(axf_{tf}, {FL.ATR_CALIB_P!r}) AS q_{tf}" for tf in TFS)},
                 stddev_pop(retc) AS ret_std
          FROM fz
        ),
        gam AS (
          SELECT {', '.join(
              f"CASE WHEN abs(1.0 - qq_{tf}) < 1e-6 THEN 1.0 "
              f"ELSE greatest({math.log(FL.ATR_CALIB_TARGET)!r} / ln(qq_{tf}), 1e-6) END AS g_{tf}"
              for tf in TFS)},
                 {FL.RET_TANH_FACTOR!r} * greatest(ret_std, 1e-12) AS ret_scale
          FROM (
            SELECT {', '.join(
                f"least(greatest(coalesce(q_{tf}, 0.5), 1e-6), {1.0 - 1e-6!r}) AS qq_{tf}"
                for tf in TFS)},
                   ret_std
            FROM st2
          )
        )"""




def _q6(expr: str) -> str:
    """Shared round-6 quantizer: floor(x*1e6 + 0.5)/1e6 — pure IEEE ops,
    so both engines produce the same double bit-for-bit (SQL round()
    breaks decimal ties differently between engines, and the rank
    rationals land exactly on .xxxxxx5 boundaries)."""
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"

def flagship_oracle_sql() -> str:
    """The full standalone oracle statement (round-6 output columns
    matching q_flagship_features, whose timeframes are ``TFS``)."""
    from ..functions.timefeat import DAY_COS6, DAY_SIN6, HOUR_COS6, HOUR_SIN6

    eps = FL.SHRINK_EPS
    scale_bb_a = 1.0 - 2.0 * eps

    def lut(vals, idx_expr):
        lst = "[" + ", ".join(repr(float(v)) for v in vals) + "]"
        return f"list_extract({lst}, ({idx_expr}) + 1)"

    out_cols = []
    for tf in TFS:
        out_cols += [
            f"{_q6(f'CASE WHEN dir_{tf} >= 0 THEN 1.0 ELSE -1.0 END')} AS \"{tf}_market_state\"",
            f"{_q6(f'1.0 - 2.0 / (exp(2.0 * (coalesce(mom_{tf}, 0.0) * {MOM_TANH_SCALE!r})) + 1.0)')}"
            f" AS \"{tf}_mom\"",
            f"{_q6(f'({FL.FUSE_W_FAST!r} * bwrf_{tf} + {1.0 - FL.FUSE_W_FAST!r} * bwrs_{tf}) * {scale_bb_a!r} + {eps!r}')}"
            f" AS \"{tf}_bb_width\"",
            f"{_q6(f'vlr_{tf}')} AS \"{tf}_volume\"",
            f"{_q6(f'least(greatest(pow(least(greatest(axf_{tf}, 0.0), 1.0), g_{tf}), {eps!r}), {1.0 - eps!r})')}"
            f" AS \"{tf}_atr_pct\"",
            f"{_q6(f'coalesce(rv_{tf}, 0.0)')} AS \"{tf}_rv\"",
            f"{_q6(f'c_{tf}')} AS \"{tf}_close\"",
        ]
    for tf in RSI_TFS:
        out_cols += [
            f"{_q6(f'least(greatest(coalesce(rsi_{tf}, 0.0) / 80.0, -1.0), 1.0)')} AS \"{tf}_rsi\"",
            f"{_q6(f'coalesce(ev_{tf}, 0.0)')} AS \"{tf}_rsi_event\"",
            f"{_q6(f'coalesce(ob_{tf}, 0.0)')} AS \"{tf}_rsi_overbought\"",
            f"{_q6(f'coalesce(os_{tf}, 0.0)')} AS \"{tf}_rsi_oversold\"",
        ]
    out_cols += [
        f"{lut(DAY_SIN6, '(dayofweek(ts) + 6) % 7')} AS time_day_sin",
        f"{lut(DAY_COS6, '(dayofweek(ts) + 6) % 7')} AS time_day_cos",
        f"{lut(HOUR_SIN6, 'hour(ts)')} AS time_hour_sin",
        f"{lut(HOUR_COS6, 'hour(ts)')} AS time_hour_cos",
        _q6("1.0 - 2.0 / (exp(2.0 * (retc / ret_scale)) + 1.0)") + " AS ret_3m_log",
    ]
    rec = ",".join(_rec_cte(tf) for tf in TFS)
    ind = ",".join(_ind_ctes(tf) for tf in TFS)
    return f"""
        WITH RECURSIVE
        {_bars_ctes()},
        {rec},
        {ind},
        {_merged_cte()},
        {_prep_cte()},
        {_rank_cte()}
        SELECT entity, ts, {', '.join(out_cols)}
        FROM fz CROSS JOIN gam
    """
