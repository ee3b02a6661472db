"""Timeframe parsing + pipeline configuration.

The reference duplicates a timeframe-string parser five times
(`/root/reference/step2_resample.py:160-295`, `tools/time_index.py:4-27`,
`tools/real_sliding_simple.py:19-27`, `step5_featueres_unified.py:42-52`,
`🧬test_rl_features.py:1011-1025`); here it is one utility.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TF_RE = re.compile(r"^(\d+)\s*(s|m|h|d)$")
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def tf_seconds(tf: str) -> int:
    """'3m' -> 180, '2h' -> 7200, '1d' -> 86400."""
    m = _TF_RE.match(tf.strip().lower())
    if not m:
        raise ValueError(f"unparseable timeframe: {tf!r}")
    return int(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def tf_interval(tf: str) -> str:
    """Spark `window()` duration string: '15m' -> '15 minutes'."""
    return f"{tf_seconds(tf)} seconds"


@dataclass
class PipelineConfig:
    """Configuration surface mirroring the reference's YAML tree
    (`/root/reference/congfigs/main_config.yaml`), minus I/O paths.
    """

    base_tf: str = "3m"
    resample_targets: tuple[str, ...] = ("3m", "15m", "30m", "2h")
    # merge (as-of join) options — reference `merge.align_direction`,
    # `merge.allow_exact_match`, step4 tolerance_ms
    align_direction: str = "backward"
    allow_exact_match: bool = True
    tolerance_ms: int | None = None
    # indicator parameters (reference congfigs/base_indicators.yaml)
    sma_windows: tuple[int, ...] = (5, 10, 20, 50, 100, 200)
    ema_spans: tuple[int, ...] = (7, 9, 12, 20, 26, 55, 100, 200)
    rsi_window: int = 14
    rsi_event_threshold: float = 40.0  # on the reshaped [-100,100] axis
    rsi_min_persist: int = 2
    macd_fast: int = 12
    macd_slow: int = 26
    macd_signal: int = 9
    bb_window: int = 20
    bb_std: float = 2.0
    mom_window: int = 14
    atr_window: int = 14
    supertrend_period: int = 10
    supertrend_mult: float = 3.0
    rv_windows: tuple[int, ...] = (20, 50, 100)
    # step5 normalization
    mom_tanh_scale: float = 30.0
