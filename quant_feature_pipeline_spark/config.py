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


# indicator parameters (reference congfigs/base_indicators.yaml)
SMA_WINDOWS = (5, 10, 20, 50, 100, 200)
EMA_SPANS = (7, 9, 12, 20, 26, 55, 100, 200)
RSI_WINDOW = 14
RSI_EVENT_THRESHOLD = 40.0  # on the reshaped [-100,100] axis
RSI_MIN_PERSIST = 2
MACD_FAST = 12
MACD_SLOW = 26
MACD_SIGNAL = 9
BB_WINDOW = 20
BB_STD = 2.0
MOM_WINDOW = 14
ATR_WINDOW = 14
SUPERTREND_PERIOD = 10
SUPERTREND_MULT = 3.0
RV_WINDOWS = (20, 50, 100)
# step5 normalization
MOM_TANH_SCALE = 30.0


@dataclass
class PipelineConfig:
    """The timeframes of a run — the part of the reference's YAML tree
    (`congfigs/main_config.yaml`) a caller chooses. The indicator
    parameters are the module constants above, and the timeframe merge
    is always backward with exact matches and no tolerance.

    ``resample_targets[0]`` is the base axis every feature lands on, so
    ``base_tf`` must equal it. Every target must be a whole multiple of
    ``base_tf``: each coarse bar is then a rollup of whole base bars, which
    is what lets the timeframe merge match by key
    (``plans.pipeline.merge_timeframes``).
    """

    base_tf: str = "3m"
    resample_targets: tuple[str, ...] = ("3m", "15m", "30m", "2h")

    def __post_init__(self) -> None:
        if not self.resample_targets or self.base_tf != self.resample_targets[0]:
            raise ValueError(
                f"base_tf {self.base_tf!r} must be the first resample target, "
                f"got resample_targets={self.resample_targets!r}"
            )
        base_s = tf_seconds(self.base_tf)
        uneven = [tf for tf in self.resample_targets if tf_seconds(tf) % base_s]
        if uneven:
            raise ValueError(
                f"resample targets {uneven!r} are not whole multiples of "
                f"base_tf {self.base_tf!r}"
            )
