from .indicators import (
    apply_window_indicators,
    rolling_zscore,
    window_indicator_layers,
)
from .recurrence import compute_recurrence_indicators
from .rank import rolling_percentile_rank
from .normalize import tanh_compress
from .timefeat import time_encodings

__all__ = [
    "apply_window_indicators",
    "rolling_zscore",
    "window_indicator_layers",
    "compute_recurrence_indicators",
    "rolling_percentile_rank",
    "tanh_compress",
    "time_encodings",
]
