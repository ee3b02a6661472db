from .indicators import (
    sma,
    bollinger_width,
    roc_momentum,
    realized_vol,
    rolling_zscore,
)
from .recurrence import compute_recurrence_indicators
from .rank import rolling_percentile_rank
from .normalize import winsorize_tanh, tanh_compress, power_calibrate
from .timefeat import time_encodings

__all__ = [
    "sma",
    "bollinger_width",
    "roc_momentum",
    "realized_vol",
    "rolling_zscore",
    "compute_recurrence_indicators",
    "rolling_percentile_rank",
    "winsorize_tanh",
    "tanh_compress",
    "power_calibrate",
    "time_encodings",
]
