from .resample import resample_ohlcv, rolling_bars
from .asof import asof_join, asof_join_bucketed
from .fill import grid_fill_ranges, ffill, bfill
from .shift import log_return, boundary_momentum
from .sessionize import sessionize, session_stats
from .dedup import dedup_exact
from .skew import add_salt, salted_agg

__all__ = [
    "resample_ohlcv",
    "rolling_bars",
    "asof_join",
    "asof_join_bucketed",
    "grid_fill_ranges",
    "ffill",
    "bfill",
    "log_return",
    "boundary_momentum",
    "sessionize",
    "session_stats",
    "dedup_exact",
    "add_salt",
    "salted_agg",
]
