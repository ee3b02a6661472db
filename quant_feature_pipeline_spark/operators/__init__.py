from .resample import resample_ohlcv, rolling_bars
from .asof import asof_join, asof_join_union_ffill, asof_join_bucketed
from .fill import grid_fill, ffill, bfill, clean_numeric
from .shift import lag_momentum, log_return, sliding_momentum, lead_shift, lag_shift, boundary_momentum
from .sessionize import sessionize, session_stats
from .dedup import dedup_exact, dup_groups
from .skew import add_salt, salted_agg, skewed_entity_report

__all__ = [
    "resample_ohlcv",
    "rolling_bars",
    "asof_join",
    "asof_join_union_ffill",
    "asof_join_bucketed",
    "grid_fill",
    "ffill",
    "bfill",
    "clean_numeric",
    "lag_momentum",
    "log_return",
    "sliding_momentum",
    "lead_shift",
    "lag_shift",
    "boundary_momentum",
    "sessionize",
    "session_stats",
    "dedup_exact",
    "dup_groups",
    "add_salt",
    "salted_agg",
    "skewed_entity_report",
]
