from .micro import stream_bars_from_dir, streaming_resample, streaming_session_counts
from .stateful import streaming_asof_buffered

__all__ = [
    "stream_bars_from_dir",
    "streaming_resample",
    "streaming_session_counts",
    "streaming_asof_buffered",
]
