from .pipeline import (
    running_user_totals,
    session_agg,
    stream_dedup,
    stream_events,
    tumbling_daily,
)

__all__ = [
    "running_user_totals",
    "session_agg",
    "stream_dedup",
    "stream_events",
    "tumbling_daily",
]
