from .stateful import latest_user_totals, stateful_user_totals_stream
from .worker import (
    HeartbeatListener,
    dedup_stream,
    enriched_window_stream,
    idf_count_stream,
    interval_join_stream,
    merge_stream,
    session_window_stream,
    state_scoped_partitions,
    tumbling_window_stream,
    upsert_stream,
    vectorize_stream,
)

__all__ = [
    "HeartbeatListener",
    "dedup_stream",
    "enriched_window_stream",
    "idf_count_stream",
    "interval_join_stream",
    "merge_stream",
    "latest_user_totals",
    "session_window_stream",
    "state_scoped_partitions",
    "stateful_user_totals_stream",
    "tumbling_window_stream",
    "upsert_stream",
    "vectorize_stream",
]
