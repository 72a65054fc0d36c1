"""Structured Streaming surface (SURVEY §2B E37–E41).

Batch tables become streams via the file source; every job runs with
``trigger(availableNow=True)`` so a finite fixture directory produces a
deterministic final state that a batch DuckDB oracle can reproduce.
"""

from .jobs import (
    late_data_drop,
    read_events_stream,
    run_to_memory,
    chained_windowed_rollup,
    session_windows,
    sliding_counts,
    stream_dedup,
    stream_migrate,
    stream_static_enrich,
    stream_stream_join,
    stream_stream_left_join,
    stream_stream_full_outer_join,
    stream_upsert_sink,
    tumbling_counts,
    user_streaks,
    user_streaks_updates,
    complete_totals_stream,
)

__all__ = [
    "read_events_stream",
    "run_to_memory",
    "tumbling_counts",
    "sliding_counts",
    "chained_windowed_rollup",
    "session_windows",
    "stream_dedup",
    "stream_migrate",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_stream_left_join",
    "stream_stream_full_outer_join",
    "stream_upsert_sink",
    "late_data_drop",
    "user_streaks",
    "user_streaks_updates",
    "complete_totals_stream",
]
