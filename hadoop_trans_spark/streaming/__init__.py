"""Structured Streaming surface (SURVEY §2B E37–E41).

Batch tables become streams via the file source; every job starts in
``run_stream``, which sets ``trigger(availableNow=True)`` so a finite
fixture directory produces a deterministic final state that a batch
DuckDB oracle can reproduce. ``restart_harness`` stops a job and resumes
it from the same checkpoint (q250, q254, tools/stream_probe.py).
"""

from .jobs import (
    late_data_drop,
    read_events_stream,
    restart_harness,
    run_to_memory,
    chained_windowed_rollup,
    session_windows,
    sliding_counts,
    stream_dedup,
    stream_migrate,
    stream_static_enrich,
    stream_stream_join,
    stream_upsert_sink,
    tumbling_counts,
    user_streaks,
    user_streaks_updates,
    complete_totals_stream,
)

__all__ = [
    "read_events_stream",
    "run_to_memory",
    "restart_harness",
    "tumbling_counts",
    "sliding_counts",
    "chained_windowed_rollup",
    "session_windows",
    "stream_dedup",
    "stream_migrate",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_upsert_sink",
    "late_data_drop",
    "user_streaks",
    "user_streaks_updates",
    "complete_totals_stream",
]
