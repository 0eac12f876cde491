"""Structured Streaming surface — the reference's converter made continuous
(SURVEY.md §2.2 "Streaming"; the reference itself executes nothing
streaming-shaped — its committed ``wal/`` segments are Prometheus artifacts
never read by ``hello.go``, and FrostDB's WAL option is commented out at
``hello.go:452``)."""

from .stateful import running_totals, streaming_counter_rate
from .windows import (
    bounded_replay,
    drain_available_now,
    read_events_stream,
    session_counts,
    session_counts_batch,
    stream_dedup,
    stream_interval_join,
    stream_interval_join_batch,
    tumbling_counts,
    tumbling_counts_batch,
    write_sorted_stream,
)

__all__ = [
    "running_totals",
    "bounded_replay",
    "drain_available_now",
    "streaming_counter_rate",
    "read_events_stream",
    "tumbling_counts",
    "tumbling_counts_batch",
    "session_counts",
    "session_counts_batch",
    "stream_dedup",
    "stream_interval_join",
    "stream_interval_join_batch",
    "write_sorted_stream",
]
