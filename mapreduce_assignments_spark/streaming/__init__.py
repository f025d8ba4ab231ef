"""Structured Streaming operators (see stream_ops)."""

from .stream_ops import (  # noqa: F401
    EVENTS_SCHEMA,
    maintain_snapshot,
    read_events_stream,
    replay_sessions_to_parquet,
    run_replay,
    run_to_memory,
    streaming_enriched_counts,
    streaming_exact_dedup,
    streaming_interval_join,
    streaming_sliding_counts,
    streaming_session_stats,
    streaming_hourly_counts,
    streaming_user_sessions,
)

__all__ = [
    "read_events_stream",
    "streaming_hourly_counts",
    "streaming_user_sessions",
    "streaming_exact_dedup",
    "maintain_snapshot",
    "streaming_enriched_counts",
    "streaming_sliding_counts",
    "streaming_interval_join",
    "replay_sessions_to_parquet",
    "EVENTS_SCHEMA",
    "run_replay",
    "run_to_memory",
    "streaming_session_stats",
]
