"""Structured Streaming surface: the foreachBatch MERGE drain and the
watermarked event-time window counts."""

from .incremental import stream_incremental_merge, windowed_event_counts

__all__ = ["stream_incremental_merge", "windowed_event_counts"]
