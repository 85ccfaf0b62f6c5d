"""Structured Streaming layer (SURVEY.md §7.2 M5) — the idiomatic
upgrade of the reference's 1-second polling loop."""

from etl_spark.streaming.monitor import (
    dedup_stream,
    stream_events,
    windowed_event_counts,
    run_threshold_monitor,
)
from etl_spark.streaming.neardup import neardup_filter_batch, run_neardup_ingest
from etl_spark.streaming.stateful import sessionize_stream
from etl_spark.streaming.sinks import (
    enrich_stream,
    interval_join,
    run_merge_sink,
)

__all__ = [
    "dedup_stream",
    "stream_events",
    "windowed_event_counts",
    "run_threshold_monitor",
    "neardup_filter_batch",
    "run_neardup_ingest",
    "sessionize_stream",
    "enrich_stream",
    "interval_join",
    "run_merge_sink",
]
