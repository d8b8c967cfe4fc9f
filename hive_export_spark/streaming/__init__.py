"""Structured Streaming: the reference's continuous-export semantics
re-expressed as micro-batch streaming (SURVEY.md sections 2.1 R1/R7/R9/R11,
3.3), plus the event-time operators the reference never needed (watermarks,
tumbling/sliding/session windows, stateful dedup — section 2.2).
"""

from hive_export_spark.streaming.pipeline import (
    session_window_agg,
    sliding_window_agg,
    streaming_dedup,
    streaming_export,
    tumbling_window_agg,
)

__all__ = [
    "session_window_agg",
    "sliding_window_agg",
    "streaming_dedup",
    "streaming_export",
    "tumbling_window_agg",
]
