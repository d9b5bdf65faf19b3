"""Structured Streaming layer (Tier C13).

The batch queries in ``operators.windows_time`` pin the semantics
(oracle-checked); this package runs the same plans through the actual
streaming engine — ``readStream`` file source → windowed/stateful
transformations → memory sink — proving batch/stream equivalence, plus
the streaming-only operators (watermarked late-data handling,
``dropDuplicatesWithinWatermark``).
"""

from reindexer_spark.streaming.runner import (
    drive_stream,
    run_stream_to_memory,
    stream_documents,
    stream_events,
)
from reindexer_spark.streaming.stateful import quota_alerts

__all__ = [
    "drive_stream",
    "quota_alerts",
    "run_stream_to_memory",
    "stream_documents",
    "stream_events",
]
