"""Streaming & incremental surface (SURVEY.md §2.9)."""

from x17a5_spark.streaming.incremental import incremental_todo
from x17a5_spark.streaming.events import windowed_event_counts

__all__ = ["incremental_todo", "windowed_event_counts"]
