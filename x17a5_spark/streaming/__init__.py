"""Incremental re-run surface (SURVEY.md §2.9)."""

from x17a5_spark.streaming.incremental import incremental_todo

__all__ = ["incremental_todo"]
