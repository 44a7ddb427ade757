"""Release of construction-time stage caches: a shim over ``clearCache``.

A handful of queries persist, at plan-construction time, stage tables
that their returned plan reads more than once (d3/d13 candidate tables,
e5's shingle indexes, s7/s8 trained codebooks, t30's eval slice, g1's
edge list — each a stand-in for a pre-materialized production stage
table). Spark's CacheManager owns those persists: a sweep consumer
releases them between queries with ``spark.catalog.clearCache()``.
That drops every registration and unpersists every cached block, even
while Python still holds the DataFrames; a plan over a cleared frame
still runs and recomputes it.

This module stays only because the frozen benchmark files
(``perfbench/workloads.py``, ``perfbench/profiles.py``) import
:func:`release_stage_caches`. Delete it at the next benchmark change.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_stage_caches() -> None:
    """``clearCache()`` on the active session."""
    SparkSession.getActiveSession().catalog.clearCache()
