"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary aggregation at
sf0.001; ``queries()`` exposes every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
gives the DuckDB-equivalent SQL for each hash-checkable query
(185 queries / 185 oracles — every registry entry is oracle-backed
since round 10, when the iterative BPE training kernel's fixed merge
rounds were unrolled into a closed-form CTE chain; its golden tests
under tests/ still independently recompute the merge table).

The queries run under the caller's SparkSession.
``spark.python.daemon.module`` is a static setting, read when the
SparkContext starts, so only a session built by
``x17a5_spark.session.get_spark`` starts its Python workers on
``x17a5_pyspark_daemon``. Under any other session the workers keep
Spark's default path: they import pyspark from ``pyspark.zip``, and each
Python task's ``importlib.invalidate_caches()`` re-reads the zip's
directory (0.14-0.25 s per task, measured on a 4-vCPU host).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from x17a5_spark.queries.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from x17a5_spark.queries import registry

    return registry()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each hash-checkable query."""
    from x17a5_spark.queries import registry

    return registry()[1]
