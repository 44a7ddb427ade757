"""Skew-mitigation operators: salted joins and salted aggregation.

At 100 TB a handful of hot keys (a viral document source, a dominant
return-flag, a default user id) turn one reducer into the whole job's
critical path. The standard remedies are implemented here as
result-identical rewrites — the oracle for every salted query is the
PLAIN join/aggregate, so the driver's hash check proves the rewrite
changes the schedule, never the answer:

- ``salted_join(fact, dim, ...)``: fact rows get a deterministic salt in
  ``[0, n_salt)``; the (small) dim side is exploded ``n_salt`` times; the
  join key becomes ``(key, salt)`` so one hot key spreads across
  ``n_salt`` reducers. Use when the dim side is too big to broadcast but
  small enough to replicate ``n_salt`` times (the classic mid-size dim
  with a skewed fact).
- ``salted_aggregate(df, keys, ...)``: two-level aggregation — partial
  ``groupBy(keys + salt)`` (spreads a hot group across reducers, exactly
  what map-side combine does for algebraic aggregates, but explicit and
  usable for any re-aggregable partial) then final ``groupBy(keys)``.

Salts are ``xxhash64``-derived from caller-chosen columns — never
``rand()`` — so results are reproducible across retries and AQE
re-plans (a task retry with ``rand()`` salts would double-count rows
into different buckets).

Spark's AQE skew-join handles sort-merge skew automatically
(``session.py`` enables it); these operators cover what AQE can't: hash
aggregation skew and pre-shuffle salting that must survive a stage
retry deterministically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, salt_from: Sequence[str | Column], n_salt: int) -> DataFrame:
    """Deterministic salt in [0, n_salt) from the given columns."""
    cols = [F.col(c) if isinstance(c, str) else c for c in salt_from]
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*cols), F.lit(n_salt)))


def explode_salt(df: DataFrame, n_salt: int) -> DataFrame:
    """Replicate every row once per salt value (the dim side)."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    *,
    salt_from: Sequence[str | Column],
    n_salt: int = 8,
) -> DataFrame:
    """Inner-join ``fact`` to ``dim`` on ``on`` with a salted shuffle.

    The dim side is hinted ``shuffle_hash`` so the salting is actually
    exercised (a broadcast join has no reducer to skew). Result is
    bit-identical to ``fact.join(dim, on)``.
    """
    f = with_salt(fact, salt_from, n_salt)
    d = explode_salt(dim, n_salt).hint("shuffle_hash")
    return f.join(d, [*on, SALT_COL], "inner").drop(SALT_COL)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    *,
    salt_from: Sequence[str | Column],
    n_salt: int = 8,
) -> DataFrame:
    """Two-level skew-safe aggregation.

    ``partial_aggs`` aggregate within ``(keys, salt)``; ``final_aggs``
    re-aggregate the partials within ``keys``. The caller must pick
    re-aggregable partials (sum-of-sums, sum-of-counts, max-of-max...).
    """
    partial = with_salt(df, salt_from, n_salt).groupBy(*keys, SALT_COL).agg(
        *partial_aggs
    )
    return partial.groupBy(*keys).agg(*final_aggs)
