"""Sequence packing — greedy first-fit-in-order binning of documents
into fixed token-budget context windows, the standard pretraining step
that turns a cleaned corpus into dense training sequences.

Semantics (per group, rows ordered by ``order_col``):
  * a running window ``fill`` accumulates token counts;
  * a document that would overflow the budget closes the current
    window and opens a new one;
  * an oversized document (``n_tokens > budget``) occupies a window of
    its own (over-full) — it is never split.

This is an inherently sequential scan *within* a group, so it runs as a
grouped Arrow kernel (``applyInPandas``) — the same X4 pattern as the
totals-check/bisection kernels. Across groups it is embarrassingly
parallel: one shuffle on the group key, then a linear pass per group.
At 100 TB you pack per (source, shard): ``n_shards > 1`` splits each
group by ``order_col % n_shards`` so no single group materializes as
one pandas frame on one executor (a hot source with 10^9 docs becomes
n_shards bounded frames). Sharding is deterministic given the ordering,
so shard boundaries only affect which windows exist, never the fill
accounting: every window still satisfies the budget invariant, and
``bin_id = local_bin * n_shards + shard`` keeps ids unique per group
and reproducible at any parallelism.

The semantics are exactly reproducible in SQL as a linear recursion
(see ``K7_SQL`` in queries/corpus.py), which is what the DuckDB oracle
runs — this kernel is oracle-checked, not rows-only.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = (
    "doc_id long, group_key string, n_tokens int, bin_id int, bin_fill int"
)


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    n_shards: int = 1,
) -> DataFrame:
    """Assign each row a ``bin_id`` (window index within its group) and
    ``bin_fill`` (window occupancy after the row is placed).

    ``df`` must carry ``group_col``, ``order_col`` and ``n_tokens``;
    token counting stays upstream in codegen'd column expressions — the
    kernel only does the O(n) greedy scan Spark's built-ins can't
    express (the fill resets feed back into themselves).

    ``n_shards > 1`` packs per (group, ``order_col % n_shards``) so a
    hot group never becomes one giant pandas frame; emitted bin ids are
    ``local_bin * n_shards + shard`` — disjoint across shards, stable
    under repartitioning.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # reset_index: DataFrame construction below aligns Series by
        # index, and sort_values keeps the pre-sort integer labels
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        shard = int(pdf["_shard"].iloc[0]) if n_shards > 1 else 0
        bins, fills = [], []
        bin_id, fill = 0, 0
        first = True
        for n in pdf["n_tokens"].astype("int64"):
            if not first and fill + n > budget:
                bin_id += 1
                fill = 0
            first = False
            fill += int(n)
            bins.append(bin_id * n_shards + shard)
            fills.append(fill)
        return pd.DataFrame(
            {
                "doc_id": pdf[order_col].astype("int64"),
                "group_key": pdf[group_col].astype(str),
                "n_tokens": pdf["n_tokens"].astype("int32"),
                "bin_id": pd.Series(bins, dtype="int32"),
                "bin_fill": pd.Series(fills, dtype="int32"),
            }
        )

    slim = df.select(
        F.col(order_col).cast("long").alias(order_col),
        F.col(group_col).cast("string").alias(group_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )
    if n_shards == 1:
        return slim.groupBy(group_col).applyInPandas(_pack, PACK_SCHEMA)
    sharded = slim.withColumn(
        "_shard", (F.col(order_col) % n_shards).cast("int")
    )
    return sharded.groupBy(group_col, "_shard").applyInPandas(_pack, PACK_SCHEMA)
