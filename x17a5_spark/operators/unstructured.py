"""P10/E-unstructured — the on-demand wide unstructured database
(reference DatabaseUnstructured.py:291-348: per-filing transpose with
congruent-name groupby-sum, id-cols-first reorder, all-NaN column
pruning).

Spark-first shape: the reference transposes each filing's frame and
concatenates; at 100 TB that is a pivot over the line-item vocabulary,
which is unbounded — so the engine's contract (SURVEY §4) requires an
explicit **allowlist** of columns. Within the allowlist the build is a
single groupBy().pivot(values=...).sum() — one shuffle on the filing
key, map-side partials, no per-filing loop.

Column pruning (`filterNaN`/`cleanCols`, reorder_columns :334-339) is a
schema decision, so it needs driver knowledge; the engine derives it
from the PIVOTED result (persisted, one row per filing): a single
one-row count aggregate decides which allowlisted columns are all-null.
That costs one pass over the filing-grained wide table instead of a
second scan + distinct shuffle of the full long table — at 100 TB the
long table is corpus-scale but the wide table is #filings x <=25
columns. The driver-side result is one row of counts, bounded by
len(allowlist) — metadata-scale, never data-scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ID_COLS = ["cik", "name", "filing_date", "fiscal_year"]


def build_unstructured(long_df: DataFrame, allowlist: Sequence[str]) -> DataFrame:
    """Wide per-filing view of ``long_df`` (``ID_COLS`` + one column per
    allowlisted line item), id columns first, all-null columns pruned.

    ``long_df``: ``ID_COLS`` + (lineitem, value). Congruent line items
    within a filing are summed (pandas ``groupby().sum(min_count=1)``
    semantics: a group with no non-null values stays null, as does an
    absent (filing, lineitem) pair).
    """
    # The pruning is a bounded driver-side schema decision from the
    # PERSISTED wide result: one row of per-column non-null counts
    # (metadata-scale) — the long table is scanned exactly once, by the
    # pivot.
    piv = (
        long_df.groupBy(*ID_COLS)
        .pivot("lineitem", list(allowlist))
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = piv.select(
        *[F.count(F.col(f"`{c}`")).alias(f"c{i}") for i, c in enumerate(allowlist)]
    ).first()
    keep = [c for c, n in zip(allowlist, counts) if n > 0]
    return piv.select(*ID_COLS, *[F.col(f"`{c}`") for c in keep])
