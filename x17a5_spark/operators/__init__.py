"""Domain operators (SURVEY.md §2.5 W1-W3, §2.3 J7, §2.8 F4): the
per-filing sequential kernels the reference implements as pandas loops,
re-expressed for Spark.

Every cleaning and database-build operator works on the one filing
table shape: grouped on ``functions.keys.FILING_KEY`` (cik,
filing_date), ordered by ``row_idx``, with ``lineitem`` and ``value``
(or ``raw_value`` before parsing) columns. The column names are fixed,
not parameters.

Design rule (SURVEY §7): anything order-dependent carries an explicit
``row_idx``; per-filing groups are tiny (≤ ~100 rows), so the genuinely
sequential algorithms run as grouped pandas kernels — one shuffle on
the filing key, then embarrassingly parallel — while everything
declaratively expressible stays in Catalyst. Every kernel dispatches
through ``kernel_part.batched_grouped_kernel`` (mapInPandas over
key-sorted partitions at an AQE-coalesce-immune explicit width), either
directly or via its per-group form ``kernel_part.grouped_kernel``.
"""

from x17a5_spark.operators.merge import merge_three_columns, special_merge
from x17a5_spark.operators.row_split import split_conjoined_rows
from x17a5_spark.operators.scaler import detect_unit_scale
from x17a5_spark.operators.splits import split_balance_sheet
from x17a5_spark.operators.totals_check import remove_subtotals

__all__ = [
    "detect_unit_scale",
    "merge_three_columns",
    "remove_subtotals",
    "special_merge",
    "split_balance_sheet",
    "split_conjoined_rows",
]
