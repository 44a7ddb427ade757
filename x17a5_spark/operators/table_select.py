"""Step-4 table accept/reject + stitching (reference OCRTextract.py:
``get_balance_sheet`` :291-348 and ``readTable`` :350-440).

Candidate detection is fully declarative (per-table aggregates over the
long cell table): a table is a balance-sheet candidate iff
  * it has 2-3 columns,
  * some first-column cell matches ``^Cash|asset`` (case-insensitive) OR
    some cell matches ``liabilities|liability``,
  * some cell in any column carries a dollar sign (``\\$[^\\]]+``), and
  * the first cash/asset hit sits in the top half of the table.

Stitching is the reference's sequential state machine (tables in page
order; an asset-only table completes when the *immediately next* table
carries the liability side, and a liability-first read completes with
the order reversed — the JPM 2012/13 case). That scan runs as a tiny
per-filing kernel over table-level flags (dozens of rows per filing),
then the verdict joins back to the cell rows — so the heavy data moves
once, through a filing-key join, never through the kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import grouped_kernel

ASSET_RE = "(?i)^Cash|asset"
DEBT_RE = "(?i)liabilities|liability"
DOLLAR_RE = r"\$[^\]]+"


def candidate_flags(cells: DataFrame) -> DataFrame:
    """Per-table flags from the long OCR table
    (cik, filing_date, page, table_idx, row_idx, col0, col1, col2)."""
    any_cell = F.array("col0", "col1", "col2")
    row_has_dollar = F.exists(
        any_cell, lambda c: F.coalesce(c.rlike(DOLLAR_RE), F.lit(False))
    )
    is_asset_row = F.coalesce(F.col("col0").rlike(ASSET_RE), F.lit(False))
    is_debt_row = F.coalesce(F.col("col0").rlike(DEBT_RE), F.lit(False))
    n_cols = F.lit(1) + F.when(F.col("col1").isNotNull(), 1).otherwise(0) + F.when(
        F.col("col2").isNotNull(), 1
    ).otherwise(0)
    return (
        cells.groupBy("cik", "filing_date", "page", "table_idx")
        .agg(
            F.max(n_cols).alias("n_cols"),
            F.max(is_asset_row).alias("has_asset"),
            F.max(is_debt_row).alias("has_debt"),
            F.max(row_has_dollar).alias("has_dollar"),
            F.min(F.when(is_asset_row, F.col("row_idx"))).alias("first_asset_pos"),
            F.count("*").alias("n_rows"),
        )
        .withColumn(
            "is_candidate",
            (F.col("n_cols") <= 3)
            & (F.col("n_cols") > 1)
            & (F.col("has_asset") | F.col("has_debt"))
            & F.col("has_dollar")
            & (
                F.coalesce(F.col("first_asset_pos"), F.lit(0))
                < F.col("n_rows") / 2
            ),
        )
    )


def stitch_kernel(
    flags: list[tuple[bool, bool, bool]],
) -> list[tuple[int, int]] | None:
    """Reference readTable state machine over per-table
    (is_candidate, has_asset, has_debt) flags in page order. Returns the
    ordered list of (original position, output order) for the exported
    tables, or None when no complete balance sheet forms."""
    cat: list[int] = []
    prior_c1 = prior_c2 = True  # True = that side not yet seen
    tb_diff_c1 = tb_diff_c2 = 0
    for pos, (is_cand, has_asset, has_debt) in enumerate(flags):
        if is_cand:
            c1 = not has_asset  # True = asset side absent (reference's .empty)
            c2 = not has_debt
            cat.append(pos)
            if c2 and prior_c1 and prior_c2 and not c1:
                prior_c1 = False  # asset-only table: wait for liabilities
                tb_diff_c1 = 0
            elif c1 and prior_c1 and not c2:
                prior_c2 = False  # liability-first read
                tb_diff_c2 = 0
            if (not c2 and not c1) or (not c2 and not prior_c1 and tb_diff_c1 == 1):
                return [(p, i) for i, p in enumerate(cat)]
            if not prior_c2 and not c1 and tb_diff_c2 == 1:
                cat.reverse()
                return [(p, i) for i, p in enumerate(cat)]
        tb_diff_c1 += 1
        tb_diff_c2 += 1
    return None


def select_balance_sheet(cells: DataFrame) -> DataFrame:
    """Accepted, stitched balance-sheet rows per filing with a global
    ``bs_order`` preserving the (possibly reversed) table order."""
    flags = candidate_flags(cells)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["page", "table_idx"]).reset_index(drop=True)
        verdict = stitch_kernel(
            list(zip(pdf["is_candidate"], pdf["has_asset"], pdf["has_debt"]))
        )
        if verdict is None:
            return pdf.iloc[0:0][["cik", "filing_date", "page", "table_idx"]].assign(
                bs_order=pd.Series(dtype="int64")
            )
        out = pdf.iloc[[p for p, _ in verdict]][
            ["cik", "filing_date", "page", "table_idx"]
        ].copy()
        out["bs_order"] = [o for _, o in verdict]
        return out

    # full-width kernel execution (measured: this stage ran 35.8 s on
    # ONE AQE-coalesced task at sf0.1; see kernel_part.py)
    accepted = grouped_kernel(
        flags,
        FILING_KEY,
        fn,
        "cik string, filing_date string, page int, table_idx int, bs_order int",
    )
    return cells.join(
        accepted, ["cik", "filing_date", "page", "table_idx"]
    ).withColumn(
        "global_row",
        F.col("bs_order") * 100000 + F.col("row_idx"),
    )
