"""W1 — subtotal detection & removal (``totals_check``,
reference DatabaseUnstructured.py:108-184).

Semantics: scan rows top-to-bottom; for row *i*, test every lookback
window sum over the rows *that still survive* between positions
``i-j-1`` and ``i-1`` (j = 1..i) against the row's value under three
equivalences — exact float equality, power-of-ten/dropped-digit
(multiple_check, :32-60), and one-digit-OCR epsilon (epsilon_error,
:62-106). A matching row is a subtotal: drop it, and *later sums no
longer include it* (the scan mutates). Rows whose name matches the
"total assets" / "liability…equity" regexes additionally set the
per-filing total flag (2 = no total found, 0 = total found but not
explained by any lookback sum, 1 = total found and explained) and the
total amount (the lookback-sum value when a power-of-ten rewrite fired,
else the reported value).

The mutation makes this inexpressible as a fixed-frame window
(SURVEY §7 hard part 2), so the engine runs it as a grouped pandas
kernel per filing side: one shuffle on the group key, tiny groups,
Arrow-batched. The *declarative* building block (running lookback sums)
is exercised separately by queries/windows.py::w1_running_and_lookback.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame

from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import grouped_kernel

TOTAL_ASSET_RE = re.compile(r"total assets$|^total assets\(|^total assets \(", re.I)
TOTAL_LE_RE = re.compile(
    r"(?=.*(?:liability|liabilities))(?=.*(?:equity|deficit|capital))", re.I
)

# total_flag encoding (reference :128)
NO_TOTAL, TOTAL_EXPLAINED, TOTAL_UNEXPLAINED = 2, 1, 0


def _is_power_of_ten_or_digit_drop(x1: float, x2: float) -> tuple[float, bool]:
    """multiple_check semantics: x2 = x1 × 10^k, or str(x2) a substring
    of str(x1) one char shorter (dropped leading digit)."""
    if (
        x1 == 0 or x2 == 0
        or x1 is None or x1 != x1  # pd.isna on scalar floats
        or x2 is None or x2 != x2
    ):
        return x1, False
    ratio = x2 / x1
    if ratio > 0 and math.log10(ratio).is_integer():
        return x2, True
    s1, s2 = str(x1), str(x2)
    if s2 in s1 and len(s2) == len(s1) - 1:
        return x2, True
    return x1, False


def _is_epsilon_match(x1: float, x2: float) -> bool:
    """epsilon_error semantics: equal-length decimal renderings differing
    in exactly one character, relative difference within 1%."""
    if (
        x1 == 0 or x2 == 0
        or x1 is None or x1 != x1  # pd.isna on scalar floats
        or x2 is None or x2 != x2
    ):
        return False
    s1, s2 = str(x1), str(x2)
    if len(s1) != len(s2):
        return False
    n_diff = sum(1 for a, b in zip(s1, s2) if a != b)
    if n_diff != 1:
        return False
    return abs((x1 - x2) / x1) <= 0.01


def totals_check_kernel(
    items: list[str],
    values: list[float],
    total_hits: list[bool] | None = None,
) -> tuple[list[int], int, float]:
    """Pure sequential kernel. Returns (surviving positional indices,
    total_flag, total_amt). Positions are 0-based into the input lists.

    Survivor bookkeeping mirrors the reference's label-based ``.loc``
    lookback: the window ``i-j-1 .. i-1`` addresses *original* positions
    but sums only rows not yet dropped.

    ``total_hits`` (guide §4.2): optional PRE-MATCHED total-name
    flags — the batched caller vectorizes the two regexes with pandas'
    C-level ``.str.contains`` over the whole Arrow batch instead of two
    Python ``re.search`` calls per row here. ``None`` keeps the
    self-contained per-row matching (the grouped path and the direct
    kernel tests), and the fused==composition pin proves the two
    matchings agree. NaN tests use the float identity ``v != v`` (plus
    a ``None`` guard) — exactly ``pd.isna`` on the scalar floats these
    lists hold, without the per-call pandas dispatch in the O(m^2)
    lookback loop.
    """
    m = len(items)
    alive = [True] * m
    total_flag, total_amt = NO_TOTAL, float("nan")

    for i in range(m):
        item1 = values[i]
        if total_hits is None:
            name = items[i] if isinstance(items[i], str) else ""
            is_total = bool(TOTAL_ASSET_RE.search(name)) or bool(
                TOTAL_LE_RE.search(name)
            )
        else:
            is_total = total_hits[i]
        if is_total:
            total_flag, total_amt = TOTAL_UNEXPLAINED, item1

        item1_na = item1 is None or item1 != item1
        for j in range(i):
            window = [
                values[k]
                for k in range(i - j - 1, i)
                if 0 <= k < m and alive[k]
            ]
            if not window:
                continue
            # pandas .sum() treats NaN as 0 (empty-window handled above)
            item2 = sum(
                v for v in window if not (v is None or v != v)
            )
            check1 = (not item1_na) and item1 == item2
            val, check2 = _is_power_of_ten_or_digit_drop(item1, item2)
            check3 = _is_epsilon_match(item1, item2)
            if check1 or check2 or check3:
                alive[i] = False
                if is_total:
                    total_flag, total_amt = TOTAL_EXPLAINED, val
                break

    return [k for k in range(m) if alive[k]], total_flag, total_amt


def remove_subtotals(df: DataFrame) -> DataFrame:
    """Drop detected subtotal rows per filing side of a (cik,
    filing_date, side, row_idx, lineitem, value) table; adds
    ``total_flag`` and ``total_amt`` columns (constant within a group).

    Scale: shuffles once on the filing key; each group is a single page
    of line items, so kernel time is microseconds per group and the
    stage is bound by scan + exchange.
    """
    cols = FILING_KEY + ["side", "row_idx", "lineitem", "value"]
    sel = df.select(*cols)
    schema = ", ".join(
        [f"{c} {t}" for c, t in sel.dtypes] + ["total_flag int", "total_amt double"]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx").reset_index(drop=True)
        keep, flag, amt = totals_check_kernel(
            pdf["lineitem"].tolist(), pdf["value"].tolist()
        )
        out = pdf.iloc[keep][cols].copy()
        out["total_flag"] = flag
        out["total_amt"] = amt
        return out

    return grouped_kernel(sel, FILING_KEY + ["side"], fn, schema)
