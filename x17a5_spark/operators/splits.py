"""Asset / liability bisection (``bsSplit``/``lineItems``,
reference DatabaseSplits.py:25-120).

Semantics: scan line items in page order, tracking the most recent
1-based positions of an ``assets`` match and a ``liability|liabilities``
match. Whenever both have been seen and the asset position precedes the
liability position, the split bounds update to the *current* pair —
so the final bounds come from the last prefix where assets still led
(this guards against the JP Morgan 2012/13 reversed-table OCR error).
If only assets matched, the lower bound still applies; if the very last
row matched neither term, the upper bound resets to the full length.
Rows [0, stop1) are assets; [stop1, stop2) are liabilities & equity;
filings missing either side are rejected (left out of both outputs).

The prefix-dependent bound update is a sequential fold, so it runs as a
tiny grouped pandas kernel per filing; the declarative last-match
form (max(when(rlike, pos))) is exercised by
queries/windows.py::w3_last_match_split.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import batched_grouped_kernel, grouped_kernel
from x17a5_spark.operators.totals_check import (
    TOTAL_ASSET_RE,
    TOTAL_LE_RE,
    totals_check_kernel,
)

ASSET_RE = re.compile("assets", re.I)
LIABLE_RE = re.compile("liability|liabilities", re.I)


def bs_split_kernel(items: list[str]) -> tuple[int, int] | None:
    """Pure kernel: (stop1, stop2) bounds, or None if a side is missing."""
    hits_a = [
        ASSET_RE.search(it) is not None if isinstance(it, str) else False
        for it in items
    ]
    hits_l = [
        LIABLE_RE.search(it) is not None if isinstance(it, str) else False
        for it in items
    ]
    return bs_split_kernel_flags(hits_a, hits_l)


def bs_split_kernel_flags(hits_a, hits_l) -> tuple[int, int] | None:
    """The bisection fold over PRE-MATCHED term flags (guide §4.2: the
    batch path vectorizes the two regex passes with pandas' C-level
    ``.str.contains`` over the whole Arrow batch and hands this fold
    plain booleans — the per-row Python ``re.search`` calls were the
    kernel's hot loop). ``bs_split_kernel`` delegates here, so the
    fused==composition pin also pins flags==search semantics."""
    n = len(hits_a)
    stop1, stop2 = 0, n
    asset_idx = liable_idx = 0
    for i in range(n):
        if hits_a[i]:
            asset_idx = i + 1
        if hits_l[i]:
            liable_idx = i + 1
        if asset_idx and liable_idx and asset_idx < liable_idx:
            stop1, stop2 = asset_idx, liable_idx
    if asset_idx and not liable_idx:
        stop1 = asset_idx
    if n and not hits_a[-1] and not hits_l[-1]:  # last row matched neither
        stop2 = n
    if stop1 == 0 or stop2 - stop1 <= 0:
        return None
    return stop1, stop2


def split_balance_sheet(df: DataFrame) -> DataFrame:
    """Tag every surviving row of a per-filing (row_idx, lineitem, ...)
    table with ``side`` ∈ {asset, liability}; filings rejected by the
    bisection emit no rows."""
    in_cols = [c for c, _ in df.dtypes]
    schema = ", ".join([f"{c} {t}" for c, t in df.dtypes] + ["side string"])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx").reset_index(drop=True)
        bounds = bs_split_kernel(pdf["lineitem"].tolist())
        if bounds is None:
            return pdf.iloc[0:0].assign(side=pd.Series(dtype="object"))[
                in_cols + ["side"]
            ]
        stop1, stop2 = bounds
        out = pdf.iloc[:stop2].copy()
        out["side"] = ["asset"] * stop1 + ["liability"] * (stop2 - stop1)
        return out[in_cols + ["side"]]

    return grouped_kernel(df, FILING_KEY, fn, schema)


def bisect_and_remove_subtotals(df: DataFrame) -> DataFrame:
    """Fused silver tail: W3 bisection + W1 subtotal removal in ONE
    grouped kernel pass per filing over (row_idx, lineitem, value).

    Semantically identical to ``split_balance_sheet`` followed by
    ``remove_subtotals`` (pinned equal by
    tests/test_splits_merge.py::test_fused_tail_equals_composition);
    the fusion exists because kernel-PASS overhead, not exchange
    bytes, dominates the silver chain (measured: the two tail kernels
    cost 2.3 s + 4.1 s at sf0.1 on near-identical keys). One exchange
    on the filing key replaces two grouped shuffles — also the right
    shape at 100 TB, where the silver mass crosses the wire once
    instead of twice.

    Dispatched at BATCH level (``batched_grouped_kernel``): per-kernel
    attribution put this stage at 70% of silver wall at the 20× lake,
    and the cost was per-group pandas machinery (a sort, three frame
    slices/copies and a concat per ~6-row filing), not the sequential
    kernels themselves. The batch form sorts once per Arrow batch,
    walks numpy group boundaries, runs the SAME pure kernels
    (``bs_split_kernel`` + ``totals_check_kernel``) over list slices,
    and builds one output frame per batch — value-identical output,
    pinned by test_fused_tail_equals_composition.
    """
    sel = df.select(*FILING_KEY, "row_idx", "lineitem", "value")
    in_cols = [c for c, _ in sel.dtypes]
    schema = ", ".join(
        [f"{c} {t}" for c, t in sel.dtypes]
        + ["side string", "total_flag int", "total_amt double"]
    )

    def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame | None:
        pdf = pdf.sort_values([*FILING_KEY, "row_idx"]).reset_index(drop=True)
        n = len(pdf)
        if not n:
            return None
        # group boundaries on the sorted batch (filing keys are
        # non-null strings; NaN-aware anyway to mirror dropna=False)
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for c in FILING_KEY:
            arr = pdf[c].to_numpy()
            prev, curr = arr[:-1], arr[1:]
            neq = curr != prev
            both_na = pd.isna(curr) & pd.isna(prev)
            change[1:] |= neq & ~both_na
        starts = np.flatnonzero(change).tolist() + [n]
        items_all = pdf["lineitem"].tolist()
        values_all = pdf["value"].tolist()
        # all four term regexes run ONCE per batch at pandas C speed;
        # the sequential folds below consume plain boolean lists.
        # Semantics identical to the per-row re.search (same compiled
        # patterns, na=False == the kernels' non-str guard); pinned by
        # test_fused_tail_equals_composition. .str.contains raises on
        # non-string non-null values where the per-row kernels'
        # isinstance guards tolerate them, so pre-mask to strings (Arrow
        # string columns yield str/None; this guards any non-Arrow
        # caller).
        it_s = pdf["lineitem"]
        if it_s.dtype == object:
            it_s = it_s.where(it_s.map(lambda v: isinstance(v, str)))
        hits_a = it_s.str.contains(ASSET_RE, na=False).tolist()
        hits_l = it_s.str.contains(LIABLE_RE, na=False).tolist()
        hits_t = (
            it_s.str.contains(TOTAL_ASSET_RE, na=False)
            | it_s.str.contains(TOTAL_LE_RE, na=False)
        ).tolist()
        keep_idx: list[int] = []
        sides: list[str] = []
        flags: list[int] = []
        amts: list[float] = []
        for s, e in zip(starts[:-1], starts[1:]):
            bounds = bs_split_kernel_flags(hits_a[s:e], hits_l[s:e])
            if bounds is None:
                continue
            stop1, stop2 = bounds
            for lo, hi, side in (
                (0, stop1, "asset"),
                (stop1, stop2, "liability"),
            ):
                if hi <= lo:
                    continue
                keep, flag, amt = totals_check_kernel(
                    items_all[s + lo : s + hi],
                    values_all[s + lo : s + hi],
                    total_hits=hits_t[s + lo : s + hi],
                )
                for k in keep:
                    keep_idx.append(s + lo + k)
                sides.extend([side] * len(keep))
                flags.extend([flag] * len(keep))
                amts.extend([amt] * len(keep))
        if not keep_idx:
            return None
        out = pdf.iloc[keep_idx].reset_index(drop=True)[in_cols]
        out["side"] = sides
        out["total_flag"] = flags
        out["total_amt"] = amts
        return out

    return batched_grouped_kernel(sel, FILING_KEY, batch_fn, schema)
