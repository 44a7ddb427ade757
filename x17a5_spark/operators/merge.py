"""Column merge + fuzzy sequence merge.

``merge_three_columns`` — the 3→2 column reduction (reference
OCRClean.py:113-193): fully declarative (window ``lag`` + CASE), no
kernel needed. Per row: take col1 if it parses numeric, else col2 if it
does; a row whose *both* value cells are null borrows the previous
row's col2, but only when that previous row has both cells populated
and isn't the first row. Rows matching neither rule drop out.

``special_merge`` — J7, the PDF/PNG sequence-alignment union
(reference DatabaseUnstructured.py:186-257): difflib opcodes over the
two line-item sequences; on ``replace`` keep both sides only when the
pairwise partial-ratio similarity is < ``SIMILARITY_THRESHOLD`` (90).
Inherently sequential and Python-library-bound, so it runs as a grouped
pandas kernel per filing (the engine's single sanctioned
fuzzy-matching UDF surface).
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import grouped_kernel

# partial-ratio score at or above which two ``replace`` line items are
# the same item (the reference's fuzzy-merge cut-off)
SIMILARITY_THRESHOLD = 90


def merge_three_columns(df: DataFrame) -> DataFrame:
    """Declarative 3→2 merge of ``col1``/``col2`` per filing; output
    column ``raw_value``.

    The two F1 parses land as staged intermediate columns (not inlined
    Column expressions): inlined, the duplicated parse trees push the
    generated stage past janino's 64 KB limit and the whole merge runs
    interpreted.
    """
    from x17a5_spark.functions.accounting import (
        _STAGE_SEQ,
        stage_parse_accounting_number,
    )

    # collision-proof parse-output names (the input is caller data — a
    # fixed "_n1" could silently clobber an existing column)
    mp = f"__m3c{next(_STAGE_SEQ)}"
    df = stage_parse_accounting_number(df, "col1", f"{mp}n1")
    df = stage_parse_accounting_number(df, "col2", f"{mp}n2")
    w = Window.partitionBy(*FILING_KEY).orderBy("row_idx")
    n1 = F.col(f"{mp}n1")
    n2 = F.col(f"{mp}n2")
    prev_c1 = F.lag("col1", 1).over(w)
    prev_c2 = F.lag("col2", 1).over(w)
    prev_pos = F.lag("row_idx", 1).over(w)
    # the reference's `indexer > 0` guard: borrowing needs the previous
    # row to exist *and* not be the very first row of the table
    borrow_ok = (
        F.col("col1").isNull()
        & F.col("col2").isNull()
        & prev_pos.isNotNull()
        & (prev_pos != F.min("row_idx").over(Window.partitionBy(*FILING_KEY)))
        & prev_c1.isNotNull()
        & prev_c2.isNotNull()
    )
    raw = (
        F.when(n1.isNotNull(), F.col("col1"))
        .when(n2.isNotNull(), F.col("col2"))
        .when(borrow_ok, prev_c2)
    )
    emit = n1.isNotNull() | n2.isNotNull() | borrow_ok
    # window expressions must be materialized before the filter (ANSI
    # planner rejects window functions inside WHERE)
    return (
        df.withColumn("raw_value", raw)
        .withColumn("_emit", emit)
        .filter(F.col("_emit"))
        .select(*FILING_KEY, "row_idx", "lineitem", "raw_value")
    )


def partial_ratio(a: str, b: str) -> float:
    """``fuzz.partial_ratio`` semantics: best difflib ratio of the
    shorter string against every equal-length substring of the longer,
    scaled to 0-100."""
    if a == b:
        return 100.0
    shorter, longer = (a, b) if len(a) <= len(b) else (b, a)
    if not shorter:
        return 100.0 if not longer else 0.0
    best = 0.0
    m = SequenceMatcher(None, shorter, longer)
    # align around matching blocks like thefuzz does
    blocks = m.get_matching_blocks()
    for _, j, _size in blocks:
        start = max(j - 0, 0)
        for offset in (start, max(j - len(shorter) + 1, 0)):
            window = longer[offset : offset + len(shorter)]
            r = SequenceMatcher(None, shorter, window).ratio() * 100
            best = max(best, r)
            if best == 100.0:
                return best
    return best


def special_merge_kernel(
    items1: list[str],
    values1: list[float],
    items2: list[str],
    values2: list[float],
) -> list[tuple[str, float]]:
    """Pure kernel: align the two (item, value) sequences by line-item
    text; union per opcode, keeping both sides of a ``replace`` pair
    only when they are dissimilar (partial ratio < SIMILARITY_THRESHOLD)."""
    out: list[tuple[str, float]] = []
    sm = SequenceMatcher(a=items1, b=items2)
    for op, i1, i2, j1, j2 in sm.get_opcodes():
        if op == "replace":
            for it, (left, right) in enumerate(
                zip(items1[i1:i2], items2[j1:j2])
            ):
                score = partial_ratio(left.lower(), right.lower())
                if score < SIMILARITY_THRESHOLD:
                    out.extend(zip(items1[i1 : i1 + it + 1], values1[i1 : i1 + it + 1]))
                    out.extend(zip(items2[j1 : j1 + it + 1], values2[j1 : j1 + it + 1]))
                else:
                    out.extend(zip(items1[i1 : i1 + it + 1], values1[i1 : i1 + it + 1]))
        elif op == "delete":
            out.extend(zip(items1[i1:i2], values1[i1:i2]))
        elif op == "insert":
            out.extend(zip(items2[j1:j2], values2[j1:j2]))
        elif op == "equal":
            out.extend(zip(items1[i1:i2], values1[i1:i2]))
    # drop_duplicates semantics: first occurrence wins, (item, value) key;
    # NaN values compare equal (as pandas does)
    seen: set = set()
    dedup = []
    for item, value in out:
        key = (item, None if pd.isna(value) else value)
        if key not in seen:
            seen.add(key)
            dedup.append((item, value))
    return dedup


def special_merge(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Fuzzy full-outer union of two per-filing tables (PDF vs PNG
    extractions) of (row_idx, lineitem, value). Both inputs are
    side-tagged and unioned, then one grouped kernel per filing aligns
    the two sequences — a single shuffle on the filing key at any
    scale. (The union form, rather than cogroup, also sidesteps Spark's
    attribute dedup when both inputs derive from the same source plan.)"""
    key_t = dict(df_a.dtypes)
    schema = ", ".join(
        [f"{c} {key_t[c]}" for c in FILING_KEY]
        + ["row_idx int", "lineitem string", "value double"]
    )
    cols = FILING_KEY + ["row_idx", "lineitem", "value"]
    tagged = df_a.select(*cols).withColumn("_side", F.lit("a")).unionByName(
        df_b.select(*cols).withColumn("_side", F.lit("b"))
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        pdf_a = pdf[pdf["_side"] == "a"]
        pdf_b = pdf[pdf["_side"] == "b"]
        merged = special_merge_kernel(
            pdf_a["lineitem"].tolist(),
            pdf_a["value"].tolist(),
            pdf_b["lineitem"].tolist(),
            pdf_b["value"].tolist(),
        )
        out = pd.DataFrame(merged, columns=["lineitem", "value"])
        for c in FILING_KEY:
            out[c] = pdf[c].iloc[0]
        out["row_idx"] = range(len(out))
        return out[FILING_KEY + ["row_idx", "lineitem", "value"]]

    return grouped_kernel(tagged, FILING_KEY, fn, schema)
