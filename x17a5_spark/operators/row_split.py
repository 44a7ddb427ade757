"""F4 — conjoined-row splitting (``row_split``,
reference OCRClean.py:219-361).

A Textract table row sometimes fuses several physical rows:
``("Securities Held Total Assets", "$ 9,112,943 13,151,663")``. The fix
needs the filing's page-text line map (X17A5-TEXT.json): every text
line that appears as a substring of the fused line-item becomes a split
candidate; counts are aligned under the reference's rules —
  * equal counts -> one-to-one mapping;
  * more names than values -> drop the *leading* extra names;
  * exactly one extra value -> drop the leading value;
  * otherwise -> the fused row is dropped entirely.
The per-filing flag records whether any fused row was seen.

Sequential and map-dependent, so it runs as a grouped pandas kernel
per filing; the *detector* (multi-token value cell) is
the declarative F3 expression exercised by
queries/scalars.py::f3_conjoined_detect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from x17a5_spark.cache import stage_persist
from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import grouped_kernel


def _is_conjoined(raw: str | None) -> bool:
    """Multi-token value cell, ignoring '$'/'S' OCR artifacts."""
    if not isinstance(raw, str):
        return False
    toks = [t for t in raw.split(" ") if t not in ("$", "S")]
    return len(toks) > 1


def _align(splits: list[str], values: list[str]) -> tuple[list[str], list[str]] | None:
    n = len(splits) - len(values)
    if n == 0:
        return splits, values
    if n > 0:
        return splits[n:], values
    if n == -1:
        return splits, values[1:]
    return None


def row_split_kernel(
    items: list[str], raws: list[str], text_lines: list[str]
) -> tuple[list[tuple[str, str]], int]:
    """Pure kernel over one filing. Returns ((item, raw_value) rows with
    fused rows expanded, flag=1 if any fused row was found)."""
    rows = list(zip(items, raws))
    fused_positions = [k for k, (_, raw) in enumerate(rows) if _is_conjoined(raw)]
    flag = 1 if fused_positions else 0
    # process in original order; expansion happens in place
    for pos in sorted(fused_positions, reverse=True):
        name, raw = rows[pos]
        values = [t for t in raw.split(" ") if t not in ("$", "S")]
        line = name if isinstance(name, str) else ""
        splits = [
            key
            for key in text_lines
            if isinstance(key, str) and len(key) > 1 and line.find(key) >= 0
        ]
        aligned = _align(splits, values)
        if aligned is None:
            rows[pos : pos + 1] = []
        else:
            names2, values2 = aligned
            rows[pos : pos + 1] = list(zip(names2, values2))
    return rows, flag


def split_conjoined_rows(df: DataFrame, text: DataFrame) -> DataFrame:
    """Expand fused rows of a per-filing (row_idx, lineitem, raw_value)
    table using the filing's TEXT line map.

    ``text`` holds (cik, filing_date, line_idx, line_text). The map
    rides into the kernel as one array column per filing — no
    driver-side dict, so the text corpus can be arbitrarily large.

    SELECTIVE ROUTING: fused rows are rare — most filings have none —
    and a filing without one comes out of the kernel unchanged, so
    sending it through the Python kernel (Arrow out, pandas sort,
    list-of-tuples rebuild, Arrow back) is pure overhead. The
    declarative F3 detector (an exact Column mirror of
    ``_is_conjoined``) flags fused rows JVM-side; filings with zero
    fused rows take a pure window passthrough (renumber +
    split_flag=0 — exactly what the kernel emits for them), and ONLY
    filings containing a fused row pay the kernel and its TEXT-map
    join. At e1's corpus shape (no fused rows) this converts the whole
    stage to JVM window work; at a corpus where every filing is fused
    (k4's fixture) it degrades gracefully to one kernel pass plus one
    cheap window pass."""
    key_t = dict(df.dtypes)
    schema = ", ".join(
        [f"{c} {key_t[c]}" for c in FILING_KEY]
        + ["row_idx int", "lineitem string", "raw_value string", "split_flag int"]
    )
    # declarative _is_conjoined: split on single spaces (empty tokens
    # from runs of spaces survive, as in Python's str.split(" ")),
    # drop '$'/'S' OCR artifacts, fused iff >1 token remains
    is_fused = (
        F.size(
            F.filter(
                F.split(F.col("raw_value"), " ", -1),
                lambda t: ~t.isin("$", "S"),
            )
        )
        > 1
    ) & F.col("raw_value").isNotNull()
    wp = Window.partitionBy(*FILING_KEY)
    # persist the classification point: both routing branches (clean
    # passthrough + fused kernel) reference it, and without the persist
    # each branch replays the ENTIRE upstream subtree — in e1's silver
    # chain that is the bronze scan plus the whole merge3 window chain,
    # twice per run (guide §5 "reused and recomputing is expensive").
    # Corpus sized, MEMORY_AND_DISK: spills, never OOMs; released by the
    # registry scope / pipeline stage_scope like every stage table.
    flagged = stage_persist(
        df.withColumn("_has_fused", F.max(is_fused.cast("int")).over(wp))
    )
    clean = (
        flagged.filter(F.col("_has_fused") == 0)
        .withColumn(
            "_rn",
            F.row_number().over(wp.orderBy("row_idx")) - 1,
        )
        .select(
            *FILING_KEY,
            F.col("_rn").cast("int").alias("row_idx"),
            "lineitem",
            "raw_value",
            F.lit(0).alias("split_flag"),
        )
    )
    fused = flagged.filter(F.col("_has_fused") == 1).drop("_has_fused")

    # The TEXT map rides in as one ordered array column per filing (a
    # pre-aggregated left join) rather than a cogroup — one extra small
    # shuffle, but robust to shared-lineage inputs and keeps exactly one
    # grouped kernel. Only the fused branch pays it.
    text_arrays = text.groupBy(*FILING_KEY).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("line_idx"), F.col("line_text")))
        ).alias("_text_lines")
    )
    joined = fused.join(text_arrays, FILING_KEY, "left")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        first_lines = pdf["_text_lines"].iloc[0]
        text_lines = (
            [t["line_text"] for t in first_lines] if first_lines is not None else []
        )
        rows, flag = row_split_kernel(
            pdf["lineitem"].tolist(), pdf["raw_value"].tolist(), text_lines
        )
        out = pd.DataFrame(rows, columns=["lineitem", "raw_value"])
        for c in FILING_KEY:
            out[c] = pdf[c].iloc[0]
        out["row_idx"] = range(len(out))
        out["split_flag"] = flag
        return out[FILING_KEY + ["row_idx", "lineitem", "raw_value", "split_flag"]]

    kernelled = grouped_kernel(joined, FILING_KEY, fn, schema)
    return clean.unionByName(kernelled)
