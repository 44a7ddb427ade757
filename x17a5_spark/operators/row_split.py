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

Every step is a Spark array function, so the split runs as one JVM
pass (two windows and a left join on the filing key, no Python
worker). ``row_split_kernel`` is the plain-Python statement of the
same rules: the tests compare the two on random filings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.keys import FILING_KEY


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
    joins in as one ordered array column per filing, so the text corpus
    can be arbitrarily large. Each row becomes an array of
    (lineitem, raw_value) pairs — itself when not fused, the aligned
    split when fused, null when the counts cannot be aligned — which
    ``posexplode`` expands in place; ``row_number`` over (row_idx, pos)
    renumbers. Every window and the join are keyed on the filing, so an
    input already hash-partitioned on it is not shuffled again."""
    # tokens of _is_conjoined: split on single spaces (empty tokens from
    # runs of spaces survive, as in Python's str.split(" ")), minus the
    # '$'/'S' OCR artifacts
    values = F.filter(
        F.split(F.col("raw_value"), " ", -1), lambda t: ~t.isin("$", "S")
    )
    is_fused = F.col("raw_value").isNotNull() & (F.size(values) > 1)
    wp = Window.partitionBy(*FILING_KEY)

    text_lines = text.groupBy(*FILING_KEY).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("line_idx"), F.col("line_text")))
        ).alias("_text_lines")
    )
    splits = F.coalesce(
        F.filter(
            F.col("_text_lines.line_text"),
            lambda k: (F.length(k) > 1) & (F.instr(F.col("lineitem"), k) > 0),
        ),
        F.array().cast("array<string>"),
    )
    n_values = F.size(values)
    extra = F.size(splits) - n_values
    names = F.when(extra >= 0, F.slice(splits, extra + 1, n_values)).when(
        extra == -1, splits
    )
    kept = F.when(extra >= 0, values).when(
        extra == -1, F.slice(values, 2, n_values - 1)
    )
    pairs = F.when(
        is_fused,
        F.arrays_zip(names.alias("lineitem"), kept.alias("raw_value")),
    ).otherwise(
        F.array(F.struct(F.col("lineitem"), F.col("raw_value")))
    )
    # the flag is computed before the explode: a window in the same
    # projection as the generator is evaluated over its output, which
    # has lost the dropped fused rows
    flagged = df.join(text_lines, FILING_KEY, "left").withColumn(
        "split_flag", F.max(is_fused.cast("int")).over(wp)
    )
    exploded = flagged.select(
        *FILING_KEY,
        "row_idx",
        "split_flag",
        F.posexplode(pairs).alias("_pos", "_pair"),
    )
    return exploded.select(
        *FILING_KEY,
        (F.row_number().over(wp.orderBy("row_idx", "_pos")) - 1).alias("row_idx"),
        F.col("_pair.lineitem").alias("lineitem"),
        F.col("_pair.raw_value").alias("raw_value"),
        "split_flag",
    )
