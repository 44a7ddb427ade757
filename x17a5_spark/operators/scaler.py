"""W6/F2 — unit-scale detection with per-CIK carry-forward
(``numeric_scaler``, reference OCRClean.py:370-414; cross-filing state
threading at run_ocr.py:96-99,218).

Semantics: scan the filing's page-text lines in order; the first line
containing a token fuzzy-matching a scale word (ratio >= 90, checked in
the fixed order thousands, hundreds, millions, billions) decides the
multiplier (1e3/1e2/1e6/1e9). If no line matches, fall back to the
previous filing's scale *for the same CIK* (the reference threads this
as mutable state across the processing loop — here it is a
carry-forward window over filing_date, which also pins the previously
implicit input-order dependence, SURVEY §7 hard part 7). Default 1.

The token match is ``fuzz.ratio`` (indel-based: 2M/(|t|+|w|) with M
difflib's matched characters), not a plain Levenshtein ratio: 'million'
vs 'millions' scores 93.3 indel but 87.5 Levenshtein. At the 90
threshold the match set is closed-form. M is at most min(|t|, |w|), and
M <= min - 1 caps the ratio at 1 - 1/min <= 1 - 1/9 < 0.9, since no
scale word is longer than 9. So a match needs the shorter string to be
a subsequence of the longer: the Levenshtein distance is then the
length difference, and the ratio is 2·min/(|t|+|w|). ``_scale_hit``
states that with Spark's built-in ``levenshtein``, so the whole scaler
is one JVM pass. ``_line_scale_py`` keeps the difflib form as the
tests' reference.
"""

from __future__ import annotations

from difflib import SequenceMatcher

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.keys import FILING_KEY

SCALE_WORDS = [("thousands", 1e3), ("hundreds", 1e2), ("millions", 1e6), ("billions", 1e9)]


def _line_scale_py(line: str) -> float | None:
    """First matching scale multiplier for one text line (null if
    none) — WORD-major order like the reference: 'thousands' against
    every token before 'hundreds' is tried, so the lowest matched word
    index decides. Exact fuzz.ratio semantics via difflib:
    ratio = 2M/(la+lb) * 100."""
    toks = line.lower().split(" ")
    for word, mult in SCALE_WORDS:
        if any(SequenceMatcher(None, word, t).ratio() * 100 >= 90 for t in toks):
            return mult
    return None


def _scale_hit(tok: Column, word: str) -> Column:
    """``fuzz.ratio(tok, word) >= 90`` in the closed form above. No
    matching pair is more than 2 edits apart, so ``levenshtein`` may
    stop at 2 (it returns -1 past the threshold)."""
    n = F.length(tok)
    return (F.levenshtein(tok, F.lit(word), 2) == F.abs(n - len(word))) & (
        200 * F.least(n, F.lit(len(word))) >= 90 * (n + len(word))
    )


def line_scale(line: Column) -> Column:
    """``_line_scale_py`` as a Column: a word-major CASE over
    ``SCALE_WORDS``, each branch an ``exists`` over the line's
    lower-cased single-space tokens. Null for a null line."""
    toks = F.split(F.lower(line), " ", -1)
    scale = None
    for word, mult in SCALE_WORDS:
        # F.exists builds the lambda's body right here, so the loop
        # variable is bound per branch
        hit = F.exists(toks, lambda t: _scale_hit(t, word))
        scale = F.when(hit, mult) if scale is None else scale.when(hit, mult)
    return scale


def detect_unit_scale(text: DataFrame) -> DataFrame:
    """Per-filing scale factor from the page-text table
    (cik, filing_date, line_idx, line_text) with per-CIK carry-forward.

    Plan shape: one scan + projection, a groupBy on the filing key (min
    over matching lines = "first matching line"), then a carry-forward
    window per CIK — two narrow shuffles, no kernel.
    """
    # No explicit repartition: the match is a per-line projection whose
    # cost tracks the bytes scanned, and the groupBy partial-aggregates
    # map-side, so only ~1 row per filing crosses the exchange. A spread
    # would shuffle the full text corpus.
    first_match = (
        text.withColumn("line_scale", line_scale(F.col("line_text")))
        .withColumn(
            "match_line",
            F.when(F.col("line_scale").isNotNull(), F.col("line_idx")),
        )
        .groupBy(*FILING_KEY)
        .agg(
            F.min_by("line_scale", "match_line").alias("own_scale"),
        )
    )
    w = (
        Window.partitionBy("cik")
        .orderBy(F.col("filing_date").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return first_match.select(
        *FILING_KEY,
        F.coalesce(
            F.last("own_scale", ignorenulls=True).over(w), F.lit(1.0)
        ).alias("scale"),
    )
