"""Text-analysis scalar functions: fuzzy ratios (F2), token stats,
fingerprints — the building blocks for the cleaning layer and for the
large-scale text-pipeline operators (dedup, quality scoring, lang-ID).

Everything here is built-in column expressions (codegen'd, scale-safe).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def levenshtein_ratio(a: Column | str, b: Column | str) -> Column:
    """F2 — Levenshtein similarity ``1 - lev(a,b)/max(len)``, JVM-side.

    This is not ``fuzz.ratio``, which is indel-based
    (``2M / (len_a+len_b)`` on matching blocks), and the two disagree at
    the reference's >=90 unit-scale threshold (OCRClean.py:370-414):
    'million' vs 'millions' is 87.5 here and 93.3 under ``fuzz.ratio``.
    Unit scaling uses the exact ``fuzz.ratio`` rule in
    operators/scaler.py.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    denom = F.greatest(F.length(ca), F.length(cb))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(ca, cb) / denom
    )


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token hygiene."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (quality-scoring feature)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[^.!?,;:]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct / F.length(c)
    )


def normalized_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the Unicode-folded,
    whitespace-normalized, lowercased text. Deterministic across
    engines (used by exact dedup; the oracle twin is
    ``unicode_fold.norm_fp_sql``).

    The fold runs FIRST, so visually-identical NFC/NFD/fullwidth/
    mojibake twins collapse to one fingerprint instead of escaping
    d1/d15 — identity on ASCII corpora (every shipped gate lake), so
    every existing hash gate is unchanged by construction."""
    from x17a5_spark.functions.unicode_fold import unicode_fold

    c = F.col(col) if isinstance(col, str) else col
    return fingerprint_of_folded(unicode_fold(c))


def fingerprint_of_folded(col: Column | str) -> Column:
    """The post-fold tail of :func:`normalized_fingerprint` — md5 of
    the whitespace-normalized, lowercased, ALREADY-FOLDED text. For
    callers that also need the folded text itself (t33 derives
    ``n_folded`` from it): staging the fold once and fingerprinting
    the staged column avoids running the ~40-replace fold chain twice
    per row (guide §1.2 per-task work)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array of space-joined strings — the unit of
    MinHash / Jaccard near-dup detection.

    Built from k-1 ``zip_with`` passes over shifted views of the token
    array (O(n·k) total, two array traversals for k=3) instead of a
    per-index ``slice`` transform (O(n·k) with n array allocations) —
    ~4× faster on the measured corpus. ``zip_with`` null-pads the
    shorter side and ``concat_ws`` drops nulls, so the trailing partial
    shingles are cut by the final slice; documents shorter than k
    short-circuit to an empty array (``sequence(1, 0)`` would descend).
    """
    toks = tokens(col)
    n = F.size(toks)
    big = F.lit(1 << 20)
    joined = toks
    for offset in range(2, k + 1):
        joined = F.zip_with(
            joined, F.slice(toks, offset, big), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.slice(joined, 1, n - (k - 1))
    )
