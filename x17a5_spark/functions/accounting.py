"""Accounting-domain scalar functions (SURVEY.md §2.8 F1/F10/F11/F12).

Each is a pure composition of built-in column expressions so the whole
cleaning layer stays inside whole-stage codegen — no Python UDFs.
Behavioral contracts cite the reference (/root/reference) file:line.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# F1 — ``num_strip`` as FOUR rewrite steps, composed by
# ``stage_parse_accounting_number``.
# ---------------------------------------------------------------------------


def _f1_strip(s: Column) -> Column:
    """Sign mark + OCR confusions + character-class strip."""
    return F.regexp_replace(
        F.translate(
            F.when(s.startswith("("), F.concat(F.lit("-"), s)).otherwise(s),
            "Il",
            "11",
        ),
        r"[^0-9|.\-]",
        "",
    )


def _f1_minus(s: Column) -> Column:
    """'-' kept only in leading position: translate beats the regex
    lookbehind ``(?<!^)-`` by ~3x (char map vs per-row backtracking)."""
    return F.when(
        s.startswith("-"),
        F.concat(F.lit("-"), F.translate(s, "-", "")),
    ).otherwise(F.translate(s, "-", ""))


def _f1_dots(s: Column) -> Column:
    """Keep only the *last* '.' (the lookahead ``\\.(?=[^.]*\\.)`` in
    spec form): the tail after the last dot is invariant under removing
    earlier dots, so split there and strip dots from the head. A
    decimal tail longer than 2 digits is a misplaced OCR period —
    remove every dot."""
    tail = F.substring_index(s, ".", -1)
    return (
        F.when(~s.contains("."), s)
        .when(F.length(tail) > 2, F.translate(s, ".", ""))
        .otherwise(
            F.concat(
                F.translate(
                    F.substr(s, F.lit(1), F.length(s) - F.length(tail) - 1),
                    ".",
                    "",
                ),
                F.lit("."),
                tail,
            )
        )
    )


def _f1_cast(s: Column) -> Column:
    """try_cast: malformed residue (e.g. a surviving '|') -> null
    rather than an ANSI-mode cast error; bare '-'/'.' -> 0.0."""
    return F.when(s.isin("-", "."), F.lit(0.0)).otherwise(s.try_cast("double"))


_F1_STEPS = [_f1_strip, _f1_minus, _f1_dots, _f1_cast]


# unique temp-column prefix per staging call, so the helper can be
# applied to several columns of the same DataFrame without collisions
_STAGE_SEQ = itertools.count()


def stage_parse_accounting_number(
    df: DataFrame, src: Column | str, out: str
) -> DataFrame:
    """F1 — ``num_strip``: dirty OCR numeric string ``src`` -> double
    (or null) in column ``out`` of ``df``.

    Behavior per reference OCRClean.py:30-88:
      * leading ``(`` marks an accounting negative;
      * OCR confusions ``I``/``l`` read as ``1``;
      * every char outside ``[0-9|.-]`` is dropped (the reference's
        character class keeps literal ``|``, which then fails the final
        numeric cast — preserved here for parity);
      * ``-`` kept only in leading position; only the *last* ``.`` kept;
      * a decimal tail longer than 2 digits is treated as a misplaced
        OCR period and removed entirely;
      * bare ``-`` / ``.`` -> 0.0; anything uncastable -> null.

    Each rewrite step lands in a real intermediate column instead of
    being inlined into every reference site of the previous one. Inlined,
    the input subtree is copied about 144 times; composed twice inside
    the W4 merge plus once on the split output, the generated
    ``processNext`` exceeds janino's 64 KB method limit and Spark
    silently drops the whole stage to interpreted row-at-a-time eval,
    and f1/c5's dirty-string CASE plans 720 ``format_number`` calls
    instead of 5. Staging keeps each projection's tree linear, so plan
    construction (Catalyst analysis and optimization) stays linear in
    the input's size too; the non-cheap producers referenced more than
    once are protected from CollapseProject re-inlining (SPARK-36718),
    so whole-stage codegen compiles. A compound ``src`` is still copied
    into the first step's three references; land it in a column of its
    own first to plan it once.
    """
    s = F.col(src) if isinstance(src, str) else src
    p = f"__pan{next(_STAGE_SEQ)}"
    temps: list[str] = []
    # every step but the last lands in its own temp column; each step's
    # expression references only the PREVIOUS attribute, so the tree
    # per projection is linear regardless of reference count
    for i, step in enumerate(_F1_STEPS):
        name = out if i == len(_F1_STEPS) - 1 else f"{p}s{i}"
        df = df.withColumn(name, step(s))
        s = F.col(name)
        if name != out:
            temps.append(name)
    return df.drop(*temps)


def is_power_of_ten_ratio(x1: Column, x2: Column) -> Column:
    """F10 — ``multiple_check`` core predicate (DatabaseUnstructured.py:32-60).

    True when ``x2`` is ``x1`` scaled by an integer power of 10, or when
    the decimal rendering of ``x2`` is a substring of ``x1``'s with
    exactly one fewer character (dropped-leading-digit OCR error).
    Zero on either side is never a match (reference guards division).
    """
    lg = F.log10(F.try_divide(x2, x1))
    # the ratio over x1 = 0 and log10 of a negative ratio are null —
    # coalesce so the OR can still fall through to the substring check
    # (reference: numpy nan -> False)
    power10 = F.coalesce(lg == F.floor(lg), F.lit(False))
    s1 = _py_float_repr(x1)
    s2 = _py_float_repr(x2)
    substring_drop = s1.contains(s2) & (F.length(s2) == F.length(s1) - 1)
    # a plain AND, not a CASE: each rendering appears twice outside any
    # branch, so subexpression elimination evaluates it once per row in
    # a method of its own. Inlined into a CASE branch, two copies each
    # push c5's projection method past the JIT's 8,000-byte limit, and
    # the JVM interprets it (measured: c5 twice as slow).
    return ~((x1 == 0) | (x2 == 0)) & (power10 | substring_drop)


def _py_float_repr(x: Column) -> Column:
    """Python's ``str(float)`` for the string-shape checks, which the
    reference runs on ``str()``.

    Python writes a plain decimal for 1e-4 <= |x| < 1e16
    (``12345678.5``, ``0.0001``, ``123.0``) and ``1e+16``, ``1.5e-07``
    outside. Spark's string cast is Java's ``Double.toString``, plain
    only from 1e-3 to 1e7 (``1.23456785E7``, ``1.0E-4``), and
    ``NaN``/``Infinity``. Integral amounts, the OCR common case, print
    from their ``long``. Other values in the plain range cast to
    ``decimal(38, 20)``, which keeps Java's digits (Spark builds the
    decimal from ``Double.toString``) and prints them plain, so only
    the trailing zeros go. Outside it, Java's mantissa and exponent are
    reformatted to Python's ``e+NN``.

    The digits are Java's. JDK 17's ``Double.toString`` is not always
    the shortest round-trip form, as Python's is: it renders
    ``2.82879384806159e17`` as ``2.82879384806159008E17`` and
    ``5e-324`` as ``4.9E-324``, and those digits carry over.
    """
    java = x.cast("string")
    below_1e16 = F.abs(x) < 1e16  # false for NaN, which Spark orders above all
    # strip the scale's trailing zeros but the one after the point
    plain = F.regexp_replace(x.cast("decimal(38, 20)").cast("string"), r"(?<!\.)0+$", "")
    sci = F.concat(
        F.substring_index(F.replace(java, F.lit(".0E"), F.lit("E")), "E", 1),
        F.format_string("e%+03d", F.substring_index(java, "E", -1).cast("int")),
    )
    return (
        F.when((x == F.floor(x)) & below_1e16 & (x != 0), F.concat(x.cast("long").cast("string"), F.lit(".0")))
        .when((F.abs(x) >= 1e-4) & below_1e16, plain)
        .when(java.contains("E"), sci)
        # 0.0, -0.0, NaN, Infinity, -Infinity -> 0.0, -0.0, nan, inf, -inf
        .otherwise(F.substring_index(F.lower(java), "i", 2))
    )


def epsilon_one_digit_match(x1: Column, x2: Column) -> Column:
    """F11 — ``epsilon_error`` (DatabaseUnstructured.py:62-106).

    True when the decimal renderings have equal length and differ in
    exactly one character position, and the relative difference is
    within 1%. A Levenshtein distance of 1 between equal-length
    strings is exactly "one substituted character", so the built-in
    ``levenshtein`` replaces the reference's positional scan.
    """
    s1 = _py_float_repr(x1)
    s2 = _py_float_repr(x2)
    return (
        (x1 != 0)
        & (x2 != 0)
        & (F.length(s1) == F.length(s2))
        # bounded variant: banded O(n*k) early-exit instead of the full
        # O(n^2) matrix; == 1 is unchanged (distance <= 2 is exact)
        & (F.levenshtein(s1, s2, 2) == 1)
        & (F.abs((x1 - x2) / x1) <= 0.01)
    )


def relative_error_class(err: Column) -> Column:
    """F12 — ``relative_indicator`` (DatabaseStructured.py:130-148).

    0 -> PERFECT MATCH; (0, 1%) -> BOUNDED MATCH; >= 1% -> GROSS
    MISMATCH; null -> NOT FOUND.
    """
    return (
        F.when(err.isNull(), F.lit("NOT FOUND"))
        .when(err == 0, F.lit("PERFECT MATCH"))
        .when(err < 0.01, F.lit("BOUNDED MATCH"))
        .otherwise(F.lit("GROSS MISMATCH"))
    )
