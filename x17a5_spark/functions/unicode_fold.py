"""Unicode normalization / encoding-repair fold: the gate every
production LLM-cleaning stack (CCNet, Dolma) runs before
fingerprinting. Three codegen-expressible layers,
derived from ONE set of Python tables interpolated into BOTH engines
(the d3 md5-constant discipline), so the fold is value-exact
cross-engine by construction:

1. **Sequence repair** (``FOLD_SEQ``, ordered ``replace`` chain):
   cp1252/latin-1 mojibake digraphs (``Ã©`` -> ``é``, ``â€™`` -> ``'``,
   ``Â\\xa0`` -> space — the UTF-8-bytes-read-as-latin-1 class), NFKC
   ligature expansion (``ﬁ`` -> ``fi``), and the 1:N punctuation folds
   (``…`` -> ``...``).
2. **1:1 fold** (one ``translate`` pass): fullwidth ASCII -> ASCII
   (NFKC), accented Latin -> base letter (confusable collapse — this
   is deliberately WIDER than NFKC so NFC/NFD/mojibake forms of the
   same word all converge), curly quotes/dashes -> ASCII, NBSP and
   ideographic space -> space.
3. **Deletions** (same ``translate`` pass, shorter replace string):
   combining marks U+0300–U+036F (what NFD leaves after layer 2 folds
   the precomposed forms), soft hyphen, zero-widths, BOM.

Scale: the whole fold is ~30 substring replaces plus one translate —
stateless column expressions inside whole-stage codegen; no UDF, no
shuffle, byte-proportional like every other scalar gate.

There is deliberately NO dependency on a Unicode library at execution
time: full NFKC needs the UCD tables, but the classes that actually
corrupt web-scale dedup are the curated ones above, and a curated
table is what both engines can evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- shared tables -------------------------------------------------------

# accented Latin -> base letter (lowercase; uppercase generated below)
_ACCENTS: dict[str, str] = {
    "a": "àáâãäåāăą",
    "c": "çćĉċč",
    "e": "èéêëēĕėęě",
    "i": "ìíîïĩīĭįı",
    # (ŉ excluded: its uppercase is the two-char ʼN, which breaks the
    # 1:1 translate contract)
    "n": "ñńņň",
    "o": "òóôõöøōŏő",
    "s": "śŝşš",
    "u": "ùúûüũūŭůűų",
    "y": "ýÿŷ",
    "z": "źżž",
}


def _mojibake_pairs() -> list[tuple[str, str]]:
    """UTF-8 bytes of each folded accent char read as latin-1: the
    2-byte sequence for U+0080..U+07FF is (0xC0 | cp>>6, 0x80 | cp&0x3F)
    -> latin-1 chars (Ã or Ä or Å, second byte). Only pairs whose
    second byte is a PRINTABLE latin-1 char are generated — a C1
    control (0x80-0x9F) rarely survives transport intact, and a repair
    table should only claim sequences it can actually see."""
    out: list[tuple[str, str]] = []
    chars = sorted({c for v in _ACCENTS.values() for c in v if ord(c) < 0x100})
    for ch in chars:
        cp = ord(ch)
        b1, b2 = 0xC0 | (cp >> 6), 0x80 | (cp & 0x3F)
        if b2 >= 0xA0:
            out.append((chr(b1) + chr(b2), ch))
    return out


# ordered: mojibake digraphs first (they produce the accented chars the
# translate pass then folds), then ligatures, then 1:N punctuation
FOLD_SEQ: list[tuple[str, str]] = (
    [
        ("â€™", "'"),  # â€™  (mojibake of ’)
        ("â€œ", '"'),  # â€œ  (mojibake of “)
        ("â€“", "-"),  # â€“  (mojibake of –)
        ("â€”", "-"),  # â€”  (mojibake of —)
        ("â€¦", "..."),  # â€¦ (mojibake of …)
        ("Â ", " "),  # Â·nbsp (mojibake of NBSP)
    ]
    + _mojibake_pairs()
    + [
        ("ﬀ", "ff"),
        ("ﬁ", "fi"),
        ("ﬂ", "fl"),
        ("ﬃ", "ffi"),
        ("ﬄ", "ffl"),
        ("ﬅ", "st"),
        ("ﬆ", "st"),
        ("…", "..."),  # ellipsis
    ]
)

# 1:1 fold, applied AFTER the sequence layer in one translate pass
_FOLD_1TO1: dict[str, str] = {}
for i in range(0x21, 0x7F):  # fullwidth ！..～ -> ASCII !..~
    _FOLD_1TO1[chr(i + 0xFEE0)] = chr(i)
for base, accs in _ACCENTS.items():
    for ch in accs:
        _FOLD_1TO1[ch] = base
        # ı.upper() is the ASCII 'I' — an ASCII key would break the
        # fixed-point contract the fast path relies on; skip it
        if ord(ch.upper()) > 127:
            _FOLD_1TO1[ch.upper()] = base.upper()
_FOLD_1TO1.update(
    {
        "　": " ",  # ideographic space
        " ": " ",  # NBSP
        "‘": "'",
        "’": "'",
        "“": '"',
        "”": '"',
        "–": "-",
        "—": "-",
        "ß": "s",  # ß (confusable-collapse grade, not NFKC)
    }
)

# deleted outright: combining marks (NFD residue), soft hyphen,
# zero-widths, BOM
_DELETE = (
    "".join(chr(c) for c in range(0x0300, 0x0370))
    + "­​‌‍﻿"
)

# translate contract: deletions must come AFTER every mapped char so
# the shorter replace string drops exactly them
TRANSLATE_FROM = "".join(_FOLD_1TO1) + _DELETE
TRANSLATE_TO = "".join(_FOLD_1TO1.values())

# pre-repair detection markers (the double-encoding tell-tales).
# KNOWN FALSE-POSITIVE CLASS: single 'Ã'/'Â' are
# legitimate codepoints in well-formed Portuguese / Vietnamese /
# French text ("Ângela", "IRMÃ"), so had_mojibake means "contains a
# double-encoding MARKER", not "double-encoding proven". The flag is
# only a detector bit in the t33 output (cross-engine consistent by
# construction); the REPAIR step itself is safe on such text because
# it replaces only full two-char digraphs from the generated pair
# table ('Ã©' etc.), never a lone marker char — "Ângela" carries the
# flag but folds exactly like its clean NFC form. Tightening the
# markers to digraphs-only would change t33's published column
# semantics for no repair-behavior gain, so the class is documented
# instead.
MOJIBAKE_MARKERS: tuple[str, ...] = ("Ã", "â€", "Â")


def _sq(s: str) -> str:
    """SQL single-quoted literal body (duckdb standard strings)."""
    return s.replace("'", "''")


# --- engine builders -----------------------------------------------------


def unicode_fold(col: Column | str) -> Column:
    """The full fold as built-in column expressions (codegen'd).

    ASCII fast path (result-preserving): every FOLD_SEQ
    pattern and every translate source char is non-ASCII, so pure
    ASCII text is a FIXED POINT of the fold — detected in O(1)+O(n)
    JVM work as ``octet_length == length`` (UTF-8 bytes == chars iff
    ASCII), which skips the ~40 substring replaces per document. The
    d1 20× cost of the unguarded chain measured 0.34 → 1.67 s; the
    oracle keeps the unguarded chain (identical values on both
    branches), so no SQL changes. ``test_functions`` pins the
    fixed-point claim against the tables."""
    c = F.col(col) if isinstance(col, str) else col
    folded = c
    for bad, good in FOLD_SEQ:
        folded = F.replace(folded, F.lit(bad), F.lit(good))
    folded = F.translate(folded, TRANSLATE_FROM, TRANSLATE_TO)
    return F.when(F.octet_length(c) == F.length(c), c).otherwise(folded)


def unicode_fold_sql(expr: str) -> str:
    """The identical fold as a DuckDB scalar expression."""
    out = expr
    for bad, good in FOLD_SEQ:
        out = f"replace({out}, '{_sq(bad)}', '{_sq(good)}')"
    return (
        f"translate({out}, '{_sq(TRANSLATE_FROM)}', '{_sq(TRANSLATE_TO)}')"
    )


def norm_fp_sql(expr: str = "text") -> str:
    """The DuckDB twin of ``text.normalized_fingerprint`` — ONE
    builder for every oracle that spells the fingerprint, so no oracle
    can hand-spell a form that skips the fold."""
    return (
        f"md5(lower(regexp_replace(trim({unicode_fold_sql(expr)}),"
        f" '\\s+', ' ', 'g')))"
    )


def had_mojibake(col: Column | str) -> Column:
    """1 if the RAW text carries a double-encoding marker."""
    c = F.col(col) if isinstance(col, str) else col
    pred = F.lit(False)
    for m in MOJIBAKE_MARKERS:
        pred = pred | c.contains(m)
    return pred.cast("int")


def had_mojibake_sql(expr: str) -> str:
    ors = " OR ".join(
        f"contains({expr}, '{_sq(m)}')" for m in MOJIBAKE_MARKERS
    )
    return f"CAST(({ors}) AS INT)"
