"""Golden tests for the scalar-function library (SURVEY §2.8),
mirroring the reference's observable semantics (validation style 4:
known-input/known-output corpus)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from x17a5_spark.functions.accounting import (
    epsilon_one_digit_match,
    is_power_of_ten_ratio,
    relative_error_class,
    stage_parse_accounting_number,
)
from x17a5_spark.functions.text import (
    levenshtein_ratio,
    normalized_fingerprint,
    token_count,
    word_shingles,
)

# (dirty input, expected) — num_strip corpus per OCRClean.py:30-88
NUM_STRIP_CASES = [
    ("$ 606,278", 606278.0),
    ("(1,234)", -1234.0),
    ("(1,234", -1234.0),  # unclosed paren still negates
    ("I,234", 1234.0),  # I -> 1
    ("l23", 123.0),  # l -> 1
    ("432.2884", 4322884.0),  # >2 decimals: misplaced period removed
    ("432.28", 432.28),  # 2 decimals kept
    ("1.2.3", 12.3),  # keep only last period
    ("12-34", 1234.0),  # non-leading minus dropped
    ("-1234", -1234.0),  # leading minus kept
    ("-", 0.0),
    (".", 0.0),
    ("", None),
    ("abc", None),
    ("12|3", None),  # reference's charclass keeps '|' -> uncastable
    ("$", None),
]


def test_parse_accounting_number(spark):
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(NUM_STRIP_CASES)], ["id", "raw"]
    )
    got = {
        r["id"]: r["parsed"]
        for r in stage_parse_accounting_number(df, "raw", "parsed").collect()
    }
    for i, (raw, expected) in enumerate(NUM_STRIP_CASES):
        assert got[i] == pytest.approx(expected) if expected is not None else got[i] is None, (
            f"num_strip({raw!r}) = {got[i]}, want {expected}"
        )


POWER10_CASES = [
    (745.2322, 7452322.0, True),  # scaled by 1e4
    (100.0, 100000.0, True),  # 1e3
    (100.0, 170.0, False),
    (0.0, 100.0, False),  # zero guard
    (100.0, 0.0, False),
    (174182935.0, 74182935.0, True),  # dropped leading digit substring
    (1000.0, 1000.0, True),  # 10^0
]


def test_power_of_ten_ratio(spark):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b, _) in enumerate(POWER10_CASES)], ["id", "a", "b"]
    )
    got = {
        r["id"]: r["m"]
        for r in df.select(
            "id", is_power_of_ten_ratio(F.col("a"), F.col("b")).alias("m")
        ).collect()
    }
    for i, (a, b, expected) in enumerate(POWER10_CASES):
        assert got[i] == expected, f"power10({a}, {b}) = {got[i]}, want {expected}"


EPSILON_CASES = [
    (174182935.0, 174182935.0, False),  # identical -> zero diffs, not one
    (174182935.0, 174182635.0, True),  # one digit, tiny rel err
    (100.0, 900.0, False),  # one digit but 800% error
    (0.0, 100.0, False),
    (1234.0, 123.0, False),  # different lengths
]


def test_epsilon_one_digit(spark):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b, _) in enumerate(EPSILON_CASES)], ["id", "a", "b"]
    )
    got = {
        r["id"]: r["m"]
        for r in df.select(
            "id", epsilon_one_digit_match(F.col("a"), F.col("b")).alias("m")
        ).collect()
    }
    for i, (a, b, expected) in enumerate(EPSILON_CASES):
        assert got[i] == expected, f"epsilon({a}, {b}) = {got[i]}, want {expected}"


def test_relative_error_class(spark):
    rows = [(0.0, "PERFECT MATCH"), (0.005, "BOUNDED MATCH"), (0.5, "GROSS MISMATCH"),
            (None, "NOT FOUND"), (float("inf"), "GROSS MISMATCH")]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(rows)], "id int, err double"
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", relative_error_class(F.col("err")).alias("c")).collect()
    }
    for i, (_, expected) in enumerate(rows):
        assert got[i] == expected


def test_levenshtein_ratio_and_tokens(spark):
    df = spark.createDataFrame([("thousands", "Thousand5")], ["a", "b"])
    # lower-cased comparison: 1 substitution over 9 chars
    r = df.select(
        levenshtein_ratio(F.lower("a"), F.lower("b")).alias("r")
    ).first()["r"]
    assert r == pytest.approx(1 - 1 / 9)

    df2 = spark.createDataFrame([("  a  b   c  ",), ("",), ("one",)], ["t"])
    counts = [r["n"] for r in df2.select(token_count("t").alias("n")).collect()]
    assert counts == [3, 0, 1]

    sh = spark.createDataFrame([("a b c d",), ("a b",)], ["t"]).select(
        word_shingles("t", 3).alias("s")
    ).collect()
    assert sh[0]["s"] == ["a b c", "b c d"]
    assert sh[1]["s"] == []  # shorter than k -> empty, not garbage


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello   World",), ("hello world",)], ["t"])
    fps = [r["f"] for r in df.select(normalized_fingerprint(F.col("t")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_relative_error_class_nan(spark):
    # NaN flows the reference's NOT FOUND path via isNull? NaN is not
    # null in Spark — document the engine's contract: NaN err classifies
    # as GROSS MISMATCH (NaN comparisons are false, falls to otherwise).
    df = spark.createDataFrame([(float("nan"),)], "err double")
    got = df.select(relative_error_class(F.col("err")).alias("c")).first()["c"]
    assert got == "GROSS MISMATCH"


def test_power10_negative_ratio_no_domain_error(spark):
    df = spark.createDataFrame([(100.0, -1000.0)], ["a", "b"])
    got = df.select(is_power_of_ten_ratio(F.col("a"), F.col("b")).alias("m")).first()["m"]
    assert got is False or got is None  # log10 of negative -> null, not crash


def test_math_log10_power_identity():
    # the engine's F10 relies on exact log10 for powers of ten
    for k in range(0, 12):
        assert math.log10(10.0**k).is_integer()


# --- round 12: Unicode fold + t33 gate ------------------------------------


def test_unicode_fold_tables_are_translate_safe():
    """The 1:1 translate contract: no duplicate source chars, every
    mapped char single-width, deletions strictly after mappings."""
    from x17a5_spark.functions import unicode_fold as U

    assert len(set(U.TRANSLATE_FROM)) == len(U.TRANSLATE_FROM)
    assert len(U.TRANSLATE_FROM) == len(U.TRANSLATE_TO) + len(U._DELETE)
    assert all(len(k) == 1 and len(v) == 1 for k, v in U._FOLD_1TO1.items())


def test_unicode_fold_cross_engine_parity(spark):
    """Spark and DuckDB must fold the corrupted classes identically —
    the exact parity the oracle hash gate depends on."""
    import unicodedata

    import duckdb

    from x17a5_spark.functions.unicode_fold import unicode_fold, unicode_fold_sql

    probes = [
        "café test",
        unicodedata.normalize("NFD", "café test"),
        "cafÃ© test",  # mojibake
        "ａｂｃ １２",  # fullwidth
        "ﬁnancial ‘ok’",  # ligature + curly quotes
        "a​b c",  # zero-width + NBSP
        "donâ€™t â€œquote",  # cp1252 punctuation mojibake
        "plain ascii stays",
    ]
    df = spark.createDataFrame([(s,) for s in probes], ["t"])
    got_spark = [r["f"] for r in df.select(unicode_fold("t").alias("f")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {unicode_fold_sql('t')} FROM (SELECT ? AS t)", [s]).fetchone()[0]
        for s in probes
    ]
    assert got_spark == got_duck
    assert got_spark[0] == got_spark[1] == got_spark[2] == "cafe test"
    assert got_spark[3] == "abc 12"
    assert got_spark[-1] == "plain ascii stays"


def _fold_fuzz_alphabet():
    """The fold's OWN alphabet plus bystanders: every FOLD_SEQ source
    char, every translate source, ASCII, and a band of unrelated
    Unicode (Greek/Cyrillic/CJK/punctuation) that must pass through
    untouched. Sampling FROM the tables is what makes the fuzz sharp:
    random full-Unicode strings almost never compose two table entries
    into an overlapping window."""
    from x17a5_spark.functions import unicode_fold as U

    table_chars = set("".join(bad for bad, _ in U.FOLD_SEQ))
    table_chars |= set(U.TRANSLATE_FROM)
    ascii_chars = {chr(c) for c in range(0x20, 0x7F)}
    bystanders = set("αβΩжЯ中文🙂€™§¶°±×÷")
    return sorted(table_chars | ascii_chars | bystanders)


def test_unicode_fold_fuzz_cross_engine_and_idempotent(spark):
    """VERDICT r12 #4: hypothesis sweep over the fold alphabet. The
    8-probe parity test cannot see a table entry whose digraph output
    overlaps another entry's source (a replace-chain ordering bug) or
    an engine disagreement on a rare translate char. For ~200 random
    strings built FROM the fold's own tables, assert byte-equality
    Spark == DuckDB and engine-level idempotence
    fold(fold(x)) == fold(x) in BOTH engines.

    Batched 50 strings/example x 4 examples so the property costs 4
    Spark jobs, not 200."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from x17a5_spark.functions.unicode_fold import (
        unicode_fold,
        unicode_fold_sql,
    )

    alphabet = _fold_fuzz_alphabet()
    chunk = st.text(alphabet=st.sampled_from(alphabet), max_size=12)
    # splice raw multi-char FOLD_SEQ sources in whole, so digraphs and
    # near-miss prefixes (pattern minus its last char, pattern twice)
    # occur far more often than char-level sampling would produce
    from x17a5_spark.functions import unicode_fold as U

    seqs = st.sampled_from(
        [bad for bad, _ in U.FOLD_SEQ] + [bad[:-1] for bad, _ in U.FOLD_SEQ]
    )
    piece = st.one_of(chunk, seqs)
    fuzz_string = st.builds(lambda parts: "".join(parts), st.lists(piece, max_size=6))

    con = duckdb.connect()
    sql1 = unicode_fold_sql("t")
    sql2 = unicode_fold_sql(f"({sql1})")

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(fuzz_string, min_size=50, max_size=50))
    def prop(strings):
        df = spark.createDataFrame([(s,) for s in strings], ["t"])
        rows = df.select(
            unicode_fold("t").alias("f1"),
            unicode_fold(unicode_fold("t")).alias("f2"),
        ).collect()
        duck = [
            con.execute(
                f"SELECT {sql1}, {sql2} FROM (SELECT ? AS t)", [s]
            ).fetchone()
            for s in strings
        ]
        for s, r, (d1, d2) in zip(strings, rows, duck):
            assert r["f1"] == d1, (s, r["f1"], d1)
            assert r["f2"] == r["f1"], ("spark idempotence", s, r["f1"], r["f2"])
            assert d2 == d1, ("duckdb idempotence", s, d1, d2)

    prop()


def test_t33_planted_twins_all_resolve_to_their_original(spark):
    """The gate's whole point: every fullwidth/mojibake/NFD twin must
    collapse onto its original's folded fingerprint (rep_id == base id),
    and only the mojibake class trips the double-encoding detector."""
    from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET
    from x17a5_spark.queries.textops import t33_unicode_normalize

    out = t33_unicode_normalize(spark, "/root/testdata/sf0.001").collect()
    twins = [r for r in out if r["doc_id"] >= AUG_TWIN_OFFSET]
    assert twins, "no planted twins in the output"
    for r in twins:
        base = r["doc_id"] - AUG_TWIN_OFFSET
        assert r["is_dup"] == 1, r
        assert r["rep_id"] <= base, r  # original (or an earlier natural dup)
        # the corrupted text must actually have been folded
        assert r["n_folded"] >= 0
        assert r["had_mojibake"] == (1 if base % 3 == 1 else 0), r
    originals = [r for r in out if r["doc_id"] < AUG_TWIN_OFFSET]
    assert all(r["had_mojibake"] == 0 and r["n_folded"] == 0 for r in originals)


def test_unicode_fold_ascii_is_a_fixed_point():
    """The ASCII fast path's soundness condition: every FOLD_SEQ
    pattern and every translate source char is non-ASCII, so skipping
    the chain on ASCII text cannot change any value."""
    from x17a5_spark.functions import unicode_fold as U

    assert all(any(ord(ch) > 127 for ch in bad) for bad, _ in U.FOLD_SEQ)
    assert all(ord(ch) > 127 for ch in U.TRANSLATE_FROM)
