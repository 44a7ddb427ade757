"""Golden tests for unit-scale detection (OCRClean.py:370-414 semantics)
and the structured-database build with accounting-identity validation
(DatabaseStructured.py:161-267 — the reference's de-facto golden test,
SURVEY §5.1)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from x17a5_spark.ml import predict_labels, train_lineitem_classifier
from x17a5_spark.operators.structured import (
    build_structured_assets,
    build_structured_liabilities,
)
from x17a5_spark.operators.scaler import (
    SCALE_WORDS,
    _line_scale_py,
    detect_unit_scale,
    line_scale,
)


def test_detect_unit_scale(spark):
    text = spark.createDataFrame(
        [
            # filing 1: exact word
            ("1", "2020-01-01", 0, "Statement of Financial Condition"),
            ("1", "2020-01-01", 1, "Dollars in Thousands"),
            # filing 2: parenthesized marker — token "millions)" still
            # scores 94 (indel) vs "millions"
            ("2", "2020-01-01", 0, "(in Millions)"),
            # filing 3 cik 1: no marker -> carries filing 1's scale
            ("1", "2021-01-01", 0, "no units here"),
            # filing 4 cik 9: no marker, no prior -> default 1
            ("9", "2020-01-01", 0, "nothing"),
            # filing 5: singular 'million' must still match (indel ratio
            # 93 >= 90 where plain levenshtein ratio would say 87.5)
            ("3", "2020-01-01", 0, "expressed in million dollars"),
        ],
        "cik string, filing_date string, line_idx int, line_text string",
    )
    out = {
        (r["cik"], r["filing_date"]): r["scale"]
        for r in detect_unit_scale(text).collect()
    }
    assert out[("1", "2020-01-01")] == 1e3
    assert out[("2", "2020-01-01")] == 1e6
    assert out[("1", "2021-01-01")] == 1e3  # carry-forward per CIK
    assert out[("9", "2020-01-01")] == 1.0
    assert out[("3", "2020-01-01")] == 1e6


def test_scale_priority_order(spark):
    # a line matching several scale words resolves in dict order
    # (thousands before millions), and the first matching line wins
    text = spark.createDataFrame(
        [
            ("1", "d", 0, "thousands of millions"),
            ("1", "d", 1, "billions"),
        ],
        "cik string, filing_date string, line_idx int, line_text string",
    )
    out = detect_unit_scale(text).first()
    assert out["scale"] == 1e3


def _edits(word: str, rng: random.Random, n: int) -> str:
    """``word`` after ``n`` random single-character edits (insert,
    delete or substitute), drawing letters mostly from the scale words
    so that near-misses keep their subsequence structure."""
    letters = "thousandmilbr" + "xz)(.İßςΣK"
    for _ in range(n):
        i = rng.randrange(len(word) + 1)
        op = rng.choice("ids") if word else "i"
        if op == "i":
            word = word[:i] + rng.choice(letters) + word[i:]
        elif i < len(word):
            word = word[:i] + (rng.choice(letters) if op == "s" else "") + word[i + 1:]
    return word


def test_line_scale_matches_difflib_reference(spark):
    """The closed-form Column rule equals the difflib reference
    ``_line_scale_py`` line for line: the FIDELITY typos, 1- and 2-edit
    neighbours of each scale word, empty tokens from doubled spaces,
    null and empty lines, and characters whose lower case differs in
    length or context (dotted capital I, sharp s, final sigma, the
    Kelvin sign). All lines go through one DataFrame and one collect."""
    rng = random.Random(17)
    words = [w for w, _ in SCALE_WORDS] + ["million", "millions)", "Thousnds", "Millons"]
    pool = words + ["in", "Dollars", "(in", "İn", "ß", "ΟΔΟΣ", "Kelvin", "", "net"]
    lines = ["", " ", "  thousands", "Dollars in Thousnds", "Expressed in Millons"]
    for _ in range(2500):
        toks = []
        for _ in range(rng.randint(1, 5)):
            tok = rng.choice(pool)
            if tok in words and rng.random() < 0.7:
                tok = _edits(tok, rng, rng.choice((1, 1, 2)))
            toks.append(tok.upper() if rng.random() < 0.2 else tok)
        lines.append(" ".join(toks))
    rows = [(i, line) for i, line in enumerate(lines)] + [(len(lines), None)]
    df = spark.createDataFrame(rows, "i int, line_text string")
    got = dict(df.select("i", line_scale(F.col("line_text"))).collect())
    want = [_line_scale_py(line) for line in lines] + [None]
    mismatches = [(lines[i], got[i], w) for i, w in enumerate(want[:-1]) if got[i] != w]
    assert not mismatches, mismatches[:10]
    assert got[len(lines)] is None
    # the sample exercises every scale word and the no-match case
    assert {m for _, m in SCALE_WORDS} | {None} <= set(want)


LABELS_A = ["Cash and cash equivalents", "Receivables", "Total assets"]
LABELS_L = [
    "Payables",
    "Total liabilities",
    "Total shareholder's equity",
    "Total liabilities and shareholder's equity",
]


def _long_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "cik string, name string, filing_date string, fiscal_year int, "
        "lineitem string, value double",
    )


def test_structured_assets_identity(spark):
    label_map = spark.createDataFrame(
        [
            ("Cash", "Cash and cash equivalents"),
            ("Cash equivalents", "Cash and cash equivalents"),
            ("Receivables from customers", "Receivables"),
            ("Total assets", "Total assets"),
        ],
        ["lineitem", "label"],
    )
    rows = [
        # perfect: 100 + 200 + 300 == 600
        ("1", "A Corp", "2020-06-30", 2019, "Cash", 100.0),
        ("1", "A Corp", "2020-06-30", 2019, "Cash equivalents", 200.0),
        ("1", "A Corp", "2020-06-30", 2019, "Receivables from customers", 300.0),
        ("1", "A Corp", "2020-06-30", 2019, "Total assets", 600.0),
        # bounded: recon 1000 vs reported 1005 (~0.5%)
        ("2", "B Corp", "2020-06-30", 2019, "Cash", 1000.0),
        ("2", "B Corp", "2020-06-30", 2019, "Total assets", 1005.0),
        # gross: recon 10 vs 1000
        ("3", "C Corp", "2020-06-30", 2019, "Cash", 10.0),
        ("3", "C Corp", "2020-06-30", 2019, "Total assets", 1000.0),
        # not found: no Total assets row
        ("4", "D Corp", "2020-06-30", 2019, "Cash", 50.0),
        # amended filing for cik 1, same fiscal year -> dropped (keep first)
        ("1", "A Corp", "2020-09-30", 2019, "Cash", 999.0),
        ("1", "A Corp", "2020-09-30", 2019, "Total assets", 999.0),
    ]
    out = build_structured_assets(_long_df(spark, rows), label_map, LABELS_A).toPandas()
    by_cik = out.set_index("cik")
    assert len(out) == 4  # amended filing deduped
    assert by_cik.loc["1", "total_asset_check"] == "PERFECT MATCH"
    assert by_cik.loc["1", "filing_date"] == "2020-06-30"
    assert by_cik.loc["2", "total_asset_check"] == "BOUNDED MATCH"
    assert by_cik.loc["3", "total_asset_check"] == "GROSS MISMATCH"
    assert by_cik.loc["4", "total_asset_check"] == "NOT FOUND"
    assert by_cik.loc["1", "reconstructed_total_assets"] == pytest.approx(600.0)


def test_structured_liabilities_best_of_four(spark):
    label_map = spark.createDataFrame(
        [
            ("Payables to customers", "Payables"),
            ("Total liabilities", "Total liabilities"),
            ("Stockholders equity", "Total shareholder's equity"),
            ("Total liabilities and equity", "Total liabilities and shareholder's equity"),
        ],
        ["lineitem", "label"],
    )
    # filing where the raw sum double-counts the subtotal rows: only the
    # "less both" reconstruction matches: payables 700 + TL 700 + equity
    # 300 = 1700; less both = 700 vs reported 1000? -> construct so
    # less-both is exact: payables 700, TL 700, eq 300, reported 1000;
    # base=1700, less_liab=1000 (exact) — variant 2 wins.
    rows = [
        ("1", "A", "2020-06-30", 2019, "Payables to customers", 700.0),
        ("1", "A", "2020-06-30", 2019, "Total liabilities", 700.0),
        ("1", "A", "2020-06-30", 2019, "Stockholders equity", 300.0),
        ("1", "A", "2020-06-30", 2019, "Total liabilities and equity", 1000.0),
    ]
    out = build_structured_liabilities(
        _long_df(spark, rows), label_map, LABELS_L
    ).toPandas()
    row = out.iloc[0]
    assert row["recon_total_le"] == pytest.approx(1700.0)
    assert row["recon_total_le_less_liab"] == pytest.approx(1000.0)
    assert row["relative_error"] == pytest.approx(0.0)
    assert row["total_le_check"] == "PERFECT MATCH"


def test_classifier_end_to_end(spark):
    # synthetic imbalanced training set in the reference's shape
    base = [
        ("Cash", "Cash and cash equivalents"),
        ("Cash and cash equivalents", "Cash and cash equivalents"),
        ("Cash equivalents", "Cash and cash equivalents"),
        ("Cash on deposit", "Cash and cash equivalents"),
        ("Receivables from customers", "Receivables"),
        ("Receivables from brokers", "Receivables"),
        ("Receivable from clearing organizations", "Receivables"),
        ("Net receivables", "Receivables"),
        ("Total assets", "Total assets"),
        ("TOTAL ASSETS", "Total assets"),
        ("Total assets held", "Total assets"),
    ]
    training = spark.createDataFrame(base * 5, ["lineitem", "label"])
    model = train_lineitem_classifier(training)
    test = spark.createDataFrame(
        [("Cash and equivalents",), ("Receivables from dealers",), ("Total assets",)],
        ["lineitem"],
    )
    preds = {r["lineitem"]: r for r in predict_labels(model, test).collect()}
    assert preds["Cash and equivalents"]["label"] == "Cash and cash equivalents"
    assert preds["Receivables from dealers"]["label"] == "Receivables"
    assert preds["Total assets"]["label"] == "Total assets"
    assert all(0.0 <= r["max_score"] <= 1.0 for r in preds.values())
