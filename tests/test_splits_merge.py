"""Golden tests for bisection split (DatabaseSplits.py:25-120), 3->2
column merge (OCRClean.py:113-193), fuzzy sequence merge
(DatabaseUnstructured.py:186-257), and conjoined-row split
(OCRClean.py:219-361)."""

from __future__ import annotations

from x17a5_spark.operators.merge import (
    merge_three_columns,
    partial_ratio,
    special_merge,
    special_merge_kernel,
)
from x17a5_spark.operators.row_split import row_split_kernel, split_conjoined_rows
from x17a5_spark.operators.splits import bs_split_kernel, split_balance_sheet


# ---------------------------------------------------------------- bsSplit
def test_bs_split_basic():
    items = ["Cash", "Receivables", "Total assets", "Payables", "Total liabilities"]
    assert bs_split_kernel(items) == (3, 5)


def test_bs_split_reversed_rejected():
    # liability block OCR'd before assets (JPM 2012/13): asset index
    # never precedes liability index with a valid prefix -> bounds stay
    # (0, n) -> rejected (asset side empty)
    items = ["Payables", "Total liabilities", "Cash", "Total assets"]
    assert bs_split_kernel(items) is None


def test_bs_split_only_assets():
    items = ["Cash", "Total assets", "Equity stuff"]
    # asset matched, liability never -> stop1 = last asset match
    assert bs_split_kernel(items) == (2, 3)


def test_bs_split_trailing_noise_extends_liability():
    items = ["Cash", "Total assets", "Payables to liability holders", "Footnote"]
    # last row matches neither term -> stop2 resets to full length
    assert bs_split_kernel(items) == (2, 4)


def test_bs_split_missing_both():
    assert bs_split_kernel(["Foo", "Bar"]) is None


def test_split_balance_sheet_spark(spark):
    rows = [
        ("1", "2020-01-01", 0, "Cash"),
        ("1", "2020-01-01", 1, "Total assets"),
        ("1", "2020-01-01", 2, "Total liabilities"),
        ("2", "2020-01-01", 0, "No keywords here"),
        ("2", "2020-01-01", 1, "Still nothing"),
    ]
    df = spark.createDataFrame(
        rows, "cik string, filing_date string, row_idx int, lineitem string"
    )
    out = split_balance_sheet(df).toPandas()
    assert set(out.cik) == {"1"}  # filing 2 rejected
    sides = dict(zip(out.row_idx, out.side))
    assert sides == {0: "asset", 1: "asset", 2: "liability"}


# ---------------------------------------------------------- 3->2 merge
def test_merge_three_columns(spark):
    rows = [
        # (row_idx, lineitem, col1, col2)
        (0, "Assets", None, None),  # header: no prior -> dropped
        (1, "Cash", "$ 606,278", None),  # col1 numeric
        (2, "Securities segregated", "273,083", None),
        (3, "Short-term financing:", None, "$ 1,345"),  # col2 numeric
        (4, "Both empty w/ full prior", None, None),  # borrows prior col2? prior row 3 has col1 null -> no
        (5, "Receivables", "9,1I2", "88"),  # col1 wins when both numeric
    ]
    df = spark.createDataFrame(
        [("1", "2020-01-01", *r) for r in rows],
        "cik string, filing_date string, row_idx int, lineitem string, col1 string, col2 string",
    )
    out = merge_three_columns(df).toPandas().sort_values("row_idx")
    got = dict(zip(out.lineitem, out.raw_value))
    assert got == {
        "Cash": "$ 606,278",
        "Securities segregated": "273,083",
        "Short-term financing:": "$ 1,345",
        "Receivables": "9,1I2",
    }


def test_merge_borrow_path(spark):
    rows = [
        (0, "r0", "10", "20"),
        (1, "r1", "30", "40"),
        (2, "header", None, None),  # borrows prior row's col2 (=40)
    ]
    df = spark.createDataFrame(
        [("1", "2020-01-01", *r) for r in rows],
        "cik string, filing_date string, row_idx int, lineitem string, col1 string, col2 string",
    )
    out = merge_three_columns(df).toPandas()
    got = dict(zip(out.lineitem, out.raw_value))
    assert got["header"] == "40"


def test_merge_borrow_blocked_on_first_prior(spark):
    # previous row IS the first row: reference's `indexer > 0` guard
    rows = [(0, "r0", "10", "20"), (1, "header", None, None)]
    df = spark.createDataFrame(
        [("1", "2020-01-01", *r) for r in rows],
        "cik string, filing_date string, row_idx int, lineitem string, col1 string, col2 string",
    )
    out = merge_three_columns(df).toPandas()
    assert "header" not in set(out.lineitem)


# ------------------------------------------------------- special_merge
def test_partial_ratio_basics():
    assert partial_ratio("cash", "cash") == 100.0
    assert partial_ratio("cash", "cash and equivalents") == 100.0  # substring
    assert partial_ratio("receivables", "payables to brokers") < 90.0


def test_special_merge_kernel():
    a_items = ["Cash", "Receivables", "Total assets"]
    a_vals = [1.0, 2.0, 3.0]
    b_items = ["Cash", "Receivables from brokers", "Total assets"]
    b_vals = [1.0, 2.0, 3.0]
    out = special_merge_kernel(a_items, a_vals, b_items, b_vals)
    # 'Receivables' vs 'Receivables from brokers': partial_ratio 100
    # (substring) -> keep left side only
    assert ("Receivables", 2.0) in out
    assert ("Receivables from brokers", 2.0) not in out

    b2_items = ["Cash", "Completely different item", "Total assets"]
    out2 = special_merge_kernel(a_items, a_vals, b2_items, b_vals)
    assert ("Receivables", 2.0) in out2
    assert ("Completely different item", 2.0) in out2  # dissimilar: keep both


def test_special_merge_insert_delete():
    a_items, a_vals = ["A", "B"], [1.0, 2.0]
    b_items, b_vals = ["A", "B", "C"], [1.0, 2.0, 9.0]
    out = special_merge_kernel(a_items, a_vals, b_items, b_vals)
    assert ("C", 9.0) in out  # insert from right side
    out2 = special_merge_kernel(b_items, b_vals, a_items, a_vals)
    assert ("C", 9.0) in out2  # delete keeps left side


def test_special_merge_spark(spark):
    schema = "cik string, filing_date string, row_idx int, lineitem string, value double"
    a = spark.createDataFrame(
        [("1", "d", 0, "Cash", 1.0), ("1", "d", 1, "Total assets", 3.0)], schema
    )
    b = spark.createDataFrame(
        [("1", "d", 0, "Cash", 1.0), ("1", "d", 1, "New item", 9.0),
         ("2", "d", 0, "Only in B", 7.0)], schema
    )
    out = special_merge(a, b).toPandas()
    g1 = out[out.cik == "1"]
    assert set(zip(g1.lineitem, g1.value)) == {
        ("Cash", 1.0), ("Total assets", 3.0), ("New item", 9.0)
    }
    g2 = out[out.cik == "2"]
    assert set(zip(g2.lineitem, g2.value)) == {("Only in B", 7.0)}


# ---------------------------------------------------------- row_split
# (items, raw values, text lines) of one filing per golden kernel case;
# the randomized equivalence test also feeds them through the Spark operator
ROW_SPLIT_GOLDEN = {
    "perfect_match": (
        ["Securities Held Total Assets"],
        ["$ 9,112,943 13,151,663"],
        ["Securities Held", "Total Assets", "unrelated line"],
    ),
    # three candidate names match; two values -> drop leading name
    "more_names_than_values": (
        ["Cash Securities Held Total Assets"],
        ["1,000 2,000"],
        ["Cash", "Securities Held", "Total Assets"],
    ),
    # '$' filtered, then 3 values vs 2 names
    "one_extra_value": (
        ["Securities Held Total Assets"],
        ["$ 7 1,000 2,000"],
        ["Securities Held", "Total Assets"],
    ),
    "unresolvable": (["Mystery fused row", "Normal"], ["1 2 3 4", "5"], ["nomatch"]),
    "no_fused_rows": (["A", "B"], ["1", "2"], []),
}


def test_row_split_kernel_perfect_match():
    rows, flag = row_split_kernel(*ROW_SPLIT_GOLDEN["perfect_match"])
    assert flag == 1
    assert rows == [("Securities Held", "9,112,943"), ("Total Assets", "13,151,663")]


def test_row_split_kernel_more_names_than_values():
    rows, flag = row_split_kernel(*ROW_SPLIT_GOLDEN["more_names_than_values"])
    assert rows == [("Securities Held", "1,000"), ("Total Assets", "2,000")]


def test_row_split_kernel_one_extra_value():
    rows, flag = row_split_kernel(*ROW_SPLIT_GOLDEN["one_extra_value"])
    assert rows == [("Securities Held", "1,000"), ("Total Assets", "2,000")]


def test_row_split_kernel_unresolvable_drops_row():
    rows, flag = row_split_kernel(*ROW_SPLIT_GOLDEN["unresolvable"])
    assert flag == 1
    assert rows == [("Normal", "5")]


def test_row_split_no_fused_rows():
    rows, flag = row_split_kernel(*ROW_SPLIT_GOLDEN["no_fused_rows"])
    assert flag == 0
    assert rows == [("A", "1"), ("B", "2")]


def test_split_conjoined_rows_spark(spark):
    df = spark.createDataFrame(
        [("1", "d", 0, "Header", "1,0"),
         ("1", "d", 1, "Securities Held Total Assets", "$ 9,112,943 13,151,663")],
        "cik string, filing_date string, row_idx int, lineitem string, raw_value string",
    )
    text = spark.createDataFrame(
        [("1", "d", 0, "Securities Held"), ("1", "d", 1, "Total Assets")],
        "cik string, filing_date string, line_idx int, line_text string",
    )
    out = split_conjoined_rows(df, text).toPandas().sort_values("row_idx")
    assert list(out.lineitem) == ["Header", "Securities Held", "Total Assets"]
    assert list(out.raw_value) == ["1,0", "9,112,943", "13,151,663"]
    assert (out.split_flag == 1).all()


def _random_filing(rng):
    """One random filing: (items, raw values, text lines or None for a
    filing with no TEXT map). Names are built from the same phrase pool
    as the text lines, so fused rows hit every alignment rule."""
    phrases = [
        "Cash", "Securities Held", "Total Assets", "Receivables", "Équité nette",
        "现金及等价物", "Dépôts 💶", "A", "é", "Total", "Held",
    ]
    tokens = ["1,000", "2", "(3)", "4.5", "-", "", "$", "S", "$1", "ñ7"]
    items, raws, used = [], [], []
    for _ in range(rng.randint(1, 6)):
        picked = rng.sample(phrases, rng.randint(1, 3))
        used += picked
        items.append(None if rng.random() < 0.1 else " ".join(picked))
        roll = rng.random()
        if roll < 0.15:
            raws.append(None)
        elif roll < 0.25:
            raws.append(" " * rng.randint(1, 3))
        else:
            raws.append(" ".join(rng.choices(tokens, k=rng.randint(1, 4))))
    if rng.random() < 0.15:
        return items, raws, None
    lines = rng.sample(used, rng.randint(0, len(used))) + rng.choices(
        phrases + [None, "unrelated line"], k=rng.randint(0, 3)
    )
    rng.shuffle(lines)
    return items, raws, lines


def test_split_conjoined_rows_equals_kernel_randomized(spark):
    """The Spark operator must equal ``row_split_kernel`` per filing —
    rows, their dense order and the flag — on seeded random filings
    plus the golden kernel cases and the edge shapes listed below."""
    import random

    rng = random.Random(17)
    filings = [_random_filing(rng) for _ in range(150)]
    filings += list(ROW_SPLIT_GOLDEN.values())
    edge = len(filings)
    filings += [
        # the only fused row is dropped: the survivor still carries flag 1
        (["Mystery fused row", "Cash"], ["1 2 3", "5"], ["Cash"]),
        # a filing made of one unresolvable fused row vanishes
        (["Nothing matches"], ["1 2"], ["zz"]),
        # null line item on a fused row and on a plain row
        ([None, None], ["1 2", "3"], ["Cash"]),
        # duplicate and one-character text lines
        (["Cash Total Cash"], ["$ 1 S 2"], ["Cash", "Cash", "C", "T", None]),
        # fused row with no TEXT map at all
        (["Cash Total"], ["1 2"], None),
    ]
    rows, text = [], []
    for f, (items, raws, lines) in enumerate(filings):
        cik = f"F{f}"
        for i, (item, raw) in enumerate(zip(items, raws)):
            rows.append((cik, "2021-06-30", i, item, raw))
        for j, line in enumerate(lines or []):
            text.append((cik, "2021-06-30", j, line))
    df = spark.createDataFrame(
        rows, "cik string, filing_date string, row_idx int, "
        "lineitem string, raw_value string",
    )
    text_df = spark.createDataFrame(
        text, "cik string, filing_date string, line_idx int, line_text string"
    )
    got: dict[str, list] = {}
    for r in split_conjoined_rows(df, text_df).collect():
        got.setdefault(r.cik, []).append(
            (r.row_idx, r.lineitem, r.raw_value, r.split_flag)
        )
    expected: dict[str, list] = {}
    for f, (items, raws, lines) in enumerate(filings):
        out, flag = row_split_kernel(items, raws, lines or [])
        if out:
            expected[f"F{f}"] = [
                (i, item, raw, flag) for i, (item, raw) in enumerate(out)
            ]
    assert {k: sorted(v) for k, v in got.items()} == expected
    assert got[f"F{edge}"] == [(0, "Cash", "5", 1)]
    assert f"F{edge + 1}" not in got


def test_fused_tail_equals_composition(spark):
    """bisect_and_remove_subtotals must equal split_balance_sheet |>
    remove_subtotals row-for-row (the fused silver tail)."""
    from x17a5_spark.operators.splits import (
        bisect_and_remove_subtotals,
        split_balance_sheet,
    )
    from x17a5_spark.operators.totals_check import remove_subtotals

    rows = []
    # filing A: both sides, subtotal planted on the asset side
    for i, (item, val) in enumerate([
        ("Cash", 2.0), ("Receivables", 5.0), ("Total assets", 7.0),
        ("Payables", 11.0), ("Total liabilities and equity", 11.0),
    ]):
        rows.append(("A", "2021-06-30", i, item, val))
    # filing B: assets only -> rejected by the bisection (no rows out)
    for i, (item, val) in enumerate([("Cash", 1.0), ("Total assets", 1.0)]):
        rows.append(("B", "2021-06-30", i, item, val))
    # filing C: liability term first -> bounds never valid, rejected
    for i, (item, val) in enumerate([("Liabilities", 3.0), ("Assets", 3.0)]):
        rows.append(("C", "2021-06-30", i, item, val))
    df = spark.createDataFrame(
        rows, "cik string, filing_date string, row_idx int, "
        "lineitem string, value double"
    )

    cols = ["cik", "filing_date", "side", "row_idx", "lineitem", "value",
            "total_flag", "total_amt"]
    fused = {tuple(r[c] for c in cols)
             for r in bisect_and_remove_subtotals(df).collect()}
    composed = {tuple(r[c] for c in cols)
                for r in remove_subtotals(split_balance_sheet(df)).collect()}
    assert fused == composed and len(fused) > 0


def test_fused_tail_equals_composition_randomized(spark):
    """Hypothesis-driven differential test: on RANDOM per-filing tables
    (subtotal-like rows, nulls, reversed side markers, missing sides),
    the fused tail must equal the sequential composition exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from x17a5_spark.operators.splits import (
        bisect_and_remove_subtotals,
        split_balance_sheet,
    )
    from x17a5_spark.operators.totals_check import remove_subtotals

    items = st.sampled_from([
        "Cash", "Receivables", "Deposits", "Total assets", "Assets",
        "Subtotal current", "Payables", "Liabilities", "Total liabilities",
        "Total liabilities and equity", "Memo", "See notes",
    ])
    values = st.one_of(
        st.none(),
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False).map(
            lambda v: round(v, 2)
        ),
    )
    filings: list[tuple] = []
    fid = [0]

    @settings(max_examples=40, deadline=None, derandomize=True)
    @given(st.lists(st.tuples(items, values), min_size=1, max_size=12))
    def grab(rows):
        fid[0] += 1
        for i, (item, val) in enumerate(rows):
            filings.append((f"F{fid[0]}", "2021-06-30", i, item, val))

    grab()
    df = spark.createDataFrame(
        filings, "cik string, filing_date string, row_idx int, "
        "lineitem string, value double"
    )
    cols = ["cik", "filing_date", "side", "row_idx", "lineitem", "value",
            "total_flag", "total_amt"]
    fused = sorted(
        tuple(r[c] for c in cols)
        for r in bisect_and_remove_subtotals(df).collect()
    )
    composed = sorted(
        tuple(r[c] for c in cols)
        for r in remove_subtotals(split_balance_sheet(df)).collect()
    )
    assert fused == composed
