"""Tests for the idio-patch ledger operator (F14 full semantics)."""

from __future__ import annotations

from x17a5_spark.operators.patches import apply_idio_patches


def _base(spark):
    return spark.createDataFrame(
        [
            ("1", "2020-06-30", 0, "Cash", 100.0),
            ("1", "2020-06-30", 1, "Bogus row", 5.0),
            ("1", "2020-06-30", 2, "Receivables", 1171000000.0),
            ("2", "2020-06-30", 0, "Cash", 7.0),
        ],
        "cik string, filing_date string, row_idx int, lineitem string, value double",
    )


def test_patch_ledger_all_ops(spark):
    replacements = spark.createDataFrame(
        [("1-2020-06-30", "Receivables", 1171000000.0, 1171000111.0)],
        "basefile string, lineitem string, old_value double, new_value double",
    )
    drops = spark.createDataFrame(
        [("1-2020-06-30", "Bogus row")], "basefile string, lineitem string"
    )
    rescales = spark.createDataFrame(
        [("2-2020-06-30", 0.001)], "basefile string, factor double"
    )
    prepends = spark.createDataFrame(
        [("1-2020-06-30", 0, "ASSETS", None)],
        "basefile string, offset int, lineitem string, value double",
    )
    out = apply_idio_patches(
        _base(spark),
        replacements=replacements,
        drops=drops,
        rescales=rescales,
        prepends=prepends,
    ).toPandas()
    f1 = out[out.cik == "1"].sort_values("row_idx")
    assert list(f1.lineitem) == ["ASSETS", "Cash", "Receivables"]
    assert f1[f1.lineitem == "Receivables"].value.iloc[0] == 1171000111.0
    assert list(f1.row_idx) == [0, 1, 2]  # densified after prepend+drop
    f2 = out[out.cik == "2"]
    assert f2.value.iloc[0] == 0.007  # rescaled


def test_patch_ops_noop_without_match(spark):
    out = apply_idio_patches(_base(spark)).toPandas()
    assert len(out) == 4
    assert out[out.cik == "1"].sort_values("row_idx").value.tolist() == [
        100.0, 5.0, 1171000000.0,
    ]
