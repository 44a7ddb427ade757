"""E1 end-to-end pipeline (run_main.py:86-144 shape): stage persistence,
idempotence (re-run appends nothing), and true incrementality (a new
filing is the ONLY thing the re-run processes). Plus the U6 wide
unstructured build (DatabaseUnstructured.py:291-348): allowlist pivot,
id-cols-first ordering, all-null column pruning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from x17a5_spark.operators.unstructured import build_unstructured
from x17a5_spark.pipeline import run_pipeline

DOC = b"Cash|$ 2\nReceivables|5\nTotal assets|7\nPayables|11\nSee notes"


def _docs(spark, ciks):
    return spark.createDataFrame(
        [(c, "2021-06-30", bytearray(DOC)) for c in ciks],
        "cik string, filing_date string, content binary",
    )


def _text(spark, ciks):
    return spark.createDataFrame(
        [(c, "2021-06-30", 0, "Statement of Financial Condition") for c in ciks],
        "cik string, filing_date string, line_idx int, line_text string",
    )


def _label_map(spark):
    return spark.createDataFrame(
        [("Cash", "Cash"), ("Receivables", "Receivables")], ["lineitem", "label"]
    )


LABELS = ["Cash", "Receivables", "Total assets"]


def test_pipeline_idempotent_and_incremental(spark, tmp_path):
    out = str(tmp_path / "lake")
    ciks = ["101", "102", "103"]
    gold1 = run_pipeline(
        spark, _docs(spark, ciks), _text(spark, ciks), out, _label_map(spark), LABELS
    )
    assert gold1.count() == 3
    n_bronze1 = spark.read.parquet(out + "/bronze_cells").count()
    n_silver1 = spark.read.parquet(out + "/silver").count()

    # re-run with the identical corpus: every stage appends 0 rows
    gold2 = run_pipeline(
        spark, _docs(spark, ciks), _text(spark, ciks), out, _label_map(spark), LABELS
    )
    assert gold2.count() == 3
    assert spark.read.parquet(out + "/bronze_cells").count() == n_bronze1
    assert spark.read.parquet(out + "/silver").count() == n_silver1

    # add one filing: exactly that filing flows through all stages
    ciks3 = ciks + ["999"]
    gold3 = run_pipeline(
        spark, _docs(spark, ciks3), _text(spark, ciks3), out, _label_map(spark), LABELS
    )
    assert gold3.count() == 4
    assert (
        spark.read.parquet(out + "/bronze_cells").count() == n_bronze1 + n_bronze1 // 3
    )
    row = gold3.filter(F.col("cik") == "999").collect()[0]
    assert row["Cash"] == 2.0 and row["Receivables"] == 5.0


def test_pipeline_releases_stage_caches_scoped(spark, tmp_path):
    """VERDICT r12 #7: run_pipeline owns its stage-boundary eviction —
    after it returns, the OCR stage cache it registered is gone
    (tracked_stage_count back to the caller's baseline), and a cache
    the CALLER registered before the run is untouched (stage_scope is
    a high-water mark, not a sweep)."""
    from x17a5_spark.cache import (
        release_stage_caches,
        stage_persist,
        tracked_stage_count,
    )

    release_stage_caches()
    caller_df = stage_persist(spark.range(5))
    assert caller_df.count() == 5
    assert tracked_stage_count() == 1

    out = str(tmp_path / "lake")
    gold = run_pipeline(
        spark,
        _docs(spark, ["301"]),
        _text(spark, ["301"]),
        out,
        _label_map(spark),
        LABELS,
    )
    assert gold.count() == 1
    # pipeline-registered caches released at stage boundaries; the
    # caller's persist survives and is still usable
    assert tracked_stage_count() == 1
    assert caller_df.count() == 5
    release_stage_caches()
    assert tracked_stage_count() == 0


def test_pipeline_quarantines_ocr_failures(spark, tmp_path):
    out = str(tmp_path / "lake")
    docs = spark.createDataFrame(
        [
            ("201", "2021-06-30", bytearray(DOC)),
            ("202", "2021-06-30", bytearray(b"__FAIL__")),
        ],
        "cik string, filing_date string, content binary",
    )
    gold = run_pipeline(
        spark, docs, _text(spark, ["201", "202"]), out, _label_map(spark), LABELS
    )
    assert gold.count() == 1  # the poisoned doc is quarantined, not fatal
    errors = spark.read.parquet(out + "/ocr_errors")
    assert errors.count() == 1
    assert errors.collect()[0]["cik"] == "202"


def test_pipeline_rerun_keeps_one_ledger_row_per_filing_error(spark, tmp_path):
    """A filing that keeps failing OCR never reaches bronze, so every
    rerun re-OCRs it; the quarantine ledger must still hold one row per
    (filing, error), not one per run."""
    out = str(tmp_path / "lake")
    docs = spark.createDataFrame(
        [
            ("211", "2021-06-30", bytearray(DOC)),
            ("212", "2021-06-30", bytearray(b"__FAIL__")),
        ],
        "cik string, filing_date string, content binary",
    )
    for _ in range(2):
        run_pipeline(
            spark, docs, _text(spark, ["211", "212"]), out, _label_map(spark), LABELS
        )
    rows = [tuple(r) for r in spark.read.parquet(out + "/ocr_errors").collect()]
    assert len(rows) == 1 and rows[0][0] == "212", rows


def test_build_unstructured_prunes_and_orders(spark):
    long_df = spark.createDataFrame(
        [
            ("1", "N1", "2021-06-30", 2020, "Cash", 1.0),
            ("1", "N1", "2021-06-30", 2020, "Cash", 2.0),  # congruent -> sums
            ("1", "N1", "2021-06-30", 2020, "Bonds", None),  # all-null -> pruned
            ("2", "N2", "2021-06-30", 2020, "Loans", 5.0),
        ],
        "cik string, name string, filing_date string, fiscal_year int, "
        "lineitem string, value double",
    )
    wide = build_unstructured(long_df, ["Cash", "Bonds", "Loans", "Goodwill"])
    # id cols first, then surviving allowlist columns in allowlist order;
    # Bonds (present but never valued) and Goodwill (absent) are pruned
    assert wide.columns == [
        "cik", "name", "filing_date", "fiscal_year", "Cash", "Loans",
    ]
    rows = {r["cik"]: r for r in wide.collect()}
    assert rows["1"]["Cash"] == 3.0 and rows["1"]["Loans"] is None
    assert rows["2"]["Loans"] == 5.0 and rows["2"]["Cash"] is None


def test_e1_leaves_no_sink_tree_and_older_plans_still_run(spark):
    """e1 owns its stage-sink tree only for the call: the gold rows are
    checkpointed and the tree is removed before returning, so a plan
    built earlier still executes after a newer one was built."""
    import glob
    import os
    import tempfile

    from x17a5_spark.queries import domain

    sf = "/root/testdata/sf0.001"
    pattern = os.path.join(tempfile.gettempdir(), "x17a5_e1_*")
    before = set(glob.glob(pattern))
    df1 = domain.e1_full_pipeline(spark, sf)
    df2 = domain.e1_full_pipeline(spark, sf)
    assert set(glob.glob(pattern)) - before == set()
    rows1 = {tuple(r) for r in df1.collect()}
    assert rows1 and rows1 == {tuple(r) for r in df2.collect()}
    df1.write.mode("overwrite").format("noop").save()
