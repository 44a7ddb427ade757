"""E1 end-to-end pipeline (run_main.py:86-144 shape): stage persistence,
idempotence (a rerun adds no bronze or silver rows), true
incrementality (a new filing is the ONLY thing the rerun OCRs and
cleans), and convergence: after an amended or late filing, a flaky or
key-dropping OCR backend, or a crash between stages, the next run's gold
equals a clean single run's. Plus the U6 wide unstructured build
(DatabaseUnstructured.py:291-348): allowlist pivot, id-cols-first
ordering, all-null column pruning.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from x17a5_spark import pipeline
from x17a5_spark.operators.unstructured import build_unstructured
from x17a5_spark.pipeline import run_pipeline
from x17a5_spark.sources.ocr import StubOcrBackend

DOC = b"Cash|$ 2\nReceivables|5\nTotal assets|7\nPayables|11\nSee notes"
# the amended 101 filing restates Cash
AMENDED = b"Cash|$ 3\nReceivables|5\nTotal assets|8\nPayables|11\nSee notes"
FAIL = b"__FAIL__"
# two FY2020 filings of CIK 101 (keep-first must pick 06-30), two single
# filings and one document the stub backend always fails
FILINGS = [
    ("101", "2021-06-30", DOC),
    ("101", "2021-09-30", AMENDED),
    ("102", "2021-06-30", DOC),
    ("103", "2021-06-30", DOC),
    ("199", "2021-06-30", FAIL),
]


def _corpus(spark, filings):
    docs = spark.createDataFrame(
        [(c, d, bytearray(content)) for c, d, content in filings],
        "cik string, filing_date string, content binary",
    )
    text = spark.createDataFrame(
        [(c, d, 0, "Statement of Financial Condition") for c, d, _ in filings],
        "cik string, filing_date string, line_idx int, line_text string",
    )
    return docs, text


def _plain(ciks, content=DOC):
    return [(c, "2021-06-30", content) for c in ciks]


def _label_map(spark):
    return spark.createDataFrame(
        [("Cash", "Cash"), ("Receivables", "Receivables")], ["lineitem", "label"]
    )


LABELS = ["Cash", "Receivables", "Total assets"]


def _run(spark, out, filings, backend=None):
    docs, text = _corpus(spark, filings)
    return run_pipeline(
        spark, docs, text, out, _label_map(spark), LABELS, ocr_backend_factory=backend
    )


def _gold_rows(spark, out):
    rows = spark.read.parquet(out + "/gold_assets").collect()
    return sorted(rows, key=lambda r: (r.cik, r.filing_date))


@pytest.fixture(scope="module")
def clean_gold(spark, tmp_path_factory):
    """Gold of one clean run over the final inputs, FILINGS."""
    out = str(tmp_path_factory.mktemp("clean") / "lake")
    _run(spark, out, FILINGS)
    rows = _gold_rows(spark, out)
    assert [(r.cik, r.filing_date) for r in rows] == [
        ("101", "2021-06-30"), ("102", "2021-06-30"), ("103", "2021-06-30"),
    ]
    return rows


def _assert_converged(spark, out, clean_gold):
    gold = _gold_rows(spark, out)
    years = Counter((r.cik, r.fiscal_year) for r in gold)
    assert max(years.values()) == 1, years
    assert gold == clean_gold
    ledger = [tuple(r) for r in spark.read.parquet(out + "/ocr_errors").collect()]
    ledger_filings = {r[:2] for r in ledger}
    assert ("199", "2021-06-30") in ledger_filings
    assert len(ledger) == len(set(ledger)), ledger
    bronze = spark.read.parquet(out + "/bronze_cells").select("cik", "filing_date")
    bronze_filings = {tuple(r) for r in bronze.distinct().collect()}
    # a filing that failed once and landed on a rerun has left the ledger
    assert not ledger_filings & bronze_filings


def test_pipeline_idempotent_and_incremental(spark, tmp_path):
    out = str(tmp_path / "lake")
    ciks = ["101", "102", "103"]
    gold1 = _run(spark, out, _plain(ciks))
    assert gold1.count() == 3
    n_bronze1 = spark.read.parquet(out + "/bronze_cells").count()
    n_silver1 = spark.read.parquet(out + "/silver").count()

    # rerun with the identical corpus: bronze and silver append 0 rows
    gold2 = _run(spark, out, _plain(ciks))
    assert gold2.count() == 3
    assert spark.read.parquet(out + "/bronze_cells").count() == n_bronze1
    assert spark.read.parquet(out + "/silver").count() == n_silver1

    # add one filing: exactly that filing flows through all stages
    gold3 = _run(spark, out, _plain(ciks + ["999"]))
    assert gold3.count() == 4
    assert (
        spark.read.parquet(out + "/bronze_cells").count() == n_bronze1 + n_bronze1 // 3
    )
    row = gold3.filter(F.col("cik") == "999").collect()[0]
    assert row["Cash"] == 2.0 and row["Receivables"] == 5.0


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_pipeline_releases_stage_caches_scoped(spark, tmp_path, monkeypatch):
    """run_pipeline releases the OCR cache it persists, also when a later
    stage raises, and leaves the caller's own persist alone."""
    before = _persistent_rdds(spark)
    caller_df = spark.range(5).persist()
    assert caller_df.count() == 5
    baseline = _persistent_rdds(spark)
    caller_rdds = baseline - before
    assert caller_rdds

    gold = _run(spark, str(tmp_path / "lake"), FILINGS[2:])
    assert gold.count() == 2
    after = _persistent_rdds(spark)
    assert after <= baseline and caller_rdds <= after
    assert caller_df.is_cached and caller_df.count() == 5

    def boom(raw, text):
        raise RuntimeError("silver stage failed")

    monkeypatch.setattr(pipeline, "clean_filings", boom)
    with pytest.raises(RuntimeError, match="silver stage failed"):
        _run(spark, str(tmp_path / "lake2"), FILINGS[2:])
    assert _persistent_rdds(spark) <= baseline
    caller_df.unpersist()


def test_pipeline_quarantines_ocr_failures(spark, tmp_path):
    out = str(tmp_path / "lake")
    gold = _run(spark, out, _plain(["201"]) + _plain(["202"], FAIL))
    assert gold.count() == 1  # the poisoned doc is quarantined, not fatal
    errors = spark.read.parquet(out + "/ocr_errors")
    assert errors.count() == 1
    assert errors.collect()[0]["cik"] == "202"


def test_pipeline_rerun_keeps_one_ledger_row_per_filing_error(spark, tmp_path):
    """A filing that keeps failing OCR never reaches bronze, so every
    rerun re-OCRs it; the quarantine ledger must still hold one row per
    (filing, error), not one per run."""
    out = str(tmp_path / "lake")
    for _ in range(2):
        _run(spark, out, _plain(["211"]) + _plain(["212"], FAIL))
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


def test_rerun_with_amended_filing_converges(spark, tmp_path, clean_gold):
    """(a) An identical rerun must not re-pick the amended 101 filing that
    keep-first left out of gold."""
    out = str(tmp_path / "lake")
    for _ in range(2):
        _run(spark, out, FILINGS)
    _assert_converged(spark, out, clean_gold)


def test_late_earlier_filing_replaces_gold_row(spark, tmp_path, clean_gold):
    """(b) The 06-30 filing of CIK 101 arrives one run after its amended
    09-30 twin; keep-first over all filings must then pick 06-30."""
    out = str(tmp_path / "lake")
    _run(spark, out, FILINGS[1:])
    _run(spark, out, FILINGS)
    _assert_converged(spark, out, clean_gold)


def test_flaky_backend_document_lands_on_rerun(spark, tmp_path, clean_gold):
    """(c) A backend that fails one document on run 1 and reads it on
    run 2: the document reaches bronze, silver and gold on the rerun."""

    class FailsOn102(StubOcrBackend):
        def fetch(self, job_id):
            if job_id.startswith("job-102-"):
                raise RuntimeError("transient OCR failure")
            return super().fetch(job_id)

    out = str(tmp_path / "lake")
    gold = _run(spark, out, FILINGS, backend=FailsOn102)
    assert "102" not in {r.cik for r in gold.collect()}
    _run(spark, out, FILINGS)
    _assert_converged(spark, out, clean_gold)


def test_backend_cell_missing_a_key_converges(spark, tmp_path, clean_gold):
    """(d) Cells without the col2 and confidence keys become null cells,
    not a failed partition, and a rerun changes nothing."""

    class DropsKeys(StubOcrBackend):
        def fetch(self, job_id):
            return [
                {k: v for k, v in cell.items() if k not in ("col2", "confidence")}
                for cell in super().fetch(job_id)
            ]

    out = str(tmp_path / "lake")
    for _ in range(2):
        _run(spark, out, FILINGS, backend=DropsKeys)
    _assert_converged(spark, out, clean_gold)


def test_crash_between_bronze_and_silver_converges(
    spark, tmp_path, monkeypatch, clean_gold
):
    """(e) A run that dies after the bronze write leaves bronze without
    silver or gold; the rerun cleans the stranded filings."""
    out = str(tmp_path / "lake")

    def boom(raw, text):
        raise RuntimeError("crash before the silver write")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "clean_filings", boom)
        with pytest.raises(RuntimeError, match="crash before the silver write"):
            _run(spark, out, FILINGS)
    assert spark.read.parquet(out + "/bronze_cells").count() > 0
    _run(spark, out, FILINGS)
    _assert_converged(spark, out, clean_gold)
