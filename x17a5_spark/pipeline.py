"""E1/E2 — the end-to-end pipeline (reference run_main.py:86-144
steps main_p1..main_p3) and the per-filing OCR-to-clean chain
(OCRClean.py:663-753 ``clean_wrapper`` + run_build_database stages),
composed from the engine's operators as one DataFrame flow:

    raw OCR cells (3 columns, dirty strings)
      → column purge (P2), hash-partitioned on the filing key
      → 3→2 column merge (W4 declarative)
      → conjoined-row split (F4 declarative, TEXT map)
      → accounting-number parse (F1)
      → unit scaling (F2/W6 carry-forward, a Spark expression)
      → asset/liability bisection + subtotal removal (W3 + W1, one kernel)
      → long silver table (cik, filing_date, side, row_idx, lineitem, value)

The purge's exchange is the chain's only shuffle of filing rows: every
later stage is a narrow transformation or a filing-key operator that
reuses it. The bisection tail is the only Python stage: the row split
and the unit-scale match on the page-text branch are JVM passes. Nothing
re-orders across filings, so the whole chain scales linearly with the
corpus. The gold stage (label pivot + identity validation) lives in
operators/structured.py.

``run_pipeline`` (E1) persists the three stages as parquet sinks:
bronze and silver are appended per filing behind a skip-if-exists
guard, and gold is rebuilt from all of silver on every run. Every read
of a sink passes the schema of the DataFrame that writes it (the OCR
cells, the silver frame, gold; the guard reads only the key columns), so
no sink read runs Spark's one-task schema-inference job: 3 fewer jobs
per run, and the schema and optimized plan are the inferred read's.

Sinks are sized by bytes, kernels by cores. A stage computes at its
kernel width, but ``_write_sink`` rebalances its rows on the sink's key
(``SINK_KEYS``) before the write, so AQE sizes the output files by
bytes: one file per write on a small corpus, files near the advisory
partition size on a large one. Each file is sorted on the key, so the
key columns run-length encode again after the shuffle interleaved
filings, and is zstd-compressed. A rerun that adds nothing to an
existing bronze or silver sink skips its append instead of committing
an empty file.
"""

from __future__ import annotations

import os
import time
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.accounting import stage_parse_accounting_number
from x17a5_spark.functions.keys import FILING_KEY
from x17a5_spark.operators.kernel_part import kernel_partitions, kernel_width
from x17a5_spark.operators.merge import merge_three_columns
from x17a5_spark.operators.row_split import split_conjoined_rows
from x17a5_spark.operators.scaler import detect_unit_scale
from x17a5_spark.operators.splits import bisect_and_remove_subtotals
from x17a5_spark.streaming.incremental import incremental_todo


def _silver_purge(raw: DataFrame) -> DataFrame:
    """Drop blank line items and hash-partition the chain's input on
    the filing key at kernel width. Every later filing-key operator
    (the merge3, row-split and dense windows, the TEXT-map join, the
    bisect kernel's own repartition) reuses this one exchange, and its
    explicit width keeps AQE from coalescing the chain onto one task."""
    purged = raw.filter(
        F.col("col0").isNotNull() & (F.trim(F.col("col0")) != "")
    ).select(
        "cik",
        "filing_date",
        "row_idx",
        F.col("col0").alias("lineitem"),
        "col1",
        "col2",
    )
    return kernel_partitions(purged, FILING_KEY)


def _silver_parse(split: DataFrame) -> DataFrame:
    return stage_parse_accounting_number(
        split, "raw_value", "value_unscaled"
    ).filter(F.col("value_unscaled").isNotNull())


def _silver_scale(parsed: DataFrame, text: DataFrame) -> DataFrame:
    scales = detect_unit_scale(text)
    return parsed.join(scales, FILING_KEY, "left").withColumn(
        "value", F.col("value_unscaled") * F.coalesce(F.col("scale"), F.lit(1.0))
    )


def _silver_dense(scaled: DataFrame) -> DataFrame:
    # re-number after the drop/expand stages so downstream kernels see a
    # dense per-filing order
    w = Window.partitionBy("cik", "filing_date").orderBy("row_idx")
    return scaled.withColumn("row_idx", F.row_number().over(w) - 1).select(
        "cik", "filing_date", "row_idx", "lineitem", "value"
    )


def silver_stages(text: DataFrame) -> list[tuple[str, object]]:
    """The silver chain as an ORDERED list of (name, transform) — the
    single source of truth composed by ``clean_filings`` and timed
    stage-by-stage by the traced benchmark run
    (``python3 perfbench/run.py --workload ingest --seed 1 --seconds 5
    --trace 1``, the ``silver.<stage>_s`` layers), which must profile
    the shipped composition, not a copy that can drift."""
    return [
        ("purge", _silver_purge),
        ("merge3", merge_three_columns),
        ("row_split", partial(split_conjoined_rows, text=text)),
        ("parse", _silver_parse),
        ("scale", partial(_silver_scale, text=text)),
        ("dense", _silver_dense),
        ("bisect_subtotals", bisect_and_remove_subtotals),
    ]


def clean_filings(raw: DataFrame, text: DataFrame) -> DataFrame:
    """Silver-stage cleaning: raw OCR cells + page-text table -> clean
    long balance-sheet rows.

    ``raw``:  cik, filing_date, row_idx, col0, col1, col2 (dirty strings)
    ``text``: cik, filing_date, line_idx, line_text
    """
    df = raw
    for _, fn in silver_stages(text):
        df = fn(df)
    return df.select(
        "cik", "filing_date", "side", "row_idx", "lineitem", "value",
        "total_flag", "total_amt",
    )


# ---------------------------------------------------------------------------
# E1 — the whole run_main flow: bronze (binary docs -> OCR cells) ->
# silver (clean long rows) -> gold (structured asset table), each stage
# PERSISTED as a parquet table under ``out_dir``:
#   bronze_cells/  OCR table cells        (appended per filing)
#   ocr_errors/    S10 quarantine ledger  (overwritten: the run's failures)
#   silver/        clean long rows        (appended per filing)
#   gold_assets/   structured asset table (rebuilt from all of silver)
# Bronze and silver are the expensive, per-filing stages, so they keep
# the skip-if-exists anti-join (run_main.py:66-74's rerun_job ladder /
# run_ocr.py:136-141): a rerun processes only filings whose key is
# absent from the stage sink, with no bookkeeping files. Gold is NOT
# keyed by filing: keep-first per (cik, fiscal_year)
# (DatabaseStructured.py:225) is a function of every filing of the
# year, so an amended or late filing can change which row wins. Gold is
# therefore recomputed from all of silver and overwritten each run, and
# a crashed or repeated run converges on the clean run's gold. The
# rebuild costs one scan of silver's asset rows and one pivot exchange;
# at 100 TB the step after it is a gold partitioned by fiscal_year with
# only the touched years overwritten.
# Every write goes through ``_write_sink``, keyed by ``SINK_KEYS``: silver
# is re-read by every gold rebuild, so its file count and bytes are paid
# on every run, and the kernel width that computed it must not set them.
# ---------------------------------------------------------------------------

SINK_KEYS = {
    "bronze_cells": ("cik", "filing_date", "row_idx"),
    "ocr_errors": ("cik", "filing_date"),
    "silver": ("cik", "filing_date", "side", "row_idx"),
    "gold_assets": ("cik", "fiscal_year"),
}

# Stage-level wall clock of the most recent ``run_pipeline`` call
# (keys: ocr_bronze / silver_clean / gold_build). Stage writes execute
# eagerly inside run_pipeline, so construction time IS stage time;
# bench.py reports these alongside the end-to-end number so a future
# e2e regression localizes to a stage instead of a 90-second blob.
LAST_STAGE_SECONDS: dict[str, float] = {}


def _todo(spark: SparkSession, inp: DataFrame, path: str) -> DataFrame:
    """Rows of ``inp`` whose filing key is not yet in the parquet sink at
    ``path`` (the skip-if-exists guard); all of ``inp`` before the sink
    exists. The sink's rows descend from ``inp``'s, so its key columns
    are read with ``inp``'s key schema instead of inferring one."""
    if not os.path.isdir(path):
        return inp
    sink = spark.read.schema(inp.select(*FILING_KEY).schema).parquet(path)
    return incremental_todo(inp, sink, FILING_KEY)


def sink_layout(df: DataFrame, sink: str) -> DataFrame:
    """``df`` as ``sink`` stores it: a REBALANCE_PARTITIONS_BY_COL
    exchange on the sink's key, which AQE coalesces and splits by bytes
    (the advisory partition size) whatever width computed ``df``, then a
    sort on the key within each output partition. The exchange is there
    even where ``df`` ends in an exchange AQE could coalesce: AQE may
    drop that one (a deduplication over one row, say), and the write
    would then take the width of the stage below it."""
    key = SINK_KEYS[sink]
    return df.hint("rebalance", *key).sortWithinPartitions(*key)


def _write_sink(df: DataFrame, path: str, mode: str) -> None:
    layout = sink_layout(df, os.path.basename(path))
    layout.write.mode(mode).option("compression", "zstd").parquet(path)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    text: DataFrame,
    out_dir: str,
    label_map: DataFrame,
    labels: list[str],
    ocr_backend_factory=None,
) -> DataFrame:
    """Bronze -> silver -> gold with persisted stage tables; returns the
    gold structured asset table.

    ``docs``: (cik, filing_date, content binary) document corpus;
    ``text``: (cik, filing_date, line_idx, line_text) page-text channel.

    Bronze and silver are appended by key; gold is rebuilt from all of
    silver and its files replaced. So a gold DataFrame returned by an
    earlier call on the same ``out_dir`` goes stale once this call
    writes: materialize or checkpoint it first. The OCR error ledger is
    replaced too: it lists the failures among the documents the latest
    run attempted, i.e. every document given that was not yet in bronze,
    so a filing that failed once and landed on a rerun has no row.
    """
    from x17a5_spark.operators.structured import build_structured_assets
    from x17a5_spark.sources.ocr import OcrSource, StubOcrBackend, quarantine

    source = OcrSource(backend_factory=ocr_backend_factory or StubOcrBackend)
    bronze_path, err_path, silver_path, gold_path = (
        os.path.join(out_dir, d)
        for d in ("bronze_cells", "ocr_errors", "silver", "gold_assets")
    )
    LAST_STAGE_SECONDS.clear()
    t0 = time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal t0
        LAST_STAGE_SECONDS[stage] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()

    # Steps 1-2 (main_p1/main_p2): OCR only the docs not yet in bronze;
    # failures go to the S10 quarantine ledger, not the job.
    bronze_exists, silver_exists = map(os.path.isdir, (bronze_path, silver_path))
    todo_docs = _todo(spark, docs, bronze_path)
    # spread the per-document OCR calls across every core: the doc batch
    # is byte-small but each document costs a full backend round-trip,
    # so AQE/scan parallelism by bytes serializes it (measured: the
    # bronze stage ran as ONE mapInPandas task). Round-robin is fine —
    # OCR needs no key clustering.
    ocr_out = source.run(todo_docs.repartition(kernel_width(todo_docs)))
    # persist so the external OCR calls run once, not once per sink;
    # released as soon as both sinks are written, even if a write fails
    ocr_out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cells, errors = quarantine(ocr_out)
        # every failed filing is retried on the next run (it never
        # reaches bronze), so this run's errors replace the ledger
        _write_sink(errors, err_path, "overwrite")
        # an existing sink takes no empty append (the check reads the
        # cache the ledger write filled); a new one is always created
        if not bronze_exists or not cells.isEmpty():
            _write_sink(cells, bronze_path, "append")
    finally:
        ocr_out.unpersist(blocking=False)
    _mark("ocr_bronze")

    # Step 3 (clean chain): clean only the bronze filings not in silver.
    bronze = spark.read.schema(cells.schema).parquet(bronze_path).select(
        "cik", "filing_date", "row_idx", "col0", "col1", "col2"
    )
    todo = _todo(spark, bronze, silver_path)
    silver = clean_filings(todo, text)
    if not silver_exists or not todo.isEmpty():
        _write_sink(silver, silver_path, "append")
    _mark("silver_clean")

    # Step 4 (main_p3): structured gold from the asset side of ALL of
    # silver; the plan never reads the gold sink it overwrites.
    assets = (
        spark.read.schema(silver.schema).parquet(silver_path)
        .filter(F.col("side") == "asset")
        .withColumn("name", F.concat(F.lit("N"), F.col("cik")))
        .withColumn(
            "fiscal_year", F.substring("filing_date", 1, 4).cast("int") - 1
        )
    )
    gold = build_structured_assets(assets, label_map, labels)
    _write_sink(gold, gold_path, "overwrite")
    _mark("gold_build")
    return spark.read.schema(gold.schema).parquet(gold_path)
