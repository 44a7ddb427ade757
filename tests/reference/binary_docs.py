"""S5 — binary document corpus scan (PDFs keyed ``{CIK}-{date}.pdf``,
reference run_file_extraction.py:118-204).

``binaryFile`` format + key columns derived from the path; page slicing
and any decode run inside ``mapInPandas`` so bytes never leave the
executors. ``pathGlobFilter`` / ``recursiveFileLookup`` give partition
pruning over a path-partitioned lake.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_document_corpus(
    spark: SparkSession, path: str, glob: str = "*.pdf"
) -> DataFrame:
    """Binary scan with (cik, filing_date) parsed from the file name."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    base = F.regexp_extract(F.col("path"), r"([^/]+)\.[a-z]+$", 1)
    return df.select(
        F.col("path"),
        F.regexp_extract(base, r"^(\d+)-", 1).alias("cik"),
        F.regexp_extract(base, r"-(\d{4}-\d{2}-\d{2})$", 1).alias("filing_date"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
    )


def slice_pages(
    df: DataFrame, max_pages: int = 20, status_col: str | None = None
) -> DataFrame:
    """First-N-pages subset (reference FocusReportSlicing.py:78-109).

    One engine inside each Arrow batch: the vendored pure-Python
    slicer (pdf_mini.py — handles content streams opaquely,
    FlateDecode object streams, nested page trees, and empty-user-
    password encryption via the standard security handler, RC4-40/128,
    AES-128 and AES-256; declines genuinely passworded or broken
    files), else pass-through — so the operator needs no optional
    dependency and never fails a batch on an unparseable document
    (quarantine-style leniency: a bad PDF flows on unsliced rather than
    killing the job). pypdf is not used even where it is installed: it
    returns an encrypted file within the bound as ciphertext, where
    this operator returns plaintext.

    ``status_col``: when set, append a string column recording what
    happened per document — ``sliced`` (truncated to ``max_pages``),
    ``short`` (already within the bound, bytes untouched),
    ``short-decrypted`` (within the bound but the file was encrypted:
    re-serialized as plaintext so every decryptable output is readable
    downstream) or
    ``passthrough:<reason>`` (bytes untouched; reason ``encrypted`` =
    the standard handler could not open it with the empty user
    password — a real password or a non-Standard filter —
    ``objstm-filter`` = page tree behind a codec-unsupported object
    stream, ``not-pdf`` or ``broken``) —
    so a pipeline can QUANTIFY how much of its corpus kept the page
    bound, and audits can separate "encrypted" from
    "codec-unsupported". The sliced/short decision comes from the
    slicer's explicit page-count status, never byte equality: a slicer
    that re-serializes an unchanged-page-count file would otherwise be
    reported as "sliced".
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tests.reference.pdf_mini import slice_pdf

        def subset(content: bytes) -> tuple[bytes, str]:
            sliced, status = slice_pdf(bytes(content), max_pages)
            if sliced is None:
                return content, f"passthrough:{status}"
            # "sliced" | "short" (verbatim bytes) | "short-decrypted"
            # (within the bound but re-serialized as plaintext)
            return sliced, status

        for pdf in batches:
            pairs = pdf["content"].map(subset)
            pdf["content"] = pairs.map(lambda p: p[0])
            if status_col is not None:
                pdf[status_col] = pairs.map(lambda p: p[1])
            yield pdf

    schema = df.schema
    if status_col is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        # fresh StructType — StructType.add would MUTATE the DataFrame's
        # cached schema object and desync it from the JVM plan
        schema = StructType(
            list(schema.fields) + [StructField(status_col, StringType())]
        )
    return df.mapInPandas(op, schema=schema)
