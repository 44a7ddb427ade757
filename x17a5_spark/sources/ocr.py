"""S6 — external OCR source (reference OCRTextract.py:39-131: async
Textract start/poll/paginate, 100 concurrent jobs, run_ocr.py:112-153).

The engine keeps OCR behind a pluggable ``OcrBackend`` interface and
runs it as a ``mapInPandas`` stage: each partition owns one backend
client that works through its documents one at a time with
retry/backoff, and failures land in an error-ledger side channel
instead of failing the job (S10's ERROR-TEXTRACT.json becomes an
``error`` column feeding a quarantine table). Total external
concurrency = partitions — tune by repartitioning, exactly how the
reference tunes its 100-job batch size.

No AWS dependency is assumed anywhere: ``StubOcrBackend`` provides a
deterministic fake for tests; a real Textract backend would implement
the same three methods out of tree.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame

OCR_OUTPUT_SCHEMA = (
    "cik string, filing_date string, page int, table_idx int, row_idx int, "
    "col0 string, col1 string, col2 string, confidence double, error string"
)
# attempts per document before its error goes to the ledger, and the
# backoff unit between them (attempt k sleeps k * OCR_BACKOFF_S)
OCR_MAX_RETRIES = 3
OCR_BACKOFF_S = 0.0


class OcrBackend:
    """Start/poll/fetch lifecycle for one document (the Textract shape:
    startJob -> isJobComplete -> getJobResults)."""

    def start(self, doc_id: str, content: bytes) -> str:
        raise NotImplementedError

    def poll(self, job_id: str) -> bool:
        raise NotImplementedError

    def fetch(self, job_id: str) -> list[dict]:
        """Table cells: dicts with page/table_idx/row_idx/col0..2/confidence."""
        raise NotImplementedError


class StubOcrBackend(OcrBackend):
    """Deterministic fake: 'reads' a two-row table from the content hash.
    Lets every piece of the Spark-side plumbing run in tests without any
    OCR library or network. A document containing ``FAIL_MARKER`` fails
    its fetch."""

    FAIL_MARKER = b"__FAIL__"

    def __init__(self):
        self._jobs: dict[str, bytes] = {}

    def start(self, doc_id: str, content: bytes) -> str:
        job_id = f"job-{doc_id}"
        self._jobs[job_id] = content
        return job_id

    def poll(self, job_id: str) -> bool:
        return True

    def fetch(self, job_id: str) -> list[dict]:
        content = self._jobs[job_id]
        if self.FAIL_MARKER in content:
            raise RuntimeError("stub OCR failure")
        text = content.decode("utf-8", errors="replace")
        rows = []
        for i, line in enumerate(text.splitlines()):
            name, _, value = line.partition("|")
            rows.append(
                {
                    "page": 0,
                    "table_idx": 0,
                    "row_idx": i,
                    "col0": name,
                    "col1": value or None,
                    "col2": None,
                    "confidence": 99.0,
                }
            )
        return rows


@dataclass
class OcrSource:
    """Distributed OCR stage over a binary document corpus
    (cik, filing_date, content)."""

    backend_factory: type[OcrBackend] = StubOcrBackend

    def run(self, docs: DataFrame) -> DataFrame:
        backend_factory = self.backend_factory

        _COLS = [
            "cik",
            "filing_date",
            "page",
            "table_idx",
            "row_idx",
            "col0",
            "col1",
            "col2",
            "confidence",
            "error",
        ]
        _CELL_COLS = (
            "page", "table_idx", "row_idx", "col0", "col1", "col2",
            "confidence",
        )

        def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            backend = backend_factory()  # one client per partition
            for pdf in batches:
                # the cell fan-out is columnar (guide §4.2): one list
                # per output column, no dict-per-cell rows or
                # pd.DataFrame(list-of-dicts), which pay a per-key dict
                # scan for every OCR cell; zip, not iterrows(), for the
                # same reason
                out: dict[str, list] = {c: [] for c in _COLS}
                for cik, fdate, content in zip(
                    pdf["cik"], pdf["filing_date"], pdf["content"]
                ):
                    doc_id = f"{cik}-{fdate}"
                    err = None
                    cells: list[dict] = []
                    for attempt in range(OCR_MAX_RETRIES):
                        try:
                            job = backend.start(doc_id, content)
                            while not backend.poll(job):
                                time.sleep(OCR_BACKOFF_S)
                            cells = backend.fetch(job)
                            err = None
                            break
                        except Exception as e:  # noqa: BLE001 — error ledger
                            err = f"{type(e).__name__}: {e}"
                            time.sleep(OCR_BACKOFF_S * (attempt + 1))
                    if err is not None:
                        out["cik"].append(cik)
                        out["filing_date"].append(fdate)
                        for c in _CELL_COLS:
                            out[c].append(None)
                        out["error"].append(err)
                    else:
                        n = len(cells)
                        out["cik"].extend([cik] * n)
                        out["filing_date"].extend([fdate] * n)
                        for c in _CELL_COLS:
                            col = out[c]
                            # a key the backend left out is a null cell,
                            # not a failed partition
                            col.extend(cell.get(c) for cell in cells)
                        out["error"].extend([None] * n)
                yield pd.DataFrame(out, columns=_COLS)

        return docs.mapInPandas(op, schema=OCR_OUTPUT_SCHEMA)


def quarantine(ocr_out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split OCR output into (good rows, error ledger) — S10."""
    good = ocr_out.filter(ocr_out.error.isNull()).drop("error")
    errors = (
        ocr_out.filter(ocr_out.error.isNotNull())
        .select("cik", "filing_date", "error")
        .dropDuplicates()
    )
    return good, errors
