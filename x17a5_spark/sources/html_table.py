"""S2 — HTML table source (reference FocusReportExtract.py:100-108:
``pd.read_html(r.text)[2]`` over the EDGAR filing-index page).

Fetching is not a Catalyst concern (the reference does driver-side
``requests`` with retry); the engine takes already-fetched documents as
a DataFrame of (doc_key, html) and parses tables *inside the executors*
via ``mapInPandas`` — so a million filing-index pages parse as a
distributed scan, not a driver loop.

Parsing is one small dependency-free tag scanner handling
<table>/<tr>/<td|th>, nested markup stripping and entity basics, enough
for EDGAR's generated tables. Every row is data, header cells too, and
a document without a table yields no rows; ``pandas.read_html`` would
promote ``<th>`` rows to column names and raise on a table-less
document, failing the partition, so it is not used even where a parser
backend (lxml/bs4) is installed.
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

TABLE_RE = re.compile(r"<table\b.*?>(.*?)</table>", re.I | re.S)
ROW_RE = re.compile(r"<tr\b.*?>(.*?)</tr>", re.I | re.S)
CELL_RE = re.compile(r"<t[dh]\b.*?>(.*?)</t[dh]>", re.I | re.S)
TAG_RE = re.compile(r"<[^>]+>")

OUTPUT_SCHEMA = (
    "doc_key string, table_idx int, row_idx int, col_idx int, cell string"
)


def parse_html_tables(doc: str) -> list[list[list[str]]]:
    """All tables in a document as [table][row][cell] of stripped text."""
    tables = []
    for tbl in TABLE_RE.findall(doc or ""):
        rows = []
        for tr in ROW_RE.findall(tbl):
            cells = [
                _html.unescape(TAG_RE.sub("", c)).strip() for c in CELL_RE.findall(tr)
            ]
            if cells:
                rows.append(cells)
        if rows:
            tables.append(rows)
    return tables


def read_html_tables(docs: DataFrame, key_col: str = "doc_key", html_col: str = "html") -> DataFrame:
    """(doc_key, html) -> long cell table (doc_key, table_idx, row_idx,
    col_idx, cell)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for t, table in enumerate(parse_html_tables(row[html_col])):
                    for r, cells in enumerate(table):
                        for c, cell in enumerate(cells):
                            out.append(
                                {
                                    "doc_key": row[key_col],
                                    "table_idx": t,
                                    "row_idx": r,
                                    "col_idx": c,
                                    "cell": cell,
                                }
                            )
            yield pd.DataFrame(
                out, columns=["doc_key", "table_idx", "row_idx", "col_idx", "cell"]
            )

    return docs.mapInPandas(op, schema=OUTPUT_SCHEMA)
