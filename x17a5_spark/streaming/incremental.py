"""Incremental / idempotent re-run semantics (reference
run_main.py:66-74, run_ocr.py:136-141: skip-if-exists ladders).

A left-anti join of the candidate set against the sink's key listing
(J6/S7): idempotent, restart-safe, no bookkeeping files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def incremental_todo(candidates: DataFrame, sink: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``candidates`` whose key is not yet present in ``sink``.

    At scale both sides shuffle on the key; when the sink listing is
    small (a key-only projection) AQE downgrades to broadcast.
    """
    return candidates.join(sink.select(*keys).dropDuplicates(keys), keys, "left_anti")
