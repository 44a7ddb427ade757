"""Each layer of the filing pipeline on its own, for traced runs, as
``tools/e1_kernel_profile.py`` does it: OCR writes a bronze snapshot;
every ``pipeline.silver_stages`` entry then reads the previous stage's
parquet snapshot and materializes through the ``noop`` sink, so a stage's
time is its own work and not a recompute of its ancestors; the gold build
runs last over the silver snapshot. Row counts in and out of each stage
go into the spans file.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage_profile(spark, tracer, docs, text, label_map, labels, work: str) -> dict[str, float]:
    from x17a5_spark.operators.kernel_part import kernel_width
    from x17a5_spark.operators.structured import build_structured_assets
    from x17a5_spark.pipeline import silver_stages
    from x17a5_spark.sources.ocr import OcrSource, StubOcrBackend, quarantine

    out: dict[str, float] = {}
    os.makedirs(work, exist_ok=True)
    try:
        snap = os.path.join(work, "bronze")
        with tracer.span("sources.ocr", spark=True) as rec:
            cells, _errors = quarantine(
                OcrSource(backend_factory=StubOcrBackend).run(docs.repartition(kernel_width(docs)))
            )
            cells.select("cik", "filing_date", "row_idx", "col0", "col1", "col2").write.parquet(snap)
        out["sources.ocr_s"] = rec["wall_s"]
        cur = spark.read.parquet(snap)
        rows = rec["rows_out"] = cur.count()
        for i, (name, fn) in enumerate(silver_stages(text)):
            staged = fn(cur)
            with tracer.span(f"silver.{name}", spark=True) as rec:
                _noop(staged)
            snap = os.path.join(work, f"silver_{i}")
            staged.write.parquet(snap)
            cur = spark.read.parquet(snap)
            out[f"silver.{name}_s"] = rec["wall_s"]
            rec["rows_in"], rows = rows, cur.count()
            rec["rows_out"] = rows
        gold_in = (
            cur.filter(F.col("side") == "asset")
            .withColumn("name", F.concat(F.lit("N"), F.col("cik")))
            .withColumn("fiscal_year", F.substring("filing_date", 1, 4).cast("int") - 1)
        )
        with tracer.span("operators.structured", spark=True) as rec:
            _noop(build_structured_assets(gold_in, label_map, labels))
        out["operators.structured_s"] = rec["wall_s"]
    finally:
        from x17a5_spark.cache import release_stage_caches

        release_stage_caches()
        shutil.rmtree(work, ignore_errors=True)
    return out
