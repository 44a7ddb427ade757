"""The two workloads and the rerun probe. A workload prepares seeded
inputs, registers them with a session, and then runs passes of
operations (the first pass is the run's warm-up):

* ``ingest``    one operation = ``run_pipeline`` over every filing but the
                newest year's, into empty sinks;
* ``analytics`` one operation = one query of ``MIX``: plan construction,
                collecting the result, then ``release_stage_caches()``;
                the first time a run sees a query (in the warm-up) its
                result is checked against the DuckDB oracle, after the
                timer.

A workload's ``profile`` adds the layers its operations do not time on
their own, in traced runs: for ``ingest`` the rerun probe (the pipeline
over the whole corpus, on the sinks the last operation built) and each
pipeline stage alone. Every check runs outside the timed calls.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import corpus
import lake
from spans import cached_bytes

N_FILINGS = 1200
# the year ingest leaves out, for the rerun probe to add
NEW_YEAR = str(corpus.YEARS[-1])
LAKE_SF = 0.002
# the paper's structured and unstructured domain queries
MIX = [
    "e3_structured_assets",
    "e3l_structured_liabilities",
    "c5_accounting_chain",
    "f1_parse_accounting",
    "u6_unstructured_wide",
]
GOLD_COLS = [
    *corpus.LABELS, "name", "fiscal_year", "reconstructed_total_assets",
    "relative_error", "total_asset_check",
]
SINKS = ("bronze_cells", "ocr_errors", "silver", "gold_assets")
KEY = ("cik", "filing_date")
OP_COUNTERS = (
    "jobs", "stages", "tasks", "task_time_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "parallelism",
)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def sink_keys(out_dir: str, sink: str) -> set[tuple[str, str]]:
    path = os.path.join(out_dir, sink)
    if not os.path.isdir(path):
        return set()
    t = pq.read_table(path, columns=list(KEY))
    return set(zip(t.column("cik").to_pylist(), t.column("filing_date").to_pylist()))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9)
    return a == b


class Outcome:
    """What one operation produced, for the metrics and the checks."""

    def __init__(self, latency_s: float, items: int, stored_bytes: int, errors: list[str]):
        self.latency_s = latency_s
        self.items = items
        self.stored_bytes = stored_bytes
        self.errors = errors
        self.layers: dict[str, float] = {}
        self.counters: dict[str, float] = {}


class IngestWorkload:
    name = "ingest"
    warm_up_passes = 3

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        self.filings = corpus.generate(seed, N_FILINGS)
        self.paths = corpus.write(self.filings, os.path.join(work, "corpus"))
        self.by_key = {f.key: f for f in self.filings}
        self.old = [f for f in self.filings if not f.filing_date.startswith(NEW_YEAR)]
        self.last_out: str | None = None

    def describe(self) -> dict:
        """Input sizes and planted shares; ``rerun_todo_frac`` is what the
        rerun probe's entry guard should pass: the newest year's filings
        plus the earlier OCR failures, which never reach bronze."""
        n = len(self.filings)
        todo = {f.key for f in self.filings
                if f.filing_date.startswith(NEW_YEAR) or f.kind == "ocr_fail"}
        return {"filings": n, "ingested": len(self.old),
                "gold_filings": len(corpus.expected_gold(self.old)),
                "ocr_fail_frac": sum(f.kind == "ocr_fail" for f in self.filings) / n,
                "rerun_todo_frac": len(todo) / n}

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        self.all_docs, self.text, self.label_map = (
            spark.read.parquet(self.paths[k]) for k in ("docs", "text", "label_map")
        )
        self.docs = self.all_docs.filter(~F.col("filing_date").startswith(NEW_YEAR))

    def passes(self):
        while True:
            yield [None]

    def run_op(self, spark, _arg, k: int, tracer=None, base: str | None = None,
               extra: frozenset = frozenset()) -> Outcome:
        """One pipeline run into a fresh sink tree, checked against the
        planted gold; the sinks stay until the next run. With ``base`` the
        run is a rerun over the whole corpus, on a copy of those sinks, and
        ``extra`` names gold keys it may add beyond the planted ones."""
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        out = self.last_out = os.path.join(self.work, f"op{k}")
        docs, filings = (self.all_docs, self.filings) if base else (self.docs, self.old)
        base_bytes = base_gold = 0
        if base:
            shutil.copytree(base, out)
            base_bytes, base_gold = dir_bytes(base), len(sink_keys(base, "gold_assets"))
        layers = guard_probe(spark, docs, out, tracer) if tracer else {}
        errors: list[str] = []
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline.run_pipeline", spark=True) if tracer else nullcontext({}) as rec:
                run(spark, docs, self.text, self.label_map, out)
        except Exception as e:  # noqa: BLE001 — a raised run is a failed op
            errors.append(f"run_pipeline raised {type(e).__name__}: {str(e)[:300]}")
        latency = time.perf_counter() - t0
        items = 0
        if not errors:
            errors += self.verify(out, filings, extra)
            items = len(sink_keys(out, "gold_assets")) - base_gold
        res = Outcome(latency, items, dir_bytes(out) - base_bytes, errors)
        if tracer is not None and not errors:
            layers.update(stage_seconds(out, rec))
            res.counters = {c: rec[c] for c in OP_COUNTERS}
        res.layers = layers
        return res

    def verify(self, out: str, filings: list, extra: frozenset = frozenset()) -> list[str]:
        """Gold against the planted values of ``filings``; no gold key
        twice; the quarantine ledger names exactly the planted OCR failures."""
        errors = []
        winners = set(corpus.expected_gold(filings))
        gold = pq.read_table(os.path.join(out, "gold_assets")).to_pylist()
        keys = [(r["cik"], r["filing_date"]) for r in gold]
        if len(set(keys)) != len(keys):
            errors.append(f"gold holds {len(keys) - len(set(keys))} duplicated keys")
        missing = winners - set(keys)
        unexpected = set(keys) - winners - extra
        if missing or unexpected:
            errors.append(f"gold keys: {len(missing)} missing, {len(unexpected)} unexpected")
        for r in gold:
            f = self.by_key[(r["cik"], r["filing_date"])]
            want = corpus.gold_row(f)
            bad = [c for c in GOLD_COLS if not _same(r[c], want[c])]
            if bad:
                errors.append(f"gold {f.key} differs in {bad}")
                break
        if sink_keys(out, "ocr_errors") != {f.key for f in filings if f.kind == "ocr_fail"}:
            errors.append("quarantine ledger differs from the planted OCR failures")
        return errors

    def profile(self, spark, tracer, outcomes) -> tuple[dict[str, float], list]:
        """The rerun probe, then every pipeline stage on its own."""
        from profiles import stage_profile

        layers, errors = rerun_probe(spark, self, tracer)
        layers.update(stage_profile(
            spark, tracer, self.docs, self.text, self.label_map, corpus.LABELS,
            os.path.join(self.work, "stages")))
        return layers, [("rerun probe", errors)]


def run(spark, docs, text, label_map, out: str):
    from x17a5_spark.pipeline import run_pipeline

    return run_pipeline(spark, docs, text, out, label_map, corpus.LABELS)


def guard_probe(spark, docs, out: str, tracer) -> dict[str, float]:
    """Time the skip-if-exists guard on the bronze sink as it stands before
    a run; with no sink the pipeline skips the guard, and the span is the
    existence check alone."""
    from x17a5_spark.pipeline import FILING_KEY
    from x17a5_spark.streaming.incremental import incremental_todo

    bronze = os.path.join(out, "bronze_cells")
    with tracer.span("streaming.incremental_todo", spark=True) as rec:
        if os.path.isdir(bronze):
            incremental_todo(docs, spark.read.parquet(bronze), FILING_KEY).count()
    return {"streaming.incremental_todo_s": rec["wall_s"]}


def stage_seconds(out: str, rec: dict) -> dict[str, float]:
    """Bronze/silver/gold split of the last run: ``pipeline.LAST_STAGE_SECONDS``,
    or, without it, the times each stage's sink got its ``_SUCCESS`` marker."""
    from x17a5_spark.pipeline import LAST_STAGE_SECONDS

    stages = ("ocr_bronze", "silver_clean", "gold_build")
    if all(s in LAST_STAGE_SECONDS for s in stages):
        return {f"pipeline.{s}_s": LAST_STAGE_SECONDS[s] for s in stages}
    marks = [os.stat(os.path.join(out, s, "_SUCCESS")).st_mtime
             for s in ("bronze_cells", "silver", "gold_assets")]
    bounds = [time.time() - (time.perf_counter() - rec["start"]), *marks]
    return {f"pipeline.{s}_s": bounds[i + 1] - bounds[i] for i, s in enumerate(stages)}


def rerun_probe(spark, wl: IngestWorkload, tracer):
    """One traced run over the whole corpus, on the sinks of the last
    ingest operation, which hold every filing but the newest year's.
    Returns (the rerun's numbers, errors); the guard's useful work is the
    filings each stage guard passed against the filings its sink gained."""
    base = os.path.join(wl.work, "rerun_base")
    shutil.move(wl.last_out, base)
    wl.last_out = None
    before = {s: sink_keys(base, s) for s in SINKS}
    # amended filings whose earlier twin already holds the fiscal year in
    # gold: the gold guard re-picks them on a rerun, so they land too
    extra = frozenset(before["silver"] - before["gold_assets"])
    res = wl.run_op(spark, None, -1, tracer, base=base, extra=extra)
    shutil.rmtree(base, ignore_errors=True)
    if res.errors:
        return {}, res.errors
    after = {s: sink_keys(wl.last_out, s) for s in SINKS}
    candidates = set(wl.by_key)
    passed = {
        "bronze_cells": candidates - before["bronze_cells"],
        "silver": after["bronze_cells"] - before["silver"],
        "gold_assets": after["silver"] - before["gold_assets"],
    }
    wasted = sum(len(p - (after[s] - before[s])) for s, p in passed.items())
    ledger = pq.read_table(os.path.join(wl.last_out, "ocr_errors")).to_pylist()
    ledger_rows = [(r["cik"], r["filing_date"], r["error"]) for r in ledger]
    todo = passed["bronze_cells"]
    rerun = {
        "pipeline.rerun_s": res.latency_s,
        "streaming.incremental_todo_rerun_s": res.layers["streaming.incremental_todo_s"],
        "incremental.todo_frac": len(todo) / len(candidates),
        "incremental.wasted_filings": float(wasted),
        "sources.ocr.quarantine_frac": sum(wl.by_key[k].kind == "ocr_fail" for k in todo) / len(todo),
        "pipeline.ledger_dup_rows": float(len(ledger_rows) - len(set(ledger_rows))),
    }
    return rerun, []


class AnalyticsWorkload:
    name = "analytics"
    warm_up_passes = 1

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        self.lake = lake.write(seed, LAKE_SF, os.path.join(work, "lake"))

    def describe(self) -> dict:
        return {"lake_sf": LAKE_SF, "queries": MIX}

    def register(self, spark) -> None:
        import check_correctness as cc

        from x17a5_spark.queries import registry
        from x17a5_spark.tables import TABLE_NAMES, load_table

        # the first load ships the package to the workers; each lists its files
        for t in TABLE_NAMES:
            load_table(spark, self.lake, t)
        self.queries, self.oracles = registry()
        # compare() and duck_connection() read these module globals, which
        # the tool sets from its own command line
        cc.ORACLES = self.oracles
        cc.SF_DIR = self.lake
        self.duck = cc.duck_connection()
        self.checked: set[str] = set()

    def passes(self):
        """The mix in a fixed order, so that every run warms up and times
        the same sequence."""
        while True:
            yield list(MIX)

    def run_op(self, spark, name: str, k: int, tracer=None) -> Outcome:
        from x17a5_spark.cache import release_stage_caches

        errors: list[str] = []
        t0 = t1 = time.perf_counter()
        try:
            with tracer.span(f"queries.{name}", spark=True) if tracer else nullcontext({}) as rec:
                df = self.queries[name](spark, self.lake)
                t1 = time.perf_counter()
                result = Collected(df)
        except Exception as e:  # noqa: BLE001 — a raised query is a failed op
            errors.append(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
        latency = time.perf_counter() - t0
        held = cached_bytes(spark)
        release_stage_caches()
        if not errors and name not in self.checked:
            self.checked.add(name)
            errors += self.verify(name, result)
        res = Outcome(latency, 0 if errors else 1, held, errors)
        if tracer is not None and not errors:
            code = name.split("_")[0]
            res.layers = {
                f"queries.{code}.construct_s": t1 - t0,
                f"queries.{code}.wall_s": latency,
                f"queries.{code}.stages": rec["stages"],
            }
            res.counters = {c: rec[c] for c in OP_COUNTERS}
        return res

    def profile(self, spark, tracer, outcomes) -> tuple[dict[str, float], list]:
        """The largest construction-time persist the mix left behind."""
        return {"cache.stored_bytes": float(max(o.stored_bytes for o in outcomes))}, []

    def verify(self, name: str, result: Collected) -> list[str]:
        """The collected result against the query's DuckDB oracle on the
        same lake, through ``tools/check_correctness.py``."""
        import check_correctness as cc

        try:
            info = cc.compare(name, result, self.duck)
        except Exception as e:  # noqa: BLE001
            return [f"{name} oracle raised {type(e).__name__}: {str(e)[:300]}"]
        if info["status"] == "OK":
            return []
        return [f"{name} oracle {info['status']}: "
                f"{info.get('detail') or info.get('first_diff', '')}"]


class Collected:
    """A query's rows, collected once inside the timed call, with the
    columns and schema ``check_correctness.compare`` reads."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


WORKLOADS = {"ingest": IngestWorkload, "analytics": AnalyticsWorkload}
