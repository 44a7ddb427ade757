"""Query registry: every operator from SURVEY.md §2 as a runnable query.

Each submodule exposes ``QUERIES`` (name -> fn(spark, sf_dir) -> DataFrame)
and ``ORACLES`` (name -> DuckDB SQL string) dicts; this package merges
them for ``__spark_entry__``. Queries without an oracle entry are the
genuinely non-SQL-expressible kernels (driver records a rows-only check).

Caching contract: a handful of queries persist stage tables that their
returned plan references more than once (d3/d13 candidate tables, e5's
shingle indexes, s7/s8 trained codebooks, g1's edge list — each a
stand-in for a pre-materialized production stage table), always at
``StorageLevel.MEMORY_AND_DISK``. Those relations must outlive the
builder call, so Spark's CacheManager owns them: sweep consumers
(bench.py per query, tools/check_correctness.py, tools/dump_plans.py,
tools/plan_audit.py) call ``spark.catalog.clearCache()`` when done with
a query, and tests/test_registry.py asserts one such call empties the
CacheManager after a full-registry build.

Ordering matters: the grading driver hash-checks exactly the FIRST 50
registry entries, so ``WINDOW_ORDER`` pins the window. A query whose
plan or code changed needs a fresh hash-checked driver row, so it goes
into the window, displacing an entry that is hash-green in the latest
``CORRECTNESS_r*.json`` and unchanged since. Everything stays
registered; entries after the window are still value-checked by
tools/check_correctness.py, and tests/test_registry.py checks that
every query has a driver row in some round or sits in the window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver's 50-entry correctness window, in order, grouped by layer.
WINDOW_ORDER = [
    # --- domain pipeline composites ---
    "e1_full_pipeline",
    "e3_structured_assets",
    # --- F1 accounting parse ---
    "f1_parse_accounting",
    "c5_accounting_chain",
    "f10_power_of_ten",
    "f11_epsilon_match",
    # --- LLM-data-pipeline: dedup / similarity / text / multimodal ---
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "d14_containment_join",
    "d8_semdedup",
    "d13_sparse_cosine_join",
    "d1_exact_dedup",
    "t33_unicode_normalize",
    "d18_paragraph_near_dedup",
    "s2_lsh_ann",
    "s3_ivf_probe",
    "s7_trained_ivf",
    "s8_trained_pq",
    "d15_paragraph_dedup",
    "d16_paragraph_dedup_delim",
    "d17_cc_star_chain",
    "d6_dedup_components",
    "e10_leakage_safe_split",
    "t17_bpe_pair_counts",
    "t18_bpe_train",
    "t29_ngram_novelty",
    "t30_decontamination",
    "t34_model_quality_filter",
    "t21_zipf_fit",
    "t22_boilerplate_removal",
    "t26_token_entropy",
    # --- corpus-prep layer ---
    "e5_incremental_ingest",
    "e6_curation_funnel",
    "e7_dedup_audit",
    "e11_cluster_canonical",
    "e8_bpe_tokenize",
    "e9_training_manifest",
    # --- streaming ---
    "st7_rate_anomaly",
    # --- analytics / joins / graph / maintenance ---
    "g1_pagerank",
    "g2_triangle_count",
    "m6_phash_dedup",
    "j17_bucketed_join",
    "a21_cohort_retention",
    # --- silver chain ---
    "e2_clean_pipeline",
    "k1_totals_check",
    "k2_balance_split",
    "k3_merge_columns",
    "k4_row_split",
    "k5_unit_scale",
    "k6_table_select",
]

DRIVER_WINDOW = 50


def registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    from x17a5_spark.queries import (
        advanced,
        analytics,
        corpus,
        dedup,
        domain,
        filtering,
        graph,
        lakehouse,
        maps,
        misc,
        multimodal,
        relational,
        scalars,
        similarity,
        streaming,
        textops,
        windows,
    )

    merged: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in (
        relational,
        windows,
        scalars,
        textops,
        dedup,
        similarity,
        streaming,
        domain,
        misc,
        maps,
        analytics,
        multimodal,
        corpus,
        filtering,
        advanced,
        graph,
        lakehouse,
    ):
        for name, fn in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r}")
            merged[name] = fn
        oracles.update(mod.ORACLES)
    missing = set(oracles) - set(merged)
    if missing:
        raise ValueError(f"oracles without queries: {sorted(missing)}")
    unknown = [n for n in WINDOW_ORDER if n not in merged]
    if unknown:
        raise ValueError(f"WINDOW_ORDER names without queries: {unknown}")
    queries = {n: merged[n] for n in WINDOW_ORDER}
    for name, fn in merged.items():
        queries.setdefault(name, fn)
    return queries, oracles
