"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

The driver's tail capture holds ~2 KB, so stdout is EXACTLY one compact
line: headline + e2e + per-stage e1 seconds first, then the per-query
map keyed by each query's short code (the "d3"/"e7" prefix before the
first underscore, unique across the registry). If the line would still
exceed the capture budget it drops the fastest queries first, never the
headline. The complete full-name record is written to BENCH_FULL.json
next to this file every run, so every per-query time stays on the
record regardless of capture limits.

Each query materializes through the ``noop`` sink (full execution, no
driver-side row transfer). First execution of a complex plan pays
whole-stage-codegen compilation + JVM JIT warmup (measured 3-6x on the
widest plans), so each query gets one untimed warmup execution and the
reported figure is the MEDIAN of ``REPEATS`` timed runs with a
per-query [min, max] bracket — steady-state engine throughput, which is
the number that extrapolates to a long-running cluster. The cold
first-execution total is reported separately as ``cold_total_sec``.

``SPARK_GRAFT_BENCH_ONLY="d15,t32"`` (short codes or full names) runs a
slice of the headline suite and writes BENCH_SLICE.json instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from x17a5_spark.queries import registry
from x17a5_spark.session import get_spark
from x17a5_spark.tables import TABLE_NAMES, load_table

# timed runs per query; the reported figure is their median
REPEATS = 3

HEADLINE = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "q5_region_volume",
    "a2_pivot_segment",
    "a16_unpivot",
    "w1_running_and_lookback",
    "w5_dedup_keep_first",
    "j8_asof_join",
    "f1_parse_accounting",
    "t2_quality_score",
    "d1_exact_dedup",
    "d3_minhash_lsh",
    "d5_embedding_cosine_dedup",
    "d6_dedup_components",
    "t5_bpe_pieces",
    "m2_multimodal_features",
    "s1_cosine_topk",
    "st3_session_window",
    "e3_structured_assets",
    # the wide unstructured build and the one-pass accounting-check chain
    "u6_unstructured_wide",
    "c5_accounting_chain",
    # corpus-prep layer: the cleaning composite and the packing kernel
    "e4_corpus_pipeline",
    "k7_sequence_pack",
    # liability-side structured build, watermark-drop semantics, IVF
    # cell-probe ANN
    "e3l_structured_liabilities",
    "st4_watermark_drop",
    "s3_ivf_probe",
    # range join, salted skew join, bottom-k
    # sample quantiles, IVF-cell SemDeDup, unigram-LM perplexity filter
    "j9_range_join",
    "j10_salted_skew_join",
    "a17_sample_quantiles",
    "d8_semdedup",
    "t13_perplexity_filter",
    # CDC upsert merge, equi-width histogram, video
    # frame-sample fan-out (g1 PageRank is oracle-checked but excluded
    # here: 5 fixed iterations of tiny exchanges measure scheduler
    # latency at bench SF, not engine throughput)
    "j13_upsert_merge",
    "a18_histogram",
    "m4_frame_sample",
    "a19_incremental_agg",
    "s5_quantile_norm",
    "d11_sorted_neighborhood",
    "d12_temperature_mix",
    "t17_bpe_pair_counts",
    "u7_snapshot_diff",
    "a20_event_funnel",
    "a21_cohort_retention",
    "w8_rolling_time_window",
    "t18_bpe_train",
    "e5_incremental_ingest",
    "s6_int8_quantize",
    "a22_robust_outliers",
    "d13_sparse_cosine_join",
    "g2_triangle_count",
    "k9_concat_chunking",
    "v1_constraint_checks",
    "t21_zipf_fit",
    "m5_patch_grid",
    "f22_url_extract",
    "st7_rate_anomaly",
    "w9_rolling_median",
    "e6_curation_funnel",
    # the end-to-end docs -> OCR -> clean -> gold pipeline —
    # the single most reference-comparable number (BASELINE.md's >30 h
    # envelope for 93,599 filings); SCALE.md converts it to filings/sec
    "e1_full_pipeline",
    "s2_lsh_ann",
    "t22_boilerplate_removal",
    "t23_quality_sampling",
    "st8_ttl_dedup",
    "j14_pit_join",
    "t24_bigram_perplexity",
    "t25_keyword_extraction",
    "a24_rolling_active_users",
    "m6_phash_dedup",
    "k10_curriculum_order",
    "e7_dedup_audit",
    "a26_ks_test",
    "a27_correlation_matrix",
    "t26_token_entropy",
    "s7_trained_ivf",
    "s8_trained_pq",
    "e8_bpe_tokenize",
    "st10_trending",
    "w10_ewma",
    "o5_diversified_topk",
    "j15_churn_absence",
    "v2_profile_columns",
    "m7_audio_frames",
    "j16_fuzzy_name_join",
    "e9_training_manifest",
    # closed-form HLL, Count-Min sketch,
    # compaction planner
    "t19_hll_distinct",
    "t27_countmin",
    "v3_compaction_plan",
    # moments quantile sketch (exact-DECIMAL power sums),
    # bucketed co-located join (zero-exchange fact-fact SMJ)
    "t28_moments_sketch",
    "j17_bucketed_join",
    # asymmetric containment near-dup join (prefix-filter
    # blocked on the contained side, df-capped postings) + paragraph
    # (sub-document) dedup with reassembly
    "d14_containment_join",
    "d15_paragraph_dedup",
    "e10_leakage_safe_split",
    "t29_ngram_novelty",
    "k11_length_batching",
    "e11_cluster_canonical",
    # delimiter-mode paragraph dedup (structural split +
    # fixed-width chunking of oversized spans only)
    "d16_paragraph_dedup_delim",
    # eval-set n-gram decontamination (broadcast semi-join
    # shape — the corpus gram set never shuffles)
    "t30_decontamination",
    # cc_star chained components (the hub-safety claim now
    # has a measured skew row in SCALE.md, not just a plan argument)
    "d17_cc_star_chain",
    # Gopher in-document repetition gate (two hash exchanges,
    # zero joins — within-doc repeats collapse map-side)
    "t32_repetition_filter",
    # the Unicode-fold gate (stateless scalar chain + one
    # fingerprint window) and paragraph-grain minhash near-dedup
    "t33_unicode_normalize",
    "d18_paragraph_near_dedup",
    # the frozen model-based quality gate (codegen scalar
    # chain; the model is ~70 interpolated integer literals)
    "t34_model_quality_filter",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    headline = HEADLINE
    if only_env:
        only = {s.strip() for s in only_env.split(",") if s.strip()}
        headline = [
            n for n in HEADLINE if n in only or n.split("_")[0] in only
        ]
        missing = only - {n for n in headline} - {
            n.split("_")[0] for n in headline
        }
        if missing:
            raise SystemExit(f"BENCH_ONLY names not in HEADLINE: {missing}")
    spark = get_spark("bench")
    queries, _ = registry()

    # warm the session + file listings (excluded from timings)
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    # e1 writes its bronze/silver/gold stage tables at plan-CONSTRUCTION
    # time (run_pipeline materializes its parquet stage sinks, and the
    # returned plan reads the checkpointed gold rows), so reusing one
    # plan would time a bare read of the gold rows. The
    # reference-comparable number is the END-TO-END wall clock —
    # construction + every stage write + the final materialization — so
    # e1 rebuilds from scratch each run,
    # with no warmup: the cold number IS the one comparable to the
    # reference's >30 h envelope.
    END_TO_END = {"e1_full_pipeline"}

    timings: dict[str, float] = {}
    brackets: dict[str, list[float]] = {}
    cold_total = 0.0
    for name in headline:
        # one plan per query, reused across warmup + timed runs: queries
        # with persisted stage tables (d3, d6, e5, g1) measure their
        # steady state — a pipeline materializes stage tables once, not
        # per execution — and the per-query cache clear below keeps one
        # query's stage tables from evicting the next's.
        rebuild = name in END_TO_END
        df = None if rebuild else queries[name](spark, sf_dir)

        def run() -> float:
            t0 = time.perf_counter()
            d = queries[name](spark, sf_dir) if rebuild else df
            d.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        if not rebuild:
            cold_total += run()  # warmup: codegen + JIT + stage fill
        samples = sorted(run() for _ in range(REPEATS))
        timings[name] = round(samples[len(samples) // 2], 3)
        brackets[name] = [round(samples[0], 3), round(samples[-1], 3)]
        if rebuild:
            # cold_total counts one full rebuild: the median sample
            cold_total += timings[name]
        # release the query's construction-time stage caches
        spark.catalog.clearCache()

    # "value" is the STEADY-STATE suite total; the end-to-end pipeline
    # numbers are reported separately so a full-pipeline run does not
    # read as a suite regression.
    from x17a5_spark import pipeline

    steady = {k: v for k, v in timings.items() if k not in END_TO_END}
    e1_stages = dict(pipeline.LAST_STAGE_SECONDS)
    full = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(steady.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cold_total_sec": round(cold_total, 3),
        "e2e_pipeline_sec": {k: timings[k] for k in END_TO_END if k in timings},
        "e1_stages": e1_stages,
        "n_queries": len(timings),
        "protocol": f"median_of_{REPEATS}",
        "bracket": brackets,
        "regression_rule": (
            "flag only if a query's new median moves >1.5x outside the "
            "recorded [min,max] bracket"
        ),
    }
    # a BENCH_ONLY slice must never overwrite the committed full-suite
    # artifact, so slices write to BENCH_SLICE.json. The artifact name
    # and (for slices) the query list go INTO the file, so a committed
    # slice can never masquerade as a full run.
    artifact = "BENCH_SLICE.json" if only_env else "BENCH_FULL.json"
    full["queries_file"] = artifact
    if only_env:
        full["bench_only"] = sorted(
            s.strip() for s in only_env.split(",") if s.strip()
        )
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), artifact
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # the per-query bracket map lives in BENCH_FULL.json only — the
    # stdout line's ~2 KB capture budget carries the medians
    slim = {k: v for k, v in full.items() if k != "bracket"}
    print(compose_stdout_line(slim, timings))


# stdout capture budget: the driver's tail capture holds ~2 KB
LINE_BUDGET = 1800


def compose_stdout_line(
    full: dict, timings: dict[str, float], budget: int = LINE_BUDGET
) -> str:
    """One compact JSON line that NEVER exceeds ``budget`` chars:
    per-query map keyed by short codes, truncated
    slowest-first, then dropped entirely, then a minimal headline
    record — the headline number always survives. Unit-tested against
    synthetic long keys in tests/test_scale_patterns.py."""
    # short-code per-query map for the size-bounded stdout line;
    # prefix collisions (none today) keep the full name
    codes: dict[str, str] = {}
    for name in timings:
        code = name.split("_", 1)[0]
        codes[name] = code if sum(
            1 for n in timings if n.split("_", 1)[0] == code
        ) == 1 else name
    by_cost = sorted(timings, key=timings.get, reverse=True)

    def line_for(n_keep: int) -> str:
        kept = {codes[n]: timings[n] for n in by_cost[:n_keep]}
        out = dict(full)
        out["queries"] = kept
        out["queries_file"] = full.get("queries_file", "BENCH_FULL.json")
        if n_keep < len(timings):
            out["queries_truncated_to"] = n_keep
        return json.dumps(out, separators=(",", ":"))

    n_keep = len(timings)
    while n_keep > 10 and len(line_for(n_keep)) > budget:
        n_keep -= 5
    line = line_for(n_keep)
    if len(line) > budget:
        # even 10 entries can blow the capture budget (long full-name
        # fallbacks, future top-level keys): drop the queries map
        # entirely — the headline survives, BENCH_FULL.json has the
        # rest
        line = line_for(0)
    if len(line) > budget:
        # last-resort hard clamp: if the non-query maps themselves
        # outgrow the budget one day, emit the minimal headline record
        # rather than an oversize line the capture would truncate
        line = json.dumps(
            {
                k: full[k]
                for k in ("metric", "value", "unit", "sf", "n_queries")
                if k in full
            }
            | {"queries_file": full.get("queries_file", "BENCH_FULL.json")},
            separators=(",", ":"),
        )
    return line


if __name__ == "__main__":
    main()
