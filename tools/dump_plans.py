"""Regenerate PLANS.md: `.explain(formatted)` operator trees for a
representative slice of the registry, with one-line commentary on the
shape each plan is expected to keep (enforced by tests/test_plans.py).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from x17a5_spark.queries import registry  # noqa: E402
from x17a5_spark.session import get_spark  # noqa: E402

PICKS = {
    "q1_pricing_summary": (
        "Pushdown + pruning + one partial/final DECIMAL aggregate; the "
        "scan carries the filter."
    ),
    "q5_region_volume": (
        "Star join: every dimension broadcast, fact never re-shuffled "
        "until the final group-by."
    ),
    "e3_structured_assets": (
        "One wide exchange: the up-front hash partitioning on "
        "(cik, fiscal_year) satisfies the pivot aggregation AND the "
        "dedup window."
    ),
    "d3_minhash_lsh": (
        "Persisted shingle stage table; signature + size in one "
        "exchange; candidates from band equi-join; confirm joins move "
        "only candidate shingles."
    ),
    "j9_range_join": (
        "Time-bucket equi-join + residual BETWEEN: no "
        "BroadcastNestedLoop / cartesian anywhere."
    ),
    "j13_upsert_merge": (
        "Changelog window then one full-outer sort-merge join on the key."
    ),
    "a19_incremental_agg": (
        "Two pruned scans, partial aggregates, view-sized merge join."
    ),
    "j10_salted_skew_join": (
        "Salt appears in the exchange keys; dim side exploded, "
        "two-level aggregation."
    ),
    "d13_sparse_cosine_join": (
        "Canonicalize exact dups, per-doc rarest-shingle prefix "
        "blocking; the confirm joins packed per-doc weight maps and "
        "folds the DECIMAL cosine inline over the key intersection — "
        "no per-term pair explode, no confirm groupBy."
    ),
    "d18_paragraph_near_dedup": (
        "Paragraph-grain minhash banding: map-side-combined bucket "
        "keepers (no window over hot fingerprints), <= 8 exact-Jaccard "
        "confirms per paragraph riding sorted 56-bit shingle arrays."
    ),
    "e6_curation_funnel": (
        "Six curation stages over one cached scored base; quota stage "
        "pre-filters before its per-source window."
    ),
    "j14_pit_join": (
        "PIT enrichment as an as-of union window: one hash exchange on "
        "user_id serves interval build, carry-forward, and the event "
        "filter — no range join, no nested loop, and (round 9) no "
        "aggregate at all: the per-run rollup is a run-start window "
        "filter, so the old string-min SortAggregate is gone."
    ),
    "t22_boilerplate_removal": (
        "Segment df groupBy, one-row-per-segment equi-join attach, "
        "per-doc sort_array reassembly — hot segments never pair."
    ),
    "s2_lsh_ann": (
        "Bucket fan-out explode, (table, bucket) equi-join against the "
        "broadcast query buckets with the cosine computed INSIDE the "
        "join projection (one map-side fold per bucket collision), "
        "then the multi-table dedup as groupBy(q_id, c_id).max(cos) — "
        "a codegen HashAggregate on two longs and a double — and the "
        "per-query top-k window. No post-aggregate vector re-attach: "
        "the ids-only variant (dedup then re-join vectors) was "
        "plan-clean but 1.9x slower at 20x because the re-attach "
        "shuffles the full vector table; this form only ever moves "
        "bucket collisions (round 9 A/B, kept as shipped in round 10)."
    ),
    "a24_rolling_active_users": (
        "(user, day) dedup, bounded 7-day coverage explode, second "
        "dedup, per-day counts — distinct-over-window without a self-"
        "join."
    ),
    "e2_clean_pipeline": (
        "The silver chain: one REPARTITION_BY_NUM exchange on the "
        "filing key (AQE cannot coalesce it to one task) under the "
        "merge3 windows, the conjoined-row split as a JVM pass (TEXT "
        "map as one sorted array per filing, posexplode, renumber), "
        "staged-F1 projections (linear expression trees — whole-stage "
        "codegen compiles, no 64 KB fallback), the unit-scale match as "
        "a projection on the text branch (levenshtein inside exists) "
        "and ONE Python stage, the fused bisect/subtotals tail. e2 "
        "plants a constant "
        "filing_date, which the optimizer drops from the window keys, "
        "so here the windows add an exchange on cik and the kernel "
        "keeps its own; with real filing dates the chain shares one."
    ),
    "t28_moments_sketch": (
        "Mergeable power-sum quantile sketch: one scan, exact-DECIMAL "
        "partial aggregates combined map-side, single 20-row exchange "
        "— the flattest possible 100 TB shape."
    ),
    "d14_containment_join": (
        "Prefix-filter candidates with the PPJoin size filter pushed "
        "before the pair-distinct; verification joins per-doc sorted "
        "shingle ARRAYS (one row per candidate pair, array_intersect) "
        "— no pair-times-shingle explode, no re-aggregation."
    ),
    "d15_paragraph_dedup": (
        "Sub-document dedup: staged token split (no per-element regex "
        "re-execution), ONE salted partial aggregation serving both "
        "the corpus-wide keep-first and the always-keep-short-tails "
        "policy — the packed-long winner keeps it a codegen "
        "HashAggregate (struct min would fall back to SortAggregate), "
        "so a hot boilerplate key collapses map-side instead of "
        "serializing onto one window task."
    ),
    "k11_length_batching": (
        "Serving-side batching: both batch keys from ONE corpus pass "
        "(two chained window exchanges, sharded k8-style so a heavy "
        "length mode or hot source splits across partitions), stacked "
        "long-form into a single aggregation."
    ),
}


def plan_tree(spark, queries, name: str, sf_dir: str) -> str:
    """The formatted-explain TREE section (header + node list) for one
    registry query — the exact text PLANS.md embeds.

    Cache state is the ONE piece of session state that can swap plan
    nodes (CacheManager substitutes InMemoryRelation for any logical
    fragment some earlier query persisted — e.g. d3's shingle stage
    appearing inside e5/e10's tree when they run after it), so every
    dump starts from a clean cache: the documented skeleton is the
    fresh-session plan, independent of what ran before it (the r10
    full-suite flake: test_plan_audit's registry sweep left persisted
    stages that drifted the live skeletons under pytest ordering)."""
    spark.catalog.clearCache()
    df = queries[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("\n\n")[0]


def node_skeleton(tree: str) -> list[str]:
    """Node sequence of a formatted-explain tree — the shape signature
    the drift check compares. Each entry is the FULL node phrase
    ('BroadcastHashJoin Inner BuildRight', 'HashAggregate', ...), not
    just the last word: the first cut's regex captured only the token
    before '(id)', which collapsed every join flavor to its build-side
    modifier and made the check blind to exactly the join-strategy
    drift it exists for (code-review r10). Ids, tree indentation and
    codegen stars are layout, not shape, and are stripped."""
    import re

    out: list[str] = []
    for line in tree.splitlines():
        m = re.match(r"^[\s:+|-]*(?:\*\s*)?(\S.*?)\s+\(\d+\)\s*$", line)
        if m:
            phrase = m.group(1)
            # Attribute lists and expression ids are run-dependent
            # ('ReusedExchange [doc_id#123L]' changes per session) —
            # strip them so the skeleton stays a pure shape signature
            # (ADVICE r10: the full-phrase capture made any such node
            # flaky; the old regex had silently skipped those lines).
            phrase = re.sub(r"\s*\[[^\]]*\]", "", phrase)
            phrase = re.sub(r"#\d+L?", "", phrase)
            out.append(phrase.strip())
    return out


def documented_skeletons(plans_md: str) -> dict[str, list[str]]:
    """Parse PLANS.md back into {query name: node-type skeleton}."""
    out: dict[str, list[str]] = {}
    for block in plans_md.split("\n## ")[1:]:
        name = block.split("\n", 1)[0].strip()
        if "```" in block:
            tree = block.split("```")[1]
            out[name] = node_skeleton(tree)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans")
    queries, _ = registry()
    out = [
        "# PLANS — physical-plan evidence for representative queries",
        "",
        "Generated with `.explain(formatted)` at sf0.01 (plans are "
        "scale-independent in shape;",
        "AQE may further coalesce at runtime). Regenerate: "
        "`python tools/dump_plans.py`.",
        "Assertions that guard these shapes live in tests/test_plans.py;",
        "tests/test_plans.py::test_plans_md_matches_live_plans diffs every",
        "documented node-type skeleton against the live plan (VERDICT r9 "
        "#2: a plan",
        "change cannot strand its documentation).",
        "",
    ]
    for name, note in PICKS.items():
        tree = plan_tree(spark, queries, name, sf_dir)
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
