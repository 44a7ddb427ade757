"""Whole-registry physical-plan audit: build EVERY registry query's
plan and scan `.explain("formatted")` for the operators that kill
100 TB runs:

- ``CartesianProduct``        — an unconditioned cross join (always a bug)
- ``BroadcastNestedLoopJoin`` — legitimate ONLY when the broadcast side
  is a bounded one-row/tiny-aggregate relation (the engine's documented
  crossJoin-of-a-scalar pattern); every occurrence must be allowlisted
  with a justification below, so a NEW unbounded BNLJ fails the audit
- ``BatchEvalPython``         — a row-at-a-time Python UDF in the plan
  (the engine's Python surface is Arrow-only: pandas_udf / mapInPandas
  / applyInPandas, which plan as ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas)
- ``SortAggregate``           — an aggregate that sorts its input
  instead of hashing it: on a data-proportional intermediate that is a
  second full sort of the engine's largest tables (the d15/e11/d3
  packed-long lesson). Round 9 retired every site (j12/j14/st8 moved
  to run-start window rewrites, s2 to ids-only candidates), so the
  allowlist below is EMPTY and any new SortAggregate fails the audit
  until it is either rewritten or justified here as bounded.

SELF-ENFORCING ALLOWLISTS (round 9, VERDICT r8 #1): the audit tracks
which allowlist entries were actually HIT and exits 1 on unused rows —
a stale entry would silently license a future unbounded operator in
that query, the exact failure class this tool exists to catch.
tests/test_plan_audit.py pins allowlist == live-set on the sf0.001
lake, so drift fails CI, not just this manual tool.

Exit code 1 on any unallowlisted hit, any unused allowlist entry, or
any plan-build failure.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001 — plan
shapes, not timings, so the smallest lake is the right input)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query -> why its BroadcastNestedLoopJoin is bounded (build side is a
# broadcast of ONE row or a constant-size relation, never
# data-proportional). EXACTLY the queries that plan a BNLJ today — the
# audit FAILS on unused rows, so a query that stops planning one must
# have its row removed in the same change.
BNLJ_ALLOWED = {
    "g2_triangle_count": "final crossJoin of the one-row triangle count",
    "j15_churn_absence": "crossJoin(broadcast(one-row min/max span aggregate))",
    "s1_cosine_topk": (
        "brute-force baseline BY DESIGN: bounded N_QUERIES query-vector "
        "set broadcast against candidates (q_id != c_id non-equi)"
    ),
    "t15_heavy_hitters": "one-row corpus-total broadcast on a lit key",
    "t24_bigram_perplexity": "one-row LM-normalizer broadcast on a lit key",
    "t25_keyword_extraction": "one-row doc-count broadcast on a lit key",
    "a17_sample_quantiles": "one-row bottom-k sample-bound broadcast",
    "a26_ks_test": (
        "one-row reference-count broadcast + bounded ref-sample x "
        "per-source-list cross (both sides constant-bounded)"
    ),
    "d12_temperature_mix": "one-row corpus-totals broadcast x #sources rows",
    "t13_perplexity_filter": "one-row unigram-LM normalizer broadcast",
    "t14_bm25_search": "one-row corpus avgdl/N scalar broadcast",
}

# query -> why its SortAggregate is NOT a scale hazard (the aggregate
# must sit on a bounded final stage, never a data-proportional
# intermediate). Empty since round 9 retired the last four sites; the
# audit fails on unused rows exactly like BNLJ_ALLOWED.
SORTAGG_ALLOWED: dict[str, str] = {}


def audit(sf: str, queries) -> tuple[dict[str, list[str]], list[str]]:
    """Scan every registry plan; returns (hits-by-category, failures).
    Categories: cartesian / bnlj / py_udf / sortagg (raw occurrence
    lists, allowlists NOT yet applied — policy lives in evaluate())."""
    from x17a5_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    hits: dict[str, list[str]] = {
        "cartesian": [],
        "bnlj": [],
        "py_udf": [],
        "sortagg": [],
    }
    failures: list[str] = []
    for name, fn in queries.items():
        try:
            df = fn(spark, sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {e}")
            continue
        if "CartesianProduct" in txt:
            hits["cartesian"].append(name)
        if "BroadcastNestedLoopJoin" in txt:
            hits["bnlj"].append(name)
        if "BatchEvalPython" in txt:
            hits["py_udf"].append(name)
        if "SortAggregate" in txt:
            hits["sortagg"].append(name)
        spark.catalog.clearCache()
    return hits, failures


def evaluate(
    hits: dict[str, list[str]], failures: list[str]
) -> tuple[list[str], bool]:
    """Apply allowlist policy to raw hits: unallowlisted occurrences AND
    unused allowlist entries are both failures (liveness, VERDICT r8 #1).
    Returns (report lines, bad)."""
    lines: list[str] = []
    bad = bool(failures)
    checks = [
        ("cartesian", {}),  # never allowlistable
        ("bnlj", BNLJ_ALLOWED),
        ("py_udf", {}),  # never allowlistable (Arrow-only surface)
        ("sortagg", SORTAGG_ALLOWED),
    ]
    for flag, allowed in checks:
        live = set(hits[flag])
        rogue = sorted(live - set(allowed))
        stale = sorted(set(allowed) - live)
        if rogue:
            bad = True
            lines.append(f"RED FLAG {flag}: {rogue}")
        if stale:
            bad = True
            lines.append(
                f"STALE ALLOWLIST {flag}: {stale} — these queries no longer "
                "plan the operator; remove their rows so the entry cannot "
                "mask a future unbounded one"
            )
    return lines, bad


def main() -> None:
    from x17a5_spark.queries import registry

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    queries, _ = registry()
    hits, failures = audit(sf, queries)
    print(f"\naudited {len(queries)} plans at {sf}")
    print("plan-build failures:", failures or "none")
    lines, bad = evaluate(hits, failures)
    for line in lines:
        print(line)
    if bad:
        sys.exit(1)
    print(
        "PASS (no cartesians, no unallowlisted BNLJ/SortAggregate, no "
        "row-at-a-time Python UDFs, no stale allowlist rows)"
    )


if __name__ == "__main__":
    main()
