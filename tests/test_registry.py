"""Registry-window discipline: the grading driver hash-checks exactly
the first 50 ``queries()`` entries, so the window composition is pinned
here — a refactor that reorders imports or module dicts cannot silently
push an oracle-checked flagship query out of the window."""

from __future__ import annotations

from x17a5_spark.queries import DRIVER_WINDOW, WINDOW_ORDER, registry

# window entries without a SQL oracle (genuinely non-SQL-expressible;
# the driver records rows-only checks). s2 gained a closed-form oracle
# in round 4; t19 in round 5 (explicit md5-register HLL); t18 in round
# 10 (fixed-R merge rounds unrolled into a CTE chain — the g1/s7
# unrolled-lineage pattern). The registry is now 100% oracle-backed.
ROWS_ONLY: set[str] = set()


def test_window_order_is_exactly_the_driver_window():
    assert len(WINDOW_ORDER) == DRIVER_WINDOW
    assert len(set(WINDOW_ORDER)) == DRIVER_WINDOW


def test_registry_leads_with_window_order():
    queries, _ = registry()
    assert list(queries)[:DRIVER_WINDOW] == WINDOW_ORDER


def test_every_window_entry_is_hash_checkable():
    _, oracles = registry()
    missing = [n for n in WINDOW_ORDER if n not in oracles and n not in ROWS_ONLY]
    assert missing == []


def test_no_query_lost_by_reordering():
    queries, oracles = registry()
    assert len(queries) >= 140  # the end-of-round-3 registry size
    assert set(oracles) <= set(queries)


def test_every_query_has_driver_evidence_or_is_rows_only():
    """Every registered query either sits in the current driver window,
    had a hash-backed row in a prior round's CORRECTNESS file, is
    rows-only by design, or is one of the known pass-local queries the
    judge re-runs through tools/check_correctness.py."""
    import json
    import os

    queries, oracles = registry()
    prior: set[str] = set()
    import glob

    pattern = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")
    for path in sorted(glob.glob(pattern)):
        prior |= set(json.load(open(path)))
    rows_only = {n for n in queries if n not in oracles}
    uncovered = set(queries) - set(WINDOW_ORDER) - prior - rows_only
    # round-4 rotation put every remaining never-checked query in the
    # window, so nothing may rely on pass-local-only evidence anymore
    known_local: set[str] = set()
    assert uncovered <= known_local, sorted(uncovered - known_local)


def test_registry_sweep_releases_every_stage_cache(spark):
    """Spark's CacheManager owns the construction-time stage persists:
    after building every registered query, one ``clearCache()`` leaves
    it empty and unpersists every cached block, even while the built
    DataFrames are still referenced. A plan over a cleared stage table
    still runs: it recomputes the table."""
    queries, _ = registry()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    baseline = set(jsc.getPersistentRDDs().keys())
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    sf = "/root/testdata/sf0.001"
    built = {name: fn(spark, sf) for name, fn in queries.items()}  # never collected
    assert not cm.isEmpty()  # d3/d13/g1/s7/u6/... persisted stage tables
    spark.catalog.clearCache()
    assert cm.isEmpty()
    # local checkpoints (components, pagerank) are persisted RDDs the
    # CacheManager does not own; the ContextCleaner frees them with
    # their DataFrames
    left = {
        k for k, rdd in jsc.getPersistentRDDs().items()
        if k not in baseline and not rdd.rdd().isLocallyCheckpointed()
    }
    assert left == set()
    # u6's builder materialized its persisted pivot; the kept plan over
    # the cleared pivot recomputes it
    u6 = "u6_unstructured_wide"
    after = sorted(map(tuple, built[u6].collect()))
    fresh = sorted(map(tuple, queries[u6](spark, sf).collect()))
    spark.catalog.clearCache()
    assert after == fresh and len(after) > 0
