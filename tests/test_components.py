"""Connected-components dedup resolution (operators/components.py):
multi-round propagation on chains, star merges, singleton handling."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from x17a5_spark.operators.components import (
    canonicalize_duplicates,
    cc_star,
    connected_components,
)


def _comp_map(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r.id: r.comp for r in connected_components(df, "src", "dst").collect()
    }


def test_long_chain_needs_many_rounds(spark):
    # 0-1-2-...-9: min label must travel 9 hops
    comp = _comp_map(spark, [(i, i + 1) for i in range(9)])
    assert comp == {i: 0 for i in range(10)}


def test_two_stars_merged_by_bridge(spark):
    edges = [(1, 0), (2, 0), (3, 0), (11, 10), (12, 10), (13, 10), (3, 11)]
    comp = _comp_map(spark, edges)
    assert set(comp.values()) == {0}
    assert len(comp) == 8


def test_disjoint_components_stay_disjoint(spark):
    comp = _comp_map(spark, [(5, 6), (6, 7), (100, 101)])
    assert comp == {5: 5, 6: 5, 7: 5, 100: 100, 101: 100}


def test_duplicate_and_reversed_edges_are_idempotent(spark):
    comp = _comp_map(spark, [(1, 2), (2, 1), (1, 2), (2, 3)])
    assert comp == {1: 1, 2: 1, 3: 1}


def test_canonicalize_covers_singletons(spark):
    corpus = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame([(4, 2), (2, 0)], ["src", "dst"])
    out = canonicalize_duplicates(
        corpus, connected_components(edges, "src", "dst")
    ).orderBy("doc_id")
    rows = {(r.doc_id, r.cluster_id, r.is_canonical) for r in out.collect()}
    assert rows == {
        (0, 0, True),
        (1, 1, True),
        (2, 0, False),
        (3, 3, True),
        (4, 0, False),
        (5, 5, True),
    }


def test_round_cap_raises_instead_of_silent_partial_result(spark):
    # a 4-hop chain cannot converge in one round (= 2 batched steps):
    # the exhausted cap falls back to cc_star, never a half-resolved map
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], ["src", "dst"])
    capped = {r.id: r.comp for r in connected_components(df, max_rounds=1).collect()}
    assert capped == {i: 0 for i in range(5)}
    full = {r.id: r.comp for r in connected_components(df).collect()}
    assert full == capped


def test_diameter_beyond_default_budget_raises(spark):
    # chain of 60 nodes: diameter 59 > 2 * max_rounds(25) = 50 hops
    df = spark.createDataFrame([(i, i + 1) for i in range(59)], ["src", "dst"])
    capped = {r.id: r.comp for r in connected_components(df, max_rounds=4).collect()}
    assert capped == {i: 0 for i in range(60)}  # small cap: cc_star fallback
    # and a budget sized to the diameter resolves it without the fallback
    full = {r.id: r.comp for r in connected_components(df, max_rounds=30).collect()}
    assert full == {i: 0 for i in range(60)}


# --- cc_star: the alternating large-star/small-star contraction ---


def _star_map(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r.id: r.comp for r in cc_star(df, "src", "dst", **kw).collect()}


@pytest.mark.parametrize(
    "edges",
    [
        [(i, i + 1) for i in range(9)],                          # chain
        [(1, 0), (2, 0), (3, 0), (11, 10), (12, 10), (13, 10), (3, 11)],
        [(5, 6), (6, 7), (100, 101)],                            # disjoint
        [(1, 2), (2, 1), (1, 2), (2, 3)],                        # dup/reversed
        [(0, 9), (9, 3), (3, 7), (50, 40), (40, 45), (2, 2), (2, 8)],
    ],
)
def test_cc_star_value_equal_to_propagation_loop(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    loop = {r.id: r.comp for r in connected_components(df, "src", "dst", max_rounds=30).collect()}
    star = _star_map(spark, edges)
    assert star == loop


def test_cc_star_resolves_diameter_120_path_the_loop_refuses(spark):
    # planted path graph of diameter 120: past the propagation loop's
    # DEFAULT budget (25 rounds = 50 hops); cc_star contracts it in
    # O(log^2 n) alternating rounds (round cap 12 << 60 proves the
    # contraction, not hop-by-hop travel, is doing the work)
    edges = [(i, i + 1) for i in range(120)]
    star = _star_map(spark, edges, max_rounds=12)
    assert star == {i: 0 for i in range(121)}


def test_connected_components_star_escape_hatch(spark):
    # the path graph past the default budget degrades to the
    # contraction instead of stopping the pipeline
    df = spark.createDataFrame([(i, i + 1) for i in range(120)], ["src", "dst"])
    full = {r.id: r.comp for r in connected_components(df).collect()}
    assert full == {i: 0 for i in range(121)}


def test_cc_star_property_random_graphs(spark):
    """Property check: on hypothesis-generated random edge lists,
    cc_star, the propagation loop, and a pure-Python union-find all
    agree on the full (id -> component-min) map."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edges_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=25,
    )

    def union_find(edges):
        parent: dict[int, int] = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for u, v in edges:
            if u == v:
                continue
            nodes |= {u, v}
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        # component min as the label
        comp_min: dict[int, int] = {}
        for n in nodes:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        return {n: comp_min[find(n)] for n in nodes}

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(edges_strategy)
    def prop(edges):
        oracle = union_find(edges)
        if not oracle:  # all self-loops: no incident nodes, empty map
            return
        df = spark.createDataFrame(edges, "src long, dst long")
        star = {r.id: r.comp for r in cc_star(df, "src", "dst").collect()}
        loop = {
            r.id: r.comp
            for r in connected_components(df, "src", "dst", max_rounds=40).collect()
        }
        assert star == oracle
        assert loop == oracle

    prop()


def test_cc_star_matches_loop_on_d6_fixture(spark):
    sf_dir = "/root/testdata/sf0.001"
    # the d6 star+chain fixture over the real documents table: cc_star
    # must be value-equal to the propagation loop (the d6 oracle's
    # recursive-CTE closure pins the loop itself at gate time)
    from x17a5_spark.queries.dedup import _d6_edges
    from x17a5_spark.tables import load_table

    edges = _d6_edges(load_table(spark, sf_dir, "documents"))
    loop = {r.id: r.comp for r in connected_components(edges, "src", "dst").collect()}
    star = {r.id: r.comp for r in cc_star(edges, "src", "dst").collect()}
    assert star == loop and len(star) > 0
