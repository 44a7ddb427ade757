"""Connected components over a pair graph — the dedup-resolution step.

A near-duplicate pipeline (MinHash/SimHash/embedding LSH, queries
d2/d3/d5) emits PAIRS; turning pairs into dedup decisions needs the
transitive closure: every document joined to the canonical (minimum)
id of its duplicate cluster. The reference repo never needs this (its
dedup is keyed drop_duplicates, DatabaseStructured.py:225), but at
100 TB it is the load-bearing step between candidate generation and
"keep one copy per cluster".

Algorithm: iterative min-label propagation.

    comp(v) <- min(comp(v), min_{u in N(v)} comp(u))   until fixpoint

Each round is one shuffle join (edges x labels) plus one min
aggregation — no ``collect_list`` of neighbor sets, so a hub node
never materializes a giant row and the shuffle stays balanced.
Convergence takes graph-diameter rounds: near-dup clusters from
banded LSH are dense and shallow (a transitive chain of misses longer
than a few hops is, by construction of the band threshold, vanishingly
rare), so 2-4 rounds settle real corpora. The round cap bounds
pathological inputs; for adversarially long chains (diameter >>
log n) swap this loop for the alternating large-star/small-star
scheme (Kiveris et al., SoCC'14) which contracts such chains in
O(log^2 n) rounds at the cost of two extra shuffles per round.

Each round truncates plan lineage with ``localCheckpoint`` so the
iterative plan doesn't grow unboundedly; on a cluster, swap for
``checkpoint`` to a reliable store (same API, fault-tolerant). Spark's
CacheManager does not own local checkpoints, so ``clearCache()`` never
frees them: each round unpersists the checkpoint the next round's eager
checkpoint supersedes, and only the returned plan's checkpoint is left.

:func:`cc_star` is the alternating large-star/small-star contraction
itself (Kiveris et al., SoCC'14), and :func:`connected_components`
falls back to it when the hop budget runs out: the min-label loop
stays the fast path for the shallow graphs LSH actually emits, and a
chain-shaped graph that blows the budget degrades to the
O(log^2 n)-round contraction instead of stopping the pipeline. Both
return the same ``(id, comp)`` contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    a = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        a.unionByName(a.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Free the blocks of ``df``, a ``localCheckpoint`` result whose
    plan nothing reads any more."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _propagate(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label step: comp(v) <- min(comp(v), min over neighbors).
    ``_changed`` marks rows the step improved."""
    neighbor_min = (
        sym.join(labels, sym["v"] == labels["id"])
        .groupBy("u")
        .agg(F.min("comp").alias("nmin"))
    )
    return labels.join(neighbor_min, labels["id"] == neighbor_min["u"], "left").select(
        "id",
        F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
        (F.col("nmin") < F.col("comp")).alias("_changed"),
    )


# ---------------------------------------------------------------------------
# Alternating large-star/small-star contraction (Kiveris et al.,
# SoCC'14, "Connected Components in MapReduce and Beyond"). Label
# propagation needs diameter/2 driver rounds; the star operators
# CONTRACT the graph instead — each node rewires to the minimum of its
# (closed) neighborhood — so a path of diameter d resolves in
# O(log^2 n) rounds (O(log n) observed on planted paths, see
# tests/test_components.py). Cost per round: two extra shuffles vs one
# propagation step, which is why it is the escape hatch rather than the
# default for LSH cluster graphs (dense, shallow, 2-4 rounds).
#
# Both operators are expressed as groupBy-min + join — never a
# collect_list of neighbor sets — so a hub node's neighborhood is never
# materialized as one row and the shuffle stays balanced (the same
# hot-key discipline as the propagation loop).
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: every node u connects its LARGER neighbors to
    m = min(N(u) ∪ {u}). Input (u, v) directed child>parent or raw;
    the symmetric view is built here. Output edges satisfy u > v."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    att = sym.join(mins, "u").withColumn("m", F.least(F.col("u"), F.col("mn")))
    # v > u >= m, so the emitted (v, m) keeps the child>parent invariant
    return (
        att.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: every node u rewires its SMALLER-or-equal neighbors
    (and itself) to m = min(N(u)). Output edges satisfy u > v."""
    ori = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = ori.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        ori.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return rewired.unionByName(
        mins.select("u", F.col("m").alias("v"))
    ).distinct()


def _edge_sig(edges: DataFrame) -> tuple[int, int]:
    """(count, sum-of-xxhash64) set fingerprint — one action per round;
    two DISTINCT edge sets colliding on both is a 64-bit accident, and
    a fingerprint MATCH is confirmed exactly before cc_star returns
    (see the exceptAll check there), so a collision costs one wasted
    comparison, never a wrong component map."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def cc_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 50
) -> DataFrame:
    """Connected components by alternating star contraction — same
    ``(id, comp)`` contract as :func:`connected_components` (comp =
    minimum id in the component; output covers every node incident to
    an edge), but converges in O(log^2 n) rounds on ANY diameter.

    Fixpoint detection: one (large-star, small-star) round that leaves
    the edge set unchanged means every node points directly at its
    component minimum (the star shape is the unique fixpoint of both
    operators), so the edges ARE the label map. A fingerprint match is
    CONFIRMED with one exact set-difference check before returning
    (ADVICE r8): both sides are distinct sets of equal count (count is
    part of the fingerprint), so an empty ``nxt.exceptAll(cur)`` proves
    equality — one extra action on the final round only, and a ~2^-64
    fingerprint collision degrades to a wasted comparison instead of a
    silently wrong component map.
    """
    cur = (
        edges.select(
            F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _edge_sig(cur)
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nsig = _edge_sig(nxt)
        converged = nsig == sig and nxt.exceptAll(cur).isEmpty()
        _unpersist_checkpoint(cur)
        if converged:
            return (
                nxt.select(F.col("u").alias("id"), F.col("v").alias("comp"))
                .unionByName(
                    nxt.select(F.col("v").alias("id"), F.col("v").alias("comp"))
                )
                .distinct()
            )
        cur, sig = nxt, nsig
    raise RuntimeError(
        f"cc_star did not converge within {max_rounds} alternating rounds; "
        "this exceeds the O(log^2 n) bound for any graph that fits in "
        "storage — the edge input is likely growing between rounds "
        "(non-deterministic ids?)."
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Resolve the pair graph to ``(id, comp)`` with ``comp`` = minimum
    id reachable in the component. Output covers every node incident to
    an edge; left-join back to the corpus and ``coalesce(comp, id)``
    for singletons (see :func:`canonicalize_duplicates`).

    Each driver round-trip batches TWO propagation steps (one
    checkpoint + one convergence action per pair), so ``max_rounds``
    rounds admit ``2 * max_rounds`` hops of label travel. A graph whose
    diameter exceeds that budget never returns half-resolved clusters:
    it falls back to :func:`cc_star`, which contracts any diameter in
    O(log^2 n) rounds, so a chain-shaped dup graph degrades rather than
    stopping the pipeline.
    """
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = ckpt = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        first = _propagate(sym, labels).drop("_changed")
        updated = _propagate(sym, first).localCheckpoint(eager=True)
        _unpersist_checkpoint(ckpt)
        ckpt = updated
        changed = not updated.filter(F.col("_changed")).isEmpty()
        labels = updated.drop("_changed")
        if not changed:
            _unpersist_checkpoint(sym)
            return labels
    _unpersist_checkpoint(ckpt)
    _unpersist_checkpoint(sym)
    return cc_star(edges, src, dst)


def canonicalize_duplicates(
    corpus: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Join cluster ids back to the corpus: singletons become their own
    canonical; ``is_canonical`` marks the one row per cluster to keep."""
    joined = (
        corpus.join(
            components.select(
                F.col("id").alias(id_col), F.col("comp")
            ),
            id_col,
            "left",
        )
        .withColumn("cluster_id", F.coalesce("comp", F.col(id_col)))
        .drop("comp")
    )
    return joined.withColumn(
        "is_canonical", F.col(id_col) == F.col("cluster_id")
    )
