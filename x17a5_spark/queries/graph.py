"""Graph / table-maintenance operators beyond the reference's surface.

The reference's network notebooks (`notebook/databaseNetwork.ipynb`,
`notebook/rssd-network/network.ipynb` cells 15-18) analyze broker-dealer
ownership graphs with pandas merges and hand-computed IN/OUT composites
(SURVEY.md A7/J3). The distributed generalization of that analysis is an
iterative graph algorithm over an edge table — here weighted PageRank by
power iteration, the canonical "iterative joins at scale" shape.

- g1 PageRank: bipartite customer<->supplier graph from lineitem
  (mirrored edges so no node dangles), N fixed power iterations. Each
  iteration is one shuffle keyed by dst (contributions) — the rank
  vector stays co-partitioned with the edge table's src key, and at
  100 TB the edge table would be bucketed by src so only the
  rank-delta exchange moves. Determinism across engines: per-iteration
  contributions are rounded then summed through exact DECIMAL (the
  functions/compat.py discipline), so partial-aggregation order never
  shows in the hash.
- j13 upsert/MERGE: apply a CDC changelog (latest-wins per key, with
  deletes and inserts) onto a snapshot — the batch semantics of
  Delta/Iceberg MERGE INTO. One window over the changelog (small side)
  + one full-outer shuffle join on the key; in a real lakehouse the
  snapshot is bucketed by key so only the changelog shuffles.

Both have DuckDB oracle twins; g1's oracle unrolls the power iteration
as a generated CTE chain (no recursion needed — the iteration count is
fixed), so the driver's value-hash gate covers the full iterative loop.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.compat import dsum
from x17a5_spark.tables import load_table

# ---------------------------------------------------------------------------
# G1 — weighted PageRank by power iteration.
#
# Nodes: customers (2k) and suppliers (2k+1) — disjoint integer
# namespaces. Edges: cust->supp with weight = number of lineitems
# ordered, mirrored supp->cust with the same weight so every node has
# out-degree > 0 (no dangling-mass redistribution needed) and the rank
# vector stays complete across iterations.
#
# rank_{i+1}(v) = 0.15 + 0.85 * sum_{(u,v)} rank_i(u) * w(u,v) / out_w(u)
#
# Cross-engine determinism: the per-edge contribution is IEEE-exact
# (mul + div on identical operands), rounded to 9 decimals (identical
# half-up in both engines away from ties), and summed through
# DECIMAL(38,9) so Spark's partition-order-dependent partial sums can't
# drift from the oracle's single-threaded sum.
# ---------------------------------------------------------------------------

G1_ITERS = 5
G1_DAMP = 0.85


def g1_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = G1_ITERS,
    breaker: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """G1 — weighted PageRank over the customer–supplier bipartite graph.

    ``breaker`` controls the per-iteration lineage breaker (default on;
    off exposes the fully unrolled plan for plan-discipline tests).
    ``checkpoint_dir``: when set, iterations break lineage with a
    *reliable* EAGER ``checkpoint()`` into that directory instead of a
    lazy ``localCheckpoint()``. localCheckpoint stores blocks on
    executors only — fine at local[32], but on a real cluster losing an
    executor after lineage truncation kills the job; at 100 TB pass a
    DFS path here. Eager + persist per iteration is deliberate: a LAZY
    reliable checkpoint would only materialize the final marked RDD
    (``spark.checkpoint.checkpointAllMarkedAncestors`` defaults to
    false) and recompute its whole lineage once more at write time —
    i.e. no per-iteration durability and ~2× compute. The durable trade
    is therefore one write + one cached pass per iteration, and the
    iterations execute during plan construction on this path. Note
    ``setCheckpointDir`` is session-global (Spark has no per-job knob),
    and checkpoint files persist until the dir is deleted unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on.
    """
    if checkpoint_dir is not None:
        if not breaker:
            # the durable path IS a per-iteration lineage breaker;
            # silently ignoring breaker=False here would hand back a
            # checkpointed plan the caller asked to keep unrolled
            raise ValueError(
                "g1_pagerank: checkpoint_dir implies per-iteration "
                "lineage breaking — pass breaker=True (default) or "
                "drop checkpoint_dir"
            )
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fwd = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    outw = edges.groupBy("src").agg(dsum("w", "out_w"))
    # edge list annotated with its source's out-weight; persisted once —
    # every iteration re-reads it (at 100 TB: bucketed by src on disk).
    # The returned plan references e once per iteration, and
    # unpersisting before execution would recompute the edge build
    # G1_ITERS times — sweep consumers release it with clearCache().
    e = edges.join(outw, "src").persist(StorageLevel.MEMORY_AND_DISK)
    ranks = outw.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contrib = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.round(F.col("rank") * F.col("w") / F.col("out_w"), 9).alias("c"),
        )
        ranks = contrib.groupBy("node").agg(
            (
                F.lit(1.0 - G1_DAMP)
                + F.lit(G1_DAMP)
                * F.sum(F.col("c").cast("decimal(38,9)")).cast("double")
            ).alias("rank")
        )
        # iteration breaker: truncate lineage each round (lazy, so the
        # query stays a plan until the driver materializes it). Without
        # this the unrolled plan grows superlinearly in iteration count
        # — at sf0.01 the 5-round plan cost ~7 s of pure Catalyst
        # compile; at real scale a 20-round walk would never finish
        # ANALYZING. Values are unaffected: every iteration's ranks are
        # already exact (rounded to 9 places, then DECIMAL-summed), so
        # checkpointed == unrolled, and the oracle keeps its unrolled
        # CTE chain.
        if checkpoint_dir is not None:
            # persist first so the eager checkpoint's write pass reads
            # the cached iteration instead of recomputing its lineage;
            # once the checkpoint has materialized, the cache has served
            # its one read — drop it so executor storage stays constant
            # in the walk length instead of holding every iteration
            cached = ranks.persist()
            ranks = cached.checkpoint(eager=True)
            cached.unpersist(blocking=False)
        elif breaker:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _g1_sql() -> str:
    parts = [
        """WITH fwd AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS (SELECT src, dst, w FROM fwd
          UNION ALL SELECT dst, src, w FROM fwd),
outw AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE) AS out_w
         FROM edges GROUP BY 1),
e AS (SELECT edges.src, edges.dst, edges.w, outw.out_w
      FROM edges JOIN outw USING (src)),
r0 AS (SELECT src AS node, 1.0 AS rank FROM outw)"""
    ]
    for i in range(1, G1_ITERS + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT e.dst AS node,
         {1.0 - G1_DAMP} + {G1_DAMP} * CAST(SUM(CAST(
             round(r.rank * e.w / e.out_w, 9) AS DECIMAL(38,9))) AS DOUBLE)
             AS rank
  FROM e JOIN r{i - 1} r ON e.src = r.node
  GROUP BY 1
)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank FROM r{G1_ITERS}")
    return "".join(parts)


G1_SQL = _g1_sql()


# ---------------------------------------------------------------------------
# J13 — CDC upsert / MERGE INTO semantics (latest-wins apply).
#
# Snapshot: customer (key, name, balance). Changelog derived
# deterministically from orders: each order is an update setting the
# balance to o_totalprice; every 17th order is a delete; every 23rd
# order targets a key outside the snapshot (an insert). Apply = keep
# only the LATEST changelog row per key (by o_orderdate, o_orderkey),
# then full-outer join with the snapshot:
#   no changelog row          -> unchanged
#   latest op = D             -> row dropped (even if never in snapshot)
#   latest op = U, key new    -> inserted
#   latest op = U, key known  -> updated
# This is the batch contract of Delta/Iceberg MERGE INTO. Shapes: one
# per-key window over the changelog (the small side), one key-hash
# exchange for the outer join; the snapshot side would be bucketed by
# key in a real lakehouse so re-merges shuffle only the changelog.
# ---------------------------------------------------------------------------

J13_INSERT_OFFSET = 10_000_000


def j13_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("skey"),
        F.col("c_name").alias("sname"),
        F.col("c_acctbal").alias("sbal"),
    )
    chg = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 23 == 0,
            F.col("o_custkey") + J13_INSERT_OFFSET,
        )
        .otherwise(F.col("o_custkey"))
        .alias("key"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("val"),
        "o_orderdate",
        "o_orderkey",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        chg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("key", "op", "val")
    )
    merged = snap.join(latest, snap["skey"] == latest["key"], "full_outer")
    return merged.filter(F.col("op").isNull() | (F.col("op") == "U")).select(
        F.coalesce("skey", "key").alias("key"),
        F.when(
            F.col("skey").isNull(),
            F.concat(F.lit("NEW#"), F.col("key").cast("string")),
        )
        .otherwise(F.col("sname"))
        .alias("name"),
        F.round(
            F.when(F.col("key").isNull(), F.col("sbal")).otherwise(F.col("val")), 2
        ).alias("balance"),
        F.when(F.col("key").isNull(), F.lit("unchanged"))
        .when(F.col("skey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("status"),
    )


J13_SQL = f"""
WITH chg AS (
  SELECT CASE WHEN o_orderkey % 23 = 0 THEN o_custkey + {J13_INSERT_OFFSET}
              ELSE o_custkey END AS key,
         CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS val, o_orderdate, o_orderkey
  FROM orders
),
latest AS (
  SELECT key, op, val FROM chg
  QUALIFY row_number() OVER (PARTITION BY key
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
)
SELECT COALESCE(s.c_custkey, l.key) AS key,
       CASE WHEN s.c_custkey IS NULL THEN 'NEW#' || CAST(l.key AS VARCHAR)
            ELSE s.c_name END AS name,
       round(CASE WHEN l.key IS NULL THEN s.c_acctbal ELSE l.val END, 2)
           AS balance,
       CASE WHEN l.key IS NULL THEN 'unchanged'
            WHEN s.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS status
FROM customer s FULL JOIN latest l ON s.c_custkey = l.key
WHERE l.op IS NULL OR l.op = 'U'
"""



# ---------------------------------------------------------------------------
# G2 — distributed triangle counting (co-purchase graph).
#
# Graph: parts are nodes; an undirected edge links two parts that
# co-occur in >= 2 orders (the weight floor keeps coincidental pairs
# out and bounds the edge list). Counting uses the degree-ordered
# wedge algorithm — every edge is oriented from its lower-(degree, id)
# endpoint to the higher one, wedges are generated by self-joining the
# oriented list on the shared source, and a wedge closes into a
# triangle iff its (id-ordered) endpoints are an edge. Orientation
# bounds per-node wedge fan-out by min(deg) — on skewed graphs this is
# the difference between |E|^1.5 and |E|·d_max² wedge volume, which is
# why it is THE production triangle algorithm. Joins are all equi-joins
# on node keys; no cartesian anywhere. The oracle counts the same
# triangles with a plain 3-way a<b<c self-join — equality proves the
# oriented algorithm counts each triangle exactly once.
# ---------------------------------------------------------------------------

G2_MIN_W = 2


def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Guide §2.4: the co-occurrence pairs do not come from a lineitem
    # SELF-JOIN on l_orderkey — two full scans, two exchanges and a
    # sort-merge join, all to pair rows WITHIN one order. Orders are
    # bounded (≤7 lineitems in TPC-H shaped data), so one
    # groupBy(l_orderkey) + a higher-order pair expansion computes
    # the identical multiset of (u, v) value pairs from a single scan
    # and a single exchange. Value-pair semantics match the join
    # exactly: for every element x of the order's part list, every
    # OTHER element y with y > x yields one (x, y) — equal parts pair
    # never (strict <), duplicate part occurrences multiply exactly as
    # the row join did.
    pair_expr = (
        "flatten(transform(ps, x -> transform(filter(ps, y -> y > x), "
        "y -> struct(x AS u, y AS v))))"
    )
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("ps"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= G2_MIN_W)
        .select("u", "v")
    )
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Persist the oriented edge list (a self-join of `oriented` in the
    # wedge step would replicate the two degree joins per side), and
    # generate wedges with the same single-exchange groupBy + pair
    # expansion as the edge build (per-src out-neighbor list, all
    # dst1 < dst2 value pairs). Degree orientation bounds out-degree by
    # O(sqrt(m)), so the per-src list is the standard triangle-count
    # bound — and the d² pair work per src lands on one task in the
    # join shape too (hash partitioned by src), so this changes
    # exchange count, not skew.
    oriented = (
        ranked.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wedge_expr = (
        "flatten(transform(ps, x -> transform(filter(ps, y -> y > x), "
        "y -> struct(x AS u, y AS v))))"
    )
    wedges = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("ps"))
        .select(F.explode(F.expr(wedge_expr)).alias("p"))
        .select("p.u", "p.v")
    )
    triangles = wedges.join(edges, ["u", "v"], "left_semi")
    # n_edges derived inside the plan (broadcast of a 1-row aggregate)
    # so building the query stays lazy — no eager action at construction.
    # The persist above is released by the caller, like g1's edge
    # cache: the plan reads `edges` three times (degree, orientation, closing semi-join) and unpersisting
    # here would drop it before the caller ever executes the plan.
    n_e = edges.agg(F.count("*").alias("n_edges"))
    return triangles.agg(F.count("*").alias("n_triangles")).crossJoin(
        F.broadcast(n_e)
    )


G2_SQL = f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {G2_MIN_W}
)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       count(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.u = e1.v
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


QUERIES = {
    "g1_pagerank": g1_pagerank,
    "j13_upsert_merge": j13_upsert_merge,
    "g2_triangle_count": g2_triangle_count,
}

ORACLES = {
    "g1_pagerank": G1_SQL,
    "j13_upsert_merge": J13_SQL,
    "g2_triangle_count": G2_SQL,
}
