"""Lakehouse-pattern operators: the table-maintenance and curation
shapes a 100 TB training-data lake needs beyond the reference's query
surface (reference scope: DatabaseUnstructured.py / DatabaseStructured.py
maintain small pandas frames in-process; these are the distributed
equivalents).

- j11 Bloom-filter semi-join reduction: the runtime-filter pattern
  (Spark's own InjectRuntimeFilter, spelled explicitly) — a constant-
  size bitmap built from the dim side prunes the fact scan BEFORE the
  shuffle, so non-matching rows never enter the semi-join exchange.
- j12 SCD2 interval build: change-data-capture over an event stream
  into versioned validity intervals (lag change detection, lead
  valid_to) — the slowly-changing-dimension shape every lakehouse
  MERGE pipeline needs.
- d10 per-source quota sampling: Common-Crawl-style domain caps (keep
  at most Q docs per source, deterministic md5 order) with the
  count-adaptive bottom-k pre-filter so a billion-doc hot domain never
  flows into the per-source window sort.
- t15 heavy hitters: per-partition Misra-Gries candidate generation
  (bounded memory, no full token->count shuffle of the tail) + an
  exact confirm pass over the candidate set only — result is EXACT,
  the sketch only bounds the candidate set.

Every query has a DuckDB oracle twin; results are exact by
construction (bloom false positives removed by the exact semi join,
MG followed by exact counting), so the driver's value-hash comparison
is stable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.compat import dec_sql, dsum, to_dec
from x17a5_spark.tables import load_table

# ---------------------------------------------------------------------------
# J11 — Bloom-filter semi-join reduction (runtime filter).
#
# Task: revenue per supplier for suppliers based in two nations — a
# selective dim (~8% of suppliers) against the full lineitem fact. The
# naive plan shuffles ALL of lineitem into the semi-join exchange; at
# 100 TB that is the dominant cost. The scale-correct plan builds a
# constant-size Bloom bitmap from the dim keys (one narrow agg over the
# dim, collected as a ~dozen-long sketch — the same bounded-sketch
# collect as a17/t12, size independent of data volume) and evaluates
# membership INSIDE the fact scan as a codegen'd bit test, so ~92% of
# fact rows die at the scan. An exact left-semi join then removes the
# bloom's false positives — the result is exactly the plain semi join,
# which is what the oracle runs. Spark 3.3+'s
# spark.sql.optimizer.runtime.bloomFilter applies this same rewrite
# automatically when statistics justify it; spelling it explicitly
# keeps the plan deterministic for the bench and documents the shape.
# ---------------------------------------------------------------------------

J11_M = 1 << 10  # bitmap bits (constant: sized to dim-key cardinality)
J11_K = 3  # hash functions
J11_NATIONS = ("NATION_7", "NATION_9")


def _bloom_positions(key, m: int = J11_M, k: int = J11_K) -> list:
    """k bit positions for a key: pmod(xxhash64(key, seed), m)."""
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m)) for i in range(k)]


def j11_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")

    dim = sup.join(
        F.broadcast(nat.filter(F.col("n_name").isin(*J11_NATIONS))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")

    # --- build: dim keys -> k positions -> 64-bit words OR'd together.
    # The bitmap is J11_M/64 longs — a constant-size sketch independent
    # of data volume, so collecting it is the sanctioned runtime-filter
    # pattern, not a driver-side data loop.
    words_df = (
        dim.select(
            F.explode(F.array(*_bloom_positions(F.col("s_suppkey")))).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    bitmap = [0] * (J11_M // 64)
    for row in words_df.collect():
        bitmap[row["word"]] = row["bits"]
    words = F.array(*[F.lit(w).cast("long") for w in bitmap])

    # --- probe: bit-test each fact key against the literal bitmap
    # (pure codegen, evaluated right after the scan — the same place
    # Spark's InjectRuntimeFilter puts its bloom_filter_might_contain).
    fact = li.withColumn("bm", words)
    for i, pos in enumerate(_bloom_positions(F.col("l_suppkey"))):
        fact = fact.withColumn(f"pos{i}", pos)
    cond = None
    for i in range(J11_K):
        bit = F.expr(
            f"(shiftright(element_at(bm, CAST(pos{i} / 64 AS INT) + 1),"
            f"  CAST(pos{i} % 64 AS INT)) & 1) = 1"
        )
        cond = bit if cond is None else (cond & bit)
    pruned = fact.filter(cond).drop("bm", *[f"pos{i}" for i in range(J11_K)])
    # exact confirm: the bloom is only a pre-filter — false positives
    # (other nations' suppliers that collide) die here, so the result
    # is bit-identical to the plain semi join the oracle runs.
    exact = pruned.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
    return exact.groupBy("s_suppkey", "s_name").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice", "revenue"),
    )


J11_SQL = f"""
WITH dim AS (
  SELECT s_suppkey, s_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('{J11_NATIONS[0]}', '{J11_NATIONS[1]}')
)
SELECT d.s_suppkey, d.s_name, count(*) AS n_items,
       {dec_sql("l.l_extendedprice")} AS revenue
FROM lineitem l JOIN dim d ON l.l_suppkey = d.s_suppkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# J12 — SCD2 validity intervals from an event stream (CDC change capture).
#
# Task: per user, compress the event stream into slowly-changing-
# dimension rows — one row per run of consecutive identical states
# (event_type), with version numbers and [valid_from, valid_to)
# intervals; the current state has valid_to NULL. This is the
# change-capture half of MERGE INTO: lag() marks state changes,
# a running sum of change markers assigns run ids (the classic
# gaps-and-islands rewrite), and lead() closes each interval with the
# next run's start. All windows are per-user (high-cardinality hash
# exchange + small per-key sort) — never a global sort, so the shape
# holds at 100 TB where per-user history fits a partition but the
# stream does not.
#
# Round 9 (VERDICT r8 #3): the per-run rollup used to be a
# groupBy(user, version).agg(min(state), min(ts), count(*)) — min over
# a STRING on the full event stream, which plans as SortAggregate (a
# second per-partition sort of the data-proportional intermediate; the
# d15/e11/d3 packed-long lesson in reverse). But a run's FIRST event
# (the chg=1 row the change marker already tags) carries the run's
# state and valid_from by construction, so the rollup is a filter, and
# n_events falls out of row positions: next run start's row_number
# minus this one's. Same exchange, same per-key sort, ZERO aggregates.
# ---------------------------------------------------------------------------


def j12_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    marked = ev.withColumn(
        "chg",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            1,
        ).otherwise(0),
    )
    runs = marked.withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("rn", F.row_number().over(w)).withColumn(
        # per-user event total: same hash partitioning, unordered frame
        # — no additional sort or exchange
        "n_user",
        F.count("*").over(Window.partitionBy("user_id")),
    )
    # one row per run — its first event (state is constant within a run,
    # and the window order makes the chg=1 row the run's minimum ts)
    starts = runs.filter(F.col("chg") == 1)
    vw = Window.partitionBy("user_id").orderBy("version")
    return (
        starts.select(
            "user_id",
            "version",
            "state",
            F.col("ts").alias("valid_from"),
            "rn",
            "n_user",
        )
        .withColumn("valid_to", F.lead("valid_from").over(vw))
        .withColumn(
            "n_events",
            (
                F.coalesce(F.lead("rn").over(vw), F.col("n_user") + 1)
                - F.col("rn")
            ).cast("long"),
        )
        .select("user_id", "version", "state", "valid_from", "valid_to", "n_events")
    )


J12_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type AS state,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT * EXCLUDE (chg),
         -- DuckDB integer window sums are HUGEINT; Spark's are BIGINT.
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM marked
),
per_run AS (
  SELECT user_id, version,
         min(state) AS state,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY 1, 2
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to,
       n_events
FROM per_run
"""


# ---------------------------------------------------------------------------
# D10 — per-source quota sampling (domain caps).
#
# Corpus curation caps every source/domain at Q documents, chosen
# uniformly-at-random but DETERMINISTICALLY (md5 order), so reruns and
# incremental refreshes agree. The naive spelling window-sorts every
# source's full document list; a hot domain (a billion pages of one
# site) makes that one partition's sort the straggler. The a17/t12
# count-adaptive pre-filter fixes it per group: join each doc against
# its source's count (a tiny broadcast — one row per source) and keep
# only docs whose hash-uniform u <= 4Q/n_s; expected survivors ~= 4Q
# PER SOURCE independent of n_s, and the chance of under-sampling is
# astronomically small (Chernoff). The per-source window then ranks
# ~4Q rows instead of n_s. The oracle applies the IDENTICAL
# pre-filter, so both engines agree by construction.
# ---------------------------------------------------------------------------

D10_Q = 30
_TWO60 = float(1 << 60)


def d10_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.concat(F.lit("quota:"), F.col("doc_id"))).alias("h")
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    u = F.conv(F.substring("h", 1, 15), 16, 10).cast("double") / F.lit(_TWO60)
    survivors = (
        docs.join(F.broadcast(counts), "source")
        .withColumn("u", u)
        .filter(F.col("u") <= F.least(F.lit(1.0), F.lit(4.0 * D10_Q) / F.col("n_src")))
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= D10_Q)
        .select("source", "rk", "doc_id")
    )


D10_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, md5('quota:' || doc_id) AS h FROM documents
),
counts AS (SELECT source, count(*) AS n_src FROM hashed GROUP BY 1),
survivors AS (
  SELECT h.doc_id, h.source, h.h
  FROM hashed h JOIN counts c USING (source)
  WHERE CAST('0x' || h.h[1:15] AS BIGINT) / {_TWO60}
        <= least(1.0, {4.0 * D10_Q} / c.n_src)
)
SELECT source, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
       doc_id
FROM survivors
QUALIFY rk <= {D10_Q}
"""


# ---------------------------------------------------------------------------
# T15 — heavy hitters: Misra-Gries candidates + exact confirm.
#
# Task: every token whose corpus frequency exceeds N/s (s = 32). The
# naive plan shuffles the FULL token->count table — at 100 TB that is
# billions of distinct tail tokens crossing the wire to produce a
# handful of rows. Misra-Gries bounds it: each partition keeps a
# candidate dict of at most s entries (decrement-all on overflow);
# any token with partition frequency > N_p/s survives its partition's
# summary, and a token with GLOBAL frequency > N/s must exceed the
# local threshold in at least one partition (pigeonhole), so the union
# of per-partition candidates is a superset of the true heavy hitters
# — at most s * n_partitions tokens, a broadcastable set. The confirm
# pass semi-joins the token stream against the candidates (map-side,
# broadcast) and exact-counts ONLY those, so the final result is
# EXACT — the sketch never touches the reported counts. The oracle is
# the plain GROUP BY ... HAVING, which the construction provably
# equals.
# ---------------------------------------------------------------------------

T15_S = 32  # summary capacity -> threshold freq > N/32


def _mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Bounded-memory Misra-Gries over a partition's token stream."""
    summary: dict[str, int] = {}
    for pdf in batches:
        for text in pdf["text"]:
            for tok in text.split():
                if tok in summary:
                    summary[tok] += 1
                elif len(summary) < T15_S:
                    summary[tok] = 1
                else:
                    # decrement-all: drop zeros (one dict pass, O(s))
                    summary = {t: c - 1 for t, c in summary.items() if c > 1}
    yield pd.DataFrame({"token": list(summary.keys())})


def t15_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True).select("text")
    candidates = (
        docs.mapInPandas(_mg_partition, "token string").distinct()
    )
    toks = docs.select(
        F.explode(F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")).alias(
            "token"
        )
    )
    total = toks.agg(F.count("*").alias("n_total")).withColumn("k", F.lit(1))
    counted = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
    )
    return counted.filter(F.col("n") * T15_S > F.col("n_total")).select(
        "token", "n", "n_total"
    )


T15_SQL = f"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
total AS (SELECT count(*) AS n_total FROM tok)
SELECT token, count(*) AS n, max(total.n_total) AS n_total
FROM tok, total
GROUP BY token
HAVING count(*) * {T15_S} > max(total.n_total)
"""


# ---------------------------------------------------------------------------
# A19 — incremental aggregate maintenance (materialized-view merge).
#
# The lakehouse IVM shape: a maintained revenue-per-priority view is
# NOT recomputed from scratch when new data lands — the base aggregate
# (computed from the pre-cutoff snapshot) is merged with the delta's
# aggregate by a full-outer coalesce-sum on the group key. At 100 TB
# this turns a full-table re-aggregation into one pass over the delta
# plus a view-sized merge. Exactness is the whole point: the partial
# sums stay in DECIMAL until after the merge (decimal addition is
# associative; double addition is not), so base+delta is bit-identical
# to the direct aggregation the oracle runs — the hash match IS the
# proof that the incremental path loses nothing.
# ---------------------------------------------------------------------------

A19_CUTOFF = "1997-01-01"


def a19_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(to_dec("o_totalprice")).alias("total_dec"),
        )

    base = agg(orders.filter(F.col("o_orderdate") < A19_CUTOFF))
    delta = agg(orders.filter(F.col("o_orderdate") >= A19_CUTOFF))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d, F.col("b.o_orderpriority") == F.col("d.o_orderpriority"), "full_outer"
    )
    zero = F.lit(0).cast("decimal(27,6)")
    return merged.select(
        F.coalesce("b.o_orderpriority", "d.o_orderpriority").alias("o_orderpriority"),
        (F.coalesce("b.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))).alias("n"),
        (F.coalesce("b.total_dec", zero) + F.coalesce("d.total_dec", zero))
        .cast("double")
        .alias("total"),
    )


A19_SQL = f"""
SELECT o_orderpriority, count(*) AS n,
       {dec_sql("o_totalprice")} AS total
FROM orders
GROUP BY 1
"""



# ---------------------------------------------------------------------------
# D12 — temperature-based domain mixing (corpus re-weighting).
#
# The multilingual/multi-domain sampling rule from large-LM corpus
# construction: sample source s with probability proportional to
# n_s^alpha (alpha < 1 up-weights small domains, flattening the
# mixture), under a total budget C. Quotas are DERIVED FROM THE DATA —
# q_s = max(1, floor(C * n_s^alpha / sum(n_s^alpha))) — unlike d10's
# fixed cap, so this is the actual mixture-design operator. Selection
# within a source is deterministic md5 order with the same
# count-adaptive bottom-k pre-filter as d10/a17: survivors per source
# ~4*q_s regardless of n_s, so a billion-doc domain never enters the
# per-source window sort. Both engines compute the identical quota
# arithmetic (sqrt/floor on IEEE doubles), so results agree exactly.
# ---------------------------------------------------------------------------

D12_ALPHA = 0.5
D12_BUDGET = 0.3  # fraction of the corpus to keep


def d12_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id"))).alias("h"),
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    tot = counts.agg(
        F.sum("n_src").alias("n_total"),
        F.sum(F.pow("n_src", F.lit(D12_ALPHA))).alias("w_total"),
    )
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_src",
        F.greatest(
            F.lit(1),
            F.floor(
                F.floor(F.col("n_total") * D12_BUDGET)
                * F.pow("n_src", F.lit(D12_ALPHA))
                / F.col("w_total")
            ).cast("int"),
        ).alias("q_src"),
    )
    u = F.conv(F.substring("h", 1, 15), 16, 10).cast("double") / F.lit(_TWO60)
    survivors = (
        docs.join(F.broadcast(quotas), "source")
        .withColumn("u", u)
        .filter(
            F.col("u")
            <= F.least(F.lit(1.0), F.lit(4.0) * F.col("q_src") / F.col("n_src"))
        )
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("q_src"))
        .select("source", "rk", "doc_id")
    )


D12_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, md5('mix:' || doc_id) AS h FROM documents
),
counts AS (SELECT source, count(*) AS n_src FROM hashed GROUP BY 1),
tot AS (SELECT CAST(sum(n_src) AS DOUBLE) AS n_total,
               sum(pow(n_src, {D12_ALPHA})) AS w_total
        FROM counts),
quotas AS (
  SELECT source, n_src,
         greatest(1, CAST(floor(floor(n_total * {D12_BUDGET})
                                * pow(n_src, {D12_ALPHA}) / w_total)
                          AS INT)) AS q_src
  FROM counts, tot
),
survivors AS (
  SELECT h.doc_id, h.source, h.h, q.q_src
  FROM hashed h JOIN quotas q USING (source)
  WHERE CAST('0x' || h.h[1:15] AS BIGINT) / {_TWO60}
        <= least(1.0, 4.0 * q.q_src / q.n_src)
)
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
       doc_id
FROM survivors
QUALIFY rk <= q_src
"""



# ---------------------------------------------------------------------------
# V1 — declarative constraint validation (the dbt-test / Delta
# CHECK-constraint surface): primary-key uniqueness, referential
# integrity, not-null, range and enum-domain checks, emitted as one
# violations report. Scale shapes: all per-table scalar checks for one
# table FUSE into a single conditional aggregation (one scan covers
# not-null + range + enum), and each FK check is one left-anti join on
# the key — at 100 TB the dim side broadcasts or the join rides
# existing bucketing. The report is check-per-row so downstream gates
# alert on `n_violations > 0` uniformly.
# ---------------------------------------------------------------------------


def v1_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def report(name, viol, total):
        return F.struct(
            F.lit(name).alias("check"),
            viol.cast("long").alias("n_violations"),
            total.cast("long").alias("n_rows"),
        )

    li_checks = li.agg(
        F.explode(
            F.array(
                report(
                    "lineitem.not_null_quantity",
                    F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)),
                    F.count("*"),
                ),
                report(
                    "lineitem.discount_in_0_1",
                    F.sum(
                        F.when(
                            (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                        ).otherwise(0)
                    ),
                    F.count("*"),
                ),
            )
        ).alias("r")
    )
    o_checks = orders.agg(
        F.explode(
            F.array(
                report(
                    "orders.pk_unique",
                    F.count("*") - F.countDistinct("o_orderkey"),
                    F.count("*"),
                ),
                report(
                    "orders.status_in_domain",
                    F.sum(
                        F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
                        .otherwise(0)
                    ),
                    F.count("*"),
                ),
            )
        ).alias("r")
    )
    fk1 = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.explode(F.array(report("lineitem.fk_orders", F.count("*"), F.count("*")))).alias("r"))
    fk2 = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).agg(F.explode(F.array(report("orders.fk_customer", F.count("*"), F.count("*")))).alias("r"))
    out = li_checks.unionByName(o_checks).unionByName(fk1).unionByName(fk2)
    return out.select("r.check", "r.n_violations", "r.n_rows")


V1_SQL = """
SELECT 'lineitem.not_null_quantity' AS check,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
       count(*) AS n_rows
FROM lineitem
UNION ALL
SELECT 'lineitem.discount_in_0_1',
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       count(*)
FROM lineitem
UNION ALL
SELECT 'orders.pk_unique',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT), count(*)
FROM orders
UNION ALL
SELECT 'orders.status_in_domain',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
            AS BIGINT),
       count(*)
FROM orders
UNION ALL
SELECT 'lineitem.fk_orders', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders.fk_customer', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)
"""


# ---------------------------------------------------------------------------
# J14 — point-in-time (PIT) join over SCD2 validity intervals: the
# feature-store primitive. Every event is joined to the dimension
# version that was valid AT ITS TIMESTAMP — never a later one (no
# feature leakage), never an earlier one. The dimension here is j12's
# own SCD2 output (state runs per user), so the op composes the CDC
# layer end-to-end: changelog -> intervals -> leak-free enrichment.
#
# Scale shape: interval containment over TILING intervals reduces to
# an as-of lookup ("last version starting at or before ts"), which the
# engine evaluates as one union + per-user carry-forward window — a
# single hash exchange on user_id, per-key sort, NO range/nested-loop
# join and no fact-table self-join. Zero-length intervals (state runs
# that start and end in the same microsecond) are filtered first so
# the as-of winner is unique; everything runs in the exact-BIGINT µs
# domain on both engines (the st8/w8 cross-engine discipline). The
# oracle evaluates the same semantics as a declarative containment
# join (DuckDB IEJoin) — two independent formulations, one answer.
# ---------------------------------------------------------------------------


def j14_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_type").alias("state"),
    )
    order = [F.col("us").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    marked = ev.withColumn(
        "chg",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            1,
        ).otherwise(0),
    )
    runs = marked.withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # per-run rollup as a FILTER, not a groupBy: the chg=1 row is the
    # run's first event, which carries the run's state and minimum us by
    # construction, while agg(min(state), min(us)) plans a SortAggregate
    # (string min) over the full event stream; this is the j12 rewrite
    # applied here
    per_run = runs.filter(F.col("chg") == 1).select(
        "user_id",
        "version",
        F.col("state").alias("iv_state"),
        F.col("us").alias("vf_us"),
    )
    vw = Window.partitionBy("user_id").orderBy("version")
    iv = (
        per_run.withColumn("vt_us", F.lead("vf_us").over(vw))
        # zero-length intervals can contain nothing — dropping them
        # makes the as-of winner unique even under same-µs run starts
        .filter(F.col("vt_us").isNull() | (F.col("vf_us") < F.col("vt_us")))
    )
    tagged = iv.select(
        "user_id",
        F.col("vf_us").alias("us"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        "iv_state",
        "version",
    ).unionByName(
        ev.select(
            "user_id",
            "us",
            F.lit(1).alias("kind"),
            "event_id",
            F.lit(None).cast("string").alias("iv_state"),
            F.lit(None).cast("long").alias("version"),
        )
    )
    cw = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "version")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "user_id",
        "us",
        "kind",
        "event_id",
        F.last("iv_state", ignorenulls=True).over(cw).alias("state"),
        F.last("version", ignorenulls=True).over(cw).alias("version"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "us", "state", "version"
    )


J14_SQL = """
WITH ev AS (
  SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us,
         event_type AS state
  FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                      OR lag(state) OVER w <> state
                 THEN 1 ELSE 0 END AS chg
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
runs AS (
  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM marked
),
per_run AS (
  SELECT user_id, version, min(state) AS iv_state, min(us) AS vf_us
  FROM runs GROUP BY 1, 2
),
iv AS (
  SELECT * FROM (
    SELECT user_id, version, iv_state, vf_us,
           lead(vf_us) OVER (PARTITION BY user_id ORDER BY version) AS vt_us
    FROM per_run)
  WHERE vt_us IS NULL OR vf_us < vt_us
)
SELECT e.event_id, e.user_id, e.us, i.iv_state AS state, i.version
FROM ev e JOIN iv i
  ON i.user_id = e.user_id AND e.us >= i.vf_us
     AND (i.vt_us IS NULL OR e.us < i.vt_us)
"""


# ---------------------------------------------------------------------------
# V2 — column profiling report (the dbt/great-expectations "profile"
# surface, v1's observability sibling): per numeric column of orders —
# row count, null count, exact distinct count, min/max, DECIMAL-exact
# mean. ALL metrics for ALL columns ride ONE aggregation pass over one
# scan (a27's one-pass discipline); the long-form report is a constant
# 1-row -> N-row unpivot after the aggregate, so profiling cost is a
# single table scan at any scale.
# ---------------------------------------------------------------------------

V2_COLS = ("o_totalprice", "o_custkey", "o_orderkey")


def v2_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.functions.compat import to_dec

    orders = load_table(spark, sf_dir, "orders", fanout=True)
    aggs = [F.count("*").alias("n_rows")]
    for c in V2_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"max_{c}"),
            (F.sum(to_dec(F.col(c))).cast("double") / F.count(c)).alias(
                f"mean_{c}"
            ),
        ]
    stats = orders.agg(*aggs)
    # Building each per-column row as ``stats.select(...)`` and
    # unioning would reference the un-persisted aggregate THREE times, so
    # Catalyst would replicate the whole scan+fanout+aggregate subtree per
    # column (3 parquet scans + 3 countDistinct expands).
    # The rows are pure column math on the single stats row — fold them
    # into ONE struct array exploded in place (the a27 discipline,
    # guide §7.2 duplicated subtrees). Row order (V2_COLS order) is
    # exactly the union order.
    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n_rows"),
            F.col(f"nulls_{c}").alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"min_{c}").alias("min_value"),
            F.col(f"max_{c}").alias("max_value"),
            F.round(F.col(f"mean_{c}"), 6).alias("mean_value"),
        )
        for c in V2_COLS
    ]
    return stats.select(F.explode(F.array(*entries)).alias("e")).select(
        "e.column",
        "e.n_rows",
        "e.n_nulls",
        "e.n_distinct",
        "e.min_value",
        "e.max_value",
        "e.mean_value",
    )


def _v2_sql() -> str:
    from x17a5_spark.functions.compat import dec_sql

    aggs = ["count(*) AS n_rows"]
    for c in V2_COLS:
        aggs += [
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nulls_{c}",
            f"count(DISTINCT {c}) AS nd_{c}",
            f"min(CAST({c} AS DOUBLE)) AS min_{c}",
            f"max(CAST({c} AS DOUBLE)) AS max_{c}",
            f"{dec_sql(c)} / count({c}) AS mean_{c}",
        ]
    rows = [
        f"SELECT '{c}' AS column, n_rows, nulls_{c} AS n_nulls,"
        f" nd_{c} AS n_distinct, min_{c} AS min_value, max_{c} AS max_value,"
        f" round(mean_{c}, 6) AS mean_value FROM stats"
        for c in V2_COLS
    ]
    return (
        "WITH stats AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL ".join(rows)
    )


V2_SQL = _v2_sql()


# ---------------------------------------------------------------------------
# J16 — fuzzy key join (MDM/entity-matching): supplier names matched
# against a dirty feed (planted in-query: one character deleted at a
# deterministic position — OCR/typo shape) by edit distance <= 2.
# Spark and DuckDB both ship native integer levenshtein, so the
# confirm is exact cross-engine.
#
# Scale discipline: NEVER levenshtein(all x all). Candidates block on
# the LAST-4-character key — on templated names ("Supplier#0000...")
# a PREFIX block is degenerate (every row shares it, candidates go
# quadratic — measured: 40k pairs for 200 rows), while the tail is
# the discriminative part AND is invariant under any single deletion
# occurring before it, so blocking recall for the planted dirt is
# structural. Same bounded-candidates-then-confirm shape as d11/d13,
# the expensive scalar only on blocked pairs.
# ---------------------------------------------------------------------------

J16_MAX_DIST = 2
J16_PREFIX = 4


def j16_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # dirty feed: delete the character at position 5 + key % 3 (0-based)
    pos = (F.lit(5) + F.col("s_suppkey") % 3).cast("int")
    dirty = sup.select(
        F.col("s_suppkey").alias("feed_id"),
        F.concat(
            F.substring("s_name", 1, pos),
            F.substring("s_name", pos + 2, F.lit(10_000)),
        ).alias("feed_name"),
    )
    cand = dirty.join(
        sup,
        F.substring("feed_name", -J16_PREFIX, J16_PREFIX)
        == F.substring("s_name", -J16_PREFIX, J16_PREFIX),
    )
    dist = F.levenshtein("feed_name", "s_name")
    return (
        cand.withColumn("distance", dist)
        .filter(F.col("distance") <= J16_MAX_DIST)
        .select("feed_id", "feed_name", "s_suppkey", "s_name", "distance")
    )


J16_SQL = f"""
WITH dirty AS (
  SELECT s_suppkey AS feed_id,
         substring(s_name, 1, CAST(5 + s_suppkey % 3 AS INT))
           || substring(s_name, CAST(5 + s_suppkey % 3 AS INT) + 2, 10000)
             AS feed_name
  FROM supplier
)
SELECT d.feed_id, d.feed_name, s.s_suppkey, s.s_name,
       CAST(levenshtein(d.feed_name, s.s_name) AS INT) AS distance
FROM dirty d JOIN supplier s
  ON substring(d.feed_name, length(d.feed_name) - {J16_PREFIX - 1}, {J16_PREFIX})
     = substring(s.s_name, length(s.s_name) - {J16_PREFIX - 1}, {J16_PREFIX})
WHERE levenshtein(d.feed_name, s.s_name) <= {J16_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# V3 — small-file compaction planner (Delta/Iceberg OPTIMIZE's planning
# step). The lakehouse failure mode at 100 TB isn't data volume, it's
# FILE COUNT: streaming/incremental writers leave thousands of small
# files per partition and every scan pays per-file open + listing cost.
# OPTIMIZE planning = per partition, pack files (in a deterministic
# order) into target-size bins; each bin becomes one rewrite task.
#
# The file listing is synthesized deterministically from orders (file
# per order, partition = order year, size = totalprice in bytes); the
# packing rule is sequential fill by file id: a file's bin is
# floor(prev_cumsum / TARGET) — one window cumsum per partition, no
# global shuffle, bins overshoot by at most one file (the standard
# greedy). Output: one row per planned rewrite task (bins that hold
# >= 2 files — singleton bins need no compaction), with file count and
# bytes. Scale shape: everything is partition-local after ONE hash
# exchange on the partition key; planning output is bounded by
# total_bytes / TARGET, tiny next to the listing.
# ---------------------------------------------------------------------------

V3_TARGET_BYTES = 1_000_000


def v3_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("file_id"),
        F.year("o_orderdate").alias("part_year"),
        F.round("o_totalprice", 0).cast("long").alias("size_bytes"),
    )
    w = (
        Window.partitionBy("part_year")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = files.withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
            / F.lit(V3_TARGET_BYTES)
        ).cast("int"),
    )
    return (
        binned.groupBy("part_year", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size_bytes").alias("bin_bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
        .filter(F.col("n_files") >= 2)
    )


V3_SQL = f"""
WITH files AS (
  SELECT o_orderkey AS file_id,
         year(o_orderdate) AS part_year,
         CAST(round(o_totalprice, 0) AS BIGINT) AS size_bytes
  FROM orders
),
binned AS (
  SELECT part_year, file_id, size_bytes,
         CAST(floor(coalesce(sum(size_bytes) OVER (
                  PARTITION BY part_year ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {V3_TARGET_BYTES}) AS INT) AS bin_id
  FROM files
)
SELECT part_year, bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       min(file_id) AS first_file, max(file_id) AS last_file
FROM binned GROUP BY 1, 2 HAVING count(*) >= 2
"""



# ---------------------------------------------------------------------------
# J17 — bucketed co-located join: the exchange-free fact-fact join the
# engine's 100-TB notes keep invoking (graph.py "bucketed by src on
# disk", misc.py "bucketed by key in a real lakehouse"), DEMONSTRATED.
# Both fact tables are written once per SparkContext as Spark bucketed
# stage tables (bucketBy+sortBy on the join key); reading them back,
# the join's children already satisfy the required hash distribution,
# so the SortMergeJoin runs with ZERO exchanges on either side — the
# only shuffle in the whole query is the final priority aggregate
# (plan-asserted in tests/test_plans.py). At 100 TB this is THE
# technique that turns every repeated key-join of a curated lake into
# a scan-local merge: shuffle the table once at write time, never
# again at read time.
# ---------------------------------------------------------------------------

# Bucket count for the stage tables. 8 fits the demo lake (small files,
# one file per bucket). On a real cluster pick buckets ≈ the target join
# parallelism — cluster cores × a small factor, sized so each bucket's
# file lands in the 128 MB–1 GB band: every read-side join runs at most
# `buckets` tasks wide FOREVER (too few permanently caps join
# parallelism), while too many produce tiny files per writing task.
J17_BUCKETS = 8


def _j17_tag(sf_dir: str) -> str:
    import hashlib
    import os

    h = hashlib.md5(sf_dir.encode())
    # fold in a fingerprint of the source parquet (mtime+size): a lake
    # regenerated at the same path within one context must get fresh
    # stage tables instead of serving stale bucketed data the oracle
    # (which reads the fresh parquet directly) would diverge from
    for name in ("orders", "lineitem"):
        try:
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            h.update(f"{name}:{st.st_mtime_ns}:{st.st_size}".encode())
        except OSError:
            pass
    return h.hexdigest()[:8]


def _j17_bucketed(spark: SparkSession, sf_dir: str, name: str, key: str, cols):
    """Bucketed stage table, built once per (SparkContext, lake
    fingerprint). It is an external table under the context's
    SparkFiles root, so the files share the lifetime of the in-memory
    catalog entry: Spark deletes that directory when the context
    stops, and no other process can see it."""
    import os

    from pyspark import SparkFiles

    table = f"j17_{name}_{_j17_tag(sf_dir)}"
    if not spark.catalog.tableExists(table):
        (
            load_table(spark, sf_dir, name)
            .select(*cols)
            .write.option("path", os.path.join(SparkFiles.getRootDirectory(), table))
            .bucketBy(J17_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(table)
        )
    return spark.table(table)


def j17_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _j17_bucketed(
        spark, sf_dir, "orders", "o_orderkey",
        ["o_orderkey", "o_orderpriority"],
    )
    li = _j17_bucketed(
        spark, sf_dir, "lineitem", "l_orderkey",
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    # hint("merge"): at bench SF the orders side fits a broadcast, which
    # would bypass (not refute) the bucketing demo; at 100 TB neither
    # fact side broadcasts and sort-merge IS the strategy — the hint
    # pins that realistic plan so the zero-exchange property is the
    # thing being exercised and plan-asserted
    return (
        orders.hint("merge").join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            F.round("revenue", 2).alias("revenue"),
        )
    )


J17_SQL = f"""
SELECT o_orderpriority,
       count(*) AS n_items,
       round({dec_sql('l_extendedprice * (1 - l_discount)')}, 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


QUERIES = {
    "v3_compaction_plan": v3_compaction_plan,
    "j11_bloom_semi_join": j11_bloom_semi_join,
    "j12_scd2_intervals": j12_scd2_intervals,
    "d10_source_quota": d10_source_quota,
    "t15_heavy_hitters": t15_heavy_hitters,
    "a19_incremental_agg": a19_incremental_agg,
    "d12_temperature_mix": d12_temperature_mix,
    "v1_constraint_checks": v1_constraint_checks,
    "j14_pit_join": j14_pit_join,
    "v2_profile_columns": v2_profile_columns,
    "j16_fuzzy_name_join": j16_fuzzy_name_join,
    "j17_bucketed_join": j17_bucketed_join,
}

ORACLES = {
    "v3_compaction_plan": V3_SQL,
    "j11_bloom_semi_join": J11_SQL,
    "j12_scd2_intervals": J12_SQL,
    "d10_source_quota": D10_SQL,
    "t15_heavy_hitters": T15_SQL,
    "a19_incremental_agg": A19_SQL,
    "d12_temperature_mix": D12_SQL,
    "v1_constraint_checks": V1_SQL,
    "j14_pit_join": J14_SQL,
    "v2_profile_columns": V2_SQL,
    "j16_fuzzy_name_join": J16_SQL,
    "j17_bucketed_join": J17_SQL,
}
