"""Round-3 scale-technique operators, each a result-identical rewrite of
a plan Spark would otherwise execute badly at 100 TB:

- j9  interval/range join via time-bucket equi-join (Spark has no range
  join; the naive spelling is a broadcast-nested-loop or cartesian).
- j10 salted skew join + two-level salted aggregation (hot-key
  mitigation with a plain-join oracle proving result identity).
- a17 distributed min-k-hash sample quantiles — the mergeable "bottom-k"
  sketch (KMV's sibling) evaluated without any global sort of the data.
- d8  SemDeDup-style embedding dedup scoped to IVF cells (Abbas et al.,
  arXiv:2303.09540): candidate pairs only within a coarse-quantizer
  cell, never across the corpus.
- t13 unigram-LM perplexity quality filter (the CCNet/Gopher-style
  corpus filter): corpus-derived language model, add-one smoothing,
  per-doc average negative log-prob.

Every query has a DuckDB oracle twin; floats go through the
``functions/compat`` exact-DECIMAL route or per-value ``round(x, 6)``
so the driver's value-hash comparison is exact.
"""

from __future__ import annotations


from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.compat import dec_sql, to_dec
from x17a5_spark.functions.text import tokens
from x17a5_spark.operators.skew import salted_aggregate, salted_join
from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET, guarded_twin_id
from x17a5_spark.queries.similarity import (
    _as_double,
    _norm,
    ivf_tables,
    staged_assign_sql,
    staged_assignment,
)
from x17a5_spark.tables import load_table

# ---------------------------------------------------------------------------
# J9 — interval/range join via time-bucket equi-join.
#
# Task: for every high-value error event ("incident"), aggregate all
# events inside its 10-minute window. A pure range predicate has no
# equi-key, so Spark's only native plan is a nested-loop over
# (incidents × events). The scale-correct rewrite buckets time into
# interval-sized bins: an incident window spans exactly two bins, the
# probe event lives in one, so a bin equi-join (hash exchange, AQE-
# coalescible) produces a superset that one residual BETWEEN filter
# trims. Work is O(events + incidents·matches), never O(n·m).
# DuckDB's oracle runs the same query as a true IEJoin.
# ---------------------------------------------------------------------------

J9_BIN_S = 600  # bucket width == window width: spans exactly 2 buckets


def j9_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    inc = ev.filter((F.col("event_type") == "error") & (F.col("value") > 200)).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1"),
    )
    b0 = F.floor(F.unix_timestamp("t0") / J9_BIN_S)
    b1 = F.floor(F.unix_timestamp("t1") / J9_BIN_S)
    inc_b = inc.withColumn("bin", F.explode(F.sequence(b0, b1)))
    probe = ev.select(
        "event_id",
        "ts",
        "value",
        F.floor(F.unix_timestamp("ts") / J9_BIN_S).alias("bin"),
    )
    # an event occupies ONE bin, so each (incident, event) pair meets in
    # at most one bin — no post-join dedup needed
    joined = probe.join(inc_b, "bin").filter(
        (F.col("ts") >= F.col("t0")) & (F.col("ts") <= F.col("t1"))
    )
    return joined.groupBy("incident_id").agg(
        F.count("*").alias("n_events"),
        F.sum(to_dec("value")).cast("double").alias("sum_value"),
    )


J9_SQL = f"""
WITH inc AS (
  SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 10 MINUTE AS t1
  FROM events WHERE event_type = 'error' AND value > 200
)
SELECT i.incident_id, count(*) AS n_events,
       {dec_sql("e.value")} AS sum_value
FROM inc i JOIN events e ON e.ts >= i.t0 AND e.ts <= i.t1
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J10 — salted skew join + salted aggregation.
#
# l_returnflag has 3 values over the whole of lineitem — the textbook
# hot key: a plain shuffle join/aggregate lands a third of the fact
# table on one reducer. The salted rewrite spreads each flag across
# N_SALT reducers (deterministic xxhash64 salt, dim exploded), then
# re-aggregates partial DECIMAL sums. The oracle is the PLAIN join +
# single-level GROUP BY: the driver's hash check proves salting changed
# the schedule, not the answer.
# ---------------------------------------------------------------------------

J10_N_SALT = 8


def j10_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("factor", (F.pmod(F.ascii("l_returnflag"), F.lit(5)) + 1) / 4.0)
    )
    fact = li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    joined = salted_join(
        fact,
        dim,
        ["l_returnflag"],
        salt_from=["l_orderkey", "l_linenumber"],
        n_salt=J10_N_SALT,
    )
    weighted = joined.withColumn("wrev", F.col("l_extendedprice") * F.col("factor"))
    return salted_aggregate(
        weighted,
        ["l_returnflag"],
        partial_aggs=[
            F.count("*").alias("pn"),
            F.sum(to_dec("wrev")).alias("psum"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_rows"),
            F.sum("psum").cast("double").alias("weighted_revenue"),
        ],
        salt_from=["l_orderkey", "l_linenumber"],
        n_salt=J10_N_SALT,
    )


J10_SQL = f"""
WITH dim AS (
  SELECT l_returnflag, (CAST(ascii(l_returnflag) AS BIGINT) % 5 + 1) / 4.0 AS factor
  FROM (SELECT DISTINCT l_returnflag FROM lineitem)
)
SELECT f.l_returnflag, count(*) AS n_rows,
       {dec_sql("f.l_extendedprice * d.factor")} AS weighted_revenue
FROM lineitem f JOIN dim d USING (l_returnflag)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A17 — distributed bottom-k-hash sample quantiles.
#
# The mergeable sampling sketch: the k rows with the smallest md5(key)
# form a uniform sample that merges across partitions/days by simply
# re-taking the bottom k (same family as t12's KMV distinct sketch).
# The distributed evaluation never globally sorts the data: a
# count-adaptive hash threshold (u <= 4k/n, t12's trick — expected
# survivors ~= 4k INDEPENDENT of n) prunes the table in one narrow
# pass, and the bottom-k window runs over those ~1k survivors only.
# The oracle applies the IDENTICAL pre-filter, so the two engines agree
# by construction even in the astronomically unlikely under-survival
# case. Quantiles are rank-selected from the sample — exact value
# selection, no interpolation, so the floats hash-match.
# ---------------------------------------------------------------------------

A17_K = 256
A17_QS = (0.1, 0.25, 0.5, 0.75, 0.9)
_A17_RANKS = {int(q * (A17_K - 1)) + 1: q for q in A17_QS}
_TWO60 = float(1 << 60)


def a17_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=True was A/B-tested (isolated median-of-3, both variants
    # same session) and REJECTED — 1.56 s plain vs 1.82 s fanned; the
    # round-robin exchange costs more than the single-task md5 pass
    # saves here.
    li = load_table(spark, sf_dir, "lineitem")
    # Guide §7.2 (duplicated expression evaluation): projecting
    # h = md5(...) BEFORE the survival filter makes every row pay the
    # md5 twice — once inside the pushed-down filter's
    # conv(substring(md5...)) chain and once for the projected h
    # column. Deferring the h projection to AFTER the filter keeps one
    # md5 per row plus a re-hash of only the ~4K survivors (measured on
    # the survivor stage: 1.62 -> 0.89 s, exceptAll-equal both ways).
    md5c = F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber"))
    counts = li.agg(F.count("*").alias("n")).withColumn("k", F.lit(1))
    u = F.conv(F.substring(md5c, 1, 15), 16, 10).cast("double") / F.lit(_TWO60)
    survivors = (
        li.select(
            "l_orderkey", "l_linenumber",
            F.col("l_extendedprice").alias("value"),
        )
        .withColumn("k", F.lit(1))
        .join(F.broadcast(counts), "k")
        .filter(u <= F.least(F.lit(1.0), F.lit(4.0 * A17_K) / F.col("n")))
        .select(md5c.alias("h"), "value")
    )
    bottom_k = (
        survivors.withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rk") <= A17_K)
        .drop("rk")
    )
    by_value = Window.orderBy("value", "h")
    ranked = bottom_k.withColumn("vr", F.row_number().over(by_value))
    q_expr = F.element_at(
        F.create_map(
            *[x for r, q in _A17_RANKS.items() for x in (F.lit(r), F.lit(q))]
        ),
        F.col("vr"),
    )
    return (
        ranked.filter(F.col("vr").isin(*_A17_RANKS))
        .select(q_expr.alias("q"), "value")
    )


_A17_CASE = " ".join(f"WHEN {r} THEN {q}" for r, q in _A17_RANKS.items())

A17_SQL = f"""
WITH hashed AS (
  SELECT md5(l_orderkey || ':' || l_linenumber) AS h, l_extendedprice AS value
  FROM lineitem
),
counts AS (SELECT count(*) AS n FROM hashed),
survivors AS (
  SELECT h, value FROM hashed, counts
  WHERE CAST('0x' || h[1:15] AS BIGINT) / {_TWO60}
        <= least(1.0, {4.0 * A17_K} / n)
),
bottom_k AS (SELECT * FROM survivors ORDER BY h LIMIT {A17_K}),
ranked AS (
  SELECT value, row_number() OVER (ORDER BY value, h) AS vr FROM bottom_k
)
SELECT CAST(CASE vr {_A17_CASE} END AS DOUBLE) AS q, value
FROM ranked WHERE vr IN ({", ".join(str(r) for r in _A17_RANKS)})
"""


# ---------------------------------------------------------------------------
# D8 — SemDeDup: semantic dedup scoped to IVF cells.
#
# Abbas et al. (arXiv:2303.09540) deduplicate web-scale corpora by
# clustering embeddings and comparing pairs ONLY within a cluster.
# Here the coarse quantizer is s3's deterministic md5-derived codebook
# with the TWO-LEVEL staged argmax (similarity.staged_assignment:
# best super-cell, then best child — 6-decimal rounding + id
# tiebreaks, identical in both engines), so the full pipeline —
# assign -> within-cell pairs -> cosine >= 0.99 -> keep-lowest-id —
# has an exact SQL oracle. At 100 TB the cell count scales with the
# corpus (k ~ N/target_cell_size), keeping the within-cell quadratic
# term bounded, and the staged assignment keeps the assign pass at
# N*2*sqrt(k) under that same recipe; the planted exact copies
# (vec_id + AUG_TWIN_OFFSET) get identical staged scores by construction,
# in the same cell, and must all be dropped.
# ---------------------------------------------------------------------------

D8_THRESHOLD = 0.99

# SemDeDup's own recipe scales the cell count with the corpus
# (k ~ N / target_cell_size), so d8 derives k from a cheap corpus count
# with that recipe: an operator meant for 100 TB must not need a
# hand-set knob to avoid a 20 GB per-cell matmul at 100×. Every shipped
# gate lake (sf0.001/0.01/0.1: ≤4,000 augmented vectors) derives
# EXACTLY (16, 4) cells/super-cells, the ``staged_assign_sql`` defaults
# the static oracle below is written with.

# Perf-optimal, memory-safe cell cap: SemDeDup's literal ~250
# vectors/cell is OOM-proof but measured +25% at the 20× lake vs fixed
# k=16. The cost curve is U-shaped in cell size m — per-group fixed
# costs (shuffle, Arrow, scheduling) dominate small cells while the m²
# score-matrix post-processing dominates big ones — and the measured
# 20× A/B (isolated medians) pins the optimum near m ≈ 1k: m=250 →
# 11.8 s, m=1250 → 6.4 s, m=4000 → 26.2 s, m=5000 → 12.6 s. At the cap
# the per-cell score matrix is m²·8 = 8 MB — two orders inside any
# executor's per-task budget, so the OOM-proof property is preserved
# for ANY corpus size. Gate lakes (≤ 4,096 aug vectors) still derive
# exactly k=16: ⌈4000/1024⌉ = 4 < the k=16 floor.
D8_CELL_CAP = 1024


def _d8_derive(n_aug_vecs: int) -> tuple[int, int]:
    """Cell count + super-cell count from the augmented corpus size.

    k is shaped as s×⌈raw/s⌉ with s=⌈√raw⌉ so the two-level staged
    assignment always gets a true divisor near √k (an arbitrary
    ⌈N/cap⌉ can be prime, which would collapse the super-level to
    width 1 and degenerate assignment to flat N·k). k ≥ raw keeps
    every cell AT OR UNDER the cap — the safe direction for the
    per-cell matmul — and n/k ≤ D8_CELL_CAP holds for ANY corpus size
    by construction."""
    import math

    raw = max(16, -(-n_aug_vecs // D8_CELL_CAP))
    s = math.isqrt(raw - 1) + 1  # ceil(sqrt(raw))
    return s * (-(-raw // s)), s


def d8_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    aug = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            guarded_twin_id(F.col("vec_id"), 1, "d8").alias("vec_id"),
            "embedding",
        )
    )
    # NOT persisted (A/B): caching this array<double> table was
    # measured 2.02 -> 2.14 s — the 12 re-scans the plan holds are
    # cheap cast+norm chains and columnar array caching costs more
    # than it saves (the s8 subvector finding, guide §5 "only when
    # recomputing is more expensive").
    vecs = aug.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).withColumn("norm", _norm(F.col("vec")))
    # cell count DERIVED from the corpus (one parquet-metadata count at
    # construction time) so the query cannot OOM a worker when the lake
    # grows — at the gate lakes the derivation lands exactly on 16
    cells, supers = _d8_derive(2 * emb.count())
    # two-level coarse assignment (similarity.staged_assignment): the
    # per-vector explode is 2*sqrt(k) wide, so assignment stays
    # N*2*sqrt(k) under SemDeDup's corpus-scaled k — never N*k.
    cents, sups = ivf_tables(spark, cells, supers)
    assigned = staged_assignment(
        vecs, cents, sups, supers, cells // supers
    ).join(vecs, "vec_id")
    # within-cell pairwise cosine as ONE Arrow-batched numpy matmul per
    # cell (BLAS beats 3M per-pair JVM folds ~6x at sf0.1). Safe for the
    # hash check: the output carries no float column — the cosine is
    # only a >= threshold decision, mirrored as round(.,4) >= tau in
    # both engines. Cells stay bounded because k scales with the corpus
    # (SemDeDup's own recipe), so the n^2 term never outgrows a group.
    import numpy as np
    import pandas as pd

    def _cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["vec"].to_numpy())
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        ids = pdf["vec_id"].to_numpy()
        iu, ju = np.triu_indices(len(ids), k=1)
        mask = np.round(sims[iu, ju], 4) >= D8_THRESHOLD
        lo = np.minimum(ids[iu][mask], ids[ju][mask])
        hi = np.maximum(ids[iu][mask], ids[ju][mask])
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    from x17a5_spark.operators.kernel_part import kernel_partitions

    # cells are CPU-bound groups (one BLAS matmul each) — spread them
    # explicitly; AQE's byte-based coalescing serialized this stage on
    # one task at sf0.1 (kernel sweep)
    dup_pairs = (
        kernel_partitions(assigned.select("cell", "vec_id", "vec"), ["cell"])
        .groupBy("cell")
        .applyInPandas(_cell_dups, "id_a long, id_b long")
    )
    # resolution: the larger id is dropped, kept by its smallest dup
    return dup_pairs.groupBy(F.col("id_b").alias("dropped_id")).agg(
        F.min("id_a").alias("kept_id"), F.count("*").alias("n_dups")
    )


D8_SQL = f"""
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + {AUG_TWIN_OFFSET}, CAST(embedding AS DOUBLE[]) FROM embeddings
),
v AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS norm
  FROM aug
),
{staged_assign_sql()},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(range(1, 65), i -> va.vec[i] * vb.vec[i]))
               / (va.norm * vb.norm), 4) AS cos_sim
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
)
SELECT id_b AS dropped_id, min(id_a) AS kept_id, count(*) AS n_dups
FROM pairs WHERE cos_sim >= {D8_THRESHOLD}
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# T13 — unigram-LM perplexity quality filter (CCNet-style).
#
# The corpus is its own language model: unigram counts with add-one
# smoothing give every token a log-probability; a document's quality
# score is its average negative log-prob ("unigram perplexity" in log
# space) and the keep flag thresholds it. Per-token log-probs are
# rounded to 6 decimals ONCE in the vocab table, then summed through
# exact DECIMAL — the document score is bit-identical in both engines
# regardless of partitioning.
#
# Scale: two shuffles (vocab groupBy; score-join on token — Catalyst
# broadcasts the vocab while it fits, falls back to a hash join when a
# 100 TB vocab outgrows it). The corpus-wide totals ride a 1-row
# broadcast join on a constant key — a hash join, not a cartesian.
# ---------------------------------------------------------------------------

T13_THRESHOLD = 3.41


def t13_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    # ONE corpus explode (guide §2.3/§5): otherwise the token stream is
    # re-derived twice — once for the unigram LM counts, once for the
    # per-doc scoring join — so every document pays the regex split +
    # explode twice. Reduce to (doc_id, tok) occurrence counts first
    # (map-side combined) and persist that vocab×doc table; the LM
    # counts are a re-aggregation of it and the scorer weights each
    # distinct token by its count. sum(c_dt · dec(lp)) == sum over
    # occurrences of dec(lp) exactly (integer × exact decimal), so the
    # result is bit-identical to the per-occurrence fold.
    cnt = (
        tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c_dt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = cnt.groupBy("tok").agg(F.sum("c_dt").alias("c"))
    totals = uni.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    ).withColumn("k", F.lit(1))
    lp_tab = (
        uni.withColumn("k", F.lit(1))
        .join(F.broadcast(totals), "k")
        .select(
            "tok",
            F.round(F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v"))), 6).alias(
                "lp"
            ),
        )
    )
    scored = cnt.join(lp_tab, "tok")
    agg = scored.groupBy("doc_id").agg(
        F.sum("c_dt").alias("n_tokens"),
        F.sum(F.col("c_dt") * to_dec(-F.col("lp"))).cast("double").alias("nll"),
    )
    avg_nll = F.round(F.col("nll") / F.col("n_tokens"), 6)
    return agg.select(
        "doc_id",
        "n_tokens",
        avg_nll.alias("avg_nll"),
        (avg_nll < T13_THRESHOLD).alias("keep"),
    )


T13_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
lp_tab AS (
  SELECT tok, round(ln((c + 1.0) / (n + v)), 6) AS lp FROM uni CROSS JOIN tot
)
SELECT t.doc_id, count(*) AS n_tokens,
       round({dec_sql("-lp")} / count(*), 6) AS avg_nll,
       round({dec_sql("-lp")} / count(*), 6) < {T13_THRESHOLD} AS keep
FROM tok t JOIN lp_tab USING (tok)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# T14 — BM25 keyword search over the corpus (Robertson/Spärck Jones;
# the Okapi BM25 ranking function every retrieval stack ships).
#
# All statistics are corpus-derived integers (tf, df, dl, N, Σdl), so
# every engine computes the identical rationals; idf and the per-term
# contribution are rounded to 6 decimals and summed through exact
# DECIMAL — the final score is bit-identical and the rank ordering
# (score DESC, doc_id ASC on the exact value) is engine-independent.
#
# Scale: one vocab-sized groupBy for df (map-side combined), one
# doc-sized groupBy for dl, the tf table is corpus tokens filtered to
# the query terms BEFORE any exchange (predicate pushdown on the
# explode), and N/Σdl ride a 1-row broadcast join. The final global
# rank orders the bounded match set — never the corpus.
# ---------------------------------------------------------------------------

T14_TERMS = ("join", "vector", "stream")
T14_K1 = 1.2
T14_B = 0.75


def t14_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl")
    ).withColumn("k", F.lit(1))
    tf = (
        tok.filter(F.col("tok").isin(*T14_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_tab = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .select(
            "tok",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                ),
                6,
            ).alias("idf"),
            "n_docs",
            "total_dl",
        )
    )
    scored = tf.join(dl, "doc_id").join(F.broadcast(df_tab), "tok")
    denom = F.col("tf") + T14_K1 * (
        1.0 - T14_B + T14_B * (F.col("dl") * F.col("n_docs")) / F.col("total_dl")
    )
    contrib = F.round(F.col("idf") * (F.col("tf") * (T14_K1 + 1.0)) / denom, 6)
    agg = (
        scored.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.sum(to_dec("contrib")).cast("double").alias("score"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    rank_w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return agg.withColumn("rank", F.row_number().over(rank_w)).select(
        "rank", "doc_id", "n_terms_hit", "score"
    )


_T14_LIST = "['" + "', '".join(T14_TERMS) + "']"

T14_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM tok
  WHERE list_contains({_T14_LIST}, tok) GROUP BY 1, 2
),
df_tab AS (
  SELECT tok, round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
         n_docs, total_dl
  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN stats
),
scored AS (
  SELECT t.doc_id,
         round(d.idf * (t.tf * ({T14_K1} + 1.0))
               / (t.tf + {T14_K1} * (1.0 - {T14_B}
                  + {T14_B} * (l.dl * d.n_docs) / d.total_dl)), 6) AS contrib
  FROM tf t JOIN dl l USING (doc_id) JOIN df_tab d USING (tok)
),
agg AS (
  SELECT doc_id, {dec_sql("contrib")} AS score, count(*) AS n_terms_hit
  FROM scored GROUP BY 1
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, n_terms_hit, score
FROM agg
"""


# ---------------------------------------------------------------------------
# T24 — bigram-LM cross-entropy filter (t13's unigram LM upgraded one
# order): the corpus trains a bigram model with add-one smoothing,
# p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), and each document is scored
# by its average bigram negative log-prob. Fluency-sensitive where the
# unigram filter is only vocabulary-sensitive — word-salad built from
# common words scores badly here but fine under t13.
#
# Cross-engine float discipline: per-BIGRAM log-probs are rounded to 6
# decimals ONCE in the (bounded, vocabulary-sized) lp table, then
# summed through exact DECIMAL — the t13 pattern, so document scores
# are partition-order independent and hash-stable.
#
# Scale: bigram counts = one groupBy over the bigram stream (map-side
# combined); the scoring join matches each doc-bigram to one lp row.
# The lp table is vocab^2-bounded in theory but observed-bigram-
# bounded in practice (Heaps' law), and Catalyst broadcast-or-hash
# joins it by size.
# ---------------------------------------------------------------------------

T24_THRESHOLD = 6.8


def t24_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = tokens(F.lower(F.col("text")))
    bi = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    # `bi` feeds two consumers but is deliberately NOT persisted: the
    # t22/d13 discipline was tried and MEASURED here — caching the
    # ~corpus-sized bigram stream bought nothing at sf0.1 (1.15 s ->
    # 1.2-1.39 s steady; scanning the cache costs what the re-explode
    # costs), unlike the pruned/bounded stage tables that do persist.
    uni = docs.select("doc_id", F.explode(toks).alias("tok"))
    # persist the VOCAB-sized unigram counts (not the corpus-sized
    # streams — persisting `bi` was measured a loss, see above): c1
    # feeds both the lp join and the vocabulary count, and without the
    # persist the whole scan→explode→aggregate subtree ran twice
    # (plans/r13/t24_before.txt: four corpus scans, two of them the c1
    # subtree). Guide §5: bounded, reused, expensive to recompute.
    c1 = (
        uni.groupBy("tok")
        .agg(F.count("*").alias("c1"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = c1.agg(F.count("*").alias("v")).withColumn("k", F.lit(1))
    c2 = bi.groupBy("bg").agg(F.count("*").alias("c2"))
    lp_tab = (
        c2.withColumn("tok", F.split("bg", " ")[0])
        .join(c1, "tok")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(v), "k")
        .select(
            "bg",
            F.round(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 6
            ).alias("lp"),
        )
    )
    agg = (
        bi.join(lp_tab, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(to_dec(-F.col("lp"))).cast("double").alias("nll"),
        )
    )
    avg_nll = F.round(F.col("nll") / F.col("n_bigrams"), 6)
    return agg.select(
        "doc_id",
        "n_bigrams",
        avg_nll.alias("avg_nll"),
        (avg_nll < T24_THRESHOLD).alias("keep"),
    )


T24_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM toks
),
uni AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
v AS (SELECT count(*) AS v FROM c1),
c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY 1),
lp_tab AS (
  SELECT bg, round(ln((c2 + 1.0) / (c1.c1 + v.v)), 6) AS lp
  FROM c2
  JOIN c1 ON c1.tok = split_part(bg, ' ', 1)
  CROSS JOIN v
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round({dec_sql("-lp")} / count(*), 6) AS avg_nll,
       round({dec_sql("-lp")} / count(*), 6) < {T24_THRESHOLD} AS keep
FROM bi b JOIN lp_tab USING (bg)
GROUP BY 1
"""


QUERIES = {
    "j9_range_join": j9_range_join,
    "j10_salted_skew_join": j10_salted_skew_join,
    "a17_sample_quantiles": a17_sample_quantiles,
    "d8_semdedup": d8_semdedup,
    "t13_perplexity_filter": t13_perplexity_filter,
    "t24_bigram_perplexity": t24_bigram_perplexity,
    "t14_bm25_search": t14_bm25_search,
}

ORACLES = {
    "j9_range_join": J9_SQL,
    "j10_salted_skew_join": J10_SQL,
    "a17_sample_quantiles": A17_SQL,
    "d8_semdedup": D8_SQL,
    "t13_perplexity_filter": T13_SQL,
    "t24_bigram_perplexity": T24_SQL,
    "t14_bm25_search": T14_SQL,
}
