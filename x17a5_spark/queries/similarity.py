"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

s1 is the exact brute-force cosine top-k baseline: the query set is tiny
(broadcast), so the plan is a broadcast nested-loop against the candidate
scan — no shuffle of the big side at any scale; per-pair math is
``zip_with`` + ``aggregate`` higher-order functions, fully JVM-side.

s2 is the scale path: random-hyperplane LSH bucketing (md5-derived
deterministic hyperplanes), candidates only within matching buckets —
at 100 TB candidate generation is an equi-join on bucket signature
instead of a full cross product. Hash-checked against a closed-form
SQL twin (the md5 hyperplanes make bucket assignment SQL-expressible)
AND recall-checked against s1 in tests/test_dedup_similarity.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET, guarded_twin_id
from x17a5_spark.tables import load_table

N_QUERIES = 10
TOP_K = 5
N_PLANES = 8


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# SIM1 — brute-force cosine top-k (exact baseline). Norms are computed
# once per vector (not per pair) — the per-pair work is a single
# zip_with/aggregate fold; the join is a broadcast nested loop with the
# tiny query set on the build side, so the big candidate scan never
# shuffles.
def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        _as_double(F.col("embedding")).alias("q_vec"),
    ).withColumn("q_norm", _norm(F.col("q_vec")))
    cands = emb.select(
        F.col("vec_id").alias("c_id"),
        _as_double(F.col("embedding")).alias("c_vec"),
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    sim = F.round(
        _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")), 4
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        cands.join(F.broadcast(queries), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cos_sim")
    )


S1_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         round(list_sum(list_transform(range(1, len(q.vec) + 1),
                                       i -> q.vec[i] * c.vec[i]))
               / (sqrt(list_sum(list_transform(q.vec, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.vec, x -> x * x)))), 4) AS cos_sim
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM pairs
)
SELECT q_id, rank, c_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


def _hyperplane(p: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — no RNG state,
    reproducible across engines and runs."""
    import hashlib

    return [
        (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for d in range(dim)
    ]


N_TABLES = 8
BITS_PER_TABLE = 3


# SIM2 — multi-table random-hyperplane LSH ANN (the scale path: a
# candidate is any vector sharing a bucket with the query in *any* of
# the hash tables — the OR-of-ANDs construction that trades one
# bucket-join per table for recall; candidate generation is an
# equi-join on (table, bucket), never a cross product). Oracle-backed
# (S2_SQL below — closed-form md5 hyperplanes); recall
# vs the exact s1 baseline is asserted in tests/test_dedup_similarity.py.
#
# The multi-table dedup is a HashAggregate on numerics, never a
# SortAggregate on arrays — deduping (q_id, c_id) with
# dropDuplicates(subset), whose first(array) over the carried 64-d
# vectors, plans as SortAggregate over the candidate set.
# cos(q, c) is identical no matter WHICH table's bucket matched, so the
# cosine is computed in the bucket join (same data flow, one map-side
# fold per collision) and the dedup is groupBy(q_id, c_id).max(cos) —
# a codegen HashAggregate on two longs and a double. (A first attempt
# deduped ids-only and re-attached vectors by a post-distinct join —
# plan-clean but 1.9x slower at the 20x lake: the re-attach shuffles
# the full vector table, where this form only ever moves bucket
# collisions.)
def s2_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Bucket assignment rides the d5 Arrow matmul
    # (3 bits/table) instead of 24 zip_with/aggregate fold chains in
    # codegen — the folds measured ~175 µs/row (0.46 s for the 2k-row
    # fixture); only the SIGN of each projection reaches the bucket id,
    # so numpy's summation order cannot change the output (d5 crossed
    # the same bridge; oracle stays value-exact). posexplode's position
    # IS the table id, matching the old struct literals.
    sig = _bucket_signature_udf(n_bits=BITS_PER_TABLE)
    # norms once per VECTOR, before the table explode — the old cosine()
    # re-ran both 64-element norm folds per candidate PAIR (s1's
    # precompute discipline; measured +0.24 s on 13k pairs). Same float
    # expression, same order — bit-identical cos_sim.
    vecs = emb.select(
        "vec_id", "embedding", _as_double(F.col("embedding")).alias("vec")
    ).withColumn("norm", _norm(F.col("vec")))
    buckets = vecs.select(
        "vec_id", "vec", "norm", F.posexplode(sig(F.col("embedding"))).alias("t", "b")
    )
    q_buckets = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        "t",
        "b",
    )
    sim = F.round(
        _dot(F.col("q_vec"), F.col("vec")) / (F.col("q_norm") * F.col("norm")), 4
    )
    candidates = (
        buckets.join(F.broadcast(q_buckets), ["t", "b"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), sim.alias("cos"))
        .groupBy("q_id", "c_id")
        .agg(F.max("cos").alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cos_sim")
    )


# s2's hash-checkable twin: the hyperplanes are deterministic md5
# fields (no RNG state), so bucket assignment is closed-form SQL —
# the same trick S3_SQL uses for the IVF codebook. plane p belongs to
# table p // BITS, contributes 1 << (p % BITS) when the projection is
# positive; candidates are DISTINCT same-(t, b) pairs, exactly the
# Spark side's dropDuplicates.
S2_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS norm
  FROM embeddings
),
planes AS (
  SELECT p,
         list_transform(range(0, 64), d ->
           (CAST('0x' || md5(p || ':' || d)[1:8] AS BIGINT)
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(range(0, {N_TABLES * BITS_PER_TABLE})) AS p)
),
proj AS (
  SELECT v.vec_id, planes.p // {BITS_PER_TABLE} AS t,
         CASE WHEN list_sum(list_transform(range(1, 65),
                                           i -> v.vec[i] * planes.w[i])) > 0
              THEN 1 << (planes.p % {BITS_PER_TABLE}) ELSE 0 END AS bit
  FROM v CROSS JOIN planes
),
buckets AS (
  SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS b FROM proj GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT q.vec_id AS q_id, x.vec_id AS c_id
  FROM buckets q JOIN buckets x ON x.t = q.t AND x.b = q.b
  WHERE q.vec_id < {N_QUERIES} AND x.vec_id <> q.vec_id
),
sims AS (
  SELECT c.q_id, c.c_id,
         round(list_sum(list_transform(range(1, 65), i -> a.vec[i] * b.vec[i]))
               / (a.norm * b.norm), 4) AS cos_sim
  FROM cands c
  JOIN v a ON a.vec_id = c.q_id
  JOIN v b ON b.vec_id = c.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_sim, row_number() OVER (
           PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM sims
)
SELECT q_id, rank, c_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


# D5 — embedding-cosine near-duplicate detection: pairs above a cosine
# threshold, with planted exact copies (vec_id + AUG_TWIN_OFFSET) the pipeline
# must recover. Scale disciplines:
#   1. the 96-hyperplane signature (8 tables × 12 bits) is ONE Arrow-
#      batched matmul per vector batch (`_bucket_signature`) — this is
#      the endorsed vectorized-pandas-UDF case: 96 fold expressions in
#      JVM codegen measured ~6x slower than numpy's (n×64)@(64×96);
#   2. candidates-then-verify: the bucket self-join carries ONLY ids —
#      distinct (id_a, id_b) first, vectors re-attached afterwards by a
#      size-chosen join, so no 64-d array rides a candidate shuffle;
#   3. a dedup-tuned signature width: 12 bits/table (vs the ANN
#      search's 3) because dedup wants high precision at cos >= 0.99 —
#      miss probability for a true 0.99-pair is ≈1e-3 under the
#      8-table OR-construction, and planted exact copies (identical
#      vectors ⇒ identical signs) can never be missed;
#   4. the signature table is shuffled on (t, b) before the self-join
#      so both sides reuse one exchange (signature computed once).
# The oracle recomputes pairs brute-force, so an LSH-missed pair would
# surface as a row-count mismatch.
D5_BITS = 12


def _bucket_signature_udf(n_bits: int = D5_BITS):
    """One Arrow-batched (n×64)@(64×(N_TABLES·n_bits)) matmul per vector
    batch, packed to one bucket int per table — shared by d5 (12
    bits/table) and s2 (3 bits/table; the 24-plane JVM fold chain
    measured ~175 µs/row, the same ~6x-slower-than-numpy finding that
    motivated this UDF for d5). Table t's bucket packs bit b as 1<<b
    when plane (t·n_bits + b) projects positive — the closed form
    S2_SQL/D5's oracles mirror."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    planes = np.array([_hyperplane(i) for i in range(N_TABLES * n_bits)])
    weights = 1 << np.arange(n_bits)

    @F.pandas_udf(ArrayType(IntegerType()))
    def bucket_signature(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy())
        bits = (m @ planes.T) > 0
        bits = bits.reshape(len(m), N_TABLES, n_bits)
        return pd.Series(list((bits * weights).sum(axis=2).astype("int32")))

    return bucket_signature


def d5_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    aug = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            guarded_twin_id(F.col("vec_id"), 1, "d5").alias("vec_id"),
            "embedding",
        )
    )
    vecs = aug.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).withColumn("norm", _norm(F.col("vec")))
    sig = _bucket_signature_udf()
    buckets = aug.select(
        "vec_id", F.posexplode(sig(F.col("embedding"))).alias("t", "b")
    ).repartition("t", "b")
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    side_a = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    side_b = vecs.select(
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    # vector re-attach is doc-granularity: AQE broadcasts the vec table
    # at test SFs and falls back to a shuffled hash join on id when the
    # corpus outgrows the broadcast threshold
    verified = pairs.join(side_a, "id_a").join(side_b, "id_b")
    cos = F.round(
        _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")), 4
    )
    return (
        verified.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.99)
        .select("id_a", "id_b", "cos_sim")
    )


D5_SQL = f"""
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + {AUG_TWIN_OFFSET}, CAST(embedding AS DOUBLE[]) FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(range(1, len(a.vec) + 1),
                                       i -> a.vec[i] * b.vec[i]))
               / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 4) AS cos_sim
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.99
"""


# SIM3 — IVF cell-probe ANN, the coarse-quantizer scale path with a
# FULL SQL oracle (s2's hyperplane bucketing is rows-only; this gives
# the inverted-file structure a hash row). Centroids are md5-derived
# deterministic vectors — not learned — so both engines construct the
# identical codebook; assignment is argmax cell cosine (rounded to 6
# decimals with cell-id tiebreak, so float noise can't flip the argmax
# across engines); queries probe their N_PROBE nearest cells and rank
# exact cosine within the probed inverted lists.
#
# Scale: the codebook is a literal broadcast (16×64 floats; a trained
# IVF codebook at 100 TB is still ≤ MBs), assignment is one narrow
# codegen pass over the corpus, and the probe join is an equi-join on
# cell id — candidates are ~N_PROBE/N_CELLS of the corpus, never a
# cross product. ml/clustering.py::ivf_assign provides the same
# structure over LEARNED KMeans centroids.
N_CELLS = 16
N_PROBE = 4  # 4/16 cells probed: recall ~0.55 on the structureless fixture (SCALE.md)


def _ivf_centroid(c: int, dim: int = 64) -> list[float]:
    import hashlib

    return [
        (int(hashlib.md5(f"ivf:{c}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for d in range(dim)
    ]


# Two-level coarse quantizer: a flat
# argmax fans every vector out to all k cells, and SemDeDup's own
# recipe scales k with the corpus (k ~ N/cell_size) — making flat
# assignment N*k, quadratic in N. Staging through sqrt(k) super-cells
# (assign to the best super, then argmax only its k/sqrt(k) children)
# makes assignment N*2*sqrt(k) — the standard hierarchical/IMI coarse
# quantizer. Each super-centroid is the MEAN of its children, computed
# through exact integer arithmetic (sum the integer md5 draws, one
# division) so Spark and the SQL oracle produce bit-identical doubles
# regardless of addition order.
N_SUPERS = 4
IVF_FAN = N_CELLS // N_SUPERS


def _ivf_super(s: int, dim: int = 64, fan: int = IVF_FAN) -> list[float]:
    import hashlib

    return [
        sum(
            int(hashlib.md5(f"ivf:{c}:{d}".encode()).hexdigest()[:8], 16) % 2001
            - 1000
            for c in range(s * fan, (s + 1) * fan)
        )
        / (1000.0 * fan)
        for d in range(dim)
    ]


def ivf_tables(
    spark: SparkSession, n_cells: int = N_CELLS, n_supers: int = N_SUPERS
) -> tuple[DataFrame, DataFrame]:
    """Broadcastable codebook tables: (children, supers), norms baked in.

    ``n_cells``/``n_supers`` parameterize the codebook size so callers
    (d8's corpus-scaled k, SCALE.md's scaled-lake runs) can grow k with
    N — the recipe the staged assignment exists for. Defaults keep the
    registry queries' hashes stable.
    """
    import math

    fan = n_cells // n_supers
    cent_rows = [
        (c, w, math.sqrt(sum(x * x for x in w)))
        for c, w in ((c, _ivf_centroid(c)) for c in range(n_cells))
    ]
    sup_rows = [
        (s, w, math.sqrt(sum(x * x for x in w)))
        for s, w in ((s, _ivf_super(s, fan=fan)) for s in range(n_supers))
    ]
    cents = spark.createDataFrame(cent_rows, "c int, w array<double>, wnorm double")
    sups = spark.createDataFrame(sup_rows, "s int, w array<double>, wnorm double")
    return cents, sups


def staged_assignment(
    vecs: DataFrame,
    cents: DataFrame,
    sups: DataFrame,
    n_supers: int = N_SUPERS,
    fan: int = IVF_FAN,
) -> DataFrame:
    """(vec_id, vec, norm) -> (vec_id, cell) via the two-level argmax.

    Per vector: n_supers super scores, then fan child scores of the
    winning super only — the explode never scales with total cell
    count. Both joins broadcast the (tiny) codebook side.

    A zero-exchange variant (codebook attached as ONE broadcast
    row of index-aligned struct arrays, both argmax levels as
    array_max over the same packed longs, fused into the scan) was
    built, oracle-verified and REJECTED by measurement — steady-state
    interleaved A/B s3 1.06 -> 1.71 s, d8 1.42 -> 1.60 s at sf0.1.
    Nested HOF evaluation (transform -> aggregate -> zip_with) plus the
    per-action broadcast rebuild cost more than the two map-side-
    combined (vec_id, packed) exchanges they removed. The groupBy form
    below stays: its exchanges move one narrow row per vector.
    """
    cos_s = F.round(
        _dot(F.col("vec"), F.col("w")) / (F.col("norm") * F.col("wnorm")), 6
    )
    sfan = vecs.select(
        "vec_id",
        "vec",
        "norm",
        F.explode(F.sequence(F.lit(0), F.lit(n_supers - 1))).alias("s"),
    )
    best_sup = _argmax_packed(
        sfan.join(F.broadcast(sups), "s").select(
            "vec_id", "s", cos_s.alias("cos")
        ),
        cand_col="s",
    )
    cfan = vecs.join(best_sup, "vec_id").select(
        "vec_id",
        "vec",
        "norm",
        F.explode(
            F.sequence(F.col("s") * fan, F.col("s") * fan + (fan - 1))
        ).alias("c"),
    )
    cos_c = F.round(
        _dot(F.col("vec"), F.col("w")) / (F.col("norm") * F.col("wnorm")), 6
    )
    return _argmax_packed(
        cfan.join(F.broadcast(cents), "c").select(
            "vec_id", "c", cos_c.alias("cos")
        ),
        cand_col="c",
    ).select("vec_id", F.col("c").alias("cell"))


# packed-argmax base: candidate ids live in the low 31 bits, the
# rounded-micro cosine in the high bits (|cos|<=1 -> |cos_int|<=1e6,
# so packed <= 2^51 — long-safe for ANY cell count below 2^31).
_ARGMAX_BASE = 1 << 31
# null-cosine sentinel: below the legitimate minimum (-1e6), so rows
# with a null score lose to every scored row but keep the candidate-
# ascending tiebreak among themselves — exactly row_number's
# nulls-last ordering.
_ARGMAX_NULL = -(1 << 21)


def _argmax_packed(scored: DataFrame, cand_col: str) -> DataFrame:
    """(vec_id, cand, cos rounded to 6 dp) -> one winning (vec_id, cand)
    per vector under (cos DESC, cand ASC) — as max() over ONE packed
    long instead of a row_number window (the d15/e11
    packed-winner discipline): HashAggregate with map-side partial
    combine, no per-partition sort, and the exchange moves one row per
    (vector, map-partition) instead of one per candidate. cos is
    already rounded to 6 decimals, so round(cos·1e6) is its exact
    integer image and distinct rounded values stay distinct."""
    cos_int = F.coalesce(
        F.round(F.col("cos") * 1e6, 0).cast("long"), F.lit(_ARGMAX_NULL)
    )
    packed = cos_int * _ARGMAX_BASE + (
        F.lit(_ARGMAX_BASE - 1) - F.col(cand_col)
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max(packed).alias("_pk"))
        .select(
            "vec_id",
            (
                F.lit(_ARGMAX_BASE - 1) - F.pmod(F.col("_pk"), F.lit(_ARGMAX_BASE))
            ).cast("int").alias(cand_col),
        )
    )


# SQL twin of the staged assignment — CTE block expecting a prior
# ``v(vec_id, vec, norm)`` CTE; defines cent/sup/best_sup/assigned.
# Parameterized in (n_cells, n_supers) so d8's corpus-scaled-k runs get
# a tracking oracle; the module constant keeps the default text stable.


def staged_assign_sql(n_cells: int = N_CELLS, n_supers: int = N_SUPERS) -> str:
    fan = n_cells // n_supers
    return f"""cent AS (
  SELECT c,
         list_transform(range(0, 64), d ->
           (CAST('0x' || md5('ivf:' || c || ':' || d)[1:8] AS BIGINT)
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(range(0, {n_cells})) AS c)
),
sup AS (
  SELECT s, list(wv ORDER BY d) AS w FROM (
    SELECT c // {fan} AS s, d,
           CAST(sum(CAST('0x' || md5('ivf:' || c || ':' || d)[1:8] AS BIGINT)
                    % 2001 - 1000) AS DOUBLE) / {1000 * fan} AS wv
    FROM (SELECT unnest(range(0, {n_cells})) AS c)
    CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
    GROUP BY 1, 2
  ) GROUP BY s
),
sup_scores AS (
  SELECT v.vec_id, sup.s,
         round(list_sum(list_transform(range(1, 65), i -> v.vec[i] * sup.w[i]))
               / (v.norm * sqrt(list_sum(list_transform(sup.w, x -> x * x)))), 6)
             AS cos_s
  FROM v CROSS JOIN sup
),
best_sup AS (
  SELECT vec_id, s FROM (
    SELECT vec_id, s, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_s DESC, s ASC) AS rk
    FROM sup_scores) WHERE rk = 1
),
child_scores AS (
  SELECT v.vec_id, cent.c,
         round(list_sum(list_transform(range(1, 65), i -> v.vec[i] * cent.w[i]))
               / (v.norm * sqrt(list_sum(list_transform(cent.w, x -> x * x)))), 6)
             AS cos_c
  FROM v JOIN best_sup USING (vec_id)
  JOIN cent ON cent.c // {fan} = best_sup.s
),
assigned AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_c DESC, c ASC) AS rk
    FROM child_scores) WHERE rk = 1
)"""


STAGED_ASSIGN_SQL = staged_assign_sql()


def s3_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).withColumn("norm", _norm(F.col("vec")))
    # codebook as a broadcast 16-row TABLE (norms precomputed) instead
    # of 16 inlined literal arrays per output column — the expression
    # tree stays one fold wide (fast to analyze/codegen), and the
    # cell-score pass is a broadcast join over a bounded build side,
    # the same shape as the SQL oracle's CROSS JOIN cent. A trained
    # 100 TB codebook is still <= MBs, so the broadcast always holds.
    cents, sups = ivf_tables(spark)
    # DATABASE-side assignment is the N-scaled term: staged through the
    # super-cells so the per-vector explode is 2*sqrt(k) wide, not k
    # (see staged_assignment). The codebook joins broadcast; only slim
    # (vec_id, c, cos) triples ride the ranking exchanges — the 64-d
    # vectors cross the wire ONCE, in the re-attach join below.
    assigned = staged_assignment(vecs, cents, sups).join(vecs, "vec_id")
    # QUERY-side probing stays a flat rank over all k cells: the query
    # set is O(1) (bounded working set), so its fan-out never scales
    # with N — and flat probing keeps multi-probe recall exact.
    cos_c = F.round(
        _dot(F.col("vec"), F.col("w")) / (F.col("norm") * F.col("wnorm")), 6
    )
    qfan = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id",
        "vec",
        "norm",
        F.explode(F.sequence(F.lit(0), F.lit(N_CELLS - 1))).alias("c"),
    )
    cell_w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("c").asc()
    )
    probes = (
        qfan.join(F.broadcast(cents), "c")
        .select("vec_id", "c", cos_c.alias("cos_c"))
        .withColumn("rk", F.row_number().over(cell_w))
        .filter(F.col("rk") <= N_PROBE)
        .select("vec_id", F.col("c").alias("cell"))
        .join(vecs, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("norm").alias("q_norm"),
            "cell",
        )
    )
    cands = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("q_id") != F.col("vec_id")
    )
    sim = F.round(
        _dot(F.col("q_vec"), F.col("vec")) / (F.col("q_norm") * F.col("norm")), 4
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("c_id").asc()
    )
    return (
        cands.select(
            "q_id", F.col("vec_id").alias("c_id"), sim.alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cos_sim")
    )


S3_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS norm
  FROM embeddings
),
{STAGED_ASSIGN_SQL},
q_scores AS (
  SELECT v.vec_id, cent.c,
         round(list_sum(list_transform(range(1, 65), i -> v.vec[i] * cent.w[i]))
               / (v.norm * sqrt(list_sum(list_transform(cent.w, x -> x * x)))), 6)
             AS cos_c
  FROM v CROSS JOIN cent
  WHERE v.vec_id < {N_QUERIES}
),
probes AS (
  SELECT vec_id AS q_id, c AS cell FROM (
    SELECT vec_id, c, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_c DESC, c ASC) AS rk
    FROM q_scores) WHERE rk <= {N_PROBE}
),
cands AS (
  SELECT p.q_id, a.vec_id AS c_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
sims AS (
  SELECT c.q_id, c.c_id,
         round(list_sum(list_transform(range(1, 65), i -> q.vec[i] * x.vec[i]))
               / (q.norm * x.norm), 4) AS cos_sim
  FROM cands c
  JOIN v q ON q.vec_id = c.q_id
  JOIN v x ON x.vec_id = c.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_sim, row_number() OVER (
           PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM sims
)
SELECT q_id, rank, c_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# S4 — product-quantization ADC ranking (FAISS IndexPQ shape).
#
# PQ compresses each 64-d float vector (256 bytes) to M=8 sub-space
# codes of 4 bits each (K=16 centroids per sub-space) — the codes table
# is ~M bytes/vector, a 30x memory/shuffle reduction, which is PQ's
# entire point at 100 TB: the ranking scan touches codes, never raw
# vectors. Querying is Asymmetric Distance Computation: per query,
# a lookup table lut[m][j] = ||q_sub_m - c_mj||^2 (M*K = 128 tiny
# rows, broadcast), and each candidate's approximate distance is the
# sum of M table lookups — here a broadcast equi-join of the slim
# codes table against the lut on (m, code) plus one groupBy. The
# partial sums go through exact DECIMAL (compat.dsum pattern) so the
# M-term sum is partition-order independent and hash-matches the
# oracle. Composing with s3's IVF cells (restrict the codes scan to
# probed cells) gives the standard IVFPQ sublinear path; the exhaustive
# ADC scan is kept here as the deterministic, recall-complete form.
# The codebook is the same md5-derived deterministic stand-in for a
# trained codebook that s3 uses, reproduced verbatim in the oracle.
# ---------------------------------------------------------------------------

PQ_M = 8  # sub-spaces
PQ_SUB = 8  # dims per sub-space (8 x 8 = 64)
PQ_K = 16  # centroids per sub-space (4-bit codes)


def _pq_centroid(m: int, j: int) -> list[float]:
    import hashlib

    return [
        (int(hashlib.md5(f"pq:{m}:{j}:{d}".encode()).hexdigest()[:8], 16) % 2001
         - 1000)
        / 1000.0
        for d in range(PQ_SUB)
    ]


def s4_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    # fan each vector out to its M sub-vectors; the 8-double slices are
    # the only vector data that rides any exchange
    # select vec ALONGSIDE the explode: pure map-side fan-out, no
    # self-join / exchange to re-attach the vector
    subs = vecs.select(
        "vec_id",
        "vec",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(vec, m * {PQ_SUB} + 1, {PQ_SUB})").alias("sub"),
    )
    cb_rows = [(m, j, _pq_centroid(m, j)) for m in range(PQ_M) for j in range(PQ_K)]
    cb = spark.createDataFrame(cb_rows, "m int, j int, w array<double>")
    d2 = F.round(
        F.aggregate(
            F.zip_with("sub", "w", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scores = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "j", d2.alias("d2")
    )
    # encode: argmin centroid per (vector, sub-space), deterministic
    # j-tiebreak — a per-key window over K=16 rows, never a global sort
    enc_w = Window.partitionBy("vec_id", "m").orderBy("d2", "j")
    codes = (
        scores.withColumn("rk", F.row_number().over(enc_w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    # ADC: per-query lut is the same scores frame restricted to query
    # ids — M*K rows per query, broadcast; distances are M DECIMAL-
    # summed lookups per candidate
    lut = scores.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", F.col("j").alias("code"), "d2"
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum(F.col("d2").cast("decimal(27,6)")).cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "adc_dist")
    )


S4_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
subs AS (
  SELECT vec_id, m, vec[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM v CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
),
cb AS (
  SELECT m, j,
         list_transform(range(0, {PQ_SUB}), d ->
           (CAST('0x' || md5('pq:' || m || ':' || j || ':' || d)[1:8] AS BIGINT)
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(range(0, {PQ_M})) AS m)
  CROSS JOIN (SELECT unnest(range(0, {PQ_K})) AS j)
),
scores AS (
  SELECT s.vec_id, s.m, c.j,
         round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
               i -> (s.sub[i] - c.w[i]) * (s.sub[i] - c.w[i]))), 6) AS d2
  FROM subs s JOIN cb c USING (m)
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk
    FROM scores
  ) WHERE rk = 1
),
lut AS (
  SELECT vec_id AS q_id, m, j AS code, d2 FROM scores
  WHERE vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.q_id, c.vec_id AS c_id,
         CAST(SUM(CAST(l.d2 AS DECIMAL(27,6))) AS DOUBLE) AS adc_dist
  FROM codes c JOIN lut l USING (m, code)
  WHERE l.q_id <> c.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
)
SELECT q_id, rank, c_id, adc_dist FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# S5 — per-dimension quantile normalization of embedding features (the
# classic ML-preprocessing transform: replace each raw feature value by
# its empirical CDF position, making every dimension uniformly
# distributed and scale-free before indexing / training).
#
# Shape: posexplode the vectors to long form (vec_id, dim, v), one
# percent_rank window PER DIMENSION — a dim-keyed hash exchange into 64
# independent small sorts, never a global sort. At 100 TB the exact
# per-dim sort becomes the a17 bottom-k sketch (rank against sampled
# quantile boundaries); the exact form here is the correctness anchor.
# percent_rank is tie-stable (equal values share a rank), so the result
# is deterministic under any partitioning — no hash drift.
# ---------------------------------------------------------------------------


def s5_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "v")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    w = Window.partitionBy("dim").orderBy("v")
    return long.select(
        "vec_id", "dim", F.round(F.percent_rank().over(w), 9).alias("q")
    )


S5_SQL = """
WITH long AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT vec_id, dim,
       round(percent_rank() OVER (PARTITION BY dim ORDER BY v), 9) AS q
FROM long
"""


# ---------------------------------------------------------------------------
# S6 — scalar (int8) quantization of embedding vectors: the storage
# format that makes a 100 TB embedding corpus tractable (4x smaller
# than float32, 8x than float64; ANN scan kernels read int8 directly).
# Per vector: symmetric scale = max|v| / 127, code_i = round(v_i/scale)
# clamped to [-127, 127], and the quality report every quantization
# pipeline ships — reconstruction MSE and max absolute error. Long-form
# shapes: one vec-keyed max-aggregation for scales, one co-partitioned
# join back, one vec-keyed DECIMAL-summed error aggregation (squared
# errors rounded to 1e-12 grain first, so the sum is order-independent
# and the oracle hash exact).
# ---------------------------------------------------------------------------


def s6_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Remove shuffles outright: exploding the 64-d vectors to an
    # element table, groupBy-ing it for the per-vector scale, JOINING
    # the scale back and grouping again costs two exchanges plus a
    # join for math that is row-local. The whole
    # quantization is per-vector array arithmetic: one scan, one
    # projection, ZERO exchange. Every per-element expression (round,
    # clamp, decimal square) is identical to the exploded form, the
    # decimal sum is exact (order-free), so results are bit-identical
    # (oracle value-exact).
    staged = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
        .withColumn(
            "scale",
            F.array_max(F.transform(F.col("vec"), lambda x: F.abs(x))) / 127.0,
        )
    )
    scale = F.col("scale")

    def _abs_err(x):
        code = F.least(
            F.lit(127), F.greatest(F.lit(-127), F.round(x / scale, 0))
        ).cast("int")
        return F.abs(x - code * scale)

    # the |err| array is staged ONCE and both aggregates read the
    # materialized column — two sibling lambdas re-deriving the same
    # per-element expression in one projection measurably MISCOMPUTED
    # the max's last ulp under codegen (caught by the oracle; isolated,
    # either lambda alone is correct), and the staged array is also the
    # cheaper shape. |err|² == err², so the decimal square is unchanged.
    staged = staged.withColumn(
        "_aerr", F.transform(F.col("vec"), _abs_err)
    )
    # decimal-division typing must MATCH the old exploded form exactly:
    # sum over decimal(27,12) returned decimal(37,12) and divided by a
    # LONG count — a narrower dividend changes the division's result
    # scale and flips the last rounded digit (caught by the oracle).
    sum_sq = F.aggregate(
        F.col("_aerr"),
        F.lit(0).cast("decimal(27,12)"),
        lambda acc, e: (
            acc + F.round(e * e, 12).cast("decimal(27,12)")
        ).cast("decimal(27,12)"),
    )
    return staged.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        F.round(
            (
                sum_sq.cast("decimal(37,12)")
                / F.size("vec").cast("long")
            ).cast("double"),
            10,
        ).alias("mse"),
        F.round(F.array_max("_aerr"), 9).alias("max_abs_err"),
    )


S6_SQL = """
WITH long AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
scales AS (
  SELECT vec_id, max(abs(v)) / 127.0 AS scale, count(*) AS dim
  FROM long GROUP BY 1
),
coded AS (
  SELECT l.vec_id, s.dim, s.scale, l.v,
         CAST(least(127, greatest(-127, round(l.v / s.scale, 0))) AS INT) AS code
  FROM long l JOIN scales s USING (vec_id)
),
per_el AS (
  SELECT vec_id, dim, scale,
         CAST(round((v - code * scale) * (v - code * scale), 12)
              AS DECIMAL(27,12)) AS sq,
         abs(v - code * scale) AS abs_err
  FROM coded
)
SELECT vec_id,
       round(max(scale), 9) AS scale,
       round(CAST(sum(sq) / max(dim) AS DOUBLE), 10) AS mse,
       round(max(abs_err), 9) AS max_abs_err
FROM per_el GROUP BY 1
"""


# ---------------------------------------------------------------------------
# S7 — IVF probe over a TRAINED codebook, trained IN THE PLAN: two
# unrolled Lloyd (k-means) iterations from the deterministic md5 seeds
# — the g1-PageRank pattern applied to quantizer training, so the
# learned-codebook path (ml/clustering.ivf_assign is the MLlib form)
# gets an exact SQL oracle too. Float discipline per round:
#   * assignment scores round(|c|^2 - 2 v.c, 6) with cell-id tiebreak
#     (|v|^2 is constant per vector and cancels from the argmin);
#   * centroid updates are exact-DECIMAL coordinate sums
#     (DECIMAL(27,12), d13's discipline) divided by exact counts, so
#     both engines derive bit-identical round-2 codebooks;
#   * empty cells keep their previous centroid (LEFT JOIN + coalesce).
# Search is then s3's shape over the trained cells: flat probe for the
# O(1) query set, nprobe=4, top-k window.
#
# Scale: each round is one broadcast fan-out (N*k scores) + one
# (cell, dim) aggregation; rounds are unrolled lineage, no iteration
# state. Real deployments run Lloyd on a SAMPLE — the round count and
# sample fraction are the knobs, the plan shape is this one.
# ---------------------------------------------------------------------------

S7_ROUNDS = 2


def _assign_to(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, vec) x (c, w) -> (vec_id, c) by argmin squared distance."""
    wsq = _dot(F.col("w"), F.col("w"))
    score = F.round(wsq - 2 * _dot(F.col("vec"), F.col("w")), 6)
    fanned = vecs.select(
        "vec_id", "vec", F.explode(F.sequence(F.lit(0), F.lit(N_CELLS - 1))).alias("c")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").asc(), F.col("c").asc())
    return (
        fanned.join(F.broadcast(cents), "c")
        .select("vec_id", "c", score.alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "c")
    )


def s7_trained_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    v_long = vecs.select("vec_id", F.posexplode("vec").alias("d", "x"))
    all_c = spark.createDataFrame([(c,) for c in range(N_CELLS)], "c int")
    cents = spark.createDataFrame(
        [(c, _ivf_centroid(c)) for c in range(N_CELLS)], "c int, w array<double>"
    )
    for _ in range(S7_ROUNDS):
        asg = _assign_to(vecs, cents)
        sums = (
            v_long.join(asg, "vec_id")
            .groupBy("c", "d")
            .agg(
                F.sum(F.round(F.col("x"), 12).cast("decimal(27,12)"))
                .cast("double")
                .alias("s"),
                F.count("*").alias("n"),
            )
        )
        new_w = sums.groupBy("c").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", (F.col("s") / F.col("n")).alias("m")))),
                lambda t: t["m"],
            ).alias("w_new")
        )
        cents = (
            all_c.join(F.broadcast(cents), "c")
            .join(F.broadcast(new_w), "c", "left")
            .select("c", F.coalesce("w_new", "w").alias("w"))
        )
    # the trained codebook is a 16-row stage artifact (in production
    # it's trained once and stored); persisting it keeps steady-state
    # executions from re-running the Lloyd rounds
    cents = cents.persist(StorageLevel.MEMORY_AND_DISK)
    assigned = _assign_to(vecs, cents).join(vecs, "vec_id")
    # query-side probe: nearest nprobe trained cells by the same score
    wsq = _dot(F.col("w"), F.col("w"))
    score = F.round(wsq - 2 * _dot(F.col("vec"), F.col("w")), 6)
    qfan = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "vec", F.explode(F.sequence(F.lit(0), F.lit(N_CELLS - 1))).alias("c")
    )
    cw = Window.partitionBy("vec_id").orderBy(F.col("score").asc(), F.col("c").asc())
    probes = (
        qfan.join(F.broadcast(cents), "c")
        .select("vec_id", "c", score.alias("score"))
        .withColumn("rk", F.row_number().over(cw))
        .filter(F.col("rk") <= N_PROBE)
        .select("vec_id", F.col("c").alias("cell"))
        .join(vecs, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            _norm(F.col("vec")).alias("q_norm"),
            "cell",
        )
    )
    cands = assigned.select(
        "vec_id", "vec", _norm(F.col("vec")).alias("norm"), F.col("c").alias("cell")
    ).join(F.broadcast(probes), "cell").filter(F.col("q_id") != F.col("vec_id"))
    sim = F.round(
        _dot(F.col("q_vec"), F.col("vec")) / (F.col("q_norm") * F.col("norm")), 4
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        cands.select("q_id", F.col("vec_id").alias("c_id"), sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cos_sim")
    )


def _s7_round_sql(prev: str, rnd: int) -> str:
    """One Lloyd round as CTE text: assignment against cent{rnd-1},
    DECIMAL coordinate means, empty cells keep the previous centroid."""
    return f"""score{rnd} AS (
  SELECT v.vec_id, cent.c,
         round(list_sum(list_transform(cent.w, x -> x * x))
               - 2 * list_sum(list_transform(range(1, 65),
                                             i -> v.vec[i] * cent.w[i])), 6)
             AS score
  FROM v CROSS JOIN {prev} cent
),
asg{rnd} AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c, row_number() OVER (
             PARTITION BY vec_id ORDER BY score ASC, c ASC) AS rk
    FROM score{rnd}) WHERE rk = 1
),
sums{rnd} AS (
  SELECT a.c, vl.d,
         CAST(sum(CAST(round(vl.x, 12) AS DECIMAL(27,12))) AS DOUBLE) AS s,
         count(*) AS n
  FROM v_long vl JOIN asg{rnd} a USING (vec_id)
  GROUP BY 1, 2
),
neww{rnd} AS (
  SELECT c, list(s / n ORDER BY d) AS w_new FROM sums{rnd} GROUP BY c
),
cent{rnd} AS (
  SELECT p.c, coalesce(nw.w_new, p.w) AS w
  FROM {prev} p LEFT JOIN neww{rnd} nw USING (c)
)"""


def _s7_sql() -> str:
    rounds = ",\n".join(
        _s7_round_sql("cent0" if r == 1 else f"cent{r-1}", r)
        for r in range(1, S7_ROUNDS + 1)
    )
    last = f"cent{S7_ROUNDS}"
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS norm
  FROM embeddings
),
v_long AS (
  SELECT vec_id, d, vec[d + 1] AS x
  FROM v CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
),
cent0 AS (
  SELECT c,
         list_transform(range(0, 64), d ->
           (CAST('0x' || md5('ivf:' || c || ':' || d)[1:8] AS BIGINT)
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(range(0, {N_CELLS})) AS c)
),
{rounds},
fscore AS (
  SELECT v.vec_id, cent.c,
         round(list_sum(list_transform(cent.w, x -> x * x))
               - 2 * list_sum(list_transform(range(1, 65),
                                             i -> v.vec[i] * cent.w[i])), 6)
             AS score
  FROM v CROSS JOIN {last} cent
),
assigned AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c, row_number() OVER (
             PARTITION BY vec_id ORDER BY score ASC, c ASC) AS rk
    FROM fscore) WHERE rk = 1
),
probes AS (
  SELECT vec_id AS q_id, c AS cell FROM (
    SELECT vec_id, c, row_number() OVER (
             PARTITION BY vec_id ORDER BY score ASC, c ASC) AS rk
    FROM fscore WHERE vec_id < {N_QUERIES}) WHERE rk <= {N_PROBE}
),
cands AS (
  SELECT p.q_id, a.vec_id AS c_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
sims AS (
  SELECT c.q_id, c.c_id,
         round(list_sum(list_transform(range(1, 65), i -> q.vec[i] * x.vec[i]))
               / (q.norm * x.norm), 4) AS cos_sim
  FROM cands c
  JOIN v q ON q.vec_id = c.q_id
  JOIN v x ON x.vec_id = c.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_sim, row_number() OVER (
           PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM sims
)
SELECT q_id, rank, c_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


S7_SQL = _s7_sql()


# ---------------------------------------------------------------------------
# S8 — PQ/ADC over IN-PLAN TRAINED sub-codebooks: s7's unrolled-Lloyd
# pattern applied per sub-space. Two k-means rounds train each of the
# M=8 sub-space codebooks (K=16 centroids over 8-d slices) from the
# md5 seeds — argmin encoding, exact-DECIMAL coordinate means,
# empty codes carry forward — then the PRODUCTION two-stage search:
# ADC shortlists S8_SHORTLIST candidates from codes alone (the cheap
# pass that never touches raw vectors), and an exact-cosine re-rank
# over the shortlist produces the final top-k (FAISS's IndexPQ +
# refine). SCALE.md documents why the re-rank stage is load-bearing:
# 4-bit quantization error on structureless vectors swamps the tiny
# cosine gaps between near-orthogonal neighbors, so ADC alone ranks
# poorly no matter how well-trained — its job is candidate recall,
# the exact pass's job is order.
# ---------------------------------------------------------------------------

S8_ROUNDS = 2
# re-rank list: ~20x top_k (FAISS refine practice). 50 left true
# neighbors below the ADC cut on clustered corpora whose cluster size
# (64 in tools/make_clustered_fixture.py) exceeded the shortlist — ADC
# can't order WITHIN a tight cluster, so the list must cover it.
S8_SHORTLIST = 100


def s8_trained_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    # select vec ALONGSIDE the explode: pure map-side fan-out, no
    # self-join / exchange to re-attach the vector
    # Persisting subs / sub_long was A/B-tested
    # and REJECTED (plain 1.21 s, both persisted 1.52 s, subs-only
    # 1.42 s isolated median-of-3) — the 11 re-derivations of the
    # subvector explode are codegen-cheap at any per-row cost, while
    # the columnar cache round-trip of array<double> columns is not.
    subs = vecs.select(
        "vec_id",
        "vec",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(vec, m * {PQ_SUB} + 1, {PQ_SUB})").alias("sub"),
    )
    sub_long = subs.select("vec_id", "m", F.posexplode("sub").alias("d", "x"))
    all_mj = spark.createDataFrame(
        [(m, j) for m in range(PQ_M) for j in range(PQ_K)], "m int, j int"
    )
    cb = spark.createDataFrame(
        [(m, j, _pq_centroid(m, j)) for m in range(PQ_M) for j in range(PQ_K)],
        "m int, j int, w array<double>",
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with("sub", "w", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    enc_w = Window.partitionBy("vec_id", "m").orderBy("d2", "j")
    for _ in range(S8_ROUNDS):
        codes = (
            subs.join(F.broadcast(cb), "m")
            .select("vec_id", "m", "j", d2.alias("d2"))
            .withColumn("rk", F.row_number().over(enc_w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "m", F.col("j").alias("code"))
        )
        sums = (
            sub_long.join(codes, ["vec_id", "m"])
            .groupBy("m", F.col("code").alias("j"), "d")
            .agg(
                F.sum(F.round(F.col("x"), 12).cast("decimal(27,12)"))
                .cast("double")
                .alias("s"),
                F.count("*").alias("n"),
            )
        )
        new_w = sums.groupBy("m", "j").agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("d", (F.col("s") / F.col("n")).alias("v")))
                ),
                lambda t: t["v"],
            ).alias("w_new")
        )
        cb = (
            all_mj.join(F.broadcast(cb), ["m", "j"])
            .join(F.broadcast(new_w), ["m", "j"], "left")
            .select("m", "j", F.coalesce("w_new", "w").alias("w"))
        )
    # 128-row trained codebook: persisted stage artifact, same reason
    # as s7's cents
    cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
    scores = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "j", d2.alias("d2")
    )
    codes = (
        scores.withColumn("rk", F.row_number().over(enc_w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    lut = scores.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", F.col("j").alias("code"), "d2"
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum(F.col("d2").cast("decimal(27,6)")).cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    shortlist = (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= S8_SHORTLIST)
        .select("q_id", "c_id")
    )
    nv = vecs.withColumn("norm", _norm(F.col("vec")))
    qv = nv.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    cv = nv.select(
        F.col("vec_id").alias("c_id"), "vec", "norm"
    )
    sim = F.round(
        _dot(F.col("q_vec"), F.col("vec")) / (F.col("q_norm") * F.col("norm")), 4
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("c_id").asc()
    )
    return (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select("q_id", "c_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cos_sim")
    )


def _s8_round_sql(prev: str, rnd: int) -> str:
    return f"""pscore{rnd} AS (
  SELECT s.vec_id, s.m, c.j,
         round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
               i -> (s.sub[i] - c.w[i]) * (s.sub[i] - c.w[i]))), 6) AS d2
  FROM subs s JOIN {prev} c USING (m)
),
pcode{rnd} AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY d2, j) AS rk
    FROM pscore{rnd}) WHERE rk = 1
),
psum{rnd} AS (
  SELECT sl.m, pc.code AS j, sl.d,
         CAST(sum(CAST(round(sl.x, 12) AS DECIMAL(27,12))) AS DOUBLE) AS s,
         count(*) AS n
  FROM sub_long sl JOIN pcode{rnd} pc USING (vec_id, m)
  GROUP BY 1, 2, 3
),
pneww{rnd} AS (
  SELECT m, j, list(s / n ORDER BY d) AS w_new FROM psum{rnd} GROUP BY 1, 2
),
pcb{rnd} AS (
  SELECT p.m, p.j, coalesce(nw.w_new, p.w) AS w
  FROM {prev} p LEFT JOIN pneww{rnd} nw USING (m, j)
)"""


def _s8_sql() -> str:
    rounds = ",\n".join(
        _s8_round_sql("pcb0" if r == 1 else f"pcb{r-1}", r)
        for r in range(1, S8_ROUNDS + 1)
    )
    last = f"pcb{S8_ROUNDS}"
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
subs AS (
  SELECT vec_id, m, vec[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM v CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
),
sub_long AS (
  SELECT vec_id, m, d, sub[d + 1] AS x
  FROM subs CROSS JOIN (SELECT unnest(range(0, {PQ_SUB})) AS d)
),
pcb0 AS (
  SELECT m, j,
         list_transform(range(0, {PQ_SUB}), d ->
           (CAST('0x' || md5('pq:' || m || ':' || j || ':' || d)[1:8] AS BIGINT)
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(range(0, {PQ_M})) AS m)
  CROSS JOIN (SELECT unnest(range(0, {PQ_K})) AS j)
),
{rounds},
fscore AS (
  SELECT s.vec_id, s.m, c.j,
         round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
               i -> (s.sub[i] - c.w[i]) * (s.sub[i] - c.w[i]))), 6) AS d2
  FROM subs s JOIN {last} c USING (m)
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY d2, j) AS rk
    FROM fscore) WHERE rk = 1
),
lut AS (
  SELECT vec_id AS q_id, m, j AS code, d2 FROM fscore
  WHERE vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.q_id, c.vec_id AS c_id,
         CAST(SUM(CAST(l.d2 AS DECIMAL(27,6))) AS DOUBLE) AS adc_dist
  FROM codes c JOIN lut l USING (m, code)
  WHERE l.q_id <> c.vec_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rk
    FROM adc) WHERE rk <= {S8_SHORTLIST}
),
nv AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS norm
  FROM v
),
sims AS (
  SELECT s.q_id, s.c_id,
         round(list_sum(list_transform(range(1, 65), i -> q.vec[i] * x.vec[i]))
               / (q.norm * x.norm), 4) AS cos_sim
  FROM shortlist s
  JOIN nv q ON q.vec_id = s.q_id
  JOIN nv x ON x.vec_id = s.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM sims
)
SELECT q_id, rank, c_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


S8_SQL = _s8_sql()


QUERIES = {
    "s1_cosine_topk": s1_cosine_topk,
    "s2_lsh_ann": s2_lsh_ann,
    "s3_ivf_probe": s3_ivf_probe,
    "s7_trained_ivf": s7_trained_ivf,
    "s4_pq_adc": s4_pq_adc,
    "s8_trained_pq": s8_trained_pq,
    "s5_quantile_norm": s5_quantile_norm,
    "s6_int8_quantize": s6_int8_quantize,
    "d5_embedding_cosine_dedup": d5_embedding_cosine_dedup,
}

ORACLES = {
    "s1_cosine_topk": S1_SQL,
    "s2_lsh_ann": S2_SQL,
    "s3_ivf_probe": S3_SQL,
    "s7_trained_ivf": S7_SQL,
    "s4_pq_adc": S4_SQL,
    "s8_trained_pq": S8_SQL,
    "s5_quantile_norm": S5_SQL,
    "s6_int8_quantize": S6_SQL,
    "d5_embedding_cosine_dedup": D5_SQL,
}
