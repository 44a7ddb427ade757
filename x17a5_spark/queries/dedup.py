"""Deduplication operators over ``documents`` — the training-data
pipeline's core: exact (hash groupBy), n-gram Jaccard, MinHash+LSH
banding, and SimHash.

To make near-dup detection *provable* against the oracle, d2/d3 augment
the corpus with deterministically perturbed copies (truncate the last
~10% of tokens, doc_id + 100000) in both engines — the pipeline must
then recover exactly the planted (original, copy) pairs plus any organic
ones.

Scale design: the n-gram pair join (d2) is quadratic in hot shingles and
exists as the small-scale baseline; MinHash banding (d3) is the 100 TB
path — candidate generation is a self-join on (band_idx, band_hash)
buckets, linear in corpus size for bounded bucket skew, and every hash
is md5-derived so results are engine-independent and reshuffle-stable.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.text import normalized_fingerprint, tokens, word_shingles
from x17a5_spark.tables import load_table
from x17a5_spark.functions.unicode_fold import norm_fp_sql

# the ONE oracle spelling of text.normalized_fingerprint (Unicode-
# folded; identity on the ASCII gate lakes)
_NFP = norm_fp_sql("text")

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band

# Word-shingle width of d2's exact baseline and the d3/e7 MinHash
# chain (both engines). Widening it is the precision lever for
# degenerate vocabularies (SCALE.md: the ~30-word synthetic vocab gives
# random doc pairs a high baseline 3-gram Jaccard, so banding admits
# ~22 candidates per true pair at the 20x lake; the random-collision
# base rate falls as ~vocab^-k while near-copies keep most shingles).
SHINGLE_K = 3
# all-empty-signature sentinel for the densified numeric minhash:
# outside the packed range (mh·16 + d < 2^60, see d3's densification)
D3_SENTINEL = 1 << 62
# md5 hex chars parsed into the numeric minhash value (chars 2..15 of
# the digest) — BOTH engines derive their substring from this constant,
# and _d3_pack_guard() below fails the module import if a widened value
# would let packed minhashes (mh·16 + borrow distance) reach the
# sentinel (the d15/e11 fails-LOUD discipline applied to the packing
# bound, so it is checked rather than only documented).
D3_HEX_CHARS = 14


def _d3_pack_guard(
    hex_chars: int = D3_HEX_CHARS,
    n_minhash: int | None = None,
    sentinel: int = D3_SENTINEL,
) -> None:
    """Build-time tripwire for the d3 numeric packing invariant:
    mh < 2^(4·hex_chars), borrow distance < n_minhash, so
    packed = mh·16 + d < 2^(4·hex_chars + 4) must stay BELOW the
    all-empty sentinel, and the distance must fit the low nibble.
    Raises at import (both the Spark expressions and the oracle SQL are
    built from these constants), so widening the substring can never
    silently collide packed values with the sentinel on either engine."""
    n = N_MINHASH if n_minhash is None else n_minhash
    packed_bound = (1 << (4 * hex_chars)) * 16  # mh·16 + d < mh_bound·16
    if packed_bound > sentinel:
        raise ValueError(
            f"d3 packing overflow: {hex_chars} hex chars give packed "
            f"minhash values up to 2^{4 * hex_chars + 4}, which reaches "
            f"the all-empty sentinel 2^62 — shrink D3_HEX_CHARS (<= 14) "
            "or widen D3_SENTINEL on BOTH engines"
        )
    if n > 16:
        raise ValueError(
            f"d3 densification overflow: borrow distance must fit the "
            f"packed value's low nibble (distance < 16), got N_MINHASH={n}"
        )


_d3_pack_guard()


# The augmentation convention: perturbed twin ids are original id +
# AUG_TWIN_OFFSET, which assumes max(doc_id) < AUG_TWIN_OFFSET for
# every shipped lake (20× tops out at 99,999; t30 carries a
# raise_error tripwire on the assumption). ONE constant, interpolated
# into both engines — never a repeated literal.
#
# The 100× lake (500,000 docs) exceeds the 100,000 default — t30's
# tripwire fires exactly as designed — so the constant is
# env-parameterized (X17A5_AUG_OFFSET): the default keeps
# the registry byte-identical (same plans, same driver rows), and the
# 100×-scale protocol sets X17A5_AUG_OFFSET=2000000 (copies land at
# 2M-10M — far inside d15's doc_id < 2^43 packing bound, which fails
# LOUD if ever exceeded). Every derived offset (e5's copies at 2×/3×,
# d15's boilerplate copies at 3×) scales with it, and the SQL oracles
# interpolate the same constant, so the hash gate holds at any offset.
AUG_TWIN_OFFSET = int(os.environ.get("X17A5_AUG_OFFSET", "100000"))


def guarded_twin_id(id_col, mult: int, qname: str):
    """``id + mult * AUG_TWIN_OFFSET``, failing LOUD when the original
    id already reaches the offset. Enforcing the max(id) <
    AUG_TWIN_OFFSET fixture bound only inside t30 would let any OTHER
    offset-dependent query run alone against a larger lake
    (e.g. ``SPARK_GRAFT_BENCH_ONLY=d15`` at 100× without
    ``X17A5_AUG_OFFSET``) silently plant COLLIDING ids. The guard
    lives on the copies branch, so the original branch keeps its scan
    pushdown, while any evaluation of a planted row (even under a
    pushed-through filter, which Catalyst rewrites to contain this
    CASE) raises before a colliding id can leave the stage. No-op on
    valid data — the DuckDB oracle twins stay hash-exact."""
    return F.when(id_col < AUG_TWIN_OFFSET, id_col + mult * AUG_TWIN_OFFSET).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{qname}: original id reaches the twin-id offset "
                    f"X17A5_AUG_OFFSET={AUG_TWIN_OFFSET} (copies at "
                    f"{mult}x would collide); raise X17A5_AUG_OFFSET "
                    "for this lake: "
                ),
                id_col.cast("string"),
            )
        )
    )


def _augmented_docs(
    spark: SparkSession, sf_dir: str, *, fanout: bool = False
) -> DataFrame:
    """documents ∪ perturbed near-duplicate copies (deterministic).

    ``fanout=True`` opts the underlying documents scan into the
    row-group fan-out repartition (tables._scan_fanout) — only for
    consumers whose next step is map-heavy shingle/tokenize work
    (A/B-measured per caller, same discipline as load_table)."""
    docs = load_table(spark, sf_dir, "documents", fanout=fanout).select(
        "doc_id", "text"
    )
    toks = tokens(F.col("text"))
    # floor() before the int cast: Spark's double->int cast truncates but
    # DuckDB's rounds, so the truncation must be explicit on both sides.
    keep = F.greatest(F.floor(F.size(toks) * 9 / 10).cast("int"), F.lit(1))
    copies = docs.select(
        guarded_twin_id(F.col("doc_id"), 1, "augmented_docs").alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, keep)).alias("text"),
    )
    return docs.unionByName(copies)


_AUG_SQL = f"""
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {AUG_TWIN_OFFSET},
         array_to_string(toks[1 : greatest(CAST(floor(len(toks) * 9 / 10) AS INT), 1)], ' ')
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM documents)
)
"""


def gram_body_sql(src: str, k: int, alias: str = "shingle") -> str:
    """The cross-engine k-gram SELECT body over CTE ``src`` (doc_id,
    text) — ONE spelling of the token-split/list_distinct/
    list_transform construction shared by the d2/d3 shingle CTEs and
    t30's decontamination grams (code-review r9: two hand-maintained
    copies of an oracle-parity-critical builder can drift apart)."""
    terms = " || ' ' || ".join(
        "toks[i]" if j == 0 else f"toks[i+{j}]" for j in range(k)
    )
    return f"""  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                          i -> {terms})))
         AS {alias}
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM {src})"""


_SHINGLES_SQL = f"""
shingles AS (
{gram_body_sql("aug", SHINGLE_K)}
)
"""


def _shingle_table(aug: DataFrame) -> DataFrame:
    return aug.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), SHINGLE_K))
        ).alias("shingle"),
    )


# D1 — exact dedup via normalized-content hash (the 100 TB workhorse:
# one shuffle on the fingerprint, map-side combine does the rest).
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


D1_SQL = f"""
SELECT {_NFP} AS fingerprint,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# D2 — n-gram Jaccard near-dup pairs (small-scale baseline; quadratic in
# shared-shingle pairs).
def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUARANTINED — BENCH-SCALE ONLY. Exact all-pairs Jaccard with NO
    hot-shingle bound: the shingle self-join emits df^2/2 rows per
    shingle, so one stop-phrase present in M docs costs M^2/2 join
    rows. This is the correctness baseline that d3 (MinHash+LSH) and
    d13 (prefix-blocked cosine) are validated against; at corpus scale
    call THOSE. A runtime warning fires on every call so nobody runs
    into the quadratic unaware.
    """
    import warnings

    warnings.warn(
        "d2_ngram_jaccard is the exact all-pairs baseline (quadratic on hot "
        "shingles) — use d3_minhash_lsh or d13_sparse_cosine_join at scale",
        stacklevel=2,
    )
    aug = _augmented_docs(spark, sf_dir)
    sh = _shingle_table(aug)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


D2_SQL = f"""
WITH {_AUG_SQL.strip()},
{_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.5
"""


# D3 — MinHash + LSH banding (the scale path). md5-derived hash family
# (h_i(s) = md5(i || ':' || s), min over shingles) keeps the signature
# engine-independent; candidates come from band-bucket collisions only,
# then are confirmed with true Jaccard >= 0.5.
def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_docs(spark, sf_dir)
    # materialize the shingle table once (MEMORY_AND_DISK: spills, never
    # OOMs) — both the minhash pass and the candidate-confirm pass read
    # it, and a production dedup pipeline would write it as a stage
    # table anyway. Measured 1.8x vs recomputing the explode per pass.
    sh = _shingle_table(aug).persist(StorageLevel.MEMORY_AND_DISK)
    rows_per_band = N_MINHASH // N_BANDS
    # One-permutation minhashing (Li/Owen/Zhang, NIPS'12): hash each
    # shingle ONCE, partition the hash space into N_MINHASH buckets by
    # the first hex nibble, take the min per bucket — 16× less hash
    # work than a 16-function family, one map-side-combined groupBy.
    #
    # The minhash VALUE is numeric: the next 14 hex chars
    # parsed to a 56-bit LONG (engine `conv`, oracle
    # CAST('0x'||… AS BIGINT) — bit-exact parity, probed). min over a
    # LONG compiles to HashAggregate with map-side combine, where a
    # min over the md5 HEX STRING falls back to
    # SortAggregate and drags a per-partition sort of the FULL
    # shingle table — the engine's largest intermediate, feeding
    # d3/e7/e10/e11 — into every chain execution (the d15 packed-long
    # lesson applied to the chain that taught it).
    h = F.md5("shingle")
    bucket = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    hnum = F.conv(F.substring(h, 2, D3_HEX_CHARS), 16, 10).cast("long")
    hashed = sh.select("doc_id", hnum.alias("h"), bucket.alias("bk"))
    minhash_cols = [
        F.min(F.when(F.col("bk") == i, F.col("h"))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    # fold the per-doc shingle count into the SAME aggregation — the
    # confirm pass needs |A| and |B|, and computing them here saves a
    # second full groupBy over the shingle table (one exchange, not two)
    # one row per doc, 17 narrow columns — cached so the band explode
    # AND the confirm's size lookup both read the same materialization
    #
    # ROTATION densification (Shrivastava & Li, ICML'14): an empty
    # bucket borrows the nearest non-empty bucket's min cyclically to
    # the right, tagged with the borrow distance. Round 4 densified to
    # a constant sentinel — and two SHORT docs then collided on
    # every all-empty band regardless of content (measured at the 20x
    # lake: 5.4M of 8.1M five-gram candidates were sentinel-band
    # collisions between unrelated short docs). Borrowed values collide
    # only when the borrowed-from minima AND distances match, i.e. when
    # the docs genuinely share shingle structure; the sentinel survives
    # only for the impossible all-empty signature.
    #
    # Numeric packing: own value = mh·16, borrowed =
    # mh_src·16 + distance (distance < 16), so own-vs-borrowed never
    # collide and borrowed-vs-borrowed collide exactly on (source,
    # distance) — the same equality semantics the old mh||'+d' string
    # carried, in one long (mh < 2^56 ⇒ packed < 2^60; sentinel 2^62
    # is outside the packed range).
    dens_cols = [
        F.coalesce(
            F.col(f"mh{i}") * 16,
            *[
                F.col(f"mh{(i + d) % N_MINHASH}") * 16 + d
                for d in range(1, N_MINHASH)
            ],
            F.lit(D3_SENTINEL),
        ).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    sigs = (
        hashed.groupBy("doc_id")
        .agg(*minhash_cols, F.count("*").alias("n_shingles"))
        .select("doc_id", *dens_cols, "n_shingles")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the band index is folded INTO the signature md5, so band
    # collision is a SINGLE-key equi-join (one narrow string compare
    # instead of (int, string)); candidate pairs are identical to the
    # two-column formulation — the oracle's (band, band_sig) join
    # produces the same set, so D3_SQL is unchanged.
    band_sigs = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(b),
                *[
                    F.col(f"mh{i}")
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_sigs)).alias("bkey"))
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # confirm candidates with true Jaccard by RE-JOINING the shingle
    # table on the pair keys — no per-doc shingle arrays ride through
    # the plan (a collect_set per doc is O(doc length) memory and
    # re-shuffles the corpus' shingle mass; at 100 TB that's the
    # bottleneck). The shingle streams are first pruned to candidate
    # docs with a BROADCAST semi join (cand_docs is bounded by the
    # duplicate rate, tiny next to the corpus) — a narrow pass, so the
    # confirm's hash exchanges move only the candidates' shingles.
    candidates = candidates.persist(StorageLevel.MEMORY_AND_DISK)
    cand_docs = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .union(candidates.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # the pruned candidate shingle table is itself a stage table
    # (bounded by the duplicate rate, tiny next to the corpus): persist
    # it so the two confirm joins don't each re-scan the FULL cached
    # shingle mass through the semi join — measured 0.73-0.89 s steady
    # at sf0.1 vs 1.0-1.3 s without, with the array-free confirm
    # retained).
    cand_sh = (
        sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sh_a = cand_sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = cand_sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # doc sizes ride out of the signature aggregation (computed in the
    # same exchange as the minhashes — no second pass over the shingle
    # table); the confirm output is candidate pairs only, so joining
    # unpruned sizes costs nothing extra.
    sizes = sigs.select("doc_id", "n_shingles")
    sizes_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sizes_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sizes_a, "id_a")
        .join(sizes_b, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


# CTE chain through confirmed-candidate common counts — shared by
# D3_SQL and the e7 audit report (identical semantics, one spelling).
# The minhash/densify/band steps are generated in the same wide-column
# form the Spark plan uses, so the rotation densification (see
# d3_minhash_lsh) is spelled once per engine but term-for-term equal.
_MINWIDE_COLS = ",\n         ".join(
    f"min(CASE WHEN bk = {i} THEN h END) AS mh{i}" for i in range(N_MINHASH)
)
_DENS_COLS = ",\n         ".join(
    "coalesce(mh{i} * 16, {borrows}, {sent}) AS mh{i}".format(
        i=i,
        borrows=", ".join(
            f"mh{(i + d) % N_MINHASH} * 16 + {d}" for d in range(1, N_MINHASH)
        ),
        sent=D3_SENTINEL,
    )
    for i in range(N_MINHASH)
)
_BAND_SELECTS = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({expr}) AS band_sig FROM dens".format(
        b=b,
        expr=" || '|' || ".join(
            f"mh{i}"
            for i in range(
                b * (N_MINHASH // N_BANDS), (b + 1) * (N_MINHASH // N_BANDS)
            )
        ),
    )
    for b in range(N_BANDS)
)
_D3_CHAIN = f"""{_AUG_SQL.strip()},
{_SHINGLES_SQL.strip()},
hashed AS (
  SELECT doc_id, CAST('0x' || md5(shingle)[2:{1 + D3_HEX_CHARS}] AS BIGINT) AS h,
         CAST('0x' || md5(shingle)[1:1] AS INT) AS bk
  FROM shingles
),
minwide AS (
  SELECT doc_id,
         {_MINWIDE_COLS}
  FROM hashed GROUP BY doc_id
),
dens AS (
  SELECT doc_id,
         {_DENS_COLS}
  FROM minwide
),
bands AS (
  {_BAND_SELECTS}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM candidates c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)"""

D3_SQL = f"""
WITH {_D3_CHAIN}
SELECT id_a, id_b,
       round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) AS jaccard
FROM common
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) >= 0.5
"""


# D4 — SimHash (16-bit, md5-derived per-token hashes; integer math only,
# so the signature is exactly reproducible in any engine).
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    h16 = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("int")
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
        h16.alias("h16"),
    ).select(
        "doc_id",
        "bit",
        F.expr("CASE WHEN (shiftright(h16, bit) & 1) = 1 THEN 1 ELSE -1 END").alias(
            "contrib"
        ),
    )
    perbit = bits.groupBy("doc_id", "bit").agg(F.sum("contrib").alias("s"))
    return (
        perbit.withColumn(
            "bitval",
            F.expr("CASE WHEN s > 0 THEN shiftleft(1, bit) ELSE 0 END"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").cast("long").alias("simhash16"))
    )


D4_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                    t -> t <> '')) AS token
  FROM documents
),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (CAST('0x' || md5(token)[1:4] AS INT) >> b.bit) & 1 = 1
              THEN 1 ELSE -1 END AS contrib
  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) b
),
perbit AS (SELECT doc_id, bit, sum(contrib) AS s FROM bits GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash16
FROM perbit GROUP BY doc_id
"""


# D6 — dedup resolution: pair graph -> connected components -> one
# canonical doc per cluster (operators/components.py). The fixture
# builds a deterministic pair graph with nontrivial topology: 7-block
# stars (doc -> its block head) overlaid with chain links every third
# doc, so blocks merge pairwise and the min label needs several
# propagation rounds to reach every member. The oracle derives the SAME
# clusters independently via a recursive-CTE transitive closure, so a
# hash match proves the fixpoint, not just the plumbing.
def _d6_edges(docs: DataFrame) -> DataFrame:
    ids = docs.select("doc_id")
    star = ids.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") - F.col("doc_id") % 7).alias("dst"),
    )
    chain = (
        ids.filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
        .join(ids.withColumnRenamed("doc_id", "dst"), "dst", "left_semi")
    )
    return star.unionByName(chain)


def d6_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.components import (
        canonicalize_duplicates,
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_d6_edges(docs), "src", "dst")
    return canonicalize_duplicates(docs.select("doc_id"), comp).select(
        "doc_id", "cluster_id", "is_canonical"
    )


D6_SQL = """
WITH RECURSIVE edges0 AS (
  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id, doc_id + 1 FROM documents
  WHERE doc_id % 3 = 0 AND doc_id + 1 IN (SELECT doc_id FROM documents)
),
sym AS (
  SELECT src AS u, dst AS v FROM edges0 WHERE src <> dst
  UNION
  SELECT dst, src FROM edges0 WHERE src <> dst
),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
),
comp AS (
  SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u
)
SELECT d.doc_id,
       coalesce(c.comp, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.comp, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


# D9 — exact-substring duplication (Lee et al., arXiv:2107.06499,
# "Deduplicating Training Data Makes Language Models Better"): flag
# document pairs sharing any run of D9_GRAM consecutive tokens. The
# published single-node method is a suffix array; the distributed
# equivalent hashes every D9_GRAM-token window (md5, 1 hash per window)
# and equi-joins on the gram hash — a sparse join, because long grams
# are near-unique outside genuine copied spans (unlike d2's 3-token
# shingles, which collide constantly). Quadratic cost is confined to
# grams that genuinely repeat, i.e. to true copied text.
D9_GRAM = 15


def d9_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_docs(spark, sf_dir)
    grams = aug.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("text"), D9_GRAM), lambda s: F.md5(s)
                )
            )
        ).alias("g"),
    )
    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_grams"))
    )


D9_SQL = f"""
WITH {_AUG_SQL.strip()},
grams AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - {D9_GRAM - 1}, 0) + 1),
                          i -> md5(array_to_string(toks[i : i + {D9_GRAM - 1}], ' ')))))
         AS g
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM aug)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_grams
FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""



# D11 — sorted-neighborhood entity-resolution blocking (Hernandez &
# Stolfo's merge/purge): sort the corpus once on a normalized key and
# compare each record only with its W nearest neighbors in sort order —
# the third candidate-generation family next to hash blocking (d1/d3
# LSH bands) and vector buckets (d5/d8). Near-duplicates share their
# normalized 40-char prefix (the planted copies truncate the token
# TAIL), so they land adjacent. Scale shape: the window partitions by
# an 8-char key prefix — many small ordered blocks instead of one
# global sort — and each row looks at exactly W=3 neighbors, so
# candidate volume is W*N regardless of cluster sizes (LSH's quadratic
# hot-bucket term structurally cannot occur; the price is recall
# limited to same-block neighbors, which is the documented
# sorted-neighborhood trade-off). Confirm = 24-char prefix equality;
# emits canonical (doc_a < doc_b) pairs.

D11_W = 3


def d11_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    aug = _augmented_docs(spark, sf_dir)
    key = F.lower(
        F.substring(F.regexp_replace(F.trim("text"), r"\s+", " "), 1, 40)
    )
    base = aug.select("doc_id", key.alias("k"))
    w = Window.partitionBy(F.substring("k", 1, 8)).orderBy("k", "doc_id")
    neigh = base.select(
        "doc_id",
        "k",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(w).alias("nid"),
                    F.lead("k", i).over(w).alias("nk"),
                )
                for i in range(1, D11_W + 1)
            ]
        ).alias("ns"),
    )
    cand = neigh.select("doc_id", "k", F.explode("ns").alias("n")).filter(
        F.col("n.nid").isNotNull()
    )
    confirmed = cand.filter(
        F.substring("k", 1, 24) == F.substring(F.col("n.nk"), 1, 24)
    )
    return confirmed.select(
        F.least("doc_id", F.col("n.nid")).alias("doc_a"),
        F.greatest("doc_id", F.col("n.nid")).alias("doc_b"),
    )


D11_SQL = f"""
WITH {_AUG_SQL.strip()},
base AS (
  SELECT doc_id,
         lower(substr(regexp_replace(trim(text), '\\s+', ' ', 'g'), 1, 40)) AS k
  FROM aug
),
neigh AS (
  SELECT doc_id, k,
         {", ".join(f"lead(doc_id, {i}) OVER w AS n{i}, lead(k, {i}) OVER w AS k{i}" for i in range(1, D11_W + 1))}
  FROM base
  WINDOW w AS (PARTITION BY substr(k, 1, 8) ORDER BY k, doc_id)
),
pairs AS (
  {" UNION ALL ".join(f"SELECT doc_id, k, n{i} AS nid, k{i} AS nk FROM neigh" for i in range(1, D11_W + 1))}
)
SELECT least(doc_id, nid) AS doc_a, greatest(doc_id, nid) AS doc_b
FROM pairs
WHERE nid IS NOT NULL AND substr(k, 1, 24) = substr(nk, 1, 24)
"""



# D13 — sparse lexical cosine join (TF vectors, rare-term blocking):
# the prefix-filtering family of similarity joins (PPJoin lineage),
# complementing hash blocking (d1/d3), vector buckets (d5/d8), and
# sort order (d11). Docs become L2-normalized term-frequency vectors;
# candidate pairs come ONLY from shared terms rare enough to be
# selective (2 <= df <= D13_DF_MAX) — the hot-term quadratic blowup
# ("the" joining everything to everything) is structurally excluded,
# which is the entire scale story of sparse-similarity joins. The
# confirm pass joins each candidate pair to ONE packed
# term->weight map per doc and computes the exact cosine inline with
# map_zip_with + a decimal fold (per-term products rounded to 1e-12
# then DECIMAL-summed — exact addition, so order-independent under any
# map entry order) — an exploded per-term shape shuffles
# |pairs|x|terms| rows through two joins and a wide groupBy, which was
# the measured 100x residual (52.4 s isolated, 1.25x/byte). Like LSH, the blocking is
# a recall heuristic (pairs sharing only stop-words are unseen — by
# design); the oracle implements the identical pipeline so the
# decision is hash-checked, not hidden.

D13_PREFIX = 4  # blocking prefix: each doc's P rarest shingles
D13_DF_CAP = 64  # prefix terms hotter than this never block (worst-case bound)
D13_TAU = 0.8


def d13_sparse_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage 0 — exact dedup FIRST (the production ordering): collapse
    # identical texts to their min-doc_id representative. Without this,
    # every K-member exact-duplicate cluster inflates its shingles' df
    # by K and floods the blocking join with K²/2 candidate pairs whose
    # answer d1 already gave. After collapsing, rare means rare.
    aug = _augmented_docs(spark, sf_dir)
    keep_w = Window.partitionBy(normalized_fingerprint(F.col("text"))).orderBy(
        "doc_id"
    )
    canon = (
        aug.withColumn("_rn", F.row_number().over(keep_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # dimensions are 3-word shingles, not words: the corpus vocabulary
    # is tiny (every word is a stop-word-frequency term), so blocking
    # needs the higher-order features — the same reason d2/d3 shingle
    # terms ride as 56-bit md5-derived longs from the explode onward
    # (the d14 lesson applied to the sparse-vector family):
    # the tf/df/prefix/confirm joins and both persisted stage tables
    # carry 8-byte longs instead of ~25-byte 3-word strings; the
    # oracle hashes identically so tf merges on collision, prefix
    # tie-breaks and the cosine are value-exact cross-engine
    hash56 = F.conv(
        F.substring(F.md5("shingle"), 2, D3_HEX_CHARS), 16, 10
    ).cast("long")
    tf = (
        canon.select(
            "doc_id",
            F.explode(word_shingles(F.lower(F.col("text")), 3)).alias(
                "shingle"
            ),
        )
        .select("doc_id", hash56.alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # one stats pass serves the norm (w below) and the exact
    # weighted-cosine LENGTH filter: for non-negative
    # weights, cos(a,b) = sum_{A∩B} tf_a·tf_b / (‖a‖‖b‖)
    # ≤ min(S_a·M_b, S_b·M_a) / (‖a‖‖b‖) where S = Σtf, M = max tf —
    # so any pair whose bound falls below τ cannot reach the confirm
    # threshold and is pruned BEFORE the pair-distinct (the d14 size-
    # filter pattern; engine-side only, result-preserving, measured
    # 39.8% of 20×-lake candidates pruned). The 1e-9 relaxation keeps
    # the double-arithmetic form strictly weaker than the exact bound,
    # so borderline pairs are never wrongly dropped.
    stats = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("S"),
        F.max("tf").alias("M"),
        F.sum(F.col("tf") * F.col("tf")).alias("N2"),
    )
    w = tf.join(stats, "doc_id").select(
        "doc_id", "term", (F.col("tf") / F.sqrt(F.col("N2"))).alias("w")
    )
    # Blocking prefix (the PPJoin idea proper): each doc blocks on its
    # P globally-RAREST shingles only, so candidate volume is bounded by
    # P * df(prefix term) per doc INDEPENDENT of corpus size — a global
    # "df <= X" cut has no such bound (measured: it went superlinear on
    # the 5x/20x lakes as more shingles entered the band). df = 1 terms
    # can't pair and hot terms (> D13_DF_CAP) never block.
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    wdf = tf.join(df_counts, "term").filter(
        (F.col("df") >= 2) & (F.col("df") <= D13_DF_CAP)
    )
    pw = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("term"))
    prefix = (
        wdf.withColumn("_pk", F.row_number().over(pw))
        .filter(F.col("_pk") <= D13_PREFIX)
        .select("doc_id", "term")
    )
    pstat = prefix.join(stats, "doc_id")
    a = pstat.select(
        F.col("doc_id").alias("id_a"), "term",
        F.col("S").alias("Sa"), F.col("M").alias("Ma"),
        F.col("N2").alias("N2a"),
    )
    b = pstat.select(
        F.col("doc_id").alias("id_b"), "term",
        F.col("S").alias("Sb"), F.col("M").alias("Mb"),
        F.col("N2").alias("N2b"),
    )
    lb = F.least(
        F.col("Sa") * F.col("Mb"), F.col("Sb") * F.col("Ma")
    ).cast("double")
    length_ok = lb * lb >= (
        F.col("N2a").cast("double")
        * F.col("N2b")
        * (D13_TAU * D13_TAU)
        * (1.0 - 1e-9)
    )
    # (A per-pair complement Cauchy–Schwarz bound over the MATCHED
    # prefix weights — dot_M + sqrt(1−Σ_M w_a²)·sqrt(1−Σ_M w_b²) ≥ τ —
    # was built and measured here: it pruned 0 of 5.44M
    # candidate pairs on the 100× lake, because near-uniform TF
    # vectors give every spurious pair a bound ≈ 1. Removed; the
    # length bound above is the one that bites (34% of matched rows).)
    cands = (
        a.join(b, "term")
        .filter((F.col("id_a") < F.col("id_b")) & length_ok)
        .select("id_a", "id_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # confirm only over candidate docs' weights (broadcast semi-join
    # pruning, same shape as d3's confirm) — the full weight table
    # never re-shuffles
    cand_docs = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # The confirm rides ONE packed term->weight map per candidate doc
    # instead of an exploded per-term weight table. The exploded shape
    # joins cands to wa (one shuffle of |pairs| rows), EXPLODES to
    # |pairs|×|terms(a)| rows, shuffles THOSE into the (id_b, term)
    # join, then pays a wide groupBy back down to |pairs| — the
    # measured 100× residual. Here
    # each pair pulls two 8-byte-keyed maps and the dot product folds
    # inline over ONLY the key intersection (array_intersect is a
    # linear hash-set pass; a map_zip_with union-merge was measured
    # 33.7 s at 100× because spurious pairs — 90% of candidates —
    # still paid the full O(|union|·lookup) merge, vs near-zero for
    # their 1-2-term intersections), so the heaviest exchange is
    # |pairs| rows wide and the groupBy disappears. The decimal fold
    # is EXACT addition (scale-12, magnitudes ≤ 1), hence independent
    # of intersection order — same cross-engine discipline as before.
    dec0 = F.lit(0).cast("decimal(27,12)")
    wmap = (
        w.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "w"))
            ).alias("wm")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dots = (
        cands.join(
            wmap.select(F.col("doc_id").alias("id_a"), F.col("wm").alias("ma")),
            "id_a",
        )
        .join(
            wmap.select(F.col("doc_id").alias("id_b"), F.col("wm").alias("mb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.array_intersect(F.map_keys("ma"), F.map_keys("mb")),
                dec0,
                lambda acc, t: (
                    acc
                    + F.round(
                        F.element_at(F.col("ma"), t)
                        * F.element_at(F.col("mb"), t),
                        12,
                    ).cast("decimal(27,12)")
                ).cast("decimal(27,12)"),
            )
            .cast("double")
            .alias("cos"),
        )
    )
    return dots.filter(F.col("cos") >= D13_TAU).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


D13_SQL = f"""
WITH {_AUG_SQL.strip()},
canon AS (
  SELECT doc_id, text FROM aug
  QUALIFY row_number() OVER (
    PARTITION BY {_NFP}
    ORDER BY doc_id) = 1
),
tf AS (
  -- 56-bit md5-derived term hashes (the engine's packing, mirrored)
  SELECT doc_id, CAST('0x' || md5(term)[2:{1 + D3_HEX_CHARS}] AS BIGINT) AS term,
         count(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS toks
              FROM canon))
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, sqrt(sum(tf * tf)) AS norm FROM tf GROUP BY 1),
w AS (SELECT t.doc_id, t.term, t.tf / n.norm AS w
      FROM tf t JOIN norms n USING (doc_id)),
prefix AS (
  SELECT doc_id, term FROM (
    SELECT t.doc_id, t.term,
           row_number() OVER (PARTITION BY t.doc_id
                              ORDER BY d.df ASC, t.term) AS pk
    FROM tf t JOIN (SELECT term, count(*) AS df FROM tf GROUP BY 1) d
      USING (term)
    WHERE d.df >= 2 AND d.df <= {D13_DF_CAP}
  ) WHERE pk <= {D13_PREFIX}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b
    ON a.term = b.term AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CAST(round(wa.w * wb.w, 12) AS DECIMAL(27,12))) AS DOUBLE)
             AS cos
  FROM cands c
  JOIN w wa ON wa.doc_id = c.id_a
  JOIN w wb ON wb.doc_id = c.id_b AND wb.term = wa.term
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(cos, 6) AS cos FROM dots WHERE cos >= {D13_TAU}
"""


# ---------------------------------------------------------------------------
# E7 — dedup audit report: the per-source duplication summary a corpus
# owner reads before deciding retention policy. Composes d3's confirmed
# near-dup pairs (planted 90%-truncation copies + organic collisions)
# with source attribution: per source — corpus size, docs involved in
# at least one near-dup pair, the dup-doc rate, pair count (attributed
# to the left endpoint's source) and the average confirmed Jaccard
# (micro-integer summed, e4's order-independent mean discipline).
#
# Scale: everything downstream of d3's bounded candidate machinery is
# small (pairs are duplicate-rate-sized); attribution joins are key
# equi-joins against the slim (doc_id, source) map.
# ---------------------------------------------------------------------------


def e7_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The audit reads the pair table THREE times (both legs of the
    # involved-docs union, then the per-pair rollup),
    # and without a persist each reference re-runs d3's whole confirm
    # chain — the before-plan is 1,888 lines with the candidate/confirm
    # subtree replicated per consumer. The pair table is dup-rate-sized
    # (hundreds of rows at the gate lakes, |dups| at any scale), so
    # persisting it is the guide §5 case: reused AND far cheaper than
    # recomputation.
    pairs = d3_minhash_lsh(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # copies (doc_id + AUG_TWIN_OFFSET) belong to their base doc's source
    aug_src = src.unionByName(
        src.select(
            guarded_twin_id(F.col("doc_id"), 1, "e7").alias("doc_id"),
            "source",
        )
    )
    n_docs = aug_src.groupBy("source").agg(F.count("*").alias("n_docs"))
    # Duplicated subtrees cost planning time: referencing the pair
    # table THREE times (two involved-union legs + the per-pair
    # rollup) means that, even with the pairs
    # persisted, every reference embeds d3's full logical subtree, so
    # each bench rep re-planned it three times (~0.4 s/rep of pure
    # driver planning, measured via queryExecution().executedPlan()).
    # One exploded legs view folds all three rollups into a single
    # aggregation — countDistinct(doc_id) IS the involved-docs count
    # (doc -> source is functional), and the id_a-keyed pair stats are
    # conditional sums over the leg marker. Sources whose docs only
    # appear as id_b keep the old null semantics: n_pairs sums to 0 and
    # jac_sum stays NULL, so avg_jaccard coalesces to 0.0 exactly as
    # the old left-join path did.
    jac_micro = F.round(F.col("jaccard") * 1e6).cast("long")
    legs = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc_id"),
                    F.lit(1).alias("leg"),
                    jac_micro.alias("jm"),
                ),
                F.struct(
                    F.col("id_b").alias("doc_id"),
                    F.lit(2).alias("leg"),
                    jac_micro.alias("jm"),
                ),
            )
        ).alias("l")
    ).select("l.doc_id", "l.leg", "l.jm")
    stats = (
        legs.join(aug_src, "doc_id")
        .groupBy("source")
        .agg(
            F.count_distinct(F.col("doc_id")).alias("n_near_dup_docs"),
            F.sum((F.col("leg") == 1).cast("long")).alias("n_pairs"),
            F.sum(F.when(F.col("leg") == 1, F.col("jm"))).cast("long").alias(
                "jac_sum"
            ),
        )
    )
    return (
        n_docs.join(stats, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_near_dup_docs", F.lit(0)).alias("n_near_dup_docs"),
            F.round(
                F.coalesce("n_near_dup_docs", F.lit(0)) / F.col("n_docs"), 6
            ).alias("near_dup_rate"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.round(
                F.coalesce(F.col("jac_sum") / F.col("n_pairs") / 1e6, F.lit(0.0)),
                6,
            ).alias("avg_jaccard"),
        )
    )


E7_SQL = "WITH " + _D3_CHAIN + f"""
, pairs AS (
  SELECT id_a, id_b,
         round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6)
             AS jaccard
  FROM common
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) >= 0.5
),
aug_src AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id + {AUG_TWIN_OFFSET}, source FROM documents
),
nd AS (SELECT source, count(*) AS n_docs FROM aug_src GROUP BY 1),
involved AS (
  SELECT s.source, count(*) AS n_near_dup_docs
  FROM (SELECT DISTINCT doc_id FROM (
          SELECT id_a AS doc_id FROM pairs
          UNION ALL SELECT id_b FROM pairs)) d
  JOIN aug_src s USING (doc_id)
  GROUP BY 1
),
per_pair AS (
  SELECT s.source, count(*) AS n_pairs,
         CAST(sum(CAST(round(p.jaccard * 1e6) AS BIGINT)) AS BIGINT) AS jac_sum
  FROM pairs p JOIN aug_src s ON s.doc_id = p.id_a
  GROUP BY 1
)
SELECT n.source, n.n_docs,
       coalesce(i.n_near_dup_docs, 0) AS n_near_dup_docs,
       round(coalesce(i.n_near_dup_docs, 0) / CAST(n.n_docs AS DOUBLE), 6)
           AS near_dup_rate,
       coalesce(p.n_pairs, 0) AS n_pairs,
       round(coalesce(p.jac_sum / CAST(p.n_pairs AS DOUBLE) / 1e6, 0.0), 6)
           AS avg_jaccard
FROM nd n
LEFT JOIN involved i USING (source)
LEFT JOIN per_pair p USING (source)
"""


# ---------------------------------------------------------------------------
# E10 — leakage-safe train/val/test split: the decontamination rule the
# plain stratified split (t7) cannot enforce. If two near-duplicate
# documents land on opposite sides of the train/eval cut, the eval set
# is contaminated — the model has effectively seen the answer. The fix
# is to assign splits at the DUP-CLUSTER grain: d3's confirmed near-dup
# pairs resolve to connected components (operators/components.py), each
# cluster gets ONE split decision (t7's md5-order 80/10/10 discipline,
# stratified by the cluster representative's lang), and every member
# inherits it. Leakage-freedom is structural: split is a function of
# cluster_id, so no d3 pair can straddle the cut.
#
# Scale shape: pairs are duplicate-rate-sized (d3's bounded LSH), the
# component resolution is the shallow-cluster min-label propagation,
# and the split assignment is a window over CLUSTERS (one row per
# cluster, not per doc) — the per-doc work is two hash joins.
#
# Fixture bound: the demo corpus is d3's augmentation (AUG_TWIN_OFFSET
# copy ids, the corpus-wide env-parameterized convention), which
# assumes max(doc_id) < AUG_TWIN_OFFSET
# — true for every shipped lake (20x tops out at 99,999). A production
# caller supplies real pair tables and real doc ids; the cluster-grain
# guarantee itself has no id-arithmetic in it.
# ---------------------------------------------------------------------------


def e10_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.components import connected_components

    pairs = d3_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs, "id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    aug = docs.unionByName(
        docs.select(
            guarded_twin_id(F.col("doc_id"), 1, "d8").alias("doc_id"),
            "lang",
        )
    )
    labeled = (
        aug.join(comp, aug["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("comp", F.col("doc_id")).alias("cluster_id"),
        )
    )
    # the cluster id IS the minimum member's doc_id, so the
    # representative's row is doc_id == cluster_id
    rep = labeled.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "cluster_id", F.col("lang").alias("rep_lang")
    )
    h = F.md5(F.col("cluster_id").cast("string"))
    w = Window.partitionBy("rep_lang").orderBy(h, "cluster_id")
    nw = Window.partitionBy("rep_lang")
    ranked = rep.select(
        "cluster_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(nw).alias("n_cl"),
    )
    split = (
        F.when(F.col("rn") <= F.floor(0.8 * F.col("n_cl")), F.lit("train"))
        .when(F.col("rn") <= F.floor(0.9 * F.col("n_cl")), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    cl_split = ranked.select("cluster_id", split.alias("split"))
    return labeled.join(cl_split, "cluster_id").select(
        "doc_id", "cluster_id", "lang", "split"
    )


E10_SQL = "WITH RECURSIVE " + _D3_CHAIN + f"""
, pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
),
comp AS (
  SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u
),
aug_docs AS (
  SELECT doc_id, lang FROM documents
  UNION ALL
  SELECT doc_id + {AUG_TWIN_OFFSET}, lang FROM documents
),
labeled AS (
  SELECT d.doc_id, d.lang, coalesce(c.comp, d.doc_id) AS cluster_id
  FROM aug_docs d LEFT JOIN comp c ON d.doc_id = c.id
),
rep AS (
  SELECT cluster_id, lang AS rep_lang FROM labeled WHERE doc_id = cluster_id
),
ranked AS (
  SELECT cluster_id,
         row_number() OVER (PARTITION BY rep_lang
                            ORDER BY md5(CAST(cluster_id AS VARCHAR)), cluster_id) AS rn,
         count(*) OVER (PARTITION BY rep_lang) AS n_cl
  FROM rep
),
cl_split AS (
  SELECT cluster_id,
         CASE WHEN rn <= floor(0.8 * n_cl) THEN 'train'
              WHEN rn <= floor(0.9 * n_cl) THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT l.doc_id, l.cluster_id, l.lang, s.split
FROM labeled l JOIN cl_split s USING (cluster_id)
"""



# ---------------------------------------------------------------------------
# E11 — cluster-canonical selection by QUALITY (keep-best, not
# keep-first). d1/d15 keep the FIRST copy; production curation
# (RefinedWeb/FineWeb) keeps the BEST member of each near-dup cluster —
# the longest / cleanest extraction survives, truncated or mangled
# copies drop. Composes d3's pairs → connected components → per-cluster
# argmax of the t2 quality score (tie-break: lowest doc_id).
#
# Scale shape: the argmax is groupBy(cluster).max(packed-long) — the
# d15 lesson applied again: max over a LONG stays HashAggregate with
# map-side combine (a hot all-identical cluster collapses inside each
# partition), where max(struct(quality, doc_id)) would fall back to
# SortAggregate, and a row_number window over clusters would serialize
# a pathological giant cluster onto one task. The (quality, -doc_id)
# argmax packs exactly into one BIGINT: q_micro = round(q·1e6) ≤ 1e6
# and doc_id < 2^43, so key = q_micro·2^43 + (2^43-1-doc_id) fits
# (max ≈ 8.8e18 < 2^63) and orders by quality first, then by SMALLEST
# doc_id. Engine-identical integer arithmetic; unpack is one AND.
# ---------------------------------------------------------------------------

E11_IDSPACE = 1 << 43


def _t2_quality(text_col):
    """t2's quality formula as a Column (shared with the e11 oracle)."""
    from x17a5_spark.functions.text import punct_ratio
    from x17a5_spark.queries.textops import STOPWORDS

    toks = tokens(text_col)
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS["en"]))
    )
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(stop_hits / n_tok)
    length_score = F.least(F.length(text_col) / 1000.0, F.lit(1.0))
    return F.round(
        0.5 * length_score + 0.3 * (1.0 - punct_ratio(text_col)) + 0.2 * stop_ratio,
        6,
    )


def e11_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.components import connected_components

    pairs = d3_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs, "id_a", "id_b")
    aug = _augmented_docs(spark, sf_dir)
    scored = aug.select(
        "doc_id", _t2_quality(F.col("text")).alias("quality")
    )
    labeled = (
        scored.join(comp, scored["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            "quality",
            F.coalesce("comp", F.col("doc_id")).alias("cluster_id"),
        )
    )
    q_micro = F.round(F.col("quality") * 1e6).cast("long")
    # the packing discipline fails LOUD on BOTH operands (ADVICE r7):
    # a doc_id past 2^43 would silently corrupt the argmax ordering AND
    # the unpacked keeper_id, the same failure d15 already guards
    did = F.when(F.col("doc_id") < E11_IDSPACE, F.col("doc_id")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("e11: doc_id exceeds the 2^43 packing id-space: "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    key = q_micro * E11_IDSPACE + (F.lit(E11_IDSPACE - 1) - did)
    best = (
        labeled.withColumn("_key", key)
        .groupBy("cluster_id")
        .agg(F.max("_key").alias("bk"))
        .select(
            "cluster_id",
            (
                F.lit(E11_IDSPACE - 1)
                - F.col("bk").bitwiseAND(F.lit(E11_IDSPACE - 1))
            ).alias("keeper_id"),
        )
    )
    return labeled.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_kept"),
    )


_E11_STOP_SQL = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that']"

E11_SQL = "WITH RECURSIVE " + _D3_CHAIN + f"""
, pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
),
comp AS (
  SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u
),
scored AS (
  SELECT doc_id,
         round(0.5 * least(length(text) / 1000.0, 1.0)
               + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                          / length(text) END)
               + 0.2 * (CASE WHEN len(toks) = 0 THEN 0.0
                     ELSE len(list_filter(toks,
                          x -> list_contains({_E11_STOP_SQL}, lower(x))))
                          / len(toks) END), 6) AS quality
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM aug)
),
labeled AS (
  SELECT s.doc_id, s.quality, coalesce(c.comp, s.doc_id) AS cluster_id
  FROM scored s LEFT JOIN comp c ON s.doc_id = c.id
),
best AS (
  SELECT cluster_id,
         ({E11_IDSPACE - 1}) - (max(CAST(round(quality * 1e6) AS BIGINT)
             * {E11_IDSPACE}
             + ({E11_IDSPACE - 1} - CASE WHEN doc_id < {E11_IDSPACE} THEN doc_id
                 ELSE error('e11: doc_id exceeds the 2^43 packing id-space')
                 END)) & {E11_IDSPACE - 1}) AS keeper_id
  FROM labeled GROUP BY 1
)
SELECT l.doc_id, l.cluster_id, l.quality, b.keeper_id,
       l.doc_id = b.keeper_id AS is_kept
FROM labeled l JOIN best b USING (cluster_id)
"""


# ---------------------------------------------------------------------------
# D14 — shingle-containment join: the ASYMMETRIC near-dup primitive.
# Jaccard machinery (d2/d3/d13) structurally misses inclusion — a quote,
# excerpt or boilerplate-wrapped copy of doc A inside a much larger doc
# B has containment |A∩B|/|A| ≈ 1 while Jaccard |A∩B|/|A∪B| is tiny, so
# no Jaccard threshold finds it without also flooding on unrelated
# pairs. Containment is the standard primitive for "is this document
# substantially included in another" (training-data decontamination,
# quote/excerpt dedup).
#
# Scale shape (PPJoin-style, like d13 but direction-aware): candidates
# come from the CONTAINED side's prefix — by the exact prefix-filter
# theorem, containment >= t means the container shares at least one of
# the contained doc's floor((1-t)·n)+1 rarest shingles — joined against
# df-capped postings (df <= D14_DF_CAP), so per-doc candidate volume is
# bounded by prefix_len × df_cap INDEPENDENT of corpus size. Like
# d3/d13, the df cap is a recall heuristic for hot shingles; the oracle
# implements the identical pipeline so the decision is hash-checked.
# Fixture: 40%-token fragments planted at doc_id + 2*AUG_TWIN_OFFSET — high
# containment in their originals, Jaccard ~0.4 (below every Jaccard
# query's threshold), demonstrating exactly the asymmetric case.
# ---------------------------------------------------------------------------

D14_TAU = 0.8
D14_DF_CAP = 64
D14_MIN_SHINGLES = 3


def d14_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    keep = F.greatest(F.floor(F.size(toks) * 2 / 5).cast("int"), F.lit(1))
    frags = docs.select(
        guarded_twin_id(F.col("doc_id"), 2, "d14").alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, keep)).alias("text"),
    )
    aug = docs.unionByName(frags)
    # exact dedup first (the d13 production ordering): identical texts
    # collapse so duplicate clusters can't inflate df / flood candidates
    keep_w = Window.partitionBy(normalized_fingerprint(F.col("text"))).orderBy(
        "doc_id"
    )
    canon = (
        aug.withColumn("_rn", F.row_number().over(keep_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # 56-bit shingle hashes from the explode onward (a verify join
    # over full sorted STRING arrays per candidate pair — ~25-30 bytes
    # per 3-word shingle — stopped fitting per-task memory at the 100×
    # lake; an 8-byte
    # long is the d3 packing discipline). The oracle hashes with the
    # IDENTICAL md5-derived conv, so df counts, prefix tie-breaks and
    # intersections stay value-exact cross-engine; 56-bit collisions
    # are mirrored (birthday bound ~7·10^16, not a real regime).
    hash56 = F.conv(
        F.substring(F.md5("shingle"), 2, D3_HEX_CHARS), 16, 10
    ).cast("long")
    sh = (
        canon.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), 3))
            ).alias("shingle"),
        ).select("doc_id", hash56.alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfc = sh.groupBy("g").agg(F.count("*").alias("df"))
    shdf = sh.join(dfc, "g").filter(
        (F.col("df") >= 2) & (F.col("df") <= D14_DF_CAP)
    )
    # prefix length floor(n/5)+1 == floor((1-tau)·n)+1 at tau=0.8,
    # spelled n/5 so BOTH engines compute the identical double.
    # One windowed pass serves BOTH the prefix (contained side) and the
    # postings (container side) — shdf⋈sizes is built once, persisted,
    # and filtered two ways, instead of two independent join subtrees.
    pw = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("g"))
    shsz = (
        shdf.join(sizes, "doc_id").withColumn("_pk", F.row_number().over(pw))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix = shsz.filter(
        F.col("_pk") <= F.floor(F.col("n") / 5).cast("int") + 1
    ).select("doc_id", "g", F.col("n").alias("n_a"))
    # PPJoin size filter, pushed BEFORE the pair-distinct: containment
    # >= tau forces n_common >= tau*n_a, and n_common <= n_b, so any
    # pair with 5*n_b < 4*n_a (exact integer form of n_b < 0.8*n_a)
    # cannot reach the final threshold. Result-preserving for any doc
    # under 400k shingles (beyond that the round(.,6) in the output
    # could admit a ratio the strict filter drops — not a real regime
    # for word-shingled documents). Cuts both the distinct's input and
    # the verification join's width.
    postings = shsz.select(
        F.col("doc_id").alias("container_id"),
        "g",
        F.col("n").alias("n_b"),
    )
    cands = (
        prefix.select(F.col("doc_id").alias("contained_id"), "g", "n_a")
        .join(postings, "g")
        .filter(
            (F.col("contained_id") != F.col("container_id"))
            & (F.col("n_b") * 5 >= F.col("n_a") * 4)
        )
        .select("contained_id", "container_id")
        .distinct()
    )
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    # Verification via per-doc sorted shingle arrays + array_intersect:
    # one row per candidate pair instead of exploding to |pair|x|doc|
    # shingle rows and re-aggregating. Row width is bounded by the
    # per-doc distinct-shingle count — the standard PPJoin verify shape
    # (merge two sorted sets per pair), and at cluster scale the arrays
    # table is one row per doc, joined by doc_id hash partitioning.
    #
    # Measured under the fresh-JVM GC-log protocol: building the
    # arrays as collect_list over the EXPLODED persisted shingle table
    # re-shuffles ~50M rows per execution at the 100x lake, and was
    # THE measured source of d14's 11x bracket (the GC log shows 0
    # full GCs and ~4% young pause time, so GC is not the cause; the
    # spread was this stage's re-execution + page-cache state). The identical
    # arrays fall out SCALAR-SIDE from the canonical docs — zero
    # exchange: per doc, array_sort over the hashed distinct shingles
    # (hash collisions keep both copies in both shapes, so the arrays
    # and counts are byte-identical to the collect_list form) — and
    # the table persists as ONE per-doc stage (the production shape:
    # materialized once, joined by doc_id thereafter).
    #
    # The semi-join keeps the array build bounded by the DUPLICATE
    # RATE, not the corpus: at a low-dup corpus, candidate docs are a
    # tiny fraction of all docs, and building arrays for the rest
    # would burn shingle hashing on rows no join ever reads.
    cand_docs = (
        cands.select(F.col("contained_id").alias("doc_id"))
        .union(cands.select(F.col("container_id").alias("doc_id")))
        .distinct()
    )
    hash56_of = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 2, D3_HEX_CHARS), 16, 10
    ).cast("long")
    arrs = (
        canon.join(cand_docs, "doc_id", "left_semi").select(
            "doc_id",
            F.array_sort(
                F.transform(
                    F.array_distinct(word_shingles(F.col("text"), 3)),
                    hash56_of,
                )
            ).alias("shingles"),
        ).withColumn("n", F.size("shingles").cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    aa = arrs.select(
        F.col("doc_id").alias("contained_id"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("n_a"),
    )
    bb = arrs.select(
        F.col("doc_id").alias("container_id"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        cands.join(aa, "contained_id")
        .filter(F.col("n_a") >= D14_MIN_SHINGLES)
        .join(bb, "container_id")
        .withColumn(
            "n_common", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        )
        .withColumn("containment", F.round(F.col("n_common") / F.col("n_a"), 6))
        .filter(F.col("containment") >= D14_TAU)
        .select("contained_id", "container_id", "containment")
    )


D14_SQL = f"""
WITH aug14 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {2 * AUG_TWIN_OFFSET},
         array_to_string(toks[1 : greatest(CAST(floor(len(toks) * 2 / 5) AS INT), 1)], ' ')
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM documents)
),
canon AS (
  SELECT doc_id, text FROM aug14
  QUALIFY row_number() OVER (
    PARTITION BY {_NFP}
    ORDER BY doc_id) = 1
),
sh AS (
  -- 56-bit md5-derived shingle hashes from the explode onward (the
  -- d3 packing discipline, mirrored in the engine): df counts,
  -- prefix tie-breaks and the verify intersection all ride 8-byte
  -- longs in BOTH engines, so the decision stays value-exact
  SELECT doc_id, CAST('0x' || md5(shingle)[2:{1 + D3_HEX_CHARS}] AS BIGINT) AS g
  FROM (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         AS shingle
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM canon))
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dfc AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
shdf AS (SELECT s.doc_id, s.g, d.df
         FROM sh s JOIN dfc d USING (g)
         WHERE d.df >= 2 AND d.df <= {D14_DF_CAP}),
prefix AS (
  SELECT doc_id, g FROM (
    SELECT s.doc_id, s.g, z.n,
           row_number() OVER (PARTITION BY s.doc_id
                              ORDER BY s.df ASC, s.g) AS pk
    FROM shdf s JOIN sizes z USING (doc_id))
  WHERE pk <= CAST(floor(n / 5) AS INT) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS contained_id, b.doc_id AS container_id
  FROM prefix a JOIN shdf b USING (g)
  WHERE a.doc_id <> b.doc_id
),
common AS (
  SELECT c.contained_id, c.container_id, count(*) AS n_common
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.contained_id
  JOIN sh sb ON sb.doc_id = c.container_id AND sb.g = sa.g
  GROUP BY 1, 2
)
SELECT contained_id, container_id,
       round(n_common / z.n, 6) AS containment
FROM common JOIN sizes z ON z.doc_id = contained_id
WHERE z.n >= {D14_MIN_SHINGLES}
  AND round(n_common / z.n, 6) >= {D14_TAU}
"""


# ---------------------------------------------------------------------------
# D15 — paragraph-level (sub-document) dedup with document reassembly.
#
# The Dolma/RefinedWeb curation primitive the doc-level machinery
# (d1-d14) cannot express: boilerplate, license blocks and quoted spans
# repeat ACROSS documents that are not duplicates of each other, so the
# fix is delete-the-span, not drop-the-document. Semantics: split each
# doc into fixed 12-token paragraphs (this corpus has no newline
# structure; real corpora would split on blank lines), keep the FIRST
# occurrence (min (doc_id, pos)) of every paragraph corpus-wide, always
# keep paragraphs shorter than D15_MIN_TOKENS (a ragged 1-4 token tail
# is noise, not boilerplate), and reassemble each doc from its
# surviving paragraphs in order. Docs deduplicated to nothing stay in
# the output with n_kept=0 and empty text — the funnel must be audited,
# not silently shrunk.
#
# Scale shape: keep-first is groupBy(paragraph-fingerprint).min(struct)
# — NOT a row_number window — because a hot boilerplate paragraph at
# 100 TB has billions of occurrences and a window partitioned on the
# fingerprint would serialize them onto one task, while partial
# aggregation (map-side combine) collapses the hot key inside each
# input partition before the shuffle. The winner rows ARE the kept
# eligible paragraphs, so no join back is needed. Three linear shuffles
# total (winner agg, doc reassembly agg, totals join); candidate state
# per key is O(1).
#
# Fixture: every 10th doc gets a copy (doc_id + 3*AUG_TWIN_OFFSET) with a fixed
# 12-token boilerplate paragraph PREPENDED — the copy's later
# paragraphs then shift-align with the original's, so the op must strip
# the copy down to (at most) the single corpus-wide boilerplate keeper
# plus a short always-kept tail, while leaving every original intact.
# ---------------------------------------------------------------------------

from x17a5_spark.operators.paragraphs import (  # noqa: E402
    IDSPACE as D15_IDSPACE,
    MIN_TOKENS as D15_MIN_TOKENS,
    PACK as D15_PACK,
    PARA_TOKENS as D15_PARA_TOKENS,
    _PACK_SHIFT as D15_SHIFT,
)

D15_BOILERPLATE = (
    "copyright notice all rights reserved terms of use subject to change herein"
)


def d15_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture wrapper over operators/paragraphs.py::dedup_paragraphs
    (the reusable core — see its docstring for the scale decisions).

    Fixture bound (the corpus-wide offset convention, same as
    d2/d3/e7's AUG_TWIN_OFFSET): copy ids land at 3*AUG_TWIN_OFFSET, so
    max(doc_id) < 3*AUG_TWIN_OFFSET must hold (default 300000 covers
    the 20x lake's 99,999; the 100x protocol raises X17A5_AUG_OFFSET —
    the paragraphs packing guard (doc_id < 2^43) fails LOUD if a
    configuration ever exceeds it). A production caller feeds real
    documents and no augmentation runs.
    """
    from x17a5_spark.operators.paragraphs import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        guarded_twin_id(F.col("doc_id"), 3, "d15").alias("doc_id"),
        F.concat_ws(" ", F.lit(D15_BOILERPLATE), F.col("text")).alias("text"),
    )
    return dedup_paragraphs(docs.unionByName(copies))


D15_SQL = f"""
WITH aug15 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {3 * AUG_TWIN_OFFSET}, '{D15_BOILERPLATE}' || ' ' || text
  FROM documents WHERE doc_id % 10 = 0
),
tok15 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM aug15
),
paras15 AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(toks[u.i * {D15_PARA_TOKENS} + 1 : (u.i + 1) * {D15_PARA_TOKENS}], ' ') AS para,
         least({D15_PARA_TOKENS}, len(toks) - u.i * {D15_PARA_TOKENS}) AS para_len
  FROM tok15,
       unnest(range(0, CAST(floor((len(toks) + {D15_PARA_TOKENS - 1}) / {D15_PARA_TOKENS}) AS INT))) AS u(i)
),
packed15 AS (
  SELECT para, para_len,
         CASE WHEN pos < {D15_PACK} AND doc_id < {D15_IDSPACE}
              THEN doc_id * {D15_PACK} + pos
              ELSE error('d15: (doc_id, pos) exceeds the 2^43/2^20 packing bounds')
         END AS packed
  FROM paras15
),
kept15 AS (
  SELECT w >> {D15_SHIFT} AS doc_id, w, para FROM (
    SELECT para,
           CASE WHEN para_len < {D15_MIN_TOKENS} THEN packed END AS salt,
           min(packed) AS w
    FROM packed15 GROUP BY 1, 2)
),
rebuilt15 AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, ' ' ORDER BY w) AS text_dedup
  FROM kept15 GROUP BY 1
),
totals15 AS (
  SELECT doc_id,
         CAST(floor((len(toks) + {D15_PARA_TOKENS - 1}) / {D15_PARA_TOKENS}) AS INT) AS n_para
  FROM tok15
)
SELECT t.doc_id, t.n_para,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_dedup, '') AS text_dedup
FROM totals15 t LEFT JOIN rebuilt15 r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# D16 — paragraph dedup in DELIMITER mode:
# real corpora split on structural boundaries (blank lines) FIRST, then
# fixed-width chunk only the oversized spans — d15's fixed-width-only
# split cuts across real paragraph boundaries and misses boilerplate
# that is not phase-aligned. Same keep-first packed-long machinery as
# d15 (operators/paragraphs.py); only the paragraphization differs.
#
# Fixture: the corpus text has no natural structure (one flat token
# stream), so structure is PLANTED identically on both engines: every
# 'table' token becomes a blank-line break, and every 10th doc gets a
# copy (doc_id+400000) with the 12-token boilerplate PREPENDED as its
# own span. Unlike d15's shift-alignment stress, delimiter spans align
# naturally — prepending a span shifts no other span — so the copy must
# dedup to (at most) the corpus-wide boilerplate keeper.
# ---------------------------------------------------------------------------

D16_DELIM = r"\n\s*\n"


def d16_paragraph_dedup_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.paragraphs import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", "table", "\n\n").alias("text")
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        guarded_twin_id(F.col("doc_id"), 4, "d16").alias("doc_id"),
        F.concat_ws("\n\n", F.lit(D15_BOILERPLATE), F.col("text")).alias("text"),
    )
    return dedup_paragraphs(docs.unionByName(copies), delimiter=D16_DELIM)


D16_SQL = f"""
WITH aug16 AS (
  SELECT doc_id, regexp_replace(text, 'table', chr(10) || chr(10), 'g') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {4 * AUG_TWIN_OFFSET},
         '{D15_BOILERPLATE}' || chr(10) || chr(10)
           || regexp_replace(text, 'table', chr(10) || chr(10), 'g')
  FROM documents WHERE doc_id % 10 = 0
),
spans16 AS (
  SELECT doc_id, u.i AS span_idx,
         list_filter(regexp_split_to_array(trim(sp[u.i + 1]), '\\s+'),
                     t -> t <> '') AS toks
  FROM (SELECT doc_id, regexp_split_to_array(text, '{D16_DELIM}') AS sp
        FROM aug16),
       unnest(range(0, len(sp))) AS u(i)
),
chunks16 AS (
  SELECT doc_id, span_idx, v.j AS chunk_idx,
         array_to_string(toks[v.j * {D15_PARA_TOKENS} + 1 : (v.j + 1) * {D15_PARA_TOKENS}], ' ') AS para,
         least({D15_PARA_TOKENS}, len(toks) - v.j * {D15_PARA_TOKENS}) AS para_len
  FROM spans16,
       unnest(range(0, CAST(floor((len(toks) + {D15_PARA_TOKENS - 1}) / {D15_PARA_TOKENS}) AS INT))) AS v(j)
  WHERE len(toks) > 0
),
pos16 AS (
  SELECT doc_id, para, para_len,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY span_idx, chunk_idx) - 1 AS pos
  FROM chunks16
),
packed16 AS (
  SELECT para, para_len,
         CASE WHEN pos < {D15_PACK} AND doc_id < {D15_IDSPACE}
              THEN doc_id * {D15_PACK} + pos
              ELSE error('d16: (doc_id, pos) exceeds the 2^43/2^20 packing bounds')
         END AS packed
  FROM pos16
),
kept16 AS (
  SELECT w >> {D15_SHIFT} AS doc_id, w, para FROM (
    SELECT para,
           CASE WHEN para_len < {D15_MIN_TOKENS} THEN packed END AS salt,
           min(packed) AS w
    FROM packed16 GROUP BY 1, 2)
),
rebuilt16 AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, ' ' ORDER BY w) AS text_dedup
  FROM kept16 GROUP BY 1
),
totals16 AS (
  SELECT doc_id, count(*) AS n_para FROM chunks16 GROUP BY 1
)
SELECT a.doc_id,
       CAST(COALESCE(t.n_para, 0) AS INT) AS n_para,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_dedup, '') AS text_dedup
FROM (SELECT doc_id FROM aug16) a
LEFT JOIN totals16 t USING (doc_id)
LEFT JOIN rebuilt16 r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# D18 — paragraph-level NEAR dedup:
# d15/d16 are exact-fingerprint at paragraph grain, so boilerplate
# with a one-token drift (dates, counters, revision numbers) survives
# them by construction. d18 applies d3's minhash banding AT THE
# PARAGRAPH GRAIN over d16's delimiter spans: bigram shingles per
# eligible paragraph, 16 minhashes (4 salted md5s, 4 disjoint 32-bit
# slices each), 8 two-row bands, per-bucket min-packed keeper, exact
# shingle-Jaccard confirm against (<= 8) bucket keepers, drop at
# J >= 0.6. Core: operators/paragraphs.py::near_dedup_paragraphs.
#
# Fixture: the d16 structure plant ('table' -> blank line), plus every
# 10th doc gets a copy (doc_id + 6*AUG_TWIN_OFFSET) with a 12-token
# boilerplate span PREPENDED whose 7th token DRIFTS per copy
# (doc_id % 5) — the exact shape d15/d16 provably miss (pinned in
# tests/test_dedup_similarity.py) and d18 must catch: every drifted
# variant either band-collides with an earlier variant (P ~ 99.5% at
# J ~ 0.69) and confirms at J >= 0.6, or is the corpus-first keeper.
# The copy's body spans are exact duplicates of the original's and die
# at J = 1.
#
# Scale: no window; bucket keepers are a map-side-combined min (a
# billion-occurrence boilerplate bucket collapses inside each input
# partition); every paragraph carries <= 8 confirm comparisons
# regardless of corpus size; confirm joins move sorted 56-bit shingle
# arrays (the d14 verify shape), never per-shingle rows.
# ---------------------------------------------------------------------------

D18_BOILER_PRE = "copyright notice all rights reserved revision"
D18_BOILER_POST = "terms of use subject herein"


def d18_paragraph_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.paragraphs import near_dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", "table", "\n\n").alias("text")
    )
    # drift value: copies exist only at doc_id % 10 == 0, so doc_id % 5
    # would be constant — (doc_id % 50) / 10 cycles 0..4 across copies
    boiler = F.concat_ws(
        " ",
        F.lit(D18_BOILER_PRE),
        (F.col("doc_id") % 50 / 10).cast("long").cast("string"),
        F.lit(D18_BOILER_POST),
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        guarded_twin_id(F.col("doc_id"), 6, "d18").alias("doc_id"),
        F.concat_ws("\n\n", boiler, F.col("text")).alias("text"),
    )
    return near_dedup_paragraphs(
        docs.unionByName(copies), delimiter=D16_DELIM
    )


def _d18_sql() -> str:
    from x17a5_spark.operators.paragraphs import (
        D18_BANDS,
        D18_MINHASH,
        D18_TAU,
        IDSPACE,
        MIN_TOKENS,
        PACK,
        PARA_TOKENS,
    )

    mh_cols = ",\n         ".join(
        f"min(CAST('0x' || h{i // 4}[{1 + 8 * (i % 4)}:{8 + 8 * (i % 4)}] "
        f"AS BIGINT)) AS mh{i}"
        for i in range(D18_MINHASH)
    )
    sig_list = ", ".join(
        f"md5(concat_ws(':', {j}, mh{2 * j}, mh{2 * j + 1}))"
        for j in range(D18_BANDS)
    )
    return f"""
WITH aug18 AS (
  SELECT doc_id, regexp_replace(text, 'table', chr(10) || chr(10), 'g') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {6 * AUG_TWIN_OFFSET},
         '{D18_BOILER_PRE} ' || CAST(CAST((doc_id % 50) / 10 AS BIGINT) AS VARCHAR)
           || ' {D18_BOILER_POST}' || chr(10) || chr(10)
           || regexp_replace(text, 'table', chr(10) || chr(10), 'g')
  FROM documents WHERE doc_id % 10 = 0
),
spans18 AS (
  SELECT doc_id, u.i AS span_idx,
         list_filter(regexp_split_to_array(trim(sp[u.i + 1]), '\\s+'),
                     t -> t <> '') AS toks
  FROM (SELECT doc_id, regexp_split_to_array(text, '{D16_DELIM}') AS sp
        FROM aug18),
       unnest(range(0, len(sp))) AS u(i)
),
chunks18 AS (
  SELECT doc_id, span_idx, v.j AS chunk_idx,
         array_to_string(toks[v.j * {PARA_TOKENS} + 1 : (v.j + 1) * {PARA_TOKENS}], ' ') AS para,
         least({PARA_TOKENS}, len(toks) - v.j * {PARA_TOKENS}) AS para_len
  FROM spans18,
       unnest(range(0, CAST(floor((len(toks) + {PARA_TOKENS - 1}) / {PARA_TOKENS}) AS INT))) AS v(j)
  WHERE len(toks) > 0
),
packed18 AS (
  SELECT doc_id, para, para_len,
         CASE WHEN pos < {PACK} AND doc_id < {IDSPACE}
              THEN doc_id * {PACK} + pos
              ELSE error('d18: (doc_id, pos) exceeds the 2^43/2^20 packing bounds')
         END AS w
  FROM (SELECT doc_id, para, para_len,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY span_idx, chunk_idx) - 1 AS pos
        FROM chunks18)
),
hashes18 AS (
  SELECT w, md5('0:' || s) AS h0, md5('1:' || s) AS h1,
         md5('2:' || s) AS h2, md5('3:' || s) AS h3
  FROM (SELECT w, unnest(list_distinct(
               list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                              i -> tk[i] || ' ' || tk[i+1]))) AS s
        FROM (SELECT w, list_filter(
                     regexp_split_to_array(trim(lower(para)), '\\s+'),
                     t -> t <> '') AS tk
              FROM packed18 WHERE para_len >= {MIN_TOKENS}))
),
pshin18 AS (SELECT DISTINCT w, CAST('0x' || h0[2:15] AS BIGINT) AS g FROM hashes18),
psize18 AS (SELECT w, count(*) AS n FROM pshin18 GROUP BY 1),
mins18 AS (
  SELECT w,
         {mh_cols}
  FROM hashes18 GROUP BY w
),
bands18 AS (SELECT w, unnest([{sig_list}]) AS sig FROM mins18),
bmin18 AS (SELECT sig, min(w) AS kw FROM bands18 GROUP BY 1),
cand18 AS (SELECT DISTINCT w, kw FROM bands18 JOIN bmin18 USING (sig)
           WHERE kw < w),
inter18 AS (
  SELECT c.w, c.kw, count(*) AS ni
  FROM cand18 c
  JOIN pshin18 a ON a.w = c.w
  JOIN pshin18 b ON b.w = c.kw AND b.g = a.g
  GROUP BY 1, 2
),
dropped18 AS (
  SELECT DISTINCT i.w
  FROM inter18 i
  JOIN psize18 za ON za.w = i.w
  JOIN psize18 zb ON zb.w = i.kw
  WHERE round(ni / (za.n + zb.n - ni), 6) >= {D18_TAU}
),
kept18 AS (
  SELECT doc_id, w, para FROM packed18
  WHERE w NOT IN (SELECT w FROM dropped18)
),
rebuilt18 AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, ' ' ORDER BY w) AS text_dedup
  FROM kept18 GROUP BY 1
),
totals18 AS (
  SELECT doc_id, count(*) AS n_para FROM chunks18 GROUP BY 1
)
SELECT a.doc_id,
       CAST(COALESCE(t.n_para, 0) AS INT) AS n_para,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_dedup, '') AS text_dedup
FROM (SELECT doc_id FROM aug18) a
LEFT JOIN totals18 t USING (doc_id)
LEFT JOIN rebuilt18 r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# D17 — cc_star on a CHAIN-SHAPED dup graph: consecutive doc_ids are
# linked within blocks of 100, so every component is a path of
# diameter ~99 — past the propagation loop's default budget (25 rounds
# = 50 hops), which is exactly when connected_components falls back to
# the alternating large-star/small-star contraction; it resolves the
# graph in O(log^2 n) rounds.
# This is exactly the templated-documents-drifting-gradually shape that
# turns min-label propagation into a pipeline stop at 100 TB.
#
# The oracle is an INDEPENDENT derivation: gaps-and-islands over the
# sorted doc_id sequence (a run breaks at a missing id or a block
# boundary; the component min is the run's first id) — no transitive
# closure at all, so agreement cross-checks the contraction against
# closed-form ground truth rather than against another graph traversal.
# Excluded from bench HEADLINE on the g1 precedent: ~10 fixed
# alternating rounds of tiny exchanges measure driver/scheduler latency
# at bench SF, not engine throughput (cc_star's scale behavior is
# measured in SCALE.md: 22.2 s for a diameter-100,000 path at the 20×
# lake).
# ---------------------------------------------------------------------------

D17_BLOCK = 100


def d17_cc_star_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.components import (
        canonicalize_duplicates,
        cc_star,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    nxt = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    edges = nxt.filter(F.col("src") % D17_BLOCK != D17_BLOCK - 1).join(
        docs.withColumnRenamed("doc_id", "dst"), "dst", "left_semi"
    )
    comp = cc_star(edges, "src", "dst")
    return canonicalize_duplicates(docs, comp).select(
        "doc_id", "cluster_id", "is_canonical"
    )


D17_SQL = f"""
WITH flags AS (
  SELECT doc_id,
         CASE WHEN lag(doc_id) OVER (ORDER BY doc_id) = doc_id - 1
               AND doc_id % {D17_BLOCK} <> 0 THEN 0 ELSE 1 END AS brk
  FROM documents
),
runs AS (
  SELECT doc_id, sum(brk) OVER (ORDER BY doc_id) AS run_id FROM flags
),
comp AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY run_id) AS cmin,
         count(*) OVER (PARTITION BY run_id) AS n_run
  FROM runs
)
SELECT doc_id,
       CASE WHEN n_run > 1 THEN cmin ELSE doc_id END AS cluster_id,
       doc_id = CASE WHEN n_run > 1 THEN cmin ELSE doc_id END AS is_canonical
FROM comp
"""


QUERIES = {
    "d1_exact_dedup": d1_exact_dedup,
    "d2_ngram_jaccard": d2_ngram_jaccard,
    "d3_minhash_lsh": d3_minhash_lsh,
    "d4_simhash": d4_simhash,
    "d6_dedup_components": d6_dedup_components,
    "d9_substring_dedup": d9_substring_dedup,
    "d11_sorted_neighborhood": d11_sorted_neighborhood,
    "d13_sparse_cosine_join": d13_sparse_cosine_join,
    "d14_containment_join": d14_containment_join,
    "d15_paragraph_dedup": d15_paragraph_dedup,
    "d16_paragraph_dedup_delim": d16_paragraph_dedup_delim,
    "d17_cc_star_chain": d17_cc_star_chain,
    "d18_paragraph_near_dedup": d18_paragraph_near_dedup,
    "e7_dedup_audit": e7_dedup_audit,
    "e10_leakage_safe_split": e10_leakage_safe_split,
    "e11_cluster_canonical": e11_cluster_canonical,
}

ORACLES = {
    "d1_exact_dedup": D1_SQL,
    "d2_ngram_jaccard": D2_SQL,
    "d3_minhash_lsh": D3_SQL,
    "d4_simhash": D4_SQL,
    "d6_dedup_components": D6_SQL,
    "d9_substring_dedup": D9_SQL,
    "d11_sorted_neighborhood": D11_SQL,
    "d13_sparse_cosine_join": D13_SQL,
    "d14_containment_join": D14_SQL,
    "d15_paragraph_dedup": D15_SQL,
    "d16_paragraph_dedup_delim": D16_SQL,
    "d17_cc_star_chain": D17_SQL,
    "d18_paragraph_near_dedup": _d18_sql(),
    "e7_dedup_audit": E7_SQL,
    "e10_leakage_safe_split": E10_SQL,
    "e11_cluster_canonical": E11_SQL,
}
