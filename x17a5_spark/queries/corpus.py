"""Corpus-preparation operators — the training-data-pipeline layer on
top of the text/dedup primitives: document chunking (t6), deterministic
stratified train/val/test splitting (t7), and the end-to-end corpus
cleaning composite (e4) that chains lang-ID -> quality filter -> exact
dedup -> per-language stats the way a real pretraining-data build does.

Scale notes (100 TB):
  * t6 is a stateless explode — no shuffle at all; output size is
    bounded by ``~len/stride`` chunks per document.
  * t7 needs one shuffle on the stratum key. Per-stratum ``row_number``
    windows skew when one language dominates a corpus; the hash-order
    invariant means the window can equivalently run per (stratum,
    hash-prefix) shard with offsets composed from shard counts — the
    doc-level assignment here is the semantics contract.
  * e4's only shuffles are the dedup groupBy (map-side combined md5
    fingerprints) and the final tiny per-language aggregate; every
    filter runs scan-side before any exchange.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.text import (
    normalized_fingerprint,
    punct_ratio,
    token_count,
    tokens,
    word_shingles,
)
from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET, guarded_twin_id
from x17a5_spark.queries.textops import STOPWORDS, _hits_sql
from x17a5_spark.tables import load_table
from x17a5_spark.functions.unicode_fold import norm_fp_sql

# the ONE oracle spelling of text.normalized_fingerprint (Unicode-
# folded; identity on the ASCII gate lakes)
_NFP = norm_fp_sql("text")

CHUNK_SIZE = 200
CHUNK_STRIDE = 150


# T6 — overlapping character chunking (the RAG / context-window prep
# step): fixed size, fixed stride, 1-based substring in both engines.
def t6_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((F.length("text") - CHUNK_SIZE) / F.lit(CHUNK_STRIDE)) + 1).cast(
            "int"
        ),
    )
    chunked = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col("text"),
    )
    chunk_text = F.substring(
        "text", F.col("chunk_idx") * CHUNK_STRIDE + 1, F.lit(CHUNK_SIZE)
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("chunk_len"),
    )


T6_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - {CHUNK_SIZE})
                               / {CHUNK_STRIDE}.0) AS INT) + 1) AS n_chunks
  FROM documents
),
e AS (
  SELECT doc_id, text, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM d
)
SELECT doc_id, chunk_idx,
       substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text,
       length(substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
           AS chunk_len
FROM e
"""


# T7 — deterministic stratified train/val/test split: order each
# language stratum by md5(doc_id) (a stable pseudo-random permutation
# both engines compute identically), then cut at exact 80/10/10 row
# boundaries. Reproducible across engines, runs, and partitionings.
def t7_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    n = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(n).alias("n_lang"),
    )
    split = (
        F.when(F.col("rn") <= F.floor(0.8 * F.col("n_lang")), F.lit("train"))
        .when(F.col("rn") <= F.floor(0.9 * F.col("n_lang")), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return ranked.select("doc_id", "lang", F.col("rn").alias("stratum_rank"), split.alias("split"))


T7_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang, rn AS stratum_rank,
       CASE WHEN rn <= floor(0.8 * n_lang) THEN 'train'
            WHEN rn <= floor(0.9 * n_lang) THEN 'val'
            ELSE 'test' END AS split
FROM r
"""


# E4 — the corpus-prep composite: stopword-voting lang-ID keeps docs
# with a confident prediction, the t2 quality score gates at 0.5, exact
# dedup keeps the lowest doc_id per normalized fingerprint, and the
# survivors aggregate to per-language corpus stats. One scan, filters
# before every exchange.
QUALITY_GATE = 0.5


def e4_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # stage both token arrays ONCE per row: the lowered array feeds four
    # per-language hit counts and the raw array feeds n_tokens + the
    # stopword ratio — inlined, each consumer re-ran the split+filter
    # chain (CSE does not fold across higher-order-function lambdas).
    # A multi-referenced non-cheap alias is exempt from CollapseProject,
    # so the arrays genuinely materialize per row (guide §1.2 per-task
    # work; the staged-projection twin discipline of F1).
    docs = docs.select(
        "doc_id",
        "lang",
        "text",
        tokens(F.lower(F.col("text"))).alias("_toks_l"),
        tokens(F.col("text")).alias("_toks"),
    )
    toks_l = F.col("_toks_l")

    def hits(words: list[str]):
        wordlist = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks_l, lambda t: F.array_contains(wordlist, t)))

    hit_cols = {lang: hits(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in ("en", "de", "fr", "es"):
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))

    n_tok = F.size(F.col("_toks"))
    stop_hits_en = F.size(
        F.filter(F.col("_toks"), lambda t: F.lower(t).isin(*STOPWORDS["en"]))
    )
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(stop_hits_en / n_tok)
    quality = (
        0.5 * F.least(F.length("text") / 1000.0, F.lit(1.0))
        + 0.3 * (1.0 - punct_ratio(F.col("text")))
        + 0.2 * stop_ratio
    )

    scored = docs.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        F.round(quality, 6).alias("quality"),
        n_tok.alias("n_tokens"),
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
    ).filter((F.col("pred_lang") != "unknown") & (F.col("quality") >= QUALITY_GATE))

    keep_w = Window.partitionBy("fingerprint").orderBy("doc_id")
    survivors = scored.withColumn("rn", F.row_number().over(keep_w)).filter(
        F.col("rn") == 1
    )
    # avg over micro-unit integers: float summation is partition-order
    # dependent; summing exact 1e-6-grained longs is not
    q_micro = F.round(F.col("quality") * 1e6).cast("long")
    return survivors.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum(q_micro) / F.count("*") / 1e6, 6).alias("avg_quality"),
    )


E4_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN greatest({_hits_sql('en')}, {_hits_sql('de')},
                            {_hits_sql('fr')}, {_hits_sql('es')}) = 0 THEN 'unknown'
              WHEN {_hits_sql('en')} = greatest({_hits_sql('en')}, {_hits_sql('de')},
                            {_hits_sql('fr')}, {_hits_sql('es')}) THEN 'en'
              WHEN {_hits_sql('de')} = greatest({_hits_sql('en')}, {_hits_sql('de')},
                            {_hits_sql('fr')}, {_hits_sql('es')}) THEN 'de'
              WHEN {_hits_sql('fr')} = greatest({_hits_sql('en')}, {_hits_sql('de')},
                            {_hits_sql('fr')}, {_hits_sql('es')}) THEN 'fr'
              ELSE 'es' END AS pred_lang,
         round(0.5 * least(length(text) / 1000.0, 1.0)
               + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                        ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                             / length(text) END)
               + 0.2 * (CASE WHEN len(list_filter(regexp_split_to_array(trim(text),
                             '\\s+'), x -> x <> '')) = 0 THEN 0.0
                        ELSE len(list_filter(list_filter(regexp_split_to_array(
                                 trim(text), '\\s+'), x -> x <> ''),
                                 x -> list_contains({"['" + "', '".join(STOPWORDS["en"]) + "']"}, lower(x))))
                             / len(list_filter(regexp_split_to_array(trim(text),
                                 '\\s+'), x -> x <> '')) END), 6) AS quality,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
             AS n_tokens,
         {_NFP} AS fingerprint
  FROM documents
),
gated AS (
  SELECT * FROM scored
  WHERE pred_lang <> 'unknown' AND quality >= {QUALITY_GATE}
),
survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
)
SELECT lang, pred_lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(CAST(round(quality * 1e6) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e6, 6) AS avg_quality
FROM survivors
GROUP BY lang, pred_lang
"""


# K7 — sequence packing: greedy first-fit-in-order token binning per
# source (operators/packing.py kernel). The oracle expresses the same
# linear recursion as a DuckDB recursive CTE over row_number-chained
# rows — the kernel's stateful scan is SQL-checkable, not rows-only.
PACK_BUDGET = 512


def k7_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        with_tokens, PACK_BUDGET, group_col="source", order_col="doc_id"
    )


K7_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
r AS (
  SELECT source, rn, doc_id, n_tokens,
         CAST(0 AS INT) AS bin_id, n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
         CAST(CASE WHEN r.bin_fill + t.n_tokens <= {PACK_BUDGET}
                   THEN r.bin_id ELSE r.bin_id + 1 END AS INT),
         CAST(CASE WHEN r.bin_fill + t.n_tokens <= {PACK_BUDGET}
                   THEN r.bin_fill + t.n_tokens ELSE t.n_tokens END AS INT)
  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1
)
SELECT doc_id, source AS group_key, n_tokens, bin_id, bin_fill FROM r
"""


# K8 — SHARDED sequence packing: the 100 TB form of k7. Packing per
# (source, doc_id % 4) bounds every pandas group regardless of how hot
# one source is; bin_id = local_bin * n_shards + shard keeps window ids
# disjoint per source. The oracle runs the identical recursion
# partitioned by (source, shard), so the hash row proves the sharded
# kernel — not just the single-group path — end to end.
PACK_SHARDS = 4


def k8_sequence_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        with_tokens,
        PACK_BUDGET,
        group_col="source",
        order_col="doc_id",
        n_shards=PACK_SHARDS,
    )


K8_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY source, doc_id % {PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
r AS (
  SELECT source, shard, rn, doc_id, n_tokens,
         CAST(0 AS INT) AS local_bin, n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.rn, t.doc_id, t.n_tokens,
         CAST(CASE WHEN r.bin_fill + t.n_tokens <= {PACK_BUDGET}
                   THEN r.local_bin ELSE r.local_bin + 1 END AS INT),
         CAST(CASE WHEN r.bin_fill + t.n_tokens <= {PACK_BUDGET}
                   THEN r.bin_fill + t.n_tokens ELSE t.n_tokens END AS INT)
  FROM r JOIN t ON t.source = r.source AND t.shard = r.shard
              AND t.rn = r.rn + 1
)
SELECT doc_id, source AS group_key, n_tokens,
       CAST(local_bin * {PACK_SHARDS} + shard AS INT) AS bin_id, bin_fill
FROM r
"""


# ---------------------------------------------------------------------------
# T16 — deterministic epoch shuffle (training-order randomization).
#
# Each training epoch needs the corpus in a fresh pseudo-random order,
# reproducibly (resume-after-preemption must replay the identical
# order). A global sort by random key is the naive spelling; at 100 TB
# the scale-correct shape is hash-sharding: shard = md5(seed, doc_id)
# mod S routes each doc to a shard (one hash exchange, no sampling or
# range estimation), and the within-shard order is a per-shard
# row_number over the same hash — S independent sorts of corpus/S rows
# running in parallel, which is exactly how training-data loaders
# consume shards. Changing the seed literal re-permutes everything;
# same seed -> bit-identical order on any partitioning.
# ---------------------------------------------------------------------------

T16_SHARDS = 8
T16_SEED = 17


def t16_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit(f"epoch:{T16_SEED}:"), F.col("doc_id")))
    hashed = docs.withColumn("h", h).withColumn(
        "shard",
        F.pmod(F.conv(F.substring("h", 1, 15), 16, 10).cast("long"), F.lit(T16_SHARDS)),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        hashed.withColumn("position", F.row_number().over(w))
        .select(F.col("shard").cast("int").alias("shard"), "position", "doc_id")
    )


T16_SQL = f"""
WITH hashed AS (
  SELECT doc_id, md5('epoch:{T16_SEED}:' || doc_id) AS h FROM documents
)
SELECT CAST(CAST('0x' || h[1:15] AS BIGINT) % {T16_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY CAST('0x' || h[1:15] AS BIGINT) % {T16_SHARDS}
         ORDER BY h, doc_id) AS INT) AS position,
       doc_id
FROM hashed
"""



# ---------------------------------------------------------------------------
# E5 — incremental corpus ingestion with dedup against the EXISTING
# corpus (the production shape of d1+d3: new batches must not re-ingest
# what the lake already holds). Staged by cost:
#   1. exact rejection — anti-join the batch's normalized fingerprints
#      against the existing corpus' fingerprint set (one narrow column;
#      at 100 TB this is a join against the maintained fingerprint
#      INDEX, not the corpus);
#   2. near-dup rejection — only fingerprint-novel batch docs shingle;
#      each blocks on its P rarest existing-index shingles (df-capped,
#      d13's prefix discipline — candidates <= P * E5_DF_CAP per batch
#      doc regardless of corpus size), and a blocked batch doc dies
#      when a candidate existing doc covers >= half its shingles
#      (integer containment — no float threshold drift);
#   3. everything else ingests.
# The batch is synthesized deterministically: genuinely-new docs
# (doc_id % 3 == 0 held out of "existing"), exact copies
# (+3*AUG_TWIN_OFFSET ids), and 90%-token near-copies
# (+2*AUG_TWIN_OFFSET ids; defaults 300000/200000) — so every
# verdict class is exercised and the oracle mirrors it closed-form.
# Only BATCH-side shingle mass plus a bounded candidate set ever
# shuffles; the existing index is probe-only (df stats + semi-joined
# postings), which is what makes the pattern incremental.
# ---------------------------------------------------------------------------


E5_PREFIX = 4  # each batch doc blocks on its P existing-rarest shingles
E5_DF_CAP = 64  # shingles hotter than this in the existing index never block


def blocked_candidates(shb: DataFrame, she: DataFrame) -> DataFrame:
    """Bounded (b_id, e_id) candidate pairs from shingle tables.

    d13's prefix-blocking discipline applied to the incremental case:
    df is computed on the EXISTING index only, each batch doc blocks on
    its ``E5_PREFIX`` rarest existing-present shingles, and shingles
    hotter than ``E5_DF_CAP`` never block — so the join emits at most
    P * DF_CAP pairs per batch doc no matter how hot a stop-phrase
    shingle is in either table.

    RECALL CONTRACT (stated explicitly): rejection
    is GUARANTEED only for subset-shingle near-copies — a batch doc
    whose shingles are a subset of one existing doc's (the planted
    exact/90%-truncation classes) always blocks into its source,
    because every blocking shingle it has hits that source. For
    arbitrary near-dups the bound can in principle lose a pair whose
    shared shingles are all hotter than E5_DF_CAP or outside the P
    rarest; tests/test_maintenance.py::
    test_e5_blocked_equals_exhaustive_rejections measures the blocked
    vs exhaustive rejection sets on real testdata (equal at sf0.001 —
    recall 1.0), and the knobs if a corpus ever shows a gap are
    E5_PREFIX / a df-cap scaled to the index size.
    """
    dfe = she.groupBy("shingle").agg(F.count("*").alias("df"))
    pw = Window.partitionBy("b_id").orderBy(F.col("df").asc(), F.col("shingle"))
    prefix = (
        shb.join(dfe, "shingle")
        .filter(F.col("df") <= E5_DF_CAP)
        .withColumn("_pk", F.row_number().over(pw))
        .filter(F.col("_pk") <= E5_PREFIX)
        .select("b_id", "shingle")
    )
    return prefix.join(she, "shingle").select("b_id", "e_id").distinct()


def e5_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    toks = tokens(F.col("text"))
    keep = F.greatest(F.floor(F.size(toks) * 9 / 10).cast("int"), F.lit(1))
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            existing.filter(F.col("doc_id") % 5 == 0).select(
                guarded_twin_id(F.col("doc_id"), 2, "e5").alias("doc_id"),
                F.concat_ws(" ", F.slice(toks, 1, keep)).alias("text"),
            )
        )
        .unionByName(
            existing.filter(F.col("doc_id") % 7 == 0).select(
                guarded_twin_id(F.col("doc_id"), 3, "e5").alias("doc_id"),
                "text",
            )
        )
    )

    # bfp feeds the exact-dup semi join, the novel anti join AND
    # (through batch) the final verdict attach — un-persisted, the
    # twin-construction token slicing and the Unicode-fold fingerprint
    # re-ran per reference. Persist the
    # batch-with-fingerprint table once (batch-sized, the incremental
    # ingest's own working set).
    # Duplicated subtrees: the exact-dup SEMI join
    # and the novel ANTI join are complementary splits of the same
    # batch-vs-existing fingerprint probe, but as two joins each
    # re-derived the existing-corpus side — the ~40-replace Unicode
    # fold over 2/3 of the corpus plus its distinct ran TWICE per
    # execution. One left join against the distinct existing-fp set
    # with a hit marker computes both splits in one pass (at most one
    # match per row because efp is distinct, so no multiplication);
    # the persisted table moves from bfp to the tagged join output so
    # every downstream reader still hits one cache.
    efp = (
        existing.select(normalized_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tagged = (
        batch.select(
            "doc_id", "text", normalized_fingerprint(F.col("text")).alias("fp")
        ).join(efp, "fp", "left")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    exact_dup = tagged.filter(F.col("_hit").isNotNull()).select("doc_id")
    novel = tagged.filter(F.col("_hit").isNull())

    def shingle(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(idc),
            F.explode(F.array_distinct(word_shingles(F.col("text"), 3))).alias(
                "shingle"
            ),
        )

    # both shingle tables are read by multiple stages (batch side: size
    # stats + prefix + confirm; existing side: df stats + candidate
    # probe + confirm) — persist instead of re-exploding per reader. In
    # production the existing-corpus index is a PRE-MATERIALIZED stage
    # table; this persist is its bench-scale stand-in.
    shb = shingle(novel, "b_id").persist(StorageLevel.MEMORY_AND_DISK)
    she = shingle(existing, "e_id").persist(StorageLevel.MEMORY_AND_DISK)
    n_sh = shb.groupBy("b_id").agg(F.count("*").alias("n_sh"))
    # Bounded candidate generation (d13's prefix-blocking discipline,
    # dedup.py): raw `shb JOIN she ON shingle` is quadratic on a hot
    # shingle — one stop-phrase present in M existing and K batch docs
    # emits K*M join rows before the groupBy. Instead each batch doc
    # blocks on its P existing-RAREST shingles (df computed on the
    # existing index; df > E5_DF_CAP never blocks), so candidates are
    # <= P * E5_DF_CAP per batch doc INDEPENDENT of corpus size. A
    # 90%-token near-copy's shingles are a subset of its source's, so
    # every blocking shingle it has necessarily hits the source doc —
    # recall for the planted class is structural, not probabilistic.
    cand = blocked_candidates(shb, she)
    # containment confirmed ONLY for blocked pairs: semi-join prunes
    # the existing index to candidate docs, then the shared-shingle
    # count is an equi-join on (e_id, shingle) — output bounded by
    # |cand| * shingles-per-batch-doc, never by corpus size.
    she_c = she.join(cand.select("e_id").distinct(), "e_id", "left_semi")
    shared = (
        cand.join(shb, "b_id")
        .join(she_c, ["e_id", "shingle"])
        .groupBy("b_id", "e_id")
        .agg(F.count("*").alias("n_shared"))
    )
    near_dup = (
        shared.join(n_sh, "b_id")
        .filter(F.col("n_shared") * 2 >= F.col("n_sh"))
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    verdicts = (
        exact_dup.select("doc_id", F.lit("exact_dup").alias("verdict"))
        .unionByName(near_dup.select("doc_id", F.lit("near_dup").alias("verdict")))
    )
    # read the id list off the persisted tagged table rather than
    # re-deriving the batch union a fourth time (same doc_id set by
    # construction)
    return tagged.select("doc_id").join(verdicts, "doc_id", "left").select(
        "doc_id", F.coalesce("verdict", F.lit("ingested")).alias("verdict")
    )


_E5_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"

E5_SQL = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
existing AS (SELECT * FROM docs WHERE doc_id % 3 <> 0),
batch AS (
  SELECT doc_id, text FROM docs WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {2 * AUG_TWIN_OFFSET},
         array_to_string(toks[1 : greatest(CAST(floor(len(toks) * 9 / 10) AS INT), 1)], ' ')
  FROM (SELECT doc_id, {_E5_TOKS} AS toks, text FROM existing) WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + {3 * AUG_TWIN_OFFSET}, text FROM existing WHERE doc_id % 7 = 0
),
efp AS (SELECT DISTINCT {_NFP} AS fp
        FROM existing),
bfp AS (SELECT doc_id, text,
               {_NFP} AS fp
        FROM batch),
exact_dup AS (SELECT doc_id FROM bfp WHERE fp IN (SELECT fp FROM efp)),
novel AS (SELECT doc_id, text FROM bfp WHERE fp NOT IN (SELECT fp FROM efp)),
shb AS (
  SELECT doc_id AS b_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         AS shingle
  FROM (SELECT doc_id, {_E5_TOKS} AS toks FROM novel)
),
she AS (
  SELECT doc_id AS e_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         AS shingle
  FROM (SELECT doc_id, {_E5_TOKS} AS toks FROM existing)
),
n_sh AS (SELECT b_id, count(*) AS n_sh FROM shb GROUP BY 1),
dfe AS (SELECT shingle, count(*) AS df FROM she GROUP BY 1),
prefix AS (
  SELECT b_id, shingle FROM (
    SELECT shb.b_id, shb.shingle,
           row_number() OVER (PARTITION BY shb.b_id
                              ORDER BY dfe.df ASC, shb.shingle) AS pk
    FROM shb JOIN dfe USING (shingle)
    WHERE dfe.df <= {E5_DF_CAP}
  ) WHERE pk <= {E5_PREFIX}
),
cand AS (
  SELECT DISTINCT p.b_id, she.e_id FROM prefix p JOIN she USING (shingle)
),
near_dup AS (
  SELECT DISTINCT s.b_id AS doc_id
  FROM (SELECT c.b_id, c.e_id, count(*) AS n_shared
        FROM cand c
        JOIN shb ON shb.b_id = c.b_id
        JOIN she ON she.e_id = c.e_id AND she.shingle = shb.shingle
        GROUP BY 1, 2) s
  JOIN n_sh USING (b_id)
  WHERE s.n_shared * 2 >= n_sh.n_sh
)
SELECT b.doc_id,
       CASE WHEN b.doc_id IN (SELECT doc_id FROM exact_dup) THEN 'exact_dup'
            WHEN b.doc_id IN (SELECT doc_id FROM near_dup) THEN 'near_dup'
            ELSE 'ingested' END AS verdict
FROM batch b
"""



# ---------------------------------------------------------------------------
# K9 — concat-then-chunk sequence packing (the GPT-style alternative to
# k7/k8's first-fit binning): documents are concatenated in a
# deterministic shuffled order and the token stream is cut into
# fixed-length sequences, SPLITTING documents at chunk boundaries —
# zero padding waste by construction. Fully declarative: a per-shard
# running-sum window gives each doc its [start, end) token interval,
# and the sequences a doc spans are pure integer arithmetic on that
# interval. One window per md5-shard (t16's hash-sharding, so no
# global sort), no kernel, no iteration — contrast with k7's greedy
# first-fit, which cannot split docs and needs the sequential kernel.
# Output: one row per document with its chunk placement; a doc spans
# floor(end/L) - floor(start/L) + 1 sequences (boundaries included).
# ---------------------------------------------------------------------------

K9_SEQ_LEN = 512
K9_SHARDS = 8


def k9_concat_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("chunk:"), F.col("doc_id"))).alias("h"),
        token_count("text").alias("n_tokens"),
    ).withColumn(
        "shard", F.pmod(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"), F.lit(K9_SHARDS)).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long").alias("start_tok"),
    ).withColumn("end_tok", F.col("start_tok") + F.col("n_tokens"))
    return placed.select(
        "doc_id",
        "shard",
        "start_tok",
        F.floor(F.col("start_tok") / K9_SEQ_LEN).cast("long").alias("first_seq"),
        F.floor((F.col("end_tok") - 1) / K9_SEQ_LEN).cast("long").alias("last_seq"),
        (
            F.floor((F.col("end_tok") - 1) / K9_SEQ_LEN)
            - F.floor(F.col("start_tok") / K9_SEQ_LEN)
            + 1
        ).cast("long").alias("n_seqs_spanned"),
    )


K9_SQL = f"""
WITH base AS (
  SELECT doc_id, md5('chunk:' || doc_id) AS h,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
sharded AS (
  SELECT doc_id, h, n_tokens,
         CAST(CAST('0x' || h[1:8] AS BIGINT) % {K9_SHARDS} AS INT) AS shard
  FROM base
),
placed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM sharded
)
SELECT doc_id, shard, start_tok,
       CAST(floor(start_tok / {K9_SEQ_LEN}) AS BIGINT) AS first_seq,
       CAST(floor((start_tok + n_tokens - 1) / {K9_SEQ_LEN}) AS BIGINT) AS last_seq,
       CAST(floor((start_tok + n_tokens - 1) / {K9_SEQ_LEN})
            - floor(start_tok / {K9_SEQ_LEN}) + 1 AS BIGINT) AS n_seqs_spanned
FROM placed
"""



# ---------------------------------------------------------------------------
# E6 — the corpus-curation FUNNEL: the entire training-data pipeline as
# one DAG, reported as kept-counts per (stage, source) — the LLM-corpus
# generalization of the reference's funnel-count validation
# (Full_process_failings.ipynb cells 9-27: files surviving each stage,
# counted and compared). Stages, in production order:
#   raw      -> every document
#   lang     -> stopword-voting language ID != unknown  (t3)
#   quality  -> composite score >= 0.5                  (t2)
#   dedup    -> exact-dup canonical survivors           (d1, keep min id)
#   decontam -> eval docs held out + bigram-containment
#               contaminated docs dropped               (t11)
#   quota    -> per-source cap, deterministic md5 order (d10, with the
#               count-adaptive bottom-k pre-filter so hot sources never
#               enter the window sort)
# Each stage filters the previous stage's survivors, so the counts are
# monotone per source; the funnel runs as repeated aggregations over
# one cached scored base (at 100 TB: a persisted silver table).
# ---------------------------------------------------------------------------

E6_QUOTA = 40


def e6_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout considered and REJECTED by A/B: the funnel
    # head looks map-heavy (per-language token filters fused into a
    # row-group-starved scan, ~1.9 s on one task), but base.persist()
    # amortizes that single computation across all six stage branches,
    # while fanout=True re-shuffles the full text column and doubled
    # warm wall (3.6 -> 7.8 s). The cache, not the scan, is the hot
    # path here.
    docs = load_table(spark, sf_dir, "documents")
    toks_l = tokens(F.lower(F.col("text")))

    def hits(words):
        wordlist = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks_l, lambda t: F.array_contains(wordlist, t)))

    hit_cols = {lang: hits(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in ("en", "de", "fr", "es"):
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))
    n_tok = token_count("text")
    stop_hits_en = F.size(
        F.filter(tokens(F.col("text")), lambda t: F.lower(t).isin(*STOPWORDS["en"]))
    )
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(stop_hits_en / n_tok)
    quality = (
        0.5 * F.least(F.length("text") / 1000.0, F.lit(1.0))
        + 0.3 * (1.0 - punct_ratio(F.col("text")))
        + 0.2 * stop_ratio
    )
    base = docs.select(
        "doc_id",
        "source",
        "text",
        pred.alias("pred_lang"),
        quality.alias("quality"),
        normalized_fingerprint(F.col("text")).alias("fp"),
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.md5(F.concat(F.lit("quota:"), F.col("doc_id"))).alias("h"),
    )
    base = base.persist(StorageLevel.MEMORY_AND_DISK)

    # decontamination: bigram containment vs the eval split (t11)
    grams = base.select(
        "doc_id", "is_eval", F.explode(word_shingles(F.col("text"), 2)).alias("gram")
    )
    eval_grams = grams.filter(F.col("is_eval")).select("gram").distinct()
    train_grams = grams.filter(~F.col("is_eval"))
    # Aggregate before you shuffle, and do not duplicate subtrees: tg
    # and cg as TWO aggregations over the exploded train-gram stream
    # (plus a join to recombine) run the corpus-sized shingle explode
    # twice per execution. One left join against the broadcast eval set marks
    # each gram occurrence, and a single groupBy folds both counts —
    # cg = count of non-null markers reproduces the inner-join
    # multiplicity exactly (eval_grams is distinct), and a doc with no
    # eval hit gets cg=0 → cfrac 0.0, identical to the old
    # null-coalesce path.
    frac = (
        train_grams.join(
            F.broadcast(eval_grams.withColumn("_hit", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("tg"), F.count("_hit").alias("cg"))
        .select(
            "doc_id",
            (F.col("cg") / F.col("tg")).alias("cfrac"),
        )
    )
    # The a27/v1 fold at funnel grain: as SIX aggregate branches
    # unioned, the six per-stage counts each re-derive their whole
    # chain from the cached base — the fp keep-first window runs 3x,
    # the decontamination join (and its corpus-sized gram explode) 2x,
    # the quota windows once each. The survival of a row at every
    # stage is expressible as CUMULATIVE
    # per-row flags in ONE pass, so the chain now runs exactly once and
    # one groupBy(source) folds all six counts (exploded in place as
    # (stage, n_kept) structs). Flag identities, each proven against
    # the old filter chain:
    #   c3 keep-first == c2 AND doc_id == min(doc_id among c2) over fp
    #     (row_number==1 ordered by the unique doc_id == the min);
    #   c5 quota rank == running count of qualifying rows over the SAME
    #     (h, doc_id) total order the old row_number sorted by.
    u = F.conv(F.substring("h", 1, 15), 16, 10).cast("double") / F.lit(float(1 << 60))
    c1 = F.col("pred_lang") != "unknown"
    c2 = c1 & (F.col("quality") >= QUALITY_GATE)
    fp_w = Window.partitionBy("fp")
    first_c2 = F.min(F.when(c2, F.col("doc_id"))).over(fp_w)
    flagged = (
        base.withColumn("_c2", c2)
        .withColumn("_c3", c2 & (F.col("doc_id") == first_c2))
        .join(frac, "doc_id", "left")
        .withColumn(
            "_c4",
            F.col("_c3")
            & ~F.col("is_eval")
            & (F.coalesce("cfrac", F.lit(0.0)) <= 0.8),
        )
    )
    src_w = Window.partitionBy("source")
    ord_w = Window.partitionBy("source").orderBy("h", "doc_id")
    n_src = F.sum(F.col("_c4").cast("long")).over(src_w)
    pre = F.col("_c4") & (
        u <= F.least(F.lit(1.0), F.lit(4.0 * E6_QUOTA) / n_src)
    )
    crk = F.sum(F.when(pre, F.lit(1)).otherwise(F.lit(0))).over(ord_w)
    flagged = flagged.withColumn("_c5", pre & (crk <= E6_QUOTA))
    per_src = flagged.groupBy("source").agg(
        F.count("*").alias("n1"),
        F.sum(c1.cast("long")).alias("n2"),
        F.sum(F.col("_c2").cast("long")).alias("n3"),
        F.sum(F.col("_c3").cast("long")).alias("n4"),
        F.sum(F.col("_c4").cast("long")).alias("n5"),
        F.sum(F.col("_c5").cast("long")).alias("n6"),
    )
    names = ["1_raw", "2_lang", "3_quality", "4_dedup", "5_decontam", "6_quota"]
    entries = [
        F.struct(F.lit(nm).alias("stage"), F.col(f"n{i}").alias("n_kept"))
        for i, nm in enumerate(names, start=1)
    ]
    # the oracle's per-stage GROUP BY emits no row for a stage a source
    # does not survive to
    return (
        per_src.select("source", F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.n_kept") > 0)
        .select("e.stage", "source", "e.n_kept")
    )


def _e6_sql() -> str:
    en = "['" + "', '".join(STOPWORDS["en"]) + "']"
    hits = {
        lang: (
            f"len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)),"
            f" '\\s+'), x -> x <> ''), x -> list_contains(['"
            + "', '".join(words)
            + "'], x)))"
        )
        for lang, words in STOPWORDS.items()
    }
    g = "greatest(hits_en, hits_de, hits_fr, hits_es)"
    return f"""
WITH scored AS (
  SELECT doc_id, source, text,
         {hits["en"]} AS hits_en, {hits["de"]} AS hits_de,
         {hits["fr"]} AS hits_fr, {hits["es"]} AS hits_es,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
             AS n_tok,
         len(list_filter(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     x -> x <> ''),
                         x -> list_contains({en}, lower(x)))) AS stop_hits,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)
         END AS pr,
         {_NFP} AS fp,
         (doc_id % 97 = 0) AS is_eval,
         md5('quota:' || doc_id) AS h
  FROM documents
),
base AS (
  SELECT *,
         CASE WHEN {g} = 0 THEN 'unknown'
              WHEN hits_en = {g} THEN 'en'
              WHEN hits_de = {g} THEN 'de'
              WHEN hits_fr = {g} THEN 'fr'
              ELSE 'es' END AS pred_lang,
         0.5 * least(length(text) / 1000.0, 1.0) + 0.3 * (1.0 - pr)
             + 0.2 * (CASE WHEN n_tok = 0 THEN 0.0
                           ELSE stop_hits / n_tok END) AS quality
  FROM scored
),
s1 AS (SELECT * FROM base WHERE pred_lang <> 'unknown'),
s2 AS (SELECT * FROM s1 WHERE quality >= {QUALITY_GATE}),
s3 AS (SELECT * FROM s2 QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM (SELECT doc_id, is_eval,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')
                   AS toks
        FROM base)
  WHERE len(toks) >= 2
),
ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
frac AS (
  SELECT t.doc_id,
         coalesce(sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END), 0)
             / count(*) AS cfrac
  FROM (SELECT doc_id, gram FROM grams WHERE NOT is_eval) t
  LEFT JOIN ev ON t.gram = ev.gram
  GROUP BY 1
),
s4 AS (
  SELECT s3.* FROM s3 LEFT JOIN frac USING (doc_id)
  WHERE NOT s3.is_eval AND coalesce(frac.cfrac, 0.0) <= 0.8
),
counts AS (SELECT source, count(*) AS n_src FROM s4 GROUP BY 1),
s5 AS (
  SELECT * FROM (
    SELECT s4.*, row_number() OVER (PARTITION BY s4.source ORDER BY s4.h, s4.doc_id)
               AS rk
    FROM s4 JOIN counts USING (source)
    WHERE CAST('0x' || s4.h[1:15] AS BIGINT) / {float(1 << 60)}
          <= least(1.0, {4.0 * E6_QUOTA} / counts.n_src)
  ) WHERE rk <= {E6_QUOTA}
)
SELECT '1_raw' AS stage, source, count(*) AS n_kept FROM base GROUP BY 2
UNION ALL SELECT '2_lang', source, count(*) FROM s1 GROUP BY 2
UNION ALL SELECT '3_quality', source, count(*) FROM s2 GROUP BY 2
UNION ALL SELECT '4_dedup', source, count(*) FROM s3 GROUP BY 2
UNION ALL SELECT '5_decontam', source, count(*) FROM s4 GROUP BY 2
UNION ALL SELECT '6_quota', source, count(*) FROM s5 GROUP BY 2
"""


E6_SQL = _e6_sql()


# ---------------------------------------------------------------------------
# K10 — curriculum ordering: the training-order family's third member
# (t16 = uniform epoch shuffle, k7-k9 = packing, k10 = quality-phased
# curriculum). Docs are bucketed into phases by FIXED quality
# thresholds (easy/high-quality first — fixed cutoffs, not ntile: a
# global ntile is a full sort, and fixed cutoffs are also what makes
# incremental re-runs stable when new data arrives), then shuffled
# deterministically WITHIN each (phase, shard) by the t16 md5 order.
# Training reads phases in order, shards in parallel.
#
# Scale: one stateless scoring scan + one window per (phase, shard) —
# S * P independent small sorts, never a global one.
# ---------------------------------------------------------------------------

K10_SHARDS = 8
K10_SEED = 17
K10_CUTS = (0.55, 0.45)  # quality >= .55 -> phase 0; >= .45 -> 1; else 2


def k10_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    q = F.size(F.array_distinct(toks)) / F.size(toks)
    phase = (
        F.when(q >= K10_CUTS[0], 0).when(q >= K10_CUTS[1], 1).otherwise(2)
    )
    h = F.md5(F.concat(F.lit(f"cur:{K10_SEED}:"), F.col("doc_id")))
    hashed = docs.select(
        "doc_id",
        F.round(q, 6).alias("quality"),
        phase.cast("int").alias("phase"),
        h.alias("h"),
    ).withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long"),
            F.lit(K10_SHARDS),
        ).cast("int"),
    )
    w = Window.partitionBy("phase", "shard").orderBy("h", "doc_id")
    return hashed.withColumn(
        "position", F.row_number().over(w)
    ).select("doc_id", "quality", "phase", "shard", "position")


_K10_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"

K10_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         len(list_distinct({_K10_TOKS}))
           / CAST(len({_K10_TOKS}) AS DOUBLE) AS q,
         md5('cur:{K10_SEED}:' || doc_id) AS h
  FROM documents
),
phased AS (
  SELECT doc_id, round(q, 6) AS quality,
         CAST(CASE WHEN q >= {K10_CUTS[0]} THEN 0
                   WHEN q >= {K10_CUTS[1]} THEN 1 ELSE 2 END AS INT) AS phase,
         h,
         CAST(CAST('0x' || h[1:15] AS BIGINT) % {K10_SHARDS} AS INT) AS shard
  FROM scored
)
SELECT doc_id, quality, phase, shard,
       CAST(row_number() OVER (PARTITION BY phase, shard ORDER BY h, doc_id)
            AS INT) AS position
FROM phased
"""


# ---------------------------------------------------------------------------
# E9 — training-data manifest: the capstone composite that hands a
# corpus to the trainer. Chains the corpus-curation layers end to end —
# t23's quality-weighted importance sampling decides WHO trains,
# k10's fixed-cutoff curriculum decides WHEN (phase) and WHERE
# (shard), e8's frozen-merge BPE apply decides HOW MANY pieces — and
# reports per (phase, shard): docs, words, pieces, packed sequence
# count (k9 arithmetic) and fertility. Every stage is the same
# closed-form spelling its standalone operator uses, so the oracle
# checks the full composition, not just the parts.
#
# Scale: sampling/phase/shard are stateless scan expressions; the BPE
# piece table is vocab-bounded (distinct words); the manifest is one
# (phase, shard) aggregation — nothing new shuffles beyond the
# standalone stages.
# ---------------------------------------------------------------------------


def e9_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.queries.filtering import T23_FLOOR, _TWO60
    from x17a5_spark.queries.textops import E8_MERGES, E8_SEQ_LEN

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    q = F.size(F.array_distinct(toks)) / F.size(toks)
    p = F.greatest(q * q, F.lit(T23_FLOOR))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(_TWO60)
    )
    phase = (
        F.when(q >= K10_CUTS[0], 0).when(q >= K10_CUTS[1], 1).otherwise(2)
    ).cast("int")
    h = F.md5(F.concat(F.lit(f"cur:{K10_SEED}:"), F.col("doc_id")))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(K10_SHARDS)
    ).cast("int")
    kept = docs.filter(u < p).select(
        "doc_id", "text", phase.alias("phase"), shard.alias("shard")
    )
    # e8's finding applied here: occ feeds the vocab
    # distinct AND the per-doc piece rollup — un-persisted, the
    # kept-filter + corpus explode + groupBy subtree executed twice.
    occ = (
        kept.select(
            "doc_id",
            "phase",
            "shard",
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
        .groupBy("doc_id", "phase", "shard", "word")
        .agg(F.count("*").alias("n_occ"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = occ.select("word").distinct()
    sym = F.array_join(F.filter(F.split("word", ""), lambda c: c != ""), " ")
    for a, b in E8_MERGES:
        sym = F.replace(sym, F.lit(f"{a} {b}"), F.lit(a + b))
    pieces = vocab.select(
        "word", F.size(F.split(sym, " ")).alias("ppw")
    )
    per_doc = (
        occ.join(pieces, "word")
        .groupBy("doc_id", "phase", "shard")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("ppw")).cast("long").alias("n_pieces"),
        )
    )
    return (
        per_doc.groupBy("phase", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_pieces").cast("long").alias("total_pieces"),
            F.sum(F.ceil(F.col("n_pieces") / E8_SEQ_LEN))
            .cast("long")
            .alias("n_sequences"),
        )
        .select(
            "phase",
            "shard",
            "n_docs",
            "total_words",
            "total_pieces",
            "n_sequences",
            F.round(F.col("total_pieces") / F.col("total_words"), 6).alias(
                "fertility"
            ),
        )
    )


def _e9_sql() -> str:
    from x17a5_spark.queries.filtering import T23_FLOOR, _TWO60
    from x17a5_spark.queries.textops import E8_SEQ_LEN, _e8_sym_sql

    toks = _K10_TOKS
    return f"""
WITH scored AS (
  SELECT doc_id, text,
         len(list_distinct({toks})) / CAST(len({toks}) AS DOUBLE) AS q,
         CAST('0x' || md5(CAST(doc_id AS VARCHAR))[1:15] AS BIGINT)
           / {_TWO60} AS u,
         md5('cur:{K10_SEED}:' || doc_id) AS h
  FROM documents
),
kept AS (
  SELECT doc_id, text,
         CAST(CASE WHEN q >= {K10_CUTS[0]} THEN 0
                   WHEN q >= {K10_CUTS[1]} THEN 1 ELSE 2 END AS INT) AS phase,
         CAST(CAST('0x' || h[1:15] AS BIGINT) % {K10_SHARDS} AS INT) AS shard
  FROM scored
  WHERE u < greatest(q * q, {T23_FLOOR})
),
occ AS (
  SELECT doc_id, phase, shard, word, count(*) AS n_occ
  FROM (SELECT doc_id, phase, shard,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                                                        '\\s+'),
                                  t -> t <> '')) AS word
        FROM kept)
  GROUP BY 1, 2, 3, 4
),
vocab AS (SELECT DISTINCT word FROM occ),
pieces AS (
  SELECT word, len(string_split({_e8_sym_sql()}, ' ')) AS ppw FROM vocab
),
per_doc AS (
  SELECT o.doc_id, o.phase, o.shard,
         CAST(sum(o.n_occ) AS BIGINT) AS n_words,
         CAST(sum(o.n_occ * p.ppw) AS BIGINT) AS n_pieces
  FROM occ o JOIN pieces p USING (word)
  GROUP BY 1, 2, 3
)
SELECT phase, shard,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
       CAST(sum(CAST(ceil(n_pieces / {E8_SEQ_LEN}.0) AS BIGINT)) AS BIGINT)
           AS n_sequences,
       round(sum(n_pieces) / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
FROM per_doc
GROUP BY 1, 2
"""


E9_SQL = _e9_sql()



# ---------------------------------------------------------------------------
# K11 — length-banded inference batching (padding-waste minimization).
#
# The SERVING-side twin of k7's training-side packing: batched
# inference pads every sequence in a batch to the batch max, so
# arrival-order batches pay (n_docs·max − sum) wasted tokens whenever
# short and long docs mix. The standard fix (vLLM/TGI-style length
# bucketing, eval-harness sort-by-length) groups similar lengths
# before batching. Both strategies are computed side by side so the
# saving is a queryable fact, not a claim.
#
# Scale shape: NO global sort/rank — the naive "row_number over the
# whole corpus ordered by length" puts 100 TB through ONE window
# partition. Batch windows partition by (length band, doc_id shard)
# for the banded strategy and (source, shard) for the arrival
# baseline — the k8 sharding discipline: a heavy length mode (or a hot
# source) splits across K11_SHARDS partitions instead of serializing
# one, and K11_SHARDS is the knob that scales with the cluster. Both
# batch keys come out of ONE pass over the corpus (two chained window
# exchanges, a single scan + tokenization), stacked long-form for the
# final aggregation. Zero-token batches (possible on corpora with
# empty docs) define waste 0, not NULL.
# ---------------------------------------------------------------------------

K11_BATCH_DOCS = 32
K11_BAND_TOKENS = 16
K11_SHARDS = 4


def k11_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    keyed = (
        docs.withColumn("shard", (F.col("doc_id") % K11_SHARDS).cast("int"))
        .withColumn(
            "band", F.floor(F.col("n_tokens") / K11_BAND_TOKENS).cast("int")
        )
    )
    arrival_w = Window.partitionBy("source", "shard").orderBy("doc_id")
    banded_w = Window.partitionBy("band", "shard").orderBy("n_tokens", "doc_id")
    batch_no = lambda w: F.floor(  # noqa: E731
        (F.row_number().over(w) - 1) / K11_BATCH_DOCS
    ).cast("string")
    keyed = keyed.select(
        "n_tokens",
        F.concat_ws(
            "#", F.col("source"), F.col("shard").cast("string"), batch_no(arrival_w)
        ).alias("_ak"),
        F.concat_ws(
            "#",
            F.col("band").cast("string"),
            F.col("shard").cast("string"),
            batch_no(banded_w),
        ).alias("_bk"),
    )
    stacked = keyed.select(
        "n_tokens",
        F.expr(
            "stack(2, 'arrival', _ak, 'length_banded', _bk) AS (strategy, batch_key)"
        ),
    )
    padded = F.col("n_docs") * F.col("max_tokens")
    return (
        stacked.groupBy("strategy", "batch_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .withColumn(
            "waste_ratio",
            F.when(
                padded > 0,
                F.round((padded - F.col("sum_tokens")) / padded, 6),
            ).otherwise(F.lit(0.0)),
        )
    )


K11_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
             AS n_tokens,
         CAST(doc_id % {K11_SHARDS} AS INT) AS shard
  FROM documents
),
k AS (
  SELECT n_tokens,
         source || '#' || CAST(shard AS VARCHAR) || '#' ||
         CAST(CAST(floor((row_number() OVER (
             PARTITION BY source, shard ORDER BY doc_id) - 1)
             / {K11_BATCH_DOCS}) AS BIGINT) AS VARCHAR) AS ak,
         CAST(CAST(floor(n_tokens / {K11_BAND_TOKENS}) AS INT) AS VARCHAR)
           || '#' || CAST(shard AS VARCHAR) || '#' ||
         CAST(CAST(floor((row_number() OVER (
             PARTITION BY CAST(floor(n_tokens / {K11_BAND_TOKENS}) AS INT), shard
             ORDER BY n_tokens, doc_id) - 1)
             / {K11_BATCH_DOCS}) AS BIGINT) AS VARCHAR) AS bk
  FROM d
),
u AS (
  SELECT 'arrival' AS strategy, ak AS batch_key, n_tokens FROM k
  UNION ALL
  SELECT 'length_banded', bk, n_tokens FROM k
)
SELECT strategy, batch_key,
       count(*) AS n_docs,
       max(n_tokens) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CASE WHEN count(*) * max(n_tokens) > 0
            THEN round((count(*) * max(n_tokens) - sum(n_tokens))
                       / CAST(count(*) * max(n_tokens) AS DOUBLE), 6)
            ELSE 0.0 END AS waste_ratio
FROM u GROUP BY 1, 2
"""


QUERIES = {
    "t6_chunk_documents": t6_chunk_documents,
    "t7_stratified_split": t7_stratified_split,
    "e4_corpus_pipeline": e4_corpus_pipeline,
    "k7_sequence_pack": k7_sequence_pack,
    "k8_sequence_pack_sharded": k8_sequence_pack_sharded,
    "t16_epoch_shuffle": t16_epoch_shuffle,
    "k10_curriculum_order": k10_curriculum_order,
    "e9_training_manifest": e9_training_manifest,
    "e5_incremental_ingest": e5_incremental_ingest,
    "k9_concat_chunking": k9_concat_chunking,
    "e6_curation_funnel": e6_curation_funnel,
    "k11_length_batching": k11_length_batching,
}

ORACLES = {
    "t6_chunk_documents": T6_SQL,
    "t7_stratified_split": T7_SQL,
    "e4_corpus_pipeline": E4_SQL,
    "k7_sequence_pack": K7_SQL,
    "k8_sequence_pack_sharded": K8_SQL,
    "t16_epoch_shuffle": T16_SQL,
    "k10_curriculum_order": K10_SQL,
    "e9_training_manifest": E9_SQL,
    "e5_incremental_ingest": E5_SQL,
    "k9_concat_chunking": K9_SQL,
    "e6_curation_funnel": E6_SQL,
    "k11_length_batching": K11_SQL,
}
