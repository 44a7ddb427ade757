"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (language-ID, quality scoring, token
counting, fingerprinting). All built-in column expressions; at 100 TB
these are embarrassingly parallel scans with no shuffle except the
final small aggregations.
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
)
from x17a5_spark.tables import load_table
from x17a5_spark.functions.unicode_fold import norm_fp_sql

# the ONE oracle spelling of text.normalized_fingerprint (Unicode-
# folded; identity on the ASCII gate lakes)
_NFP = norm_fp_sql("text")

# Tiny per-language stopword lists for the n-gram/stopword lang-ID
# heuristic. Deterministic, embedded (no model files).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "en", "por", "que"],
}


def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char stats per doc."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias(
            "n_spaces"
        ),
    )


T1_SQL = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))
           AS n_tokens,
       length(text) AS n_chars_computed,
       length(text) - length(replace(text, ' ', '')) AS n_spaces
FROM documents
"""


def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + punctuation + stopword-ratio features
    combined into one deterministic score (both engines evaluate the
    identical formula)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS["en"])))
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(stop_hits / n_tok)
    length_score = F.least(F.length("text") / 1000.0, F.lit(1.0))
    score = 0.5 * length_score + 0.3 * (1.0 - punct_ratio(F.col("text"))) + 0.2 * stop_ratio
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


_EN_LIST_SQL = "['" + "', '".join(STOPWORDS["en"]) + "']"

T2_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, text, len(toks) AS n_tok,
         len(list_filter(toks, x -> list_contains({_EN_LIST_SQL}, lower(x)))) AS stop_hits,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)
         END AS punct_ratio
  FROM t
)
SELECT doc_id,
       round(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END, 6)
           AS stopword_ratio,
       round(0.5 * least(length(text) / 1000.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.2 * (CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END), 6)
           AS quality_score
FROM s
"""


def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID: hits per language list, argmax with
    a fixed tiebreak order (en > de > fr > es > unknown)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = tokens(F.lower(F.col("text")))

    def hits(words: list[str]):
        # single-arg lambda: a second (defaulted) parameter would make
        # Spark pass the element *index* as that argument.
        wordlist = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t)))

    hit_cols = {lang: hits(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in ("en", "de", "fr", "es"):  # fixed tiebreak priority
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))
    return docs.select(
        "doc_id",
        "lang",
        *[hits.alias(f"hits_{lang}") for lang, hits in hit_cols.items()],
        pred.alias("pred_lang"),
    )


def _hits_sql(lang: str) -> str:
    lst = "['" + "', '".join(STOPWORDS[lang]) + "']"
    return (
        f"len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" x -> x <> ''), x -> list_contains({lst}, x)))"
    )


T3_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_hits_sql('en')} AS hits_en,
         {_hits_sql('de')} AS hits_de,
         {_hits_sql('fr')} AS hits_fr,
         {_hits_sql('es')} AS hits_es
  FROM documents
)
SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'unknown'
            WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
            WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
            WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM h
"""


def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (exact-dup key)
    plus a leading-64-bit integer form for bucketing."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    fp = normalized_fingerprint(F.col("text"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp_bucket60"),
    )


T4_SQL = f"""
SELECT doc_id,
       {_NFP} AS fingerprint,
       CAST('0x' || {_NFP}[1:15]
            AS BIGINT) AS fp_bucket60
FROM documents
"""


# T5 — BPE-ish subword piece counting: a GPT-2-style pre-tokenizer
# split (letter runs | digit runs | other-symbol runs), the standard
# first stage before byte-pair merging. The pattern uses only character
# classes + alternation so Java regex (Spark) and RE2 (DuckDB) agree
# byte-for-byte. Fertility (pieces per whitespace word) is the usual
# tokenizer-quality diagnostic over a training corpus.
_BPE_SPLIT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def t5_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_SPLIT), 0)
    n_words = F.size(tokens(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.filter(pieces, lambda t: t.rlike("^[A-Za-z]"))).alias("n_alpha"),
        F.size(F.filter(pieces, lambda t: t.rlike("^[0-9]"))).alias("n_num"),
        F.aggregate(
            pieces, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("piece_chars"),
        F.round(
            F.size(pieces) / F.nullif(n_words.cast("double"), F.lit(0.0)), 6
        ).alias("fertility"),
    )


T5_SQL = """
WITH p AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS pieces,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))
             AS n_words
  FROM documents
)
SELECT doc_id,
       len(pieces) AS n_pieces,
       len(list_filter(pieces, t -> regexp_matches(t, '^[A-Za-z]'))) AS n_alpha,
       len(list_filter(pieces, t -> regexp_matches(t, '^[0-9]'))) AS n_num,
       CAST(coalesce(list_sum(list_transform(pieces, t -> length(t))), 0) AS INT)
           AS piece_chars,
       round(len(pieces) / nullif(CAST(n_words AS DOUBLE), 0.0), 6) AS fertility
FROM p
"""


# T12 — KMV (k-minimum-values) distinct-count sketch per source. The
# deterministic sketch alternative to HyperLogLog: hash every distinct
# fingerprint to u in [0,1) (leading 60 bits of its md5 — identical in
# both engines, unlike HLL register layouts), keep the k smallest, and
# estimate n_distinct as (k-1)/u_k (Bar-Yossef et al. 2002). Exactly
# reproducible, so the sketch itself is hash-checkable — HLL-based
# approx_count_distinct never is across engines.
#
# Scale: pass 1 is a map-side-combined distinct+count per group; pass 2
# pre-filters to u <= min(1, 4k/n) so only ~4k candidate hashes per
# group reach the k-smallest selection — the top-k never scans a
# group's full distinct set at 100 TB. (At the driver SFs n is small,
# the threshold saturates at 1, and the filter is a no-op — same
# result, both engines apply the same spec.)
KMV_K = 16
_TWO60 = float(1 << 60)


def t12_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text"))
    u = (F.conv(F.substring(fp, 1, 15), 16, 10).cast("double") / F.lit(_TWO60))
    d = docs.select("source", u.alias("u")).distinct()
    counts = d.groupBy("source").agg(F.count("*").alias("n_exact"))
    thresh = F.least(F.lit(1.0), F.lit(4.0 * KMV_K) / F.col("n_exact"))
    surv = d.join(counts, "source").filter(F.col("u") <= thresh)
    w = Window.partitionBy("source").orderBy("u")
    kth = (
        surv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == KMV_K)
        .select("source", F.col("u").alias("u_k"))
    )
    est = F.when(
        F.col("n_exact") < KMV_K, F.col("n_exact").cast("double")
    ).otherwise((KMV_K - 1) / F.col("u_k"))
    return counts.join(kth, "source", "left").select(
        "source",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(est, 4).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


T12_SQL = f"""
WITH d AS (
  SELECT DISTINCT source,
         CAST('0x' || {_NFP}[1:15]
              AS BIGINT) / {_TWO60} AS u
  FROM documents
),
counts AS (SELECT source, count(*) AS n_exact FROM d GROUP BY source),
surv AS (
  SELECT d.source, d.u, c.n_exact
  FROM d JOIN counts c ON d.source = c.source
  WHERE d.u <= least(1.0, {4.0 * KMV_K} / c.n_exact)
),
kth AS (
  SELECT source, u AS u_k FROM (
    SELECT source, u, row_number() OVER (PARTITION BY source ORDER BY u) AS rk
    FROM surv
  ) WHERE rk = {KMV_K}
),
est AS (
  SELECT c.source, c.n_exact,
         CASE WHEN c.n_exact < {KMV_K} THEN CAST(c.n_exact AS DOUBLE)
              ELSE {KMV_K - 1} / k.u_k END AS e
  FROM counts c LEFT JOIN kth k ON c.source = k.source
)
SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
       round(e, 4) AS kmv_estimate,
       round(abs(e - n_exact) / n_exact, 4) AS rel_err
FROM est
"""



# T17 — the distributed BPE-TRAINING step: adjacent-pair counting.
# Tokenizer training's scale cost is one pair-count aggregation per
# merge round; everything else is a driver-side argmax over the counts.
# The scale-correct shape counts pairs over the DISTINCT-WORD table
# weighted by word frequency (vocab << corpus: the explode runs over
# unique words only, not every token occurrence — at 100 TB that is the
# difference between ~10^6 and ~10^13 exploded rows). Two exchanges:
# word-frequency groupBy, then pair-sum groupBy. Counts are integers —
# exact in any engine, so the hash is stable by construction.

T17_MIN_COUNT = 20


def t17_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    words = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("freq"))
    pairs = vocab.filter(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .filter(F.col("n") >= T17_MIN_COUNT)
    )


T17_SQL = f"""
WITH words AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS word
  FROM documents
),
vocab AS (SELECT word, count(*) AS freq FROM words GROUP BY 1),
pairs AS (
  SELECT freq, unnest(list_transform(range(1, length(word)),
                                     i -> substr(word, i, 2))) AS pair
  FROM vocab WHERE length(word) >= 2
)
-- CAST: DuckDB integer sum() is HUGEINT; Spark's is BIGINT (j12 class)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY 1 HAVING sum(freq) >= {T17_MIN_COUNT}
"""



# T18 — FULL BPE training loop (the iterative operator t17 is one step
# of): R rounds of [count adjacent pairs over the weighted vocab ->
# pick the most frequent pair -> apply the merge to every word's symbol
# sequence]. The merge application is a pure Catalyst HOF fold
# (F.aggregate): greedy left-to-right non-overlapping replacement,
# exactly BPE's rule — no Python UDF in the loop. Per round the driver
# collects ONE row (the argmax pair — a bounded decision, same pattern
# as j11's bitmap), and the symbol table stays distributed.
#
# Oracle: the R rounds are FIXED, so the iterative argmax
# unrolls into a closed-form CTE chain — the same unrolled-lineage
# pattern g1 (five power iterations) and s7 (two Lloyd rounds) already
# use. Per round: pair-count over the vocab, argmax with the exact
# Spark tiebreak (n DESC, pair ASC), then the merge applied as a
# list_reduce fold that REPLICATES the engine's greedy left-to-right
# rule verbatim: append x to the accumulator unless the accumulator's
# last symbol is a and x is b, in which case rewrite the tail to the
# merged symbol. (A two-pass separator-bounded replace() is NOT exact:
# a SELF-pair (a,a) over a run of 5+ identical symbols merges
# (1,2),(4,5) under replace but (1,2),(3,4) under BPE's greedy scan,
# and no fixed number of passes converges to the greedy result — so
# the oracle folds exactly the semantics the engine folds.) The golden
# test independently recomputes the merge table with a pure-Python BPE
# on the same corpus, and a regression test pins a self-pair run
# corpus that breaks a replace()-based oracle.

T18_ROUNDS = 4
T18_SEP = "\u241f"  # symbol-boundary marker for the pair key


def t18_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    vocab = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("freq", F.split("word", "").alias("syms"))
    )
    vocab = vocab.persist()
    merges = []
    try:
        for rnd in range(1, T18_ROUNDS + 1):
            pairs = vocab.filter(F.size("syms") >= 2).select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.concat_ws(
                            T18_SEP,
                            F.element_at("syms", i.cast("int")),
                            F.element_at("syms", (i + 1).cast("int")),
                        ),
                    )
                ).alias("pair"),
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("pair").asc())
                .first()
            )
            if top is None:
                break
            a, b = top["pair"].split(T18_SEP)
            merges.append((rnd, a, b, int(top["n"])))
            ab = a + b
            merged = F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
            nxt = vocab.select("freq", merged.alias("syms")).persist()
            nxt.count()  # materialize before dropping the parent cache
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_count long"
    )


def _t18_unrolled_sql(rounds: int) -> str:
    """Closed-form DuckDB twin of ``rounds`` BPE merge iterations.

    The per-round merge is a ``list_reduce`` fold with the engine's
    exact greedy rule (see the T18 block comment — the earlier
    replace()-based form diverged on self-pair runs).
    """
    sep = T18_SEP
    parts = [
        f"""
WITH words AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS word
  FROM documents
),
vocab0 AS (
  SELECT '{sep}' || array_to_string(
           list_transform(range(1, length(word) + 1),
                          i -> substr(word, CAST(i AS INT), 1)), '{sep}')
         || '{sep}' AS s,
         count(*) AS freq
  FROM words GROUP BY 1
)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"vocab{r - 1}"
        parts.append(
            f""",
pairs{r} AS (
  SELECT pair, sum(freq) AS n FROM (
    SELECT freq,
           unnest(list_transform(
             range(1, len(lst)),
             i -> lst[CAST(i AS INT)] || '{sep}' || lst[CAST(i AS INT) + 1]
           )) AS pair
    FROM (SELECT freq,
                 list_filter(string_split(s, '{sep}'), x -> x <> '') AS lst
          FROM {prev})
  ) GROUP BY pair
),
top{r} AS (
  SELECT {r} AS round,
         string_split(pair, '{sep}')[1] AS a,
         string_split(pair, '{sep}')[2] AS b,
         n
  FROM pairs{r} ORDER BY n DESC, pair ASC LIMIT 1
),
vocab{r} AS (
  SELECT v.freq,
         '{sep}' || list_reduce(
           list_filter(string_split(v.s, '{sep}'), x -> x <> ''),
           (acc, x) -> CASE
             WHEN x = t.b
                  AND reverse(split_part(reverse(acc), '{sep}', 1)) = t.a
             THEN substr(acc, 1, length(acc) - length(t.a)) || t.a || t.b
             ELSE acc || '{sep}' || x END
         ) || '{sep}' AS s
  FROM {prev} v CROSS JOIN top{r} t
)"""
        )
    union = "\nUNION ALL\n".join(
        f'SELECT round, a AS "left", b AS "right",'
        f" CAST(n AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    )
    parts.append("\n" + union + "\nORDER BY round\n")
    return "".join(parts)


T18_SQL = _t18_unrolled_sql(T18_ROUNDS)


# T19 — HyperLogLog approximate distinct next to the exact count, per
# source. Spark's native approx_count_distinct could only be checked
# rows-only (native sketch layouts are engine-specific), so this is
# an EXPLICIT HLL whose
# every step is closed-form in both engines (the s2 md5-hyperplane
# trick): register = low 8 bits of the 60-bit md5 prefix, rank =
# leading-zero count of the remaining 52 bits via length(bin(w)), the
# harmonic denominator kept EXACT as sum(1 << (53 - max_rank)) in
# BIGINT, and the final estimate one literal/integer division — so the
# driver's value hash covers the whole sketch, not just row counts.
# Flajolet's small-range linear-counting branch is included (m*ln(m/V));
# ln is the one non-closed-form op, rounded at 4 decimals like every
# float column here. Scale shape is HLL's own: one narrow scan, one
# (source, register) aggregation bounded at 256 rows per group key,
# mergeable across partitions — the 100-TB distinct-count answer.

T19_P = 8
T19_M = 1 << T19_P  # 256 registers: rsd ~ 1.04/sqrt(256) = 6.5%
# alpha_m * m^2 * 2^53 as ONE double literal so both engines divide the
# same numerator by the same exact-integer denominator
T19_NUM = (0.7213 / (1 + 1.079 / T19_M)) * T19_M * T19_M * float(1 << 53)


def t19_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    # ONE corpus explode serves both outputs: HLL registers (max rank
    # per register) and the exact count are both functions of the
    # DISTINCT (source, token) set — duplicate occurrences cannot move
    # a max or a countDistinct — so dedup once (map-side combined) and
    # persist the vocab-sized result. Before: two full explode subtrees,
    # one per consumer, plus countDistinct's expand (guide §2.3
    # aggregate before you shuffle; the t24 c1 discipline).
    dtk = toks.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    w = F.shiftright(h, T19_P)
    rank = F.lit(53) - F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    regs = (
        dtk.select("source", (h % T19_M).alias("reg"), rank.alias("rank"))
        .groupBy("source", "reg")
        .agg(F.max("rank").alias("m"))
    )
    per_src = regs.groupBy("source").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)"))
            + (F.lit(T19_M) - F.count("*")) * F.lit(1 << 53)
        ).alias("s"),
        (F.lit(T19_M) - F.count("*")).alias("v_zero"),
    )
    raw = F.lit(T19_NUM) / F.col("s").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * T19_M)) & (F.col("v_zero") > 0),
        F.lit(float(T19_M)) * F.log(F.lit(float(T19_M)) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    exact = dtk.groupBy("source").agg(
        F.count("*").alias("exact_distinct")
    )
    return exact.join(per_src, "source").select(
        "source",
        "exact_distinct",
        F.round(est, 4).alias("hll_estimate"),
        F.round(F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
            "rel_err"
        ),
    )


T19_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
h AS (
  SELECT source, token, CAST('0x' || md5(token)[1:15] AS BIGINT) AS hv
  FROM toks
),
regs AS (
  SELECT source, hv % {T19_M} AS reg,
         max(53 - CASE WHEN hv // {T19_M} = 0 THEN 0
                       ELSE length(bin(hv // {T19_M})) END) AS m
  FROM h GROUP BY 1, 2
),
per_src AS (
  SELECT source,
         CAST(sum(1::BIGINT << (53 - m)) AS BIGINT)
           + ({T19_M} - count(*)) * {1 << 53} AS s,
         {T19_M} - count(*) AS v_zero
  FROM regs GROUP BY 1
),
est AS (
  SELECT source, v_zero,
         CASE WHEN {T19_NUM!r} / CAST(s AS DOUBLE) <= {2.5 * T19_M}
                   AND v_zero > 0
              THEN {float(T19_M)!r} * ln({float(T19_M)!r} / CAST(v_zero AS DOUBLE))
              ELSE {T19_NUM!r} / CAST(s AS DOUBLE) END AS e
  FROM per_src
),
ex AS (SELECT source, count(DISTINCT token) AS exact_distinct FROM toks GROUP BY 1)
SELECT ex.source, CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       round(e, 4) AS hll_estimate,
       round(abs(e - ex.exact_distinct) / ex.exact_distinct, 4) AS rel_err
FROM ex JOIN est ON ex.source = est.source
"""



# T27 — Count-Min sketch point queries (Cormode/Muthukrishnan): the
# OTHER canonical mergeable frequency sketch next to t15's heavy
# hitters and t19's HLL. d=4 md5-derived hash rows x w=256 counters;
# closed-form in both engines (the s2/t19 discipline), so the whole
# sketch — build AND point-query — is hash-checked, not just its
# shape. Scale: the sketch is built from the VOCAB table weighted by
# frequency (t17's lesson: vocab << corpus, so the d-way fan-out runs
# over unique tokens, not occurrences), is d*w = 1,024 rows — constant
# memory, trivially mergeable across partitions/epochs — and the
# point-query side joins the top-k tokens against it broadcast. The
# CM guarantee (estimate >= truth, overcount bounded by eN/w) is
# asserted per-row in tests and visible in the overcount column.

T27_D = 4
T27_W = 256
T27_TOPK = 20


def _t27_col(j, token):
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", j, token)), 1, 15), 16, 10
    ).cast("long") % T27_W


def t27_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    # freq feeds the sketch fan-out AND the top-k probe
    # set — un-persisted, the corpus explode + vocab groupBy ran twice.
    freq = (
        toks.groupBy("token").agg(F.count("*").alias("true_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fan = freq.select(
        "token",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(T27_D - 1))).alias("j"),
    )
    sketch = (
        fan.select("j", _t27_col(F.col("j"), F.col("token")).alias("c"), "true_count")
        .groupBy("j", "c")
        .agg(F.sum("true_count").alias("cnt"))
    )
    topk = freq.orderBy(F.col("true_count").desc(), F.col("token")).limit(T27_TOPK)
    qfan = topk.select(
        "token",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(T27_D - 1))).alias("j"),
    ).withColumn("c", _t27_col(F.col("j"), F.col("token")))
    return (
        qfan.join(F.broadcast(sketch), ["j", "c"])
        .groupBy("token", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "token",
            "true_count",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_count")).alias("overcount"),
        )
    )


T27_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
freq AS (SELECT token, CAST(count(*) AS BIGINT) AS true_count FROM toks GROUP BY 1),
fan AS (SELECT token, true_count, unnest(range(0, {T27_D})) AS j FROM freq),
sketch AS (
  SELECT j, CAST('0x' || md5(j || ':' || token)[1:15] AS BIGINT) % {T27_W} AS c,
         CAST(sum(true_count) AS BIGINT) AS cnt
  FROM fan GROUP BY 1, 2
),
topk AS (SELECT token, true_count FROM freq
         ORDER BY true_count DESC, token LIMIT {T27_TOPK}),
qfan AS (SELECT token, true_count, unnest(range(0, {T27_D})) AS j FROM topk)
SELECT q.token, q.true_count, min(s.cnt) AS cm_estimate,
       min(s.cnt) - q.true_count AS overcount
FROM qfan q JOIN sketch s
  ON s.j = q.j
 AND s.c = CAST('0x' || md5(q.j || ':' || q.token)[1:15] AS BIGINT) % {T27_W}
GROUP BY 1, 2
"""


# T21 — Zipf-law fit of the token frequency distribution: rank tokens
# by frequency, regress log(freq) on log(rank) with exact normal
# equations (the f15 pattern — DECIMAL-summed moments, closed-form
# slope/intercept), report slope + fit quality. The standard corpus
# health statistic (natural corpora sit near slope -1; synthetic or
# templated corpora deviate hard). Shapes: one vocab groupBy, one
# bounded global rank over the vocab (vocab << corpus), one moment
# aggregation.


def t21_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    vocab = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    # Shuffle fewer bytes: the regression sums are
    # invariant to rank ASSIGNMENT within a frequency tie — y is
    # constant inside a tie block and the block's rank set is
    # {offset+1 .. offset+cnt} whichever token gets which rank — so the
    # global row_number needs no token tiebreak and the token strings
    # need not enter the single-partition sort at all: rank over a
    # freq-only projection, ≈10x narrower exchange. Two full
    # decompositions of the sort were built, oracle-verified and
    # REJECTED by measurement: (a) per-freq-block rank
    # enumeration via chunked sequence()+explode — 0.85 -> 1.12 s at
    # sf0.1, 0.97 -> 1.58 s at 20x (row machinery for V rank rows costs
    # more than the narrow sort it replaces); (b) per-chunk decimal HOF
    # folds with no rank rows — 0.68 -> 0.76 s / 0.65 -> 0.82 s (extra
    # exchanges + sequence materialization still beat the sort's cost).
    # The vocab-wide sort itself stays the documented Heaps-bounded
    # residual (SCALE.md): its input is (freq) longs, not tokens.
    ranked = vocab.select("freq").withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("freq").desc()))
    )
    pts = ranked.select(
        F.round(F.log("rank"), 9).alias("x"), F.round(F.log("freq"), 9).alias("y")
    )
    dec = lambda c: F.round(c, 9).cast("decimal(27,9)")  # noqa: E731
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        F.col("n").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


T21_SQL = """
WITH vocab AS (
  SELECT token, count(*) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                  t -> t <> '')) AS token
        FROM documents)
  GROUP BY 1
),
pts AS (
  SELECT round(ln(row_number() OVER (ORDER BY freq DESC, token)), 9) AS x,
         round(ln(freq), 9) AS y
  FROM vocab
),
m AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(y, 9) AS DECIMAL(27,9))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * x, 9) AS DECIMAL(27,9))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(x * y, 9) AS DECIMAL(27,9))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n AS vocab_size,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS zipf_intercept
FROM m
"""


# ---------------------------------------------------------------------------
# T25 — keyword extraction: top-k terms per document by tf-idf.
#
# The retrieval/labeling primitive (tag corpora, build weak labels,
# summarize clusters). idf uses the BM25 rational form
# (N - df + 0.5) / (df + 0.5) instead of ln((N+1)/(df+1)): same
# ordering, but pure rational arithmetic — no transcendental whose
# last-ulp could differ between engines and flip a rank at the top-k
# boundary (t14 pins ln-idf cross-engine by rounding; for a PER-DOC
# rank the rational form removes the risk class entirely).
#
# Scale: tf = one (doc, term) groupBy; df = one term groupBy; the
# score join matches each tf row to one df row (never pairs docs);
# top-k is a per-doc window — high-cardinality hash exchange, bounded
# per-key sort, no global sort anywhere.
# ---------------------------------------------------------------------------

T25_K = 5


def t25_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tf feeds BOTH the document-frequency aggregate and
    # the scoring join — un-persisted, the corpus explode + (doc, term)
    # groupBy subtree executed twice per run. The table is (doc, term)-
    # grain (Heaps-bounded, far below the token stream), three narrow
    # columns — the cheap side of the cache tradeoff.
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = docs.agg(F.count("*").alias("n")).withColumn("k", F.lit(1))
    df_counts = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n_docs), "k")
        .select(
            "term",
            "df",
            ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    scored = tf.join(df_counts, "term").select(
        "doc_id", "term", "tf", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= T25_K)
        .select("doc_id", "rank", "term", "tf", F.round("score", 6).alias("score"))
    )


T25_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                                                        '\\s+'),
                                  t -> t <> '')) AS term
        FROM documents)
  GROUP BY 1, 2
),
n_docs AS (SELECT count(*) AS n FROM documents),
dfs AS (
  SELECT term, df, (n - df + 0.5) / (df + 0.5) AS idf
  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN n_docs
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * dfs.idf AS score
  FROM tf JOIN dfs USING (term)
),
ranked AS (
  SELECT doc_id, term, tf, score, row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, round(score, 6) AS score
FROM ranked WHERE rank <= {T25_K}
"""


# ---------------------------------------------------------------------------
# T26 — per-source token Shannon entropy: the corpus-diversity monitor
# (low entropy = templated/boilerplate-heavy source; pairs with t21's
# Zipf slope). H = -sum p ln p over each source's token distribution.
#
# Cross-engine float discipline (t13's): each token's p*ln(p)
# contribution is computed once in the bounded (source, token) vocab
# table, rounded to 9 decimals, then summed through exact DECIMAL —
# partition-order independent, hash-stable.
#
# Scale: one (source, token) groupBy (map-side combined) + a per-source
# 1-row rollup; the vocab table is Heaps-law-bounded, never corpus-
# sized.
# ---------------------------------------------------------------------------


def t26_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select("source", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    counts = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    # The per-source token total rides an UNORDERED window over counts
    # instead of a separate totals aggregate — a totals aggregate
    # derives the corpus explode + (source, tok) groupBy subtree TWICE
    # (once for totals, once for the entropy join) and recombines
    # through two joins. Persisting `counts` was A/B'd first and
    # REJECTED (single-JVM interleaved, median-of-9: persisted
    # 1.14 s vs 0.80 s baseline — caching the vocab-scale table costs
    # more than the re-derive saved). The window form runs ONE explode,
    # zero joins: sum(c) over source == the old groupBy sum exactly
    # (same long addition over the same rows), p and the rounded
    # decimal plp terms are unchanged, and the final per-source fold is
    # the same -sum. Every source has >= 1 token row, so the old inner
    # joins never dropped rows either.
    sw = Window.partitionBy("source")
    with_tot = counts.withColumn("n_tokens", F.sum("c").over(sw).cast("long"))
    p = F.col("c") / F.col("n_tokens")
    plp = F.round(p * F.log(p), 9).cast("decimal(27,12)")
    return (
        with_tot.groupBy("source", "n_tokens")
        .agg(
            F.count("*").alias("vocab_size"),
            (-F.sum(plp)).cast("double").alias("h_raw"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            F.round("h_raw", 6).alias("entropy_nats"),
        )
    )


T26_SQL = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
counts AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab
  FROM counts GROUP BY 1
),
ent AS (
  SELECT c.source,
         CAST(-sum(CAST(round(c.c / CAST(t.n_tokens AS DOUBLE)
                              * ln(c.c / CAST(t.n_tokens AS DOUBLE)), 9)
                        AS DECIMAL(27,12))) AS DOUBLE) AS h_raw
  FROM counts c JOIN totals t USING (source)
  GROUP BY 1
)
SELECT t.source, t.n_tokens, t.vocab AS vocab_size,
       round(e.h_raw, 6) AS entropy_nats
FROM totals t JOIN ent e USING (source)
"""


# ---------------------------------------------------------------------------
# E8 — BPE tokenizer APPLY at scale + packing arithmetic: the missing
# middle of the tokenizer lifecycle (t17 counts pairs, t18 trains,
# e8 tokenizes the corpus with the trained artifact). The merge table
# is a CONSTANT here — exactly how production works, where the
# tokenizer file is a frozen artifact — specifically the table t18
# trains on this corpus (4 rounds).
#
# The apply step is fully declarative in BOTH engines: a word becomes
# its space-joined symbol string ("h e l l o"), and each merge (a, b)
# is one LITERAL left-to-right replace("a b" -> "ab") — string replace
# is exactly BPE's simultaneous left-to-right pair merge. Chained M
# times (merge ORDER is the tokenizer's priority order), then piece
# count = symbols remaining. Computed once per DISTINCT word (the t17
# vocab trick: Heaps-bounded work, never per-occurrence), then joined
# back to per-doc occurrence counts.
#
# Scale: one vocab groupBy + one join; the replaces are codegen string
# ops over the vocab table only. n_seqs is k9's packing arithmetic.
# ---------------------------------------------------------------------------

E8_MERGES = [("e", "r"), ("i", "n"), ("o", "w"), ("o", "r")]  # t18 @ sf0.01
E8_SEQ_LEN = 512


def e8_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # persist the (doc, word) occurrence table: it feeds the vocab
    # (BPE merge chain) AND the final piece-count join — un-persisted
    # the corpus explode+aggregate subtree ran twice (the t24/t19
    # fold discipline, guide §5).
    occ = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_occ"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = occ.select("word").distinct()
    sym = F.array_join(F.filter(F.split("word", ""), lambda c: c != ""), " ")
    for a, b in E8_MERGES:
        sym = F.replace(sym, F.lit(f"{a} {b}"), F.lit(a + b))
    pieces = vocab.select(
        "word", F.size(F.split(sym, " ")).alias("pieces_per_word")
    )
    per_doc = (
        occ.join(pieces, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("pieces_per_word"))
            .cast("long")
            .alias("n_pieces"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.ceil(F.col("n_pieces") / E8_SEQ_LEN).cast("long").alias("n_seqs"),
        F.round(F.col("n_pieces") / F.col("n_words"), 6).alias("fertility"),
    )


def _e8_sym_sql() -> str:
    expr = ("array_to_string(list_transform(range(1, length(word) + 1), "
            "i -> word[i]), ' ')")
    for a, b in E8_MERGES:
        expr = f"replace({expr}, '{a} {b}', '{a}{b}')"
    return expr


E8_SQL = f"""
WITH occ AS (
  SELECT doc_id, word, count(*) AS n_occ
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                                                        '\\s+'),
                                  t -> t <> '')) AS word
        FROM documents)
  GROUP BY 1, 2
),
vocab AS (SELECT DISTINCT word FROM occ),
pieces AS (
  SELECT word,
         len(string_split({_e8_sym_sql()}, ' ')) AS pieces_per_word
  FROM vocab
),
per_doc AS (
  SELECT o.doc_id,
         CAST(sum(o.n_occ) AS BIGINT) AS n_words,
         CAST(sum(o.n_occ * p.pieces_per_word) AS BIGINT) AS n_pieces
  FROM occ o JOIN pieces p USING (word)
  GROUP BY 1
)
SELECT doc_id, n_words, n_pieces,
       CAST(ceil(n_pieces / {E8_SEQ_LEN}.0) AS BIGINT) AS n_seqs,
       round(n_pieces / CAST(n_words AS DOUBLE), 6) AS fertility
FROM per_doc
"""



# ---------------------------------------------------------------------------
# T28 — moments quantile sketch of the per-document token-length
# distribution (Gan, Ding, Tai, Sharan, Bailis — "Moment-Based Quantile
# Sketches for Efficient High Cardinality Aggregation Queries",
# VLDB 2018). The sketch per group is {n, min, max, Σx, Σx², Σx³, Σx⁴}:
# constant state, one scan, mergeable by plain addition — the strongest
# possible 100-TB shape (a t-digest/KLL needs custom merge logic and
# randomized compaction; power sums are a built-in partial aggregate).
# Every sum runs in exact DECIMAL over INTEGER token counts, so the
# sketch is bit-identical under any partitioning and hash-checkable
# against DuckDB. The estimation demo (method-of-moments mean/std +
# the one-sided z=1.2815515655446004 normal p90) is closed-form double
# arithmetic from the exact sums — the paper's maxent solve is a
# driver-side refinement over the same six numbers.
# Beyond-reference: length-distribution sketches drive packing bin
# sizing (k7/k9) and curriculum cutoffs (k10) without a second scan.
# ---------------------------------------------------------------------------

T28_Z90 = 1.2815515655446004


def t28_moments_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    x = F.size(tokens(F.lower(F.col("text")))).cast("decimal(9,0)")
    base = docs.select("source", x.alias("x"))
    x2 = (F.col("x") * F.col("x")).cast("decimal(19,0)")
    sk = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min(F.col("x").cast("long")).alias("min_tok"),
        F.max(F.col("x").cast("long")).alias("max_tok"),
        F.sum(F.col("x")).cast("decimal(38,0)").alias("s1"),
        F.sum(x2).cast("decimal(38,0)").alias("s2"),
        F.sum((x2 * F.col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("s3"),
        F.sum((x2 * x2).cast("decimal(38,0)")).cast("decimal(38,0)").alias("s4"),
    )
    n = F.col("n_docs").cast("double")
    m = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - m * m
    std = F.sqrt(var)
    return sk.select(
        "source",
        "n_docs",
        "min_tok",
        "max_tok",
        F.col("s1").cast("double").alias("s1"),
        F.col("s2").cast("double").alias("s2"),
        F.col("s3").cast("double").alias("s3"),
        F.col("s4").cast("double").alias("s4"),
        F.round(m, 6).alias("est_mean"),
        F.round(std, 6).alias("est_std"),
        F.round(m + F.lit(T28_Z90) * std, 6).alias("est_p90"),
    ).orderBy("source")


T28_SQL = f"""
WITH lens AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              t -> t <> '')) AS DECIMAL(9,0)) AS x
  FROM documents
),
sk AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(min(x) AS BIGINT) AS min_tok,
         CAST(max(x) AS BIGINT) AS max_tok,
         CAST(sum(x) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(x * x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2,
         CAST(sum(CAST(CAST(x * x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3,
         CAST(sum(CAST(CAST(x * x AS DECIMAL(19,0)) * CAST(x * x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s4
  FROM lens GROUP BY 1
)
SELECT source, n_docs, min_tok, max_tok,
       CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
       CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4,
       round(CAST(s1 AS DOUBLE) / n_docs, 6) AS est_mean,
       round(sqrt(CAST(s2 AS DOUBLE) / n_docs
                  - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs)), 6) AS est_std,
       round(CAST(s1 AS DOUBLE) / n_docs
             + {T28_Z90} * sqrt(CAST(s2 AS DOUBLE) / n_docs
                  - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs)), 6) AS est_p90
FROM sk ORDER BY source
"""


# ---------------------------------------------------------------------------
# T29 — n-gram novelty scoring (memorization/duplication profile).
#
# The per-doc curation stat Dolma-style corpus reports publish: what
# fraction of a document's distinct 5-grams appear HERE FIRST (ingest
# order = doc_id), versus being repeats of earlier documents. Distinct
# from d9 (which emits duplicate PAIRS) and t11 (overlap vs an eval
# set): t29 is a per-document score against the whole corpus, the
# signal used to downweight boilerplate-heavy or templated sources.
#
# Scale shape: first-occurrence attribution is groupBy(gram).min(doc_id)
# — partial aggregation collapses hot grams map-side (same skew
# argument as d15's keep-first) — and the winner table aggregates
# DIRECTLY to per-doc novel counts: no corpus-wide join at all, just
# three linear aggregations over a persisted gram stage table.
# ---------------------------------------------------------------------------

T29_GRAM_K = 5


def t29_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), T29_GRAM_K))
            ).alias("gram"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    firsts = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy("first_doc").agg(F.count("*").alias("n_novel"))
    totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(novel.withColumnRenamed("first_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"), 6
                ),
            ).alias("novelty"),
        )
    )


T29_SQL = """
WITH grams29 AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])))
         AS gram
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM documents)
),
firsts29 AS (SELECT gram, min(doc_id) AS first_doc FROM grams29 GROUP BY 1),
novel29 AS (SELECT first_doc AS doc_id, count(*) AS n_novel FROM firsts29 GROUP BY 1),
totals29 AS (SELECT doc_id, count(*) AS n_grams FROM grams29 GROUP BY 1)
SELECT d.doc_id,
       COALESCE(t.n_grams, 0) AS n_grams,
       COALESCE(v.n_novel, 0) AS n_novel,
       CASE WHEN t.n_grams > 0
            THEN round(COALESCE(v.n_novel, 0) / CAST(t.n_grams AS DOUBLE), 6)
       END AS novelty
FROM documents d
LEFT JOIN totals29 t USING (doc_id)
LEFT JOIN novel29 v USING (doc_id)
"""


# ---------------------------------------------------------------------------
# T30 — eval-set decontamination (the standard LLM pre-training step:
# GPT-3 appendix C / Llama-style 13-gram overlap checks, here k=7 over
# the synthetic ~30-word vocabulary so chance collisions stay rare
# while the planted 90%-prefix twins light up). Every eval document is
# scored by the fraction of its distinct word k-grams that appear
# ANYWHERE in the training corpus; docs over the threshold are flagged
# for removal from the benchmark (or the corpus, depending on policy).
#
# 100-TB shape — the corpus gram set is NEVER shuffled: the eval side
# is small by nature (benchmarks are thousands of docs), so its
# distinct gram-hash set BROADCASTS, the corpus explode is filtered by
# a broadcast left-semi join (a map-side scan at any corpus size), and
# only the surviving hits — bounded by |eval grams| — are distinct'd
# and broadcast back for the per-doc rate. Grams travel as the proven
# 56-bit md5 LONG (the d3 cross-engine hash; collisions are ~2^-56 AND
# identical on both engines). At real scale the broadcast semi-join
# would be a bloom filter pushed into the corpus scan (j11's
# machinery); exact set semantics keep the oracle twin hash-exact here.
# ---------------------------------------------------------------------------

T30_GRAM_K = 7
T30_EVAL_MOD = 23  # doc_id % 23 == 0 -> the held-out "benchmark" docs
T30_THRESHOLD = 0.2


def t30_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.functions.text import word_shingles
    from x17a5_spark.queries.dedup import (
        AUG_TWIN_OFFSET,
        D3_HEX_CHARS,
        _augmented_docs,
    )

    def hash56(c):
        return F.conv(F.substring(F.md5(c), 2, D3_HEX_CHARS), 16, 10).cast("long")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fails-LOUD tripwire (the e11/d15 discipline): the scrub filter
    # below distinguishes originals from twins by the AUG_TWIN_OFFSET
    # id split — an original doc_id past the offset would silently
    # self-contaminate every eval doc, so it raises instead
    guarded_id = F.when(
        F.col("doc_id") < AUG_TWIN_OFFSET, F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("t30: original doc_id reaches the twin-id offset "),
                F.lit(str(AUG_TWIN_OFFSET)),
                F.lit(": "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    # persisted: the eval slice (1/23 of docs) feeds BOTH the gram
    # explode and the final full-coverage re-attach (ADVICE r9) —
    # without the persist the re-attach re-scans documents through the
    # guard projection (the d3 cand_sh stage-table lesson). Like every
    # stage cache it is released with clearCache(), even when a sweep
    # builds t30 and never materializes it.
    eval_docs = (
        docs.select(guarded_id.alias("doc_id"), "text").filter(
            F.col("doc_id") % T30_EVAL_MOD == 0
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # training corpus = originals + perturbed twins, MINUS the eval docs
    # themselves. Half the eval docs' twins are scrubbed too (the
    # "benchmark authors decontaminated these" half), so the output has
    # a real clean/dirty mix: un-scrubbed eval docs flag through their
    # planted 90%-prefix twin, scrubbed ones stay near zero — except
    # any with a NATURAL near-copy elsewhere in the corpus, which is
    # precisely what the check exists to catch.
    # fanout: the documents parquet is a single file with ~2 row groups
    # at bench SF, so the corpus-side shingle explode ran on 2 of 32
    # cores; the round-robin fan-out costs a tiny (doc_id, text) shuffle
    # and buys 32-way parallel explode+hash (A/B: 2.5x on t30 — guide
    # §2.5 "input skew: repartition immediately after the read").
    corpus = _augmented_docs(spark, sf_dir, fanout=True).filter(
        ~(
            (F.col("doc_id") % T30_EVAL_MOD == 0)
            & (F.col("doc_id") < AUG_TWIN_OFFSET)
        )
        & ~(
            (F.col("doc_id") >= AUG_TWIN_OFFSET)
            & ((F.col("doc_id") - AUG_TWIN_OFFSET) % (2 * T30_EVAL_MOD) == 0)
        )
    )
    eval_grams = eval_docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), T30_GRAM_K))
        ).alias("gram"),
    ).select("doc_id", hash56(F.col("gram")).alias("g"))
    eval_set = eval_grams.select("g").distinct()
    corpus_grams = corpus.select(
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), T30_GRAM_K))
        ).alias("gram")
    ).select(hash56(F.col("gram")).alias("g"))
    hits = (
        corpus_grams.join(F.broadcast(eval_set), "g", "left_semi")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        eval_grams.join(F.broadcast(hits), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_hits").alias("n_contaminated"),
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias(
                "contamination_rate"
            ),
            (F.col("n_hits") / F.col("n_grams") >= T30_THRESHOLD)
            .cast("int")
            .alias("flagged"),
        )
    )
    # ADVICE r9: an eval doc shorter than k tokens yields no shingles
    # and would vanish in the explode, silently under-counting eval
    # coverage — report it as an explicit n_grams=0 clean row (rate
    # NULL, like t29's novelty on empty docs). ``scored`` is bounded by
    # the eval-doc count, so the re-attach broadcasts.
    return (
        eval_docs.select("doc_id")
        .join(F.broadcast(scored), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            F.col("contamination_rate"),
            F.coalesce(F.col("flagged"), F.lit(0)).alias("flagged"),
        )
    )


def _t30_sql() -> str:
    # ONE k-gram spelling across the engine's oracles: dedup's
    # gram_body_sql (code-review r9 — a second hand-maintained copy of
    # the cross-engine tokenization could drift)
    from x17a5_spark.queries.dedup import (
        _AUG_SQL,
        AUG_TWIN_OFFSET,
        D3_HEX_CHARS,
        gram_body_sql,
    )

    return f"""
WITH {_AUG_SQL.strip()},
eval_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {T30_EVAL_MOD} = 0
),
corpus AS (
  SELECT * FROM aug
  WHERE NOT (doc_id % {T30_EVAL_MOD} = 0 AND doc_id < {AUG_TWIN_OFFSET})
    AND NOT (doc_id >= {AUG_TWIN_OFFSET}
             AND (doc_id - {AUG_TWIN_OFFSET}) % {2 * T30_EVAL_MOD} = 0)
),
eval_grams AS (
  SELECT doc_id, CAST('0x' || md5(gram)[2:{1 + D3_HEX_CHARS}] AS BIGINT) AS g
  FROM ({gram_body_sql("eval_docs", T30_GRAM_K, alias="gram").strip()})
),
corpus_g AS (
  SELECT DISTINCT CAST('0x' || md5(gram)[2:{1 + D3_HEX_CHARS}] AS BIGINT) AS g
  FROM ({gram_body_sql("corpus", T30_GRAM_K, alias="gram").strip()})
),
hits AS (
  SELECT DISTINCT e.g FROM corpus_g c JOIN (SELECT DISTINCT g FROM eval_grams) e
    ON c.g = e.g
),
scored AS (
  SELECT eg.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(h.g) AS BIGINT) AS n_contaminated,
         round(count(h.g) / count(*), 6) AS contamination_rate,
         CAST(count(h.g) / count(*) >= {T30_THRESHOLD} AS INT) AS flagged
  FROM eval_grams eg LEFT JOIN hits h ON eg.g = h.g
  GROUP BY eg.doc_id
)
-- sub-k eval docs have no shingles: report them as n_grams=0 clean rows
SELECT e.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.n_contaminated, 0) AS n_contaminated,
       s.contamination_rate,
       COALESCE(s.flagged, 0) AS flagged
FROM eval_docs e LEFT JOIN scored s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# T31 — PII detection + redaction (the CCNet/Dolma scrub step): per
# document, count email / phone / SSN-shaped spans, replace each with a
# class token, and fingerprint the redacted text so downstream stages
# can verify they consumed the SCRUBBED corpus (redacted fingerprint ≠
# raw fingerprint exactly on the docs that had PII). The synthetic
# corpus carries no PII, so a deterministic planted layer adds a
# contact sentence (email + phone + SSN derived from doc_id with pure
# arithmetic/lpad — identical on both engines) to every 5th document;
# the other docs are the negative class.
#
# Patterns use only character classes, bounded quantifiers and \b so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte — the t5
# cross-engine regex discipline. Scale: pure codegen scalar chain, no
# exchange; at 100 TB it is an embarrassingly parallel scan.
# ---------------------------------------------------------------------------

T31_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
T31_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
T31_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def t31_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True).select(
        "doc_id", "text"
    )
    did = F.col("doc_id")
    contact = F.concat(
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((did % 900 + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" ssn "),
        F.lpad((did % 900 + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 90 + 10).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    planted = F.when(did % 5 == 0, F.concat(F.col("text"), contact)).otherwise(
        F.col("text")
    )
    # SSN first: the phone pattern (3-3-4) can never match a 3-2-4 SSN,
    # but redacting SSNs before phones makes the order-independence
    # explicit rather than incidental
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, T31_SSN, "<SSN>"), T31_PHONE, "<PHONE>"
        ),
        T31_EMAIL,
        "<EMAIL>",
    )
    n_email = F.regexp_count(planted, F.lit(T31_EMAIL))
    n_phone = F.regexp_count(planted, F.lit(T31_PHONE))
    n_ssn = F.regexp_count(planted, F.lit(T31_SSN))
    total = n_email + n_phone + n_ssn
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        n_ssn.alias("n_ssns"),
        total.alias("pii_total"),
        (total == 0).cast("int").alias("is_clean"),
        F.md5(redacted).alias("redacted_fingerprint"),
        (F.md5(redacted) == F.md5(planted)).cast("int").alias("unchanged"),
    )


T31_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' ssn '
                || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS text
  FROM documents
),
r AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '{T31_EMAIL}')) AS n_emails,
         len(regexp_extract_all(text, '{T31_PHONE}')) AS n_phones,
         len(regexp_extract_all(text, '{T31_SSN}')) AS n_ssns,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{T31_SSN}', '<SSN>', 'g'),
             '{T31_PHONE}', '<PHONE>', 'g'),
           '{T31_EMAIL}', '<EMAIL>', 'g') AS redacted
  FROM planted
)
SELECT doc_id, n_emails, n_phones, n_ssns,
       n_emails + n_phones + n_ssns AS pii_total,
       CAST(n_emails + n_phones + n_ssns = 0 AS INT) AS is_clean,
       md5(redacted) AS redacted_fingerprint,
       CAST(md5(redacted) = md5(text) AS INT) AS unchanged
FROM r
"""


# --- t32: repetition filter (Gopher quality gate) -------------------
#
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", Table A1)
# gate training documents on REPETITION: the fraction of characters
# inside the most frequent word n-gram, and the char mass of n-grams
# that occur more than once. Repetitious documents (scraper loops,
# keyword-stuffed spam, templated boilerplate) are the single most
# common garbage class LLM curation removes that plain dedup cannot
# see (the repetition is WITHIN one doc, so no cross-doc fingerprint
# fires). Reference parity: the reference has no in-document
# repetition gate — this is part of the beyond-reference LLM-pipeline
# surface (SURVEY §2 "text analysis / quality scoring").
#
# Metrics (char accounting is deterministic and engine-identical:
# an n-gram's char length INCLUDES its separating spaces; fractions
# divide by length(text) and round to 6):
#   top2_frac — occurrences x chars of the most frequent word 2-gram
#   top3_frac — same for 3-grams
#   dup3_frac — char mass of beyond-first occurrences of repeated
#               3-grams (the "duplicate n-gram char fraction" family)
# Thresholds are Gopher's published ones for the implemented trio
# (top-2 0.20, top-3 0.18, dup-n 0.15); rep_flag = any exceeded.
#
# Scale shape (the whole point): ONE scan -> gram explode ->
# HashAggregate(doc_id, gram) -> HashAggregate(doc_id). Two hash
# exchanges, zero joins, zero windows, zero Python. A doc's grams are
# contiguous within its input partition, so the first partial
# aggregate collapses within-doc repeats MAP-SIDE — the shuffle ships
# ~unique grams per doc, and a pathologically repetitious doc (the
# exact target class) gets CHEAPER, not hotter. Short docs (< k
# tokens) survive via explode_outer + null-gram grouping and report
# zero fractions (the t30 sub-k lesson, ADVICE r9).
T32_TOP2 = 0.20
T32_TOP3 = 0.18
T32_DUP3 = 0.15
T32_PACK_BITS = 20  # (count, gram_len) packed argmax: cnt*2^20 + len
T32_PACK = 1 << T32_PACK_BITS
T32_PHRASE = "click here now "  # planted positive: every 7th doc
T32_REPEATS = 8


def t32_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True).select(
        "doc_id", "text"
    )
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" " + T32_PHRASE * T32_REPEATS)),
    ).otherwise(F.col("text"))
    # token split STAGED into a real column (CollapseProject
    # protection, SPARK-36718 — the d15 lesson): inlined, the regex
    # split would re-execute inside every element_at of both gram
    # lambdas
    staged = (
        docs.select("doc_id", planted.alias("text"))
        .withColumn("n_chars", F.length("text"))
        .withColumn("_toks", tokens(F.col("text")))
    )
    toks = F.col("_toks")
    n = F.size("_toks")
    empty = F.array().cast("array<struct<k:int,gram:string>>")

    def _grams(k: int):
        # word k-grams as (k, gram) structs; empty (not null!) below k
        # tokens so concat() keeps the other arity's grams alive
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.struct(
                    F.lit(k).alias("k"),
                    F.concat_ws(
                        " ", *[F.element_at(toks, i + j) for j in range(k)]
                    ).alias("gram"),
                ),
            ),
        ).otherwise(empty)

    exploded = staged.select(
        "doc_id",
        "n_chars",
        F.explode_outer(F.concat(_grams(2), _grams(3))).alias("g"),
    )
    counts = exploded.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_chars").alias("n_chars")
    )
    # Gopher's top-n-gram stat is the char mass of the MOST FREQUENT
    # gram (argmax by count), not max(count*chars) — a long singleton
    # gram must never beat a short frequent one. The
    # argmax rides ONE order-preserving long, cnt·2^20 + len (len <
    # 2^20 by construction — a gram is 2-3 whitespace tokens of a
    # finite doc), so the aggregate stays a codegen HashAggregate (the
    # d15 packed-winner discipline; struct max falls to SortAggregate).
    # Tie on count -> longer gram wins; residual ties have equal char
    # mass, so the decoded product is deterministic either way.
    packed = F.col("cnt") * F.lit(T32_PACK) + F.length("g.gram")
    stats = counts.groupBy("doc_id").agg(
        F.min("n_chars").alias("n_chars"),
        F.max(F.when(F.col("g.k") == 2, packed)).alias("top2_packed"),
        F.max(F.when(F.col("g.k") == 3, packed)).alias("top3_packed"),
        F.sum(
            F.when(
                (F.col("g.k") == 3) & (F.col("cnt") > 1),
                (F.col("cnt") - 1) * F.length("g.gram"),
            ).otherwise(F.lit(0))
        ).alias("dup3_chars"),
    )

    def _unpack(c) -> F.Column:
        # exact integer decode: count = packed >> 20, len = packed mod
        # 2^20 (shiftright, not float division — packed reaches 2^40)
        return F.shiftright(c, T32_PACK_BITS) * F.pmod(c, F.lit(T32_PACK))

    stats = stats.select(
        "doc_id",
        "n_chars",
        _unpack(F.col("top2_packed")).alias("top2_chars"),
        _unpack(F.col("top3_packed")).alias("top3_chars"),
        "dup3_chars",
    )

    def _frac(c) -> F.Column:
        return F.round(
            F.when(
                F.col("n_chars") > 0,
                F.coalesce(c, F.lit(0)) / F.col("n_chars"),
            ).otherwise(F.lit(0.0)),
            6,
        )

    top2 = _frac(F.col("top2_chars"))
    top3 = _frac(F.col("top3_chars"))
    dup3 = _frac(F.col("dup3_chars"))
    return stats.select(
        "doc_id",
        top2.alias("top2_frac"),
        top3.alias("top3_frac"),
        dup3.alias("dup3_frac"),
        (
            (top2 > T32_TOP2) | (top3 > T32_TOP3) | (dup3 > T32_DUP3)
        ).cast("int").alias("rep_flag"),
    )


T32_SQL = f"""
WITH planted32 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' ' || repeat('{T32_PHRASE}', {T32_REPEATS})
              ELSE text END AS text
  FROM documents
),
tok32 AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')
             AS toks
  FROM planted32
),
g32 AS (
  SELECT doc_id, 2 AS k, toks[i] || ' ' || toks[i + 1] AS gram
  FROM tok32, unnest(range(1, len(toks))) AS u(i)
  UNION ALL
  SELECT doc_id, 3, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
  FROM tok32, unnest(range(1, len(toks) - 1)) AS u(i)
),
c32 AS (
  SELECT doc_id, k, gram, count(*) AS cnt FROM g32 GROUP BY 1, 2, 3
),
p32 AS (
  SELECT doc_id,
         max(CASE WHEN k = 2 THEN cnt * {T32_PACK} + length(gram) END)
             AS top2_packed,
         max(CASE WHEN k = 3 THEN cnt * {T32_PACK} + length(gram) END)
             AS top3_packed,
         sum(CASE WHEN k = 3 AND cnt > 1 THEN (cnt - 1) * length(gram)
                  ELSE 0 END) AS dup3_chars
  FROM c32 GROUP BY 1
),
u32 AS (
  SELECT doc_id,
         (top2_packed // {T32_PACK}) * (top2_packed % {T32_PACK})
             AS top2_chars,
         (top3_packed // {T32_PACK}) * (top3_packed % {T32_PACK})
             AS top3_chars,
         dup3_chars
  FROM p32
),
f32 AS (
  SELECT t.doc_id,
         round(CASE WHEN t.n_chars > 0
                    THEN coalesce(p.top2_chars, 0) / t.n_chars
                    ELSE 0.0 END, 6) AS top2_frac,
         round(CASE WHEN t.n_chars > 0
                    THEN coalesce(p.top3_chars, 0) / t.n_chars
                    ELSE 0.0 END, 6) AS top3_frac,
         round(CASE WHEN t.n_chars > 0
                    THEN coalesce(p.dup3_chars, 0) / t.n_chars
                    ELSE 0.0 END, 6) AS dup3_frac
  FROM tok32 t LEFT JOIN u32 p USING (doc_id)
)
SELECT doc_id, top2_frac, top3_frac, dup3_frac,
       CAST(top2_frac > {T32_TOP2} OR top3_frac > {T32_TOP3}
            OR dup3_frac > {T32_DUP3} AS INT) AS rep_flag
FROM f32
"""


# ---------------------------------------------------------------------------
# T33 — Unicode normalization / encoding-repair gate: the fold every
# production LLM-cleaning stack runs
# before fingerprinting. The corpus is augmented with one corrupted
# twin per doc — fullwidth transliteration (doc_id % 3 == 0), cp1252
# mojibake bytes (% 3 == 1, also tripping the double-encoding
# detector), or NFD-style combining accents (% 3 == 2) — the three
# visually-identical classes that escape a byte-level fingerprint.
# Output: per doc, the mojibake flag, the fold delta (chars removed),
# and the keep-first representative over the FOLDED fingerprint. The
# gate is proven by construction: every planted twin must resolve
# rep_id == its original (tests pin this recall at 100%), while the
# un-folded fingerprint would give each twin its own cluster.
#
# Scale: plant + fold + fingerprint are stateless column expressions
# (one replace chain + one translate — codegen'd, byte-proportional);
# the only exchange is the fingerprint window, identical to d1's.
# ---------------------------------------------------------------------------

# planted corruption tables, interpolated into BOTH engines; ordered so
# no replacement's output feeds a later pattern
T33_MOJI_PLANT = [("e", "\u00c3\u00a9"), ("o", "\u00c3\u00b3"), ("a", "\u00c3\u00a1")]
T33_NFD_PLANT = [("e", "e\u0301"), ("a", "a\u0300")]
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_FW_LOWER = "".join(chr(ord(c) + 0xFEE0) for c in _ASCII_LOWER)


def t33_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.functions.unicode_fold import had_mojibake, unicode_fold
    from x17a5_spark.queries.dedup import guarded_twin_id

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    moji = F.col("text")
    for good, bad in T33_MOJI_PLANT:
        moji = F.replace(moji, F.lit(good), F.lit(bad))
    nfd = F.col("text")
    for good, bad in T33_NFD_PLANT:
        nfd = F.replace(nfd, F.lit(good), F.lit(bad))
    corrupted = (
        F.when(F.col("doc_id") % 3 == 0, F.translate("text", _ASCII_LOWER, _FW_LOWER))
        .when(F.col("doc_id") % 3 == 1, moji)
        .otherwise(nfd)
    )
    twins = docs.select(
        guarded_twin_id(F.col("doc_id"), 1, "t33").alias("doc_id"),
        corrupted.alias("text"),
    )
    aug = docs.unionByName(twins)
    # stage the fold ONCE per row: n_folded and the fingerprint
    # both consume the folded text, and codegen CSE does not reliably
    # merge the two ~40-replace chains (staged A/B 0.87 -> 0.79 s,
    # rows identical). fingerprint_of_folded is normalized_fingerprint's
    # own tail, so fp is the same expression over the same fold.
    from x17a5_spark.functions.text import fingerprint_of_folded

    staged = aug.withColumn("_folded", unicode_fold(F.col("text")))
    scored = staged.select(
        "doc_id",
        had_mojibake(F.col("text")).alias("had_mojibake"),
        (F.length("text") - F.length("_folded")).cast("int").alias("n_folded"),
        fingerprint_of_folded(F.col("_folded")).alias("fp"),
    )
    rep = F.min("doc_id").over(Window.partitionBy("fp"))
    return scored.select(
        "doc_id",
        "had_mojibake",
        "n_folded",
        rep.alias("rep_id"),
        (rep != F.col("doc_id")).cast("int").alias("is_dup"),
    )


def _t33_sql() -> str:
    from x17a5_spark.functions.unicode_fold import (
        had_mojibake_sql,
        unicode_fold_sql,
    )
    from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET

    def chain(expr, plants):
        for good, bad in plants:
            g, b = good.replace("'", "''"), bad.replace("'", "''")
            expr = f"replace({expr}, '{g}', '{b}')"
        return expr

    moji = chain("text", T33_MOJI_PLANT)
    nfd = chain("text", T33_NFD_PLANT)
    return f"""
WITH twins33 AS (
  SELECT doc_id + {AUG_TWIN_OFFSET} AS doc_id,
         CASE WHEN doc_id % 3 = 0
                THEN translate(text, '{_ASCII_LOWER}', '{_FW_LOWER}')
              WHEN doc_id % 3 = 1 THEN {moji}
              ELSE {nfd} END AS text
  FROM documents
),
aug33 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM twins33
),
f33 AS (
  SELECT doc_id,
         {had_mojibake_sql('text')} AS had_mojibake,
         CAST(length(text) - length({unicode_fold_sql('text')}) AS INT)
             AS n_folded,
         {norm_fp_sql('text')} AS fp
  FROM aug33
)
SELECT doc_id, had_mojibake, n_folded,
       min(doc_id) OVER (PARTITION BY fp) AS rep_id,
       CAST(min(doc_id) OVER (PARTITION BY fp) <> doc_id AS INT) AS is_dup
FROM f33
"""



# ---------------------------------------------------------------------------
# T34 — model-based document quality filter: the
# FineWeb/DCLM-style TRAINED gate at document grain. The X5 family
# (ml/classifier.py, the reference's run_build_database.py:298-336
# HashingVectorizer->LogReg) trains and applies distributively but is
# test-gated only; t34 closes the oracle gap by freezing a trained
# LogisticRegression into integer micro-weights whose decision value
# is exact BIGINT arithmetic in BOTH engines (functions/
# quality_model.py — featurizer, quantization, provenance).
#
# Fixture: every document gets two planted junk twins — token spam
# (first token repeated 60x, +2*offset ids) and hex gibberish (8 md5
# words, +3*offset ids), the degenerate classes a production quality
# model exists to kill. The trained model separates them from the
# originals at 99.9%; the oracle hash-checks every z and keep bit.
#
# Scale: scan -> codegen HOF chain -> comparison. Zero exchange, no
# model file, no broadcast — the model IS ~70 interpolated literals.
# ---------------------------------------------------------------------------


def t34_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.functions.quality_model import quality_z_scaled
    from x17a5_spark.queries.dedup import guarded_twin_id

    docs = load_table(spark, sf_dir, "documents", fanout=True).select(
        "doc_id", "text"
    )
    # stage the token array ONCE per row at every consumption site (the
    # e4/t33 staged-projection discipline): codegen CSE does not
    # fold the regex split across the HOF lambdas, so the un-staged form
    # re-split every document FIVE times (size, the z-term size, the
    # weight transform, array_distinct, the char-length transform —
    # plans/r14/t34_before.txt). Multi-referenced non-cheap aliases are
    # exempt from CollapseProject, so _toks genuinely materializes once.
    docs_t = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("_toks")
    )
    spam = docs_t.filter(F.size("_toks") >= 1).select(
        guarded_twin_id(F.col("doc_id"), 2, "t34").alias("doc_id"),
        F.trim(
            F.repeat(F.concat(F.element_at("_toks", 1), F.lit(" ")), 60)
        ).alias("text"),
    )
    gib = docs.select(
        guarded_twin_id(F.col("doc_id"), 3, "t34").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.md5(F.concat(F.col("text"), F.lit(s))) for s in "abcdefgh"],
        ).alias("text"),
    )
    aug = docs.unionByName(spam).unionByName(gib)
    staged = aug.select("doc_id", tokens(F.col("text")).alias("_toks"))
    scored = staged.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        quality_z_scaled(F.col("_toks")).alias("z_micro"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "z_micro",
        (F.col("z_micro") >= 0).cast("int").alias("keep"),
    )


def _t34_sql() -> str:
    from x17a5_spark.functions.quality_model import quality_z_scaled_sql
    from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET

    toks = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"
    gib = ", ".join(f"md5(text || '{s}')" for s in "abcdefgh")
    return f"""
WITH base34 AS (
  SELECT doc_id, text, {toks} AS toks FROM documents
),
aug34 AS (
  SELECT doc_id, toks FROM base34
  UNION ALL
  -- token spam: first token repeated 60x (built as a list directly;
  -- identical to tokenizing the engine's repeated string — md5 words
  -- and corpus tokens carry no whitespace)
  SELECT doc_id + {2 * AUG_TWIN_OFFSET},
         list_transform(range(1, 61), i -> toks[1])
  FROM base34 WHERE len(toks) >= 1
  UNION ALL
  SELECT doc_id + {3 * AUG_TWIN_OFFSET}, [{gib}] FROM base34
),
scored34 AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CAST({quality_z_scaled_sql('toks')} AS BIGINT) AS z_micro
  FROM aug34
)
SELECT doc_id, n_tokens, z_micro, CAST(z_micro >= 0 AS INT) AS keep
FROM scored34
"""


QUERIES = {
    "t1_token_stats": t1_token_stats,
    "t2_quality_score": t2_quality_score,
    "t3_lang_id": t3_lang_id,
    "t4_fingerprint": t4_fingerprint,
    "t5_bpe_pieces": t5_bpe_pieces,
    "t17_bpe_pair_counts": t17_bpe_pair_counts,
    "t12_kmv_distinct": t12_kmv_distinct,
    "t18_bpe_train": t18_bpe_train,
    "t19_hll_distinct": t19_hll_distinct,
    "t27_countmin": t27_countmin,
    "t28_moments_sketch": t28_moments_sketch,
    "t21_zipf_fit": t21_zipf_fit,
    "t25_keyword_extraction": t25_keyword_extraction,
    "t26_token_entropy": t26_token_entropy,
    "e8_bpe_tokenize": e8_bpe_tokenize,
    "t29_ngram_novelty": t29_ngram_novelty,
    "t30_decontamination": t30_decontamination,
    "t31_pii_scrub": t31_pii_scrub,
    "t32_repetition_filter": t32_repetition_filter,
    "t33_unicode_normalize": t33_unicode_normalize,
    "t34_model_quality_filter": t34_model_quality_filter,
}

ORACLES = {
    "t1_token_stats": T1_SQL,
    "t2_quality_score": T2_SQL,
    "t3_lang_id": T3_SQL,
    "t4_fingerprint": T4_SQL,
    "t5_bpe_pieces": T5_SQL,
    "t17_bpe_pair_counts": T17_SQL,
    "t18_bpe_train": T18_SQL,
    "t12_kmv_distinct": T12_SQL,
    "t19_hll_distinct": T19_SQL,
    "t27_countmin": T27_SQL,
    "t28_moments_sketch": T28_SQL,
    "t21_zipf_fit": T21_SQL,
    "t25_keyword_extraction": T25_SQL,
    "t26_token_entropy": T26_SQL,
    "e8_bpe_tokenize": E8_SQL,
    "t29_ngram_novelty": T29_SQL,
    "t30_decontamination": _t30_sql(),
    "t31_pii_scrub": T31_SQL,
    "t32_repetition_filter": T32_SQL,
    "t33_unicode_normalize": _t33_sql(),
    "t34_model_quality_filter": _t34_sql(),
}
