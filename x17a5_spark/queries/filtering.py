"""Training-data filtering layer over the ``documents`` table — the
corpus-hygiene operators every large-scale LLM data pipeline runs
between raw scrape and tokenization: heuristic quality gating (Gopher
rules), intra-document repetition detection, PII redaction, and
benchmark decontamination.

All four are deterministic and oracle-checked (identical formulas on
both engines). Scale notes per operator:

* t8 / t10 are stateless column expressions — embarrassingly parallel
  scans, zero shuffle, whole-stage codegen.
* t9 uses explode + two-level groupBy — the distributed shape for
  per-doc n-gram frequency (a per-row ``transform(array_distinct(...))``
  count would be O(distinct x n) per document, quadratic for repetitive
  docs, exactly the docs this filter exists to catch).
* t11 broadcasts the (small, distinct) eval-set gram table into a
  semi-join against the train-side gram stream — candidate generation
  is an equi-join on the gram hash, never a cross product; at 100 TB
  the eval set (benchmark suites) stays a few MB, so the broadcast
  holds at any corpus size.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from x17a5_spark.functions.text import tokens, word_shingles
from x17a5_spark.queries.textops import STOPWORDS
from x17a5_spark.tables import load_table

_TOKS_SQL = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_EN_LIST_SQL = "['" + "', '".join(STOPWORDS["en"]) + "']"


# T8 — Gopher-style heuristic quality gate (Rae et al. 2021 §A1.1):
# word-count bounds, mean-word-length band, alphabetic-word fraction,
# and a minimum stopword count. The synthetic corpus has no
# punctuation, so the symbol-ratio rule is represented by the
# non-alphabetic-character ratio. Emits the signals AND the keep flag
# so downstream composition can re-threshold without a rescan.
#
# The stopword criterion is LANGUAGE-GATED: each doc is scored against
# its own language's stopword list (en/de/fr/es); for languages without
# a list the criterion is waived (stopword_hits = null) — a fixed
# English list would systematically reject every non-English document,
# a corpus bias this gate must not introduce.
def t8_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    total_word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        total_word_chars / n_words
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    frac_alpha = F.when(n_words == 0, F.lit(0.0)).otherwise(alpha_words / n_words)

    def hits_for(lang: str):
        return F.size(
            F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS[lang]))
        )

    stop_hits = F.lit(None).cast("int")
    for lang in STOPWORDS:
        stop_hits = F.when(F.col("lang") == lang, hits_for(lang)).otherwise(
            stop_hits
        )
    keep = (
        (n_words >= 20)
        & (n_words <= 100000)
        & (mean_word_len >= 2.0)
        & (mean_word_len <= 10.0)
        & (frac_alpha >= 0.8)
        & (stop_hits.isNull() | (stop_hits >= 2))
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        stop_hits.cast("long").alias("stopword_hits"),
        keep.alias("keep"),
    )


def _lang_list_sql(lang: str) -> str:
    return "['" + "', '".join(STOPWORDS[lang]) + "']"


_STOP_HITS_SQL = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN len(list_filter(toks,"
        f" x -> list_contains({_lang_list_sql(lang)}, lower(x))))"
        for lang in STOPWORDS
    )
    + " END"
)

T8_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS word_chars,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_words,
         {_STOP_HITS_SQL} AS stop_hits
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(CASE WHEN n_words = 0 THEN 0.0 ELSE word_chars / n_words END, 6)
           AS mean_word_len,
       round(CASE WHEN n_words = 0 THEN 0.0 ELSE alpha_words / n_words END, 6)
           AS frac_alpha_words,
       CAST(stop_hits AS BIGINT) AS stopword_hits,
       (n_words >= 20 AND n_words <= 100000
        AND (CASE WHEN n_words = 0 THEN 0.0 ELSE word_chars / n_words END)
            BETWEEN 2.0 AND 10.0
        AND (CASE WHEN n_words = 0 THEN 0.0 ELSE alpha_words / n_words END) >= 0.8
        AND (stop_hits IS NULL OR stop_hits >= 2)) AS keep
FROM s
"""


# T9 — intra-document repetition (Gopher §A1.1 "repetition removal"):
# fraction of duplicate word 2-grams and the share held by the single
# most frequent 2-gram. Distributed shape: explode the grams, count by
# (doc_id, gram), re-aggregate by doc_id — two key-local shuffles, both
# with map-side combine; nothing per-row is quadratic.
def t9_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=2)).alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("total_grams"),
        F.count("*").alias("distinct_grams"),
        F.max("cnt").alias("top_cnt"),
    )
    dup_frac = 1.0 - F.col("distinct_grams") / F.col("total_grams")
    top_share = F.col("top_cnt") / F.col("total_grams")
    return per_doc.select(
        "doc_id",
        F.col("total_grams").cast("long").alias("total_grams"),
        F.col("distinct_grams").cast("long").alias("distinct_grams"),
        F.round(dup_frac, 6).alias("dup_gram_frac"),
        F.round(top_share, 6).alias("top_gram_share"),
        (dup_frac <= 0.2).alias("keep"),
    )


T9_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t
  WHERE len(toks) >= 2
),
pg AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
),
pd AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS total_grams,
         CAST(count(*) AS BIGINT) AS distinct_grams,
         max(cnt) AS top_cnt
  FROM pg GROUP BY doc_id
)
SELECT doc_id, total_grams, distinct_grams,
       round(1.0 - distinct_grams / total_grams, 6) AS dup_gram_frac,
       round(top_cnt / total_grams, 6) AS top_gram_share,
       (1.0 - distinct_grams / total_grams <= 0.2) AS keep
FROM pd
"""


# T10 — PII redaction. The synthetic corpus carries no real PII, so the
# query PLANTS a deterministic contact block derived from (doc_id,
# source) — identically on both engines — then redacts emails and
# phone-shaped tokens and reports pre- AND post-redaction match counts
# plus a digest of the redacted text (post counts must be zero — the
# redaction's own regexes find nothing in their output). The patterns
# cover case variants, '+'-tagged local parts, and dash/dot/space
# separated phones; they are oracle-test patterns exercising the
# redaction machinery, not a production-grade PII detector (production
# would add obfuscated forms, international formats, NER-based names).
# Character classes + bounded quantifiers only, so Java regex (Spark)
# and RE2 (DuckDB) agree byte-for-byte.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ][0-9]{3,4}[-. ]?[0-9]{4}"


def t10_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact User"),
        F.col("doc_id"),
        F.lit("+tag@Example.com or +001 (555) 867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" today"),
    )
    with_pii = docs.select("doc_id", planted.alias("text"))

    def counts(col):
        return (
            F.size(F.regexp_extract_all(col, F.lit(_EMAIL_RE), 0)),
            F.size(F.regexp_extract_all(col, F.lit(_PHONE_RE), 0)),
        )

    n_emails, n_phones = counts(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    res_emails, res_phones = counts(redacted)
    return with_pii.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        res_emails.cast("long").alias("n_emails_after"),
        res_phones.cast("long").alias("n_phones_after"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


_RED_SQL = (
    f"regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),"
    f" '{_PHONE_RE}', '[PHONE]', 'g')"
)

T10_SQL = f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact User' || CAST(doc_id AS VARCHAR)
              || '+tag@Example.com or +001 (555) 867-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' today' AS text
  FROM documents
),
r AS (
  SELECT doc_id, text, {_RED_SQL} AS redacted FROM p
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(redacted, '{_EMAIL_RE}')) AS BIGINT)
           AS n_emails_after,
       CAST(len(regexp_extract_all(redacted, '{_PHONE_RE}')) AS BIGINT)
           AS n_phones_after,
       md5(redacted) AS redacted_md5,
       CAST(length(redacted) AS BIGINT) AS redacted_len
FROM r
"""


# T11 — benchmark decontamination: flag training documents sharing word
# 2-grams with a pinned "evaluation" subset (doc_id % 97 == 0 stands in
# for the benchmark suite). Shape: the eval side collapses to DISTINCT
# grams (a few hundred rows here; a few MB of benchmark n-grams in
# production) and is BROADCAST into an inner join against the exploded
# train-side gram stream — one scan of the corpus, no shuffle of the
# train side, no cross product. k=2 grams keep the overlap signal
# non-degenerate on the tiny synthetic vocabulary; production pipelines
# use 8-13-gram hashes, which only shrinks the broadcast.
def t11_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.explode(word_shingles(F.col("text"), k=2)).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("is_eval")).select("gram").distinct()
    )
    train = grams.filter(~F.col("is_eval"))
    hits = (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_contaminated_grams"),
            F.countDistinct("gram").cast("long").alias("n_distinct_hits"),
        )
    )
    totals = train.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("total_grams")
    )
    joined = totals.join(hits, "doc_id", "left").na.fill(
        0, ["n_contaminated_grams", "n_distinct_hits"]
    )
    frac = F.col("n_contaminated_grams") / F.col("total_grams")
    return joined.select(
        "doc_id",
        "total_grams",
        "n_contaminated_grams",
        "n_distinct_hits",
        F.round(frac, 6).alias("contaminated_frac"),
        (frac > 0.8).alias("contaminated"),
    )


T11_SQL = f"""
WITH t AS (
  SELECT doc_id, (doc_id % 97 = 0) AS is_eval, {_TOKS_SQL} AS toks FROM documents
),
g AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t
  WHERE len(toks) >= 2
),
ev AS (
  SELECT DISTINCT gram FROM g WHERE is_eval
),
tr AS (
  SELECT doc_id, gram FROM g WHERE NOT is_eval
),
hits AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_contaminated_grams,
         CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_distinct_hits
  FROM tr JOIN ev ON tr.gram = ev.gram
  GROUP BY tr.doc_id
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams FROM tr GROUP BY doc_id
)
SELECT tot.doc_id, tot.total_grams,
       coalesce(hits.n_contaminated_grams, 0) AS n_contaminated_grams,
       coalesce(hits.n_distinct_hits, 0) AS n_distinct_hits,
       round(coalesce(hits.n_contaminated_grams, 0) / tot.total_grams, 6)
           AS contaminated_frac,
       (coalesce(hits.n_contaminated_grams, 0) / tot.total_grams > 0.8)
           AS contaminated
FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
"""


# ---------------------------------------------------------------------------
# T22 — cross-document boilerplate segment removal (the C4 / RefinedWeb
# "duplicate line" step: lines appearing verbatim in many documents —
# navigation chrome, cookie banners, footers — are cut from EVERY doc
# while the rest of each document survives in order).
#
# The fixture's documents are single-line token streams, so the "line"
# unit here is a consecutive K-token segment (deterministic
# segmentation — same boundaries in both engines); real corpora would
# split on newlines with identical machinery. Boilerplate is PLANTED
# in-query (a fixed segment appended to doc_id % 4 == 0 and prepended
# to doc_id % 7 == 0) so removal provably fires and the oracle mirrors
# the planting closed-form.
#
# Scale: segment df is ONE groupBy on the segment text (map-side
# partial count-distinct); the removal join matches each segment row
# to exactly one df row, so join output == segment count — a hot
# boilerplate segment raises ONE df row's count, never a quadratic
# pair blowup. Reassembly is a per-doc sort_array over its own
# segments (bounded by doc length), never a global sort.
# ---------------------------------------------------------------------------

T22_K = 8  # tokens per segment ("line" unit for the fixture)
T22_DF = 5  # a segment in >= this many distinct docs is boilerplate
T22_BOILER = "subscribe to our newsletter click here to continue reading"


def t22_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", F.col("text"), F.lit(T22_BOILER)),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws(" ", F.lit(T22_BOILER), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = tokens(F.col("text"))
    n_seg = F.ceil(F.size(toks) / T22_K).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            # guard: Spark's sequence(0, -1) counts DOWN, so an empty
            # doc must short-circuit to an empty segment array
            F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.array_join(
                        F.slice(toks, i * T22_K + 1, T22_K), " "
                    ),
                )
            )
        ).alias("pos", "seg"),
    )
    segs = segs.persist(StorageLevel.MEMORY_AND_DISK)
    # ^ two consumers (df table, removal join) — the persist stops each
    # from re-running the corpus-wide explode
    df_counts = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # Guide §2.3: the filtered reassembly, the kept count AND the
    # unfiltered per-doc segment count ride ONE groupBy over the df
    # join — collect_list skips the nulls a failed when() emits, so
    # sorting the conditionally-collected structs reassembles exactly
    # the kept-row list. This avoids a THIRD segs read for stats, a
    # separate kept groupBy and a final left join; a doc whose every
    # segment is boilerplate collects an empty list -> array_join('')
    # and n_kept 0, identical to a left-join coalesce. Docs with zero segments appear in neither shape.
    keep = F.col("df") < T22_DF
    joined = segs.join(df_counts, "seg")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.when(keep, F.struct("pos", "seg")))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.count("*").alias("n_segments"),
        )
        .select(
            "doc_id",
            "clean_text",
            (F.col("n_segments") - F.col("n_kept")).alias("n_removed"),
            "n_segments",
        )
    )


T22_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || ' {T22_BOILER}'
              WHEN doc_id % 7 = 0 THEN '{T22_BOILER} ' || text
              ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM aug),
segs AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos * {T22_K} + 1 : (pos + 1) * {T22_K}], ' ')
             AS seg
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(len(toks) / {T22_K}.0) AS BIGINT)))
                   AS pos
        FROM toks)
),
df AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1),
kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM segs s JOIN df USING (seg) WHERE df.df < {T22_DF}),
reasm AS (
  SELECT doc_id, array_to_string(list(seg ORDER BY pos), ' ') AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY 1
),
stats AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY 1)
SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
       s.n_segments - coalesce(r.n_kept, 0) AS n_removed,
       s.n_segments
FROM stats s LEFT JOIN reasm r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# T23 — quality-weighted importance sampling (the soft alternative to
# hard quality gates: CCNet buckets / DoReMi-style reweighting keep a
# quality-DEPENDENT fraction of each stratum instead of a cliff).
# Here: per-doc quality q = distinct-token ratio, acceptance
# probability p = max(q*q, floor) (multiplication, not pow() — libm
# pow can differ across engines in the last ulp), deterministic
# uniform u from md5(doc_id) exactly as a17/t12/d10, keep iff u < p,
# and the survivor carries weight 1/p so downstream statistics stay
# unbiased (Horvitz-Thompson).
#
# Scale: stateless single scan — no shuffle at all; the decision and
# weight are pure column expressions, and reruns/backfills agree
# because u is content-addressed, not RNG state.
# ---------------------------------------------------------------------------

T23_FLOOR = 0.05
_TWO60 = float(1 << 60)


def t23_quality_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = tokens(F.col("text"))
    q = F.size(F.array_distinct(toks)) / F.size(toks)
    p = F.greatest(q * q, F.lit(T23_FLOOR))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(_TWO60)
    )
    return docs.select(
        "doc_id",
        F.round(q, 6).alias("quality"),
        F.round(p, 6).alias("p_accept"),
        (u < p).alias("keep"),
        F.round(1.0 / p, 6).alias("weight"),
    )


T23_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         len(list_distinct({_TOKS_SQL})) / CAST(len({_TOKS_SQL}) AS DOUBLE)
             AS q,
         CAST('0x' || md5(CAST(doc_id AS VARCHAR))[1:15] AS BIGINT)
             / {_TWO60} AS u
  FROM documents
)
SELECT doc_id,
       round(q, 6) AS quality,
       round(greatest(q * q, {T23_FLOOR}), 6) AS p_accept,
       u < greatest(q * q, {T23_FLOOR}) AS keep,
       round(1.0 / greatest(q * q, {T23_FLOOR}), 6) AS weight
FROM scored
"""


QUERIES = {
    "t8_gopher_quality": t8_gopher_quality,
    "t9_repetition_filter": t9_repetition_filter,
    "t10_pii_redaction": t10_pii_redaction,
    "t11_decontamination": t11_decontamination,
    "t22_boilerplate_removal": t22_boilerplate_removal,
    "t23_quality_sampling": t23_quality_sampling,
}

ORACLES = {
    "t8_gopher_quality": T8_SQL,
    "t9_repetition_filter": T9_SQL,
    "t10_pii_redaction": T10_SQL,
    "t11_decontamination": T11_SQL,
    "t22_boilerplate_removal": T22_SQL,
    "t23_quality_sampling": T23_SQL,
}
