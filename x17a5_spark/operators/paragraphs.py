"""Paragraph-level (sub-document) dedup with document reassembly.

The Dolma/RefinedWeb curation primitive doc-level dedup cannot express:
boilerplate, license blocks and quoted spans repeat ACROSS documents
that are not duplicates of each other, so the fix is delete-the-span,
not drop-the-document. This module holds the reusable core; the
registry query (queries/dedup.py::d15_paragraph_dedup) wraps it with
the demo fixture and the DuckDB oracle twin.

Semantics (engine-identical to the oracle):
- split each doc into paragraphs: fixed ``PARA_TOKENS``-token chunks by
  default, or — ``delimiter`` mode — on a structural regex
  (blank lines, newlines) first, fixed-width chunking only the
  oversized spans;
- keep the FIRST occurrence (min (doc_id, pos)) of every paragraph
  corpus-wide;
- always keep paragraphs shorter than ``MIN_TOKENS`` (a ragged 1-4
  token tail is noise, not boilerplate);
- reassemble each doc from its surviving paragraphs in order; docs
  deduplicated to nothing stay in the output with n_kept=0 and empty
  text so the curation funnel can be audited.

Scale decisions (each measured / plan-pinned, see SCALE.md's d15
paragraph-dedup section):
- keep-first is ``groupBy(fingerprint).min(packed-long)`` — NOT a
  row_number window: a hot boilerplate paragraph at 100 TB has
  billions of occurrences and a window partitioned on the fingerprint
  serializes them onto one task, while partial aggregation collapses
  the hot key map-side. The winner rows ARE the kept set (no join
  back).
- the (doc_id, pos) winner packs into ONE long (doc_id·2^20 + pos,
  order-identical to the lexicographic struct for pos < 2^20 and
  doc_id < 2^43) because min over a LONG compiles to HashAggregate,
  while min over a STRUCT falls back to SortAggregate and drags a
  per-partition sort of every paragraph row into the plan. The packing
  bound fails LOUD (raise_error), never silently misattributes.
- the token split is STAGED into a real column (CollapseProject
  protection, SPARK-36718) — inlined, the regex split re-executes at
  every reference site including per-element inside the transform
  lambda's slice().
- the paragraph-array stage table persists once and serves both the
  explode/keep-first path and the totals branch (the d3 shingle-table
  discipline).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from x17a5_spark.functions.text import tokens

PARA_TOKENS = 12
MIN_TOKENS = 5
PACK = 1 << 20  # (doc_id, pos) packed order-preserving into one long
_PACK_SHIFT = PACK.bit_length() - 1  # unpack shift derived, never drifts
IDSPACE = (1 << 63) // PACK  # doc_id bound so doc_id*PACK+pos fits a long


_PARA_STRUCT = "array<struct<para:string,para_len:int>>"


def _chunk_structs(toks):
    """Token array → array of (para text, token count) chunks of
    ``PARA_TOKENS`` tokens. The lambda variable binds the token array
    ONCE per element, so nested references never re-execute an upstream
    split."""
    n = F.size(toks)
    nseg = F.floor((n + PARA_TOKENS - 1) / PARA_TOKENS).cast("int")
    return F.when(
        nseg >= 1,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.struct(
                F.concat_ws(
                    " ", F.slice(toks, i * PARA_TOKENS + 1, PARA_TOKENS)
                ).alias("para"),
                F.least(F.lit(PARA_TOKENS), n - i * PARA_TOKENS)
                .cast("int")
                .alias("para_len"),
            ),
        ),
    ).otherwise(F.array().cast(_PARA_STRUCT))



def packed_para_id():
    """(doc_id, pos) packed order-preserving into one long; BOTH
    packing bounds fail LOUD (ADVICE r7 closed the doc_id side): a
    doc_id past 2^43 would silently corrupt the packed ordering,
    exactly like an overflowing pos."""
    return F.when(
        (F.col("pos") < PACK) & (F.col("doc_id") < IDSPACE),
        F.col("doc_id") * PACK + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "paragraph (doc_id, pos) exceeds the 2^43/2^20 "
                    "packing bounds in doc "
                ),
                F.col("doc_id").cast("string"),
            )
        )
    )


def paragraph_table(
    docs: DataFrame, delimiter: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, text) -> (base, paras): the persisted per-doc paragraph
    array stage table and its exploded (doc_id, pos, para, para_len)
    view — shared by exact (d15/d16) and near (d18) paragraph dedup."""
    staged = docs.select("doc_id", "text")
    if delimiter is None:
        para_arr = _chunk_structs(F.col("_toks"))
        staged = staged.withColumn("_toks", tokens(F.col("text")))
    else:
        spans = F.filter(
            F.transform(F.split(F.col("text"), delimiter), tokens),
            lambda t: F.size(t) > 0,
        )
        para_arr = F.flatten(F.transform(F.col("_spans"), _chunk_structs))
        staged = staged.withColumn("_spans", spans)
    base = (
        staged.select("doc_id", para_arr.alias("paras"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    paras = base.select(
        "doc_id",
        F.posexplode("paras").alias("pos", "p"),
    ).select(
        "doc_id",
        "pos",
        F.col("p.para").alias("para"),
        F.col("p.para_len").alias("para_len"),
    )
    return base, paras


def dedup_paragraphs(docs: DataFrame, delimiter: str | None = None) -> DataFrame:
    """``(doc_id, text)`` → ``(doc_id, n_para, n_kept, text_dedup)``.

    ``docs`` must have unique ``doc_id`` (long) and string ``text``.

    ``delimiter``: a regex — when set, paragraphs
    follow the document's REAL structure: split the text on the regex
    (e.g. ``\\n\\s*\\n`` for blank-line paragraphs), drop empty spans,
    then fixed-width chunk only the OVERSIZED spans (> ``PARA_TOKENS``
    tokens) so a single run-on span cannot become an unboundedly long
    dedup key. ``None`` keeps the fixed-width split over the whole
    token stream (the d15 oracle twin's mode). Positions stay one
    global in-order sequence either way, so the keep-first packing and
    reassembly logic downstream is mode-independent.
    """
    base, paras = paragraph_table(docs, delimiter)
    packed = packed_para_id()
    salt = F.when(F.col("para_len") < MIN_TOKENS, packed)
    kept = (
        paras.withColumn("_salt", salt)
        .groupBy("para", "_salt")
        .agg(F.min(packed).alias("w"))
        .select(F.shiftright("w", _PACK_SHIFT).alias("doc_id"), "w", "para")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "para"))),
                lambda x: x["para"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = base.select("doc_id", F.size("paras").alias("n_para"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_para",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )


# Paragraph-grain NEAR dedup — d15/
# d16 are exact-fingerprint at paragraph grain, so boilerplate with a
# one-token drift (dates, counters, revision numbers) survives. d3's
# banding applied at the paragraph level closes it.
D18_MINHASH = 16  # all 16 carved from ONE md5 (8 hex chars each)
D18_BANDS = 8  # 2 rows per band: P(miss) = (1 - J^2)^8
D18_TAU = 0.6  # confirm threshold on exact bigram-shingle Jaccard
D18_SHINGLE_K = 2  # bigrams: a 1-token drift in a 12-token para -> J~0.69


def near_dedup_paragraphs(docs: DataFrame, delimiter: str | None = None) -> DataFrame:
    """``(doc_id, text)`` → ``(doc_id, n_para, n_kept, text_dedup)``,
    dropping paragraphs that are NEAR-duplicates of an earlier one.

    Pipeline (mirrored exactly by the d18 oracle, so the drop decision
    is hash-checked): paragraphize like d15/d16 → bigram-shingle each
    eligible paragraph (≥ ``MIN_TOKENS`` tokens) → 16 minhashes carved
    from ONE md5 per shingle (disjoint 32-bit hex slices — the d3
    one-permutation discipline: one hash pass, not 16) → 8 two-row
    band signatures → per band-bucket the min packed (doc_id, pos) is
    the bucket keeper → every paragraph confirms against its (≤ 8)
    distinct bucket keepers with EXACT shingle-set Jaccard and is
    dropped iff any keeper reaches ``D18_TAU``. Short paragraphs are always
    kept (d15's noise rule).

    Scale: no window anywhere — bucket keepers come from a map-side-
    combined min (a billion-occurrence boilerplate bucket collapses
    inside each input partition), each paragraph carries at most 8
    confirm comparisons regardless of corpus size, and the confirm
    joins move sorted 56-bit shingle arrays (the d14 verify shape),
    never per-shingle rows.
    """
    from x17a5_spark.functions.text import word_shingles

    base, paras = paragraph_table(docs, delimiter)
    p = paras.withColumn("w", packed_para_id())
    elig = p.filter(F.col("para_len") >= MIN_TOKENS)
    # 16 minhashes = 4 salted md5s per shingle, 4 disjoint 32-bit hex
    # slices each (one md5 only covers 32 hex chars — 4 slices); the
    # 56-bit shingle id for the exact-Jaccard confirm rides the first
    # salt's chars 2..15 (the d3 substring convention)
    sh = elig.select(
        "w",
        F.explode(
            F.array_distinct(
                word_shingles(F.lower(F.col("para")), D18_SHINGLE_K)
            )
        ).alias("s"),
    ).select(
        "w",
        *[
            F.md5(F.concat(F.lit(f"{b}:"), F.col("s"))).alias(f"h{b}")
            for b in range(D18_MINHASH // 4)
        ],
    )
    mins = sh.groupBy("w").agg(
        *[
            F.min(
                F.conv(
                    F.substring(f"h{i // 4}", 1 + 8 * (i % 4), 8), 16, 10
                ).cast("long")
            ).alias(f"mh{i}")
            for i in range(D18_MINHASH)
        ],
        F.sort_array(
            F.collect_set(
                F.conv(F.substring("h0", 2, 14), 16, 10).cast("long")
            )
        ).alias("gs"),
    )
    mins = mins.persist(StorageLevel.MEMORY_AND_DISK)
    bands = mins.select(
        "w",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(j),
                            F.col(f"mh{2 * j}"),
                            F.col(f"mh{2 * j + 1}"),
                        )
                    )
                    for j in range(D18_BANDS)
                ]
            )
        ).alias("sig"),
    )
    bmin = bands.groupBy("sig").agg(F.min("w").alias("kw"))
    cand = (
        bands.join(bmin, "sig")
        .filter(F.col("kw") < F.col("w"))
        .select("w", "kw")
        .distinct()
    )
    ga = mins.select(F.col("w"), F.col("gs").alias("ga"))
    gb = mins.select(F.col("w").alias("kw"), F.col("gs").alias("gb"))
    ni = F.size(F.array_intersect("ga", "gb"))
    jac = ni / (F.size("ga") + F.size("gb") - ni)
    dropped = (
        cand.join(ga, "w")
        .join(gb, "kw")
        .filter(F.round(jac, 6) >= D18_TAU)
        .select("w")
        .distinct()
    )
    kept = p.join(dropped, "w", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "para"))),
                lambda x: x["para"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = base.select("doc_id", F.size("paras").alias("n_para"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_para",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )
