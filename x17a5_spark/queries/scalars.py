"""Scalar-function queries (SURVEY.md §2.8): the F1-F21 library exercised
end-to-end. Where the function is domain-specific (accounting parse,
epsilon match), the query *synthesizes dirty input deterministically from
the testdata* and the oracle either recomputes the same formula in
DuckDB SQL or derives the ground truth independently — so the hash match
actually proves the parser, not just the plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from x17a5_spark.functions.accounting import (
    epsilon_one_digit_match,
    is_power_of_ten_ratio,
    relative_error_class,
    stage_parse_accounting_number,
)
from x17a5_spark.functions.keys import cik_from_edgar_url, filing_key, year_quarter_range
from x17a5_spark.functions.text import levenshtein_ratio
from x17a5_spark.tables import load_table


def _with_parsed_dirt(li: DataFrame) -> DataFrame:
    """Add ``parsed``: F1 over five deterministic dirt patterns of
    ``floor(l_extendedprice)``. The dirty string lands in a column of its
    own before the staged parse, so the plan holds the CASE once; as the
    parse's ``src`` it would be copied into every F1 step (720
    ``format_number`` calls instead of 5, and most of the query's time in
    analysis)."""
    # comma-grouped integer rendering
    grp = F.format_number(F.floor("l_extendedprice").cast("long"), 0)
    variant = (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 5
    dirty = (
        F.when(variant == 0, F.concat(F.lit("$ "), grp))
        .when(variant == 1, F.concat(F.lit("("), grp, F.lit(")")))
        .when(variant == 2, F.regexp_replace(grp, "1", "I"))
        .when(variant == 3, F.concat(grp, F.lit("-")))
        .otherwise(F.concat(grp, F.lit(".123")))
    )
    li = li.withColumn("__dirty", dirty)
    return stage_parse_accounting_number(li, "__dirty", "parsed").drop("__dirty")


# F1 — the accounting parse over five deterministic dirt patterns.
# Oracle computes the *expected* numeric value independently, so a hash
# match proves the parser's semantics (paren negatives, I->1, trailing
# minus, misplaced-decimal removal).
def f1_parse_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=True: per-row string-render/parse chain fused into the scan,
    # no downstream exchange — the measured fan-out winner shape.
    li = load_table(spark, sf_dir, "lineitem", fanout=True)
    return _with_parsed_dirt(li).select("l_orderkey", "l_linenumber", "parsed")


F1_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(CASE (l_orderkey * 7 + l_linenumber) % 5
            WHEN 1 THEN -floor(l_extendedprice)
            WHEN 4 THEN floor(l_extendedprice) * 1000 + 123
            ELSE floor(l_extendedprice) END AS DOUBLE) AS parsed
FROM lineitem
"""


# F2 — Levenshtein similarity ratio (fuzzy unit-scale detection,
# OCRClean.py:370-414). Oracle recomputes with DuckDB's levenshtein.
def f2_levenshtein_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    target = F.lit("ECONOMY ANODIZED STEEL")
    ratio = levenshtein_ratio(F.col("p_type"), target)
    return part.select(
        "p_partkey",
        F.round(ratio, 6).alias("sim_ratio"),
        (ratio >= 0.6).alias("is_close"),
    )


F2_SQL = """
SELECT p_partkey,
       round(1.0 - levenshtein(p_type, 'ECONOMY ANODIZED STEEL')
                   / greatest(length(p_type), length('ECONOMY ANODIZED STEEL')), 6)
           AS sim_ratio,
       (1.0 - levenshtein(p_type, 'ECONOMY ANODIZED STEEL')
              / greatest(length(p_type), length('ECONOMY ANODIZED STEEL'))) >= 0.6
           AS is_close
FROM part
"""


# F3 — conjoined-token detection (OCRClean.py:239-258: split on spaces,
# ignore '$'/'S' artifacts, flag multi-token cells).
def f3_conjoined_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    toks = F.filter(
        F.split(F.col("p_name"), " "), lambda t: ~t.isin("$", "S") & (t != "")
    )
    return part.select(
        "p_partkey",
        F.size(toks).alias("n_tokens"),
        (F.size(toks) > 1).alias("is_conjoined"),
    )


F3_SQL = """
SELECT p_partkey,
       len(list_filter(string_split(p_name, ' '),
                       t -> t NOT IN ('$', 'S') AND t <> '')) AS n_tokens,
       len(list_filter(string_split(p_name, ' '),
                       t -> t NOT IN ('$', 'S') AND t <> '')) > 1 AS is_conjoined
FROM part
"""


# F5/F7/F8 — key extraction from EDGAR-style paths + composite filing key
# (ExtractBrokerDealers.py:165; PRESERVE-FOCUS.ipynb cell 7).
def f5_key_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("edgar/data/"),
        F.col("o_custkey").cast("string"),
        F.lit("/filing-"),
        F.col("o_orderkey").cast("string"),
        F.lit(".txt"),
    )
    return orders.select(
        "o_orderkey",
        cik_from_edgar_url(url).alias("cik"),
        filing_key(F.col("o_custkey"), F.to_date("o_orderdate")).alias("fkey"),
    )


F5_SQL = """
SELECT o_orderkey,
       str_split('edgar/data/' || CAST(o_custkey AS VARCHAR)
                 || '/filing-' || CAST(o_orderkey AS VARCHAR) || '.txt', '/')[3] AS cik,
       CAST(o_custkey AS VARCHAR) || '-' || strftime(o_orderdate, '%Y-%m-%d') AS fkey
FROM orders
"""


# F10 — power-of-ten ratio equivalence (DatabaseUnstructured.py:32-60).
# Oracle derives truth from the construction parity, proving the
# log10-integrality semantics.
def f10_power_of_ten(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = (F.floor("l_extendedprice") + 1).cast("double")
    scaled = ((F.col("l_orderkey") + F.col("l_linenumber")) % 2) == 0
    b = F.when(scaled, a * 1000.0).otherwise(a * 37.0 + 11.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        is_power_of_ten_ratio(a, b).alias("is_multiple"),
    )


F10_SQL = """
SELECT l_orderkey, l_linenumber,
       (l_orderkey + l_linenumber) % 2 = 0 AS is_multiple
FROM lineitem
"""


# F11 — one-digit epsilon match (DatabaseUnstructured.py:62-106). Both
# engines evaluate the same formula on the same synthetic pair; the
# match pins string-rendering + levenshtein + tolerance semantics.
def f11_epsilon_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x1 = (F.floor("l_extendedprice") % 900000 + 100000).cast("double")
    bump = F.when((F.col("l_orderkey") % 3) == 0, F.lit(0.0)).when(
        (F.col("l_orderkey") % 3) == 1, F.lit(1.0)
    ).otherwise(F.lit(30000.0))
    x2 = x1 + bump
    return li.select(
        "l_orderkey",
        "l_linenumber",
        epsilon_one_digit_match(x1, x2).alias("is_epsilon_match"),
    )


F11_SQL = """
WITH pairs AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice) % 900000 + 100000 AS DOUBLE) AS x1,
         CAST(floor(l_extendedprice) % 900000 + 100000 AS DOUBLE)
         + (CASE l_orderkey % 3 WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 ELSE 30000.0 END) AS x2
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       x1 <> 0 AND x2 <> 0
       AND length(CAST(x1 AS VARCHAR)) = length(CAST(x2 AS VARCHAR))
       AND levenshtein(CAST(x1 AS VARCHAR), CAST(x2 AS VARCHAR)) = 1
       AND abs((x1 - x2) / x1) <= 0.01 AS is_epsilon_match
FROM pairs
"""


# F12 — relative-error CASE classification (DatabaseStructured.py:130-148)
# over a synthetic reconstruction error, with a null channel.
def f12_relative_error_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    recon = F.floor(F.col("o_totalprice") / 100) * 100
    err = F.when(
        F.col("o_orderkey") % 7 != 0,
        F.abs(F.col("o_totalprice") - recon) / F.col("o_totalprice"),
    )
    return orders.select(
        "o_orderkey",
        F.round(err, 8).alias("rel_err"),
        relative_error_class(err).alias("match_class"),
    )


F12_SQL = """
WITH e AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 <> 0
              THEN abs(o_totalprice - floor(o_totalprice / 100) * 100) / o_totalprice
         END AS err
  FROM orders
)
SELECT o_orderkey, round(err, 8) AS rel_err,
       CASE WHEN err IS NULL THEN 'NOT FOUND'
            WHEN err = 0 THEN 'PERFECT MATCH'
            WHEN err < 0.01 THEN 'BOUNDED MATCH'
            ELSE 'GROSS MISMATCH' END AS match_class
FROM e
"""


# F16 — fiscal-year arithmetic (DatabaseUnstructured.py:321-323).
def f16_fiscal_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select((F.year("o_orderdate") - 1).cast("int").alias("fiscal_year"))
        .groupBy("fiscal_year")
        .agg(F.count("*").alias("n_filings"))
    )


F16_SQL = """
SELECT CAST(year(o_orderdate) - 1 AS INT) AS fiscal_year, count(*) AS n_filings
FROM orders GROUP BY 1
"""


# F17 — year/quarter enumeration (ExtractBrokerDealers.py:111), as a
# distributed sequence+explode rather than a driver loop.
def f17_year_qtr_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return year_quarter_range(spark, 1993, 2021).select("year", "qtr", "year_qtr")


F17_SQL = """
SELECT CAST(y AS INT) AS year, 'QTR' || CAST(q AS VARCHAR) AS qtr,
       CAST(y AS VARCHAR) || '/QTR' || CAST(q AS VARCHAR) AS year_qtr
FROM generate_series(1993, 2021) t(y)
CROSS JOIN (VALUES (1), (2), (3), (4)) q(q)
"""


# F21 — JSON parse of the events props column (ExtractBrokerDealers.py:76
# nested JSON build/parse -> get_json_object / MapType).
def f21_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(k).alias("n_k"),
        F.max(k).alias("max_k"),
    )


# NB: DuckDB types integer sum() as HUGEINT (int128), which the driver's
# hasher renders differently from Spark's BIGINT — cast explicitly.
F21_SQL = """
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(props->>'$.k' AS BIGINT)) AS n_k,
       max(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# C5 — window-budget composite (driver hash-checks the first 50 registry
# entries): the full accounting-check chain in one lineitem scan — F1
# parse (dirty-pattern strip), F10 power-of-ten equivalence, F11 epsilon
# one-digit match, F12 relative-error class, plus the row-wise A9/A10
# greatest/least. This mirrors how the reference actually composes them
# (DatabaseUnstructured.py:32-184 runs all checks per row in one pass);
# the per-op queries stay registered after the window.
def c5_accounting_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=True: pure codegen scalar chain (no exchange at all) —
    # measured 2.7x faster with the scan fanned out across cores.
    li = _with_parsed_dirt(load_table(spark, sf_dir, "lineitem", fanout=True))
    a = (F.floor("l_extendedprice") + 1).cast("double")
    scaled = ((F.col("l_orderkey") + F.col("l_linenumber")) % 2) == 0
    b = F.when(scaled, a * 1000.0).otherwise(a * 37.0 + 11.0)
    x1 = (F.floor("l_extendedprice") % 900000 + 100000).cast("double")
    bump = (
        F.when((F.col("l_orderkey") % 3) == 0, F.lit(0.0))
        .when((F.col("l_orderkey") % 3) == 1, F.lit(1.0))
        .otherwise(F.lit(30000.0))
    )
    recon = F.floor(F.col("l_extendedprice") / 100) * 100
    err = F.when(
        F.col("l_orderkey") % 7 != 0,
        F.abs(F.col("l_extendedprice") - recon) / F.col("l_extendedprice"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "parsed",
        is_power_of_ten_ratio(a, b).alias("is_multiple"),
        epsilon_one_digit_match(x1, x1 + bump).alias("is_epsilon_match"),
        relative_error_class(err).alias("match_class"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


C5_SQL = """
WITH e AS (
  SELECT l_orderkey, l_linenumber, l_discount, l_tax,
         CAST(floor(l_extendedprice) % 900000 + 100000 AS DOUBLE) AS x1,
         CAST(floor(l_extendedprice) % 900000 + 100000 AS DOUBLE)
         + (CASE l_orderkey % 3 WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 ELSE 30000.0 END) AS x2,
         CASE WHEN l_orderkey % 7 <> 0
              THEN abs(l_extendedprice - floor(l_extendedprice / 100) * 100)
                   / l_extendedprice
         END AS err,
         CAST(CASE (l_orderkey * 7 + l_linenumber) % 5
              WHEN 1 THEN -floor(l_extendedprice)
              WHEN 4 THEN floor(l_extendedprice) * 1000 + 123
              ELSE floor(l_extendedprice) END AS DOUBLE) AS parsed
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, parsed,
       (l_orderkey + l_linenumber) % 2 = 0 AS is_multiple,
       x1 <> 0 AND x2 <> 0
       AND length(CAST(x1 AS VARCHAR)) = length(CAST(x2 AS VARCHAR))
       AND levenshtein(CAST(x1 AS VARCHAR), CAST(x2 AS VARCHAR)) = 1
       AND abs((x1 - x2) / x1) <= 0.01 AS is_epsilon_match,
       CASE WHEN err IS NULL THEN 'NOT FOUND'
            WHEN err = 0 THEN 'PERFECT MATCH'
            WHEN err < 0.01 THEN 'BOUNDED MATCH'
            ELSE 'GROSS MISMATCH' END AS match_class,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate
FROM e
"""



# F22 — URL parsing (web-corpus curation: the domain/path/query fields
# behind per-domain quotas (d10/d12), robots filtering, and source
# attribution). URLs are synthesized closed-form from documents so the
# oracle can mirror the extraction without Spark's parse_url; the Spark
# side uses the REAL built-in (java.net.URI semantics) — the hash match
# proves built-in parse_url agrees with the spec'd decomposition on
# well-formed URLs. Pure codegen scan, no exchange.


def f22_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&v=2"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


F22_SQL = """
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
       'lang=' || lang || '&v=2' AS query,
       lang AS lang_param
FROM documents
"""


QUERIES = {
    "f1_parse_accounting": f1_parse_accounting,
    "f2_levenshtein_ratio": f2_levenshtein_ratio,
    "f3_conjoined_detect": f3_conjoined_detect,
    "f5_key_extraction": f5_key_extraction,
    "f10_power_of_ten": f10_power_of_ten,
    "f11_epsilon_match": f11_epsilon_match,
    "f12_relative_error_class": f12_relative_error_class,
    "f16_fiscal_year": f16_fiscal_year,
    "f17_year_qtr_enum": f17_year_qtr_enum,
    "f21_json_extract": f21_json_extract,
    "c5_accounting_chain": c5_accounting_chain,
    "f22_url_extract": f22_url_extract,
}

ORACLES = {
    "c5_accounting_chain": C5_SQL,
    "f1_parse_accounting": F1_SQL,
    "f2_levenshtein_ratio": F2_SQL,
    "f3_conjoined_detect": F3_SQL,
    "f5_key_extraction": F5_SQL,
    "f10_power_of_ten": F10_SQL,
    "f11_epsilon_match": F11_SQL,
    "f12_relative_error_class": F12_SQL,
    "f16_fiscal_year": F16_SQL,
    "f17_year_qtr_enum": F17_SQL,
    "f21_json_extract": F21_SQL,
    "f22_url_extract": F22_SQL,
}
