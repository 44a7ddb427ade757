"""Domain-operator queries: the FOCUS-pipeline kernels (SURVEY §2.5 W1,
§2.3 J7, §2.8 F4, E3) exposed through the driver's correctness gate.

Each query *synthesizes its domain fixture deterministically from the
TPC-H tables inside the query*, runs the real engine operator, and —
wherever the planted structure makes the expected output expressible —
pairs with a DuckDB oracle that derives the SAME expected rows
independently. A hash match therefore proves the kernel's semantics,
not just its plumbing. Kernels whose behavior is inherently
non-SQL-expressible (the mutating totals scan on arbitrary values, the
difflib sequence merge) are rows-only here and golden-tested in
tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from x17a5_spark.operators.merge import merge_three_columns, special_merge
from x17a5_spark.operators.row_split import split_conjoined_rows
from x17a5_spark.operators.scaler import detect_unit_scale
from x17a5_spark.operators.splits import split_balance_sheet
from x17a5_spark.operators.structured import (
    build_structured_assets,
)
from x17a5_spark.operators.totals_check import remove_subtotals
from x17a5_spark.tables import load_table

# ---------------------------------------------------------------------------
# Shared synthetic filing fixture: each order is a "filing" with 7 line
# items named Item1..Item7 (l_linenumber) valued l_extendedprice.
# ---------------------------------------------------------------------------


def _filing_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
        (F.col("l_linenumber") - 1).alias("row_idx"),
        F.concat(F.lit("Item "), F.col("l_linenumber")).alias("lineitem"),
        F.col("l_extendedprice").alias("value"),
    )


# K2 — asset/liability bisection end-to-end (bsSplit,
# DatabaseSplits.py:25-89). Planted sheet: 2 asset items, a 'Total
# assets' marker, 2 liability items, a 'Total liabilities' marker, then
# a footnote — expected split derivable in SQL from the plant.
def k2_balance_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    names = [
        "Cash on hand",
        "Receivables",
        "Total assets",
        "Payables",
        "Subordinated debt",
        "Total liabilities",
        "Footnote text",
    ]
    rows = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
        F.posexplode(F.array(*[F.lit(n) for n in names])).alias("row_idx", "lineitem"),
    )
    return split_balance_sheet(rows).select("cik", "row_idx", "lineitem", "side")


K2_SQL = """
WITH f AS (SELECT CAST(o_orderkey AS VARCHAR) AS cik FROM orders WHERE o_orderkey % 10 = 0),
items AS (
  SELECT cik, i.row_idx, i.lineitem
  FROM f CROSS JOIN (VALUES
    (0, 'Cash on hand'), (1, 'Receivables'), (2, 'Total assets'),
    (3, 'Payables'), (4, 'Subordinated debt'), (5, 'Total liabilities'),
    (6, 'Footnote text')) i(row_idx, lineitem)
)
-- bsSplit on this plant: last asset match = idx 2 (1-based 3), last
-- liability match = idx 5 (1-based 6); final row matches neither so the
-- upper bound extends to the full length (7)
SELECT cik, row_idx, lineitem,
       CASE WHEN row_idx < 3 THEN 'asset' ELSE 'liability' END AS side
FROM items
"""


# K3 — declarative 3->2 column merge (OCRClean.py:113-193): planted
# col1/col2 patterns cycle numeric-col1 / numeric-col2 / header-null /
# both-null-borrow; expected output is a CASE over the plant.
def k3_merge_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _filing_lines(spark, sf_dir)
    variant = F.col("row_idx") % 4
    val = F.format_number(F.floor("value"), 0)
    df = base.select(
        "cik",
        "filing_date",
        "row_idx",
        "lineitem",
        F.when(variant == 0, F.concat(F.lit("$ "), val))
        .when(variant == 3, val)
        .alias("col1"),
        F.when(variant == 1, val).alias("col2"),
    )
    return merge_three_columns(df).select("cik", "row_idx", "lineitem", "raw_value")


K3_SQL = """
WITH lines AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS cik, l_linenumber - 1 AS row_idx,
         'Item ' || CAST(l_linenumber AS VARCHAR) AS lineitem,
         format('{:,}', CAST(floor(l_extendedprice) AS BIGINT)) AS val,
         (l_linenumber - 1) % 4 AS variant
  FROM lineitem
),
-- variant 0: '$ <val>' in col1 -> emitted as col1
-- variant 1: col1 null, col2 numeric -> emitted as col2
-- variant 2: both null -> borrow applies only when the previous row
--            (variant 1) has BOTH cells populated — it has col1 null,
--            so the row drops
-- variant 3: bare numeric col1 -> emitted
emitted AS (
  SELECT cik, row_idx, lineitem,
         CASE variant WHEN 0 THEN '$ ' || val WHEN 1 THEN val WHEN 3 THEN val END AS raw_value
  FROM lines WHERE variant IN (0, 1, 3)
)
SELECT cik, row_idx, lineitem, raw_value FROM emitted
"""


# K5 — unit-scale detection with per-CIK carry-forward (numeric_scaler,
# OCRClean.py:370-414 + run_ocr.py:96-99). Planted page text per filing
# cycles scale markers by customer; a second filing per customer has no
# marker and must inherit. Oracle: CASE plant + last_value carry.
def k5_unit_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    marker = (
        F.when(F.col("c_custkey") % 4 == 0, F.lit("Dollars in Thousands"))
        .when(F.col("c_custkey") % 4 == 1, F.lit("(in Millions)"))
        .when(F.col("c_custkey") % 4 == 2, F.lit("expressed in billions"))
        .otherwise(F.lit("no units disclosed"))
    )
    first = cust.select(
        F.col("c_custkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
        F.lit(0).alias("line_idx"),
        marker.alias("line_text"),
    )
    second = cust.select(
        F.col("c_custkey").cast("string").alias("cik"),
        F.lit("2021-06-30").alias("filing_date"),
        F.lit(0).alias("line_idx"),
        F.lit("Statement of Financial Condition").alias("line_text"),
    )
    return detect_unit_scale(first.unionByName(second))


K5_SQL = """
WITH firsts AS (
  SELECT CAST(c_custkey AS VARCHAR) AS cik, '2020-06-30' AS filing_date,
         CASE c_custkey % 4 WHEN 0 THEN 1000.0 WHEN 1 THEN 1000000.0
                            WHEN 2 THEN 1000000000.0 ELSE NULL END AS own_scale
  FROM customer
),
seconds AS (
  SELECT CAST(c_custkey AS VARCHAR) AS cik, '2021-06-30' AS filing_date,
         CAST(NULL AS DOUBLE) AS own_scale
  FROM customer
),
u AS (SELECT * FROM firsts UNION ALL SELECT * FROM seconds)
SELECT cik, filing_date,
       coalesce(last_value(own_scale IGNORE NULLS)
                OVER (PARTITION BY cik ORDER BY filing_date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
           AS scale
FROM u
"""


# E3 — structured-database build end-to-end (DatabaseStructured.py:
# 161-267): label map + pivot-sum + dedup keep-first + reconstructed
# total + identity match class, all oracle-checked.
E3_LABELS = ["Cash", "Receivables", "Other", "Total assets"]


def e3_structured_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # filings: cik = custkey, one filing per order; line items from the
    # order's lineitems, labeled by linenumber band; reported total =
    # o_totalprice (naturally yields a spread of match classes).
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_custkey").cast("string").alias("cik"),
        F.concat(F.lit("N"), F.col("o_orderkey")).alias("name"),
        F.col("o_orderdate").cast("date").cast("string").alias("filing_date"),
        (F.year("o_orderdate") - 1).cast("int").alias("fiscal_year"),
        F.concat(F.lit("Line "), F.col("l_linenumber")).alias("lineitem"),
        F.col("l_extendedprice").alias("value"),
    )
    totals = orders.select(
        F.col("o_custkey").cast("string").alias("cik"),
        F.concat(F.lit("N"), F.col("o_orderkey")).alias("name"),
        F.col("o_orderdate").cast("date").cast("string").alias("filing_date"),
        (F.year("o_orderdate") - 1).cast("int").alias("fiscal_year"),
        F.lit("Total assets reported").alias("lineitem"),
        F.col("o_totalprice").alias("value"),
    )
    long_df = lines.unionByName(totals)
    label_map = spark.createDataFrame(
        [
            ("Line 1", "Cash"),
            ("Line 2", "Cash"),
            ("Line 3", "Receivables"),
            ("Line 4", "Receivables"),
            ("Line 5", "Other"),
            ("Line 6", "Other"),
            ("Line 7", "Other"),
            ("Total assets reported", "Total assets"),
        ],
        "lineitem string, label string",
    )
    out = build_structured_assets(long_df, label_map, E3_LABELS)
    return out.select(
        "cik",
        "fiscal_year",
        "name",
        F.col("Cash").alias("cash"),
        F.col("Receivables").alias("receivables"),
        F.col("Other").alias("other"),
        F.col("Total assets").alias("total_assets"),
        F.round("reconstructed_total_assets", 4).alias("recon_total"),
        F.round("relative_error", 8).alias("rel_err"),
        "total_asset_check",
    )


E3_SQL = """
WITH long_tbl AS (
  SELECT CAST(o_custkey AS VARCHAR) AS cik, 'N' || CAST(o_orderkey AS VARCHAR) AS name,
         strftime(o_orderdate, '%Y-%m-%d') AS filing_date,
         CAST(year(o_orderdate) - 1 AS INT) AS fiscal_year,
         CASE WHEN l_linenumber <= 2 THEN 'Cash'
              WHEN l_linenumber <= 4 THEN 'Receivables'
              ELSE 'Other' END AS label,
         l_extendedprice AS value
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT CAST(o_custkey AS VARCHAR), 'N' || CAST(o_orderkey AS VARCHAR),
         strftime(o_orderdate, '%Y-%m-%d'),
         CAST(year(o_orderdate) - 1 AS INT),
         'Total assets', o_totalprice
  FROM orders
),
piv AS (
  SELECT cik, name, filing_date, fiscal_year,
         CAST(SUM(CAST(CASE WHEN label = 'Cash' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS cash,
         CAST(SUM(CAST(CASE WHEN label = 'Receivables' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS receivables,
         CAST(SUM(CAST(CASE WHEN label = 'Other' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS other,
         CAST(SUM(CAST(CASE WHEN label = 'Total assets' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS total_assets
  FROM long_tbl GROUP BY 1, 2, 3, 4
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY cik, fiscal_year
                               ORDER BY filing_date ASC, name ASC) AS rn
  FROM piv
),
recon AS (
  SELECT cik, fiscal_year, name, cash, receivables, other, total_assets,
         coalesce(cash, 0) + coalesce(receivables, 0) + coalesce(other, 0) AS recon_total
  FROM dedup WHERE rn = 1
)
SELECT cik, fiscal_year, name, cash, receivables, other, total_assets,
       round(recon_total, 4) AS recon_total,
       round(CASE WHEN total_assets IS NULL THEN NULL
                  WHEN total_assets = 0 AND recon_total <> 0 THEN NULL
                  ELSE abs(recon_total - total_assets) / total_assets END, 8) AS rel_err,
       CASE WHEN total_assets IS NULL THEN 'NOT FOUND'
            WHEN total_assets = 0 AND recon_total <> 0 THEN 'GROSS MISMATCH'
            WHEN abs(recon_total - total_assets) / total_assets = 0 THEN 'PERFECT MATCH'
            WHEN abs(recon_total - total_assets) / total_assets < 0.01 THEN 'BOUNDED MATCH'
            ELSE 'GROSS MISMATCH' END AS total_asset_check
FROM recon
"""


# E3L — the liability-side structured build (DatabaseStructured.py:
# 241-264): pivot over the liability taxonomy, then FOUR reconstruction
# variants (base, less total-liabilities, less total-equity, less both)
# with the best (minimum) relative error deciding the match class.
# Plant: payables/debt lines from lineitem bands, a planted 60/40
# TL/TE split of o_totalprice, and o_totalprice as the reported
# total-L&E — every variant's error is closed-form in SQL.
E3L_LABELS = [
    "Payables",
    "Debt",
    "Total liabilities",
    "Total shareholder's equity",
    "Total liabilities and shareholder's equity",
]


def e3l_structured_liabilities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.structured import build_structured_liabilities

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = [
        F.col("o_custkey").cast("string").alias("cik"),
        F.concat(F.lit("N"), F.col("o_orderkey")).alias("name"),
        F.col("o_orderdate").cast("date").cast("string").alias("filing_date"),
        (F.year("o_orderdate") - 1).cast("int").alias("fiscal_year"),
    ]
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        *keys,
        F.concat(F.lit("Line "), F.col("l_linenumber")).alias("lineitem"),
        F.col("l_extendedprice").alias("value"),
    )
    totals = orders.select(
        *keys,
        F.explode(
            F.array(
                F.struct(
                    F.lit("TL reported").alias("lineitem"),
                    (F.col("o_totalprice") * 0.6).alias("value"),
                ),
                F.struct(
                    F.lit("TE reported").alias("lineitem"),
                    (F.col("o_totalprice") * 0.4).alias("value"),
                ),
                F.struct(
                    F.lit("TLE reported").alias("lineitem"),
                    F.col("o_totalprice").alias("value"),
                ),
            )
        ).alias("r"),
    ).select("cik", "name", "filing_date", "fiscal_year", "r.lineitem", "r.value")
    long_df = lines.unionByName(totals)
    label_map = spark.createDataFrame(
        [
            ("Line 1", "Payables"),
            ("Line 2", "Payables"),
            ("Line 3", "Payables"),
            ("Line 4", "Debt"),
            ("Line 5", "Debt"),
            ("Line 6", "Debt"),
            ("Line 7", "Debt"),
            ("TL reported", "Total liabilities"),
            ("TE reported", "Total shareholder's equity"),
            ("TLE reported", "Total liabilities and shareholder's equity"),
        ],
        "lineitem string, label string",
    )
    out = build_structured_liabilities(long_df, label_map, E3L_LABELS)
    return out.select(
        "cik",
        "fiscal_year",
        "name",
        F.col("Payables").alias("payables"),
        F.col("Debt").alias("debt"),
        F.col("Total liabilities").alias("total_liab"),
        F.col("Total shareholder's equity").alias("total_equity"),
        F.col("Total liabilities and shareholder's equity").alias("total_le"),
        F.round("relative_error", 8).alias("rel_err"),
        "total_le_check",
    )


E3L_SQL = """
WITH long_tbl AS (
  SELECT CAST(o_custkey AS VARCHAR) AS cik, 'N' || CAST(o_orderkey AS VARCHAR) AS name,
         strftime(o_orderdate, '%Y-%m-%d') AS filing_date,
         CAST(year(o_orderdate) - 1 AS INT) AS fiscal_year,
         CASE WHEN l_linenumber <= 3 THEN 'Payables' ELSE 'Debt' END AS label,
         l_extendedprice AS value
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT CAST(o_custkey AS VARCHAR), 'N' || CAST(o_orderkey AS VARCHAR),
         strftime(o_orderdate, '%Y-%m-%d'), CAST(year(o_orderdate) - 1 AS INT),
         t.label, o_totalprice * t.frac
  FROM orders CROSS JOIN (VALUES
    ('Total liabilities', 0.6),
    ('Total shareholder''s equity', 0.4),
    ('Total liabilities and shareholder''s equity', 1.0)) t(label, frac)
),
piv AS (
  SELECT cik, name, filing_date, fiscal_year,
         CAST(SUM(CAST(CASE WHEN label = 'Payables' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS payables,
         CAST(SUM(CAST(CASE WHEN label = 'Debt' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS debt,
         CAST(SUM(CAST(CASE WHEN label = 'Total liabilities' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS total_liab,
         CAST(SUM(CAST(CASE WHEN label = 'Total shareholder''s equity' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS total_equity,
         CAST(SUM(CAST(CASE WHEN label = 'Total liabilities and shareholder''s equity' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS total_le
  FROM long_tbl GROUP BY 1, 2, 3, 4
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY cik, fiscal_year
                               ORDER BY filing_date ASC, name ASC) AS rn
  FROM piv
),
recon AS (
  SELECT cik, fiscal_year, name, payables, debt, total_liab, total_equity, total_le,
         coalesce(payables, 0) + coalesce(debt, 0)
         + coalesce(total_liab, 0) + coalesce(total_equity, 0) AS base
  FROM dedup WHERE rn = 1
),
errs AS (
  SELECT *, least(
           abs(base - total_le) / total_le,
           abs(base - coalesce(total_liab, 0) - total_le) / total_le,
           abs(base - coalesce(total_equity, 0) - total_le) / total_le,
           abs(base - coalesce(total_liab, 0) - coalesce(total_equity, 0) - total_le)
             / total_le) AS best_err
  FROM recon
)
SELECT cik, fiscal_year, name, payables, debt, total_liab, total_equity, total_le,
       round(best_err, 8) AS rel_err,
       CASE WHEN best_err = 0 THEN 'PERFECT MATCH'
            WHEN best_err < 0.01 THEN 'BOUNDED MATCH'
            ELSE 'GROSS MISMATCH' END AS total_le_check
FROM errs
"""


# U6 — the on-demand wide unstructured database
# (DatabaseUnstructured.py:291-348): pivot the long table over an
# explicit allowlist, congruent names summed, id cols first, all-null
# columns pruned. 'Goodwill' is in the allowlist but never occurs, so
# the query itself proves the pruning: selecting it would raise.
# Filings whose lines are all outside the allowlist surface as all-null
# rows (the reference's concat keeps them too).
U6_ALLOW = ["Line 1", "Line 2", "Line 3", "Goodwill"]


def u6_unstructured_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.unstructured import build_unstructured

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    long_df = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_custkey").cast("string").alias("cik"),
        F.concat(F.lit("N"), F.col("o_orderkey")).alias("name"),
        F.col("o_orderdate").cast("date").cast("string").alias("filing_date"),
        (F.year("o_orderdate") - 1).cast("int").alias("fiscal_year"),
        F.concat(F.lit("Line "), F.col("l_linenumber")).alias("lineitem"),
        F.col("l_extendedprice").alias("value"),
    )
    wide = build_unstructured(long_df, U6_ALLOW)
    return wide.select(
        "cik",
        "name",
        "filing_date",
        "fiscal_year",
        F.col("Line 1").alias("line1"),
        F.col("Line 2").alias("line2"),
        F.col("Line 3").alias("line3"),
    )


U6_SQL = """
SELECT CAST(o_custkey AS VARCHAR) AS cik,
       'N' || CAST(o_orderkey AS VARCHAR) AS name,
       strftime(o_orderdate, '%Y-%m-%d') AS filing_date,
       CAST(year(o_orderdate) - 1 AS INT) AS fiscal_year,
       CAST(SUM(CAST(CASE WHEN l_linenumber = 1 THEN l_extendedprice END
                AS DECIMAL(27,6))) AS DOUBLE) AS line1,
       CAST(SUM(CAST(CASE WHEN l_linenumber = 2 THEN l_extendedprice END
                AS DECIMAL(27,6))) AS DOUBLE) AS line2,
       CAST(SUM(CAST(CASE WHEN l_linenumber = 3 THEN l_extendedprice END
                AS DECIMAL(27,6))) AS DOUBLE) AS line3
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2, 3, 4
"""


# E2 — the full per-filing cleaning pipeline end-to-end (reference
# clean_wrapper chain, OCRClean.py:663-753 via OCRTextract.py:677):
# purge -> 3->2 merge -> conjoined split -> accounting parse -> unit
# scale w/ fuzzy marker -> bisection -> mutating subtotal scan. The
# plant is engineered so every stage's effect is closed-form: values
# (2, 5, 7=total, 11, 11=total) admit no accidental lookback-sum match,
# the footnote row dies at the merge (both value cells null, previous
# row not fully populated), '(in Millions)' drives the fuzzy scaler on
# even ciks only, and both planted totals are provably dropped with
# TOTAL_EXPLAINED. A hash match therefore proves the COMPOSITION of
# all six kernels, not just each in isolation (those have their own
# oracles: k1-k6).
def e2_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.pipeline import clean_filings

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 15 == 0)
    plant = [
        (0, "Cash", "$ 2"),
        (1, "Receivables", "5"),
        (2, "Total assets", "7"),
        (3, "Payables", "11"),
        (4, "Total liabilities and equity", "11"),
        (5, "See accompanying notes", None),
    ]
    raw = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2021-06-30").alias("filing_date"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"),
                        F.lit(n).alias("col0"),
                        F.lit(v).cast("string").alias("col1"),
                    )
                    for i, n, v in plant
                ]
            )
        ).alias("r"),
    ).select(
        "cik",
        "filing_date",
        "r.row_idx",
        "r.col0",
        "r.col1",
        F.lit(None).cast("string").alias("col2"),
    )
    text = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2021-06-30").alias("filing_date"),
        F.lit(0).alias("line_idx"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("(in Millions)"))
        .otherwise(F.lit("Statement of Financial Condition"))
        .alias("line_text"),
    )
    return clean_filings(raw, text)


E2_SQL = """
WITH filings AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS cik,
         CASE WHEN o_orderkey % 2 = 0 THEN 1000000.0 ELSE 1.0 END AS s
  FROM orders WHERE o_orderkey % 15 = 0
)
SELECT cik, '2021-06-30' AS filing_date, r.side, CAST(r.row_idx AS INT) AS row_idx,
       r.lineitem, CAST(r.v * s AS DOUBLE) AS value, CAST(1 AS INT) AS total_flag,
       CAST(r.amt * s AS DOUBLE) AS total_amt
FROM filings CROSS JOIN (VALUES
  ('asset', 0, 'Cash', 2.0, 7.0),
  ('asset', 1, 'Receivables', 5.0, 7.0),
  ('liability', 3, 'Payables', 11.0, 11.0)
) r(side, row_idx, lineitem, v, amt)
"""


# K1 — the mutating subtotal scan (totals_check,
# DatabaseUnstructured.py:108-184). The plant is engineered so every
# equivalence channel fires exactly once and the expected surviving set
# is closed-form: 10003 is the exact sum of the two rows above it;
# 14009 epsilon-matches the running sum 14008 *only because the 10003
# subtotal was already dropped* (proving the scan mutates); 190150 is
# 10x the surviving running sum 19015 (power-of-ten channel); and the
# 'Total assets' row equals the full surviving sum 19178, so it drops
# with TOTAL_EXPLAINED and total_amt = 19178. Values are non-round so
# the digit-drop substring rule cannot fire accidentally (kernel-
# simulated; arbitrary-value behavior is golden-tested in
# tests/test_totals_check.py).
K1_PLANT = [
    (0, "Cash", 3001.0),
    (1, "Receivables", 7002.0),
    (2, "Subtotal current", 10003.0),       # exact lookback match -> drop
    (3, "Securities owned", 4005.0),
    (4, "Memo subtotal", 14009.0),          # epsilon vs mutated sum 14008 -> drop
    (5, "Deposits", 5007.0),
    (6, "Subtotal scaled", 190150.0),       # 10x running sum 19015 -> drop
    (7, "Other assets", 163.0),
    (8, "Total assets", 19178.0),           # exact full sum -> drop, flag=1
]


def k1_totals_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 15 == 0)
    rows = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
        F.lit("asset").alias("side"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"),
                        F.lit(n).alias("lineitem"),
                        F.lit(v).alias("value"),
                    )
                    for i, n, v in K1_PLANT
                ]
            )
        ).alias("r"),
    ).select("cik", "filing_date", "side", "r.row_idx", "r.lineitem", "r.value")
    return remove_subtotals(rows).select(
        "cik", "row_idx", "lineitem", "value", "total_flag", "total_amt"
    )


K1_SQL = """
WITH f AS (SELECT CAST(o_orderkey AS VARCHAR) AS cik FROM orders WHERE o_orderkey % 15 = 0)
SELECT cik, s.row_idx, s.lineitem, CAST(s.value AS DOUBLE) AS value,
       CAST(1 AS INT) AS total_flag, CAST(19178.0 AS DOUBLE) AS total_amt
FROM f CROSS JOIN (VALUES
  (0, 'Cash', 3001.0),
  (1, 'Receivables', 7002.0),
  (3, 'Securities owned', 4005.0),
  (5, 'Deposits', 5007.0),
  (7, 'Other assets', 163.0)) s(row_idx, lineitem, value)
"""


# E1 — the WHOLE pipeline end-to-end (run_main.py:86-144): binary
# document corpus -> stub OCR (S6) -> quarantine (S10) -> clean chain
# (E2) -> structured gold (E3), with every stage persisted to parquet;
# bronze and silver are guarded by the incremental anti-join (S7/J6)
# and gold is rebuilt from silver. The document
# content is the same closed-form plant as e2, delivered as bytes the
# OCR backend parses — so the oracle derives the gold table from the
# plant and a hash match proves the COMPOSITION bronze->silver->gold
# including the sink round-trips. Idempotence (a second run adds no
# bronze or silver rows and rewrites the same gold) and convergence
# after faults are asserted in tests/test_pipeline_e1.py.
E1_DOC = (
    "Cash|$ 2\n"
    "Receivables|5\n"
    "Total assets|7\n"
    "Payables|11\n"
    "Total liabilities and equity|11\n"
    "See accompanying notes"
)


def e1_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — bronze→silver→gold with persisted stage sinks.

    The stage sinks live in a temp tree owned by this call: the selected
    gold rows are checkpointed eagerly, so the returned plan reads no
    sink file and the tree is removed before returning.
    """
    import shutil
    import tempfile

    from x17a5_spark.pipeline import run_pipeline

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    docs = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2021-06-30").alias("filing_date"),
        F.encode(F.lit(E1_DOC), "UTF-8").alias("content"),
    )
    text = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2021-06-30").alias("filing_date"),
        F.lit(0).alias("line_idx"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("(in Millions)"))
        .otherwise(F.lit("Statement of Financial Condition"))
        .alias("line_text"),
    )
    label_map = spark.createDataFrame(
        [("Cash", "Cash"), ("Receivables", "Receivables")],
        ["lineitem", "label"],
    )
    labels = ["Cash", "Receivables", "Total assets"]
    out_dir = tempfile.mkdtemp(prefix="x17a5_e1_")
    try:
        gold = run_pipeline(spark, docs, text, out_dir, label_map, labels)
        return gold.select(
            "cik",
            "name",
            "filing_date",
            "fiscal_year",
            F.col("Cash").alias("cash"),
            F.col("Receivables").alias("receivables"),
            F.col("Total assets").alias("total_assets"),
            F.round("reconstructed_total_assets", 4).alias("recon_total"),
            F.round("relative_error", 8).alias("rel_err"),
            "total_asset_check",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


E1_SQL = """
WITH filings AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS cik,
         CASE WHEN o_orderkey % 2 = 0 THEN 1000000.0 ELSE 1.0 END AS s
  FROM orders WHERE o_orderkey % 25 = 0
)
SELECT cik, 'N' || cik AS name, '2021-06-30' AS filing_date,
       CAST(2020 AS INT) AS fiscal_year,
       CAST(2.0 * s AS DOUBLE) AS cash, CAST(5.0 * s AS DOUBLE) AS receivables,
       CAST(NULL AS DOUBLE) AS total_assets,
       CAST(round(7.0 * s, 4) AS DOUBLE) AS recon_total,
       CAST(NULL AS DOUBLE) AS rel_err,
       'NOT FOUND' AS total_asset_check
FROM filings
"""


# J7 — fuzzy sequence merge (difflib opcodes + partial ratio,
# DatabaseUnstructured.py:186-257). A planted per-filing sequence of
# n = 1 + orderkey % 7 lines (the testdata lineitem table has duplicate
# and non-contiguous line numbers, so a plant is the only deterministic
# base — same pattern as k1/k2). The PNG side drops row 3, renames
# row 5 to a near-duplicate ("(restated)" suffix, partial ratio 100 ->
# collapse to the PDF row), and replaces row 2 with a dissimilar
# heading (partial ratio 33 -> keep BOTH sides). The expected output is
# then closed-form per line count (kernel-simulated for n=1..7):
# 'Item 4' is consumed by the zip-truncated replace block, the
# dissimilar heading lands right after 'Item 3' with row 3's value, and
# 'Item k' keeps row_idx k-1 — so the oracle derives it in SQL and the
# driver hash-checks the alignment semantics, not just row plumbing.
# Arbitrary sequences are golden-tested in tests/test_splits_merge.py.
def j7_special_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    n = F.col("o_orderkey") % 7 + 1
    base = (
        orders.select(
            F.col("o_orderkey").cast("string").alias("cik"),
            F.lit("2020-06-30").alias("filing_date"),
            F.col("o_totalprice").alias("base_v"),
            F.explode(F.sequence(F.lit(1), n)).alias("k"),
        )
        .select(
            "cik",
            "filing_date",
            (F.col("k") - 1).cast("int").alias("row_idx"),
            F.concat(F.lit("Item "), F.col("k")).alias("lineitem"),
            (F.col("base_v") + F.col("k")).alias("value"),
        )
    )
    a = base
    b = base.filter(F.col("row_idx") != 3).select(
        "cik",
        "filing_date",
        "row_idx",
        F.when(F.col("row_idx") == 2, F.lit("Totally different heading"))
        .when(
            F.col("row_idx") == 5, F.concat(F.col("lineitem"), F.lit(" (restated)"))
        )
        .otherwise(F.col("lineitem"))
        .alias("lineitem"),
        "value",
    )
    return special_merge(a, b)


J7_SQL = """
WITH o AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS cik,
         o_orderkey % 7 + 1 AS n,
         o_totalprice AS base_v
  FROM orders WHERE o_orderkey % 3 = 0
),
li AS (
  SELECT cik, n, unnest(generate_series(1, CAST(n AS BIGINT))) AS k, base_v
  FROM o
)
SELECT cik, '2020-06-30' AS filing_date,
       CAST(k - 1 AS INT) AS row_idx,
       'Item ' || CAST(k AS VARCHAR) AS lineitem,
       base_v + k AS value
FROM li
WHERE NOT (n >= 3 AND k = 4)
UNION ALL
SELECT cik, '2020-06-30', CAST(3 AS INT), 'Totally different heading',
       base_v + 3 AS value
FROM li WHERE n >= 3 AND k = 3
"""


# F4 — conjoined-row split through the cogrouped TEXT map (rows-only:
# the alignment rules are golden-tested; here the full Spark plumbing
# runs at scale).
def k4_row_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    keys = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
    )
    df = keys.select(
        "cik",
        "filing_date",
        F.posexplode(
            F.array(
                F.struct(F.lit("Cash on hand").alias("l"), F.lit("1,000").alias("v")),
                F.struct(
                    F.lit("Securities Held Total Assets").alias("l"),
                    F.lit("$ 9,112 13,151").alias("v"),
                ),
            )
        ).alias("row_idx", "s"),
    ).select("cik", "filing_date", "row_idx", F.col("s.l").alias("lineitem"), F.col("s.v").alias("raw_value"))
    text = keys.select(
        "cik",
        "filing_date",
        F.posexplode(
            F.array(F.lit("Securities Held"), F.lit("Total Assets"))
        ).alias("line_idx", "line_text"),
    )
    return split_conjoined_rows(df, text).select(
        "cik", "row_idx", "lineitem", "raw_value", "split_flag"
    )


K4_SQL = """
WITH f AS (SELECT CAST(o_orderkey AS VARCHAR) AS cik FROM orders WHERE o_orderkey % 10 = 0)
SELECT cik, i.row_idx, i.lineitem, i.raw_value, 1 AS split_flag
FROM f CROSS JOIN (VALUES
  (0, 'Cash on hand', '1,000'),
  (1, 'Securities Held', '9,112'),
  (2, 'Total Assets', '13,151')) i(row_idx, lineitem, raw_value)
"""


# K6 — step-4 table accept/stitch (OCRTextract.py readTable state
# machine). Filings cycle four planted layouts: combined table /
# asset-then-liability split / liability-then-asset (reversed, the JPM
# case) / table-of-contents only (rejected). The oracle derives the
# expected stitched rows per layout independently.
def k6_table_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.operators.table_select import select_balance_sheet

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    v = (F.col("o_orderkey") / 20 % 4).cast("int")
    combined = [
        (0, 0, "Cash", "$ 100"), (0, 1, "Receivables", "200"),
        (0, 2, "Total assets", "$ 300"), (0, 3, "Total liabilities", "$ 120"),
    ]
    assets_t = [(0, 0, "Cash", "$ 100"), (0, 1, "Total assets", "$ 300")]
    liabs_t = [(1, 0, "Payables", "$ 80"), (1, 1, "Total liabilities", "$ 120")]
    toc = [(0, 0, "Table of contents", None), (0, 1, "Notes", None)]

    def plant(rows):
        return F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_idx"),
                    F.lit(r).alias("row_idx"),
                    F.lit(c0).alias("col0"),
                    F.lit(c1).cast("string").alias("col1"),
                )
                for t, r, c0, c1 in rows
            ]
        )

    layout = (
        F.when(v == 0, plant(combined))
        .when(v == 1, plant(assets_t + liabs_t))
        .when(v == 2, plant(liabs_t + [(t + 2, r, c0, c1) for t, r, c0, c1 in assets_t]))
        .otherwise(plant(toc))
    )
    cells = orders.select(
        F.col("o_orderkey").cast("string").alias("cik"),
        F.lit("2020-06-30").alias("filing_date"),
        F.lit(0).alias("page"),
        F.explode(layout).alias("s"),
    ).select(
        "cik",
        "filing_date",
        "page",
        F.col("s.table_idx").alias("table_idx"),
        F.col("s.row_idx").alias("row_idx"),
        F.col("s.col0").alias("col0"),
        F.col("s.col1").alias("col1"),
        F.lit(None).cast("string").alias("col2"),
    )
    return select_balance_sheet(cells).select(
        "cik", "bs_order", "table_idx", "row_idx", "col0", "col1"
    )


K6_SQL = """
WITH f AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS cik,
         CAST(o_orderkey / 20 % 4 AS INT) AS v
  FROM orders WHERE o_orderkey % 20 = 0
),
-- expected stitched output per layout (bs_order follows the state
-- machine: reversed case emits assets first)
expected AS (
  SELECT * FROM (VALUES
    -- v0: combined single table
    (0, 0, 0, 0, 'Cash', '$ 100'), (0, 0, 0, 1, 'Receivables', '200'),
    (0, 0, 0, 2, 'Total assets', '$ 300'), (0, 0, 0, 3, 'Total liabilities', '$ 120'),
    -- v1: asset table then liability table
    (1, 0, 0, 0, 'Cash', '$ 100'), (1, 0, 0, 1, 'Total assets', '$ 300'),
    (1, 1, 1, 0, 'Payables', '$ 80'), (1, 1, 1, 1, 'Total liabilities', '$ 120'),
    -- v2: liability first -> reversed (assets get bs_order 0)
    (2, 0, 2, 0, 'Cash', '$ 100'), (2, 0, 2, 1, 'Total assets', '$ 300'),
    (2, 1, 1, 0, 'Payables', '$ 80'), (2, 1, 1, 1, 'Total liabilities', '$ 120')
    -- v3: table of contents -> no rows
  ) t(v, bs_order, table_idx, row_idx, col0, col1)
)
SELECT f.cik, e.bs_order, e.table_idx, e.row_idx, e.col0, e.col1
FROM f JOIN expected e ON f.v = e.v
"""


QUERIES = {
    "k6_table_select": k6_table_select,
    "k2_balance_split": k2_balance_split,
    "k3_merge_columns": k3_merge_columns,
    "k4_row_split": k4_row_split,
    "k5_unit_scale": k5_unit_scale,
    "e3_structured_assets": e3_structured_assets,
    "e2_clean_pipeline": e2_clean_pipeline,
    "k1_totals_check": k1_totals_check,
    "j7_special_merge": j7_special_merge,
    "u6_unstructured_wide": u6_unstructured_wide,
    "e1_full_pipeline": e1_full_pipeline,
    "e3l_structured_liabilities": e3l_structured_liabilities,
}

ORACLES = {
    "u6_unstructured_wide": U6_SQL,
    "e1_full_pipeline": E1_SQL,
    "e3l_structured_liabilities": E3L_SQL,
    "e2_clean_pipeline": E2_SQL,
    "k6_table_select": K6_SQL,
    "k2_balance_split": K2_SQL,
    "k3_merge_columns": K3_SQL,
    "k4_row_split": K4_SQL,
    "k5_unit_scale": K5_SQL,
    "e3_structured_assets": E3_SQL,
    "k1_totals_check": K1_SQL,
    "j7_special_merge": J7_SQL,
}
