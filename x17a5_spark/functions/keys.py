"""Key-construction / date scalar functions (SURVEY.md §2.8 F5/F8/F16/F17)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The one filing key every cleaning and database-build operator groups on.
FILING_KEY = ["cik", "filing_date"]


def cik_from_edgar_url(col: Column | str) -> Column:
    """F5 — CIK from ``edgar/data/<cik>/<accession>`` paths
    (reference ExtractBrokerDealers.py:165: ``x.split('/')[2]``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, "/").getItem(2)


def filing_key(cik: Column | str, filing_date: Column | str) -> Column:
    """F8 — ``{cik}-{filing_date}`` join key (PRESERVE-FOCUS.ipynb cell 7)."""
    a = F.col(cik) if isinstance(cik, str) else cik
    b = F.col(filing_date) if isinstance(filing_date, str) else filing_date
    return F.concat_ws("-", a.cast("string"), b.cast("string"))


def fiscal_year(filing_date: Column | str) -> Column:
    """F16 — fiscal year = filing year - 1 (DatabaseUnstructured.py:321-323)."""
    c = F.col(filing_date) if isinstance(filing_date, str) else filing_date
    return (F.year(c) - 1).cast("int")


def year_quarter_range(spark: SparkSession, start: int, end: int) -> DataFrame:
    """F17 — enumerate ``YYYY/QTRn`` strings for EDGAR index fetches
    (ExtractBrokerDealers.py:111). Built lazily via ``sequence`` +
    ``explode`` so the enumeration is a distributed table, not a
    driver-side loop.
    """
    return (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(start), F.lit(end))).alias("year"))
        .select(
            "year",
            F.explode(F.array(*[F.lit(f"QTR{q}") for q in (1, 2, 3, 4)])).alias("qtr"),
        )
        .select(
            "year",
            "qtr",
            F.concat_ws("/", F.col("year").cast("string"), F.col("qtr")).alias("year_qtr"),
        )
    )
