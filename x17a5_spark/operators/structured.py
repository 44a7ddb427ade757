"""E3 — the structured-database build (reference
DatabaseStructured.py:161-267), re-expressed in long form.

Reference flow: predict a canonical label per distinct line item (X5),
overwrite with manual classifications where available (J5,
manual_cl_merge :15-48; the builders here take the finished label map
as an input), pivot-sum per filing × label (A3,
structured_data :50-89), dedup amended filings per (CIK, fiscal year)
keep-first (W5, :225,241), reconstruct totals and stamp the
accounting-identity match class (A4/F12, :230-264).

Long form makes the whole thing zero-UDF Catalyst: label attach is a
broadcast join, the pivot is over the bounded label taxonomy (≤25
columns — never the open line-item vocabulary, SURVEY §4), and the
reconstructions are column arithmetic.

Shuffle plan: ONE wide exchange. ``pivot_by_label`` hash-partitions the
labeled long table by (cik, fiscal_year) right after the broadcast
label attach (so the exchange carries the bounded label, not the open
lineitem string, and unlabeled rows are already dropped);
HashPartitioning on a key subset
satisfies the pivot-agg's clustering on the full filing key AND the
dedup window's clustering on (cik, fiscal_year), so Catalyst plans both
downstream of the same exchange (measured: 5 -> 3 exchanges, ~2x at
sf0.1). cik cardinality is the broker-dealer population (thousands), so
the partitioning is skew-safe at 100 TB; AQE coalescing still governs
the fanout because the repartition carries no fixed partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.accounting import relative_error_class

KEY_COLS = ["cik", "name", "filing_date", "fiscal_year"]

TOTAL_ASSETS = "Total assets"
TOTAL_LE = "Total liabilities and shareholder's equity"
TOTAL_L = "Total liabilities"
TOTAL_E = "Total shareholder's equity"


def pivot_by_label(
    long_df: DataFrame, label_map: DataFrame, labels: list[str]
) -> DataFrame:
    """A3 — per-filing pivot-sum over the bounded label space.

    Null preservation matches pandas ``sum`` over an all-null selection:
    Spark's sum is already null when a (filing, label) group has no
    non-null values, and absent groups surface as null pivot cells.

    The broadcast label attach runs BEFORE the builders' filing-key
    repartition (the exchange sits between this join and the pivot
    agg): the inner join drops unlabeled line items and the projection
    swaps the open lineitem string for the bounded label, so the one
    wide exchange carries fewer, narrower rows (guide §2.3 — project
    and filter before the exchange). Join-then-repartition commutes
    with repartition-then-join, so the pivot is value-identical.
    """
    labeled = long_df.join(F.broadcast(label_map), "lineitem", "inner").select(
        *KEY_COLS, "label", "value"
    )
    # Dropping this explicit repartition (to let the pivot partial-
    # aggregate map-side and shuffle combined rows instead of raw long
    # rows, guide §2.3) was A/B'd and REJECTED — e3 1.79 -> 2.83 s,
    # e3l 1.97 -> 2.97 s (median-of-9 interleaved, oracle-green before
    # reverting). With only ~2-4 line items per filing the partial
    # hash-aggregate (wide string keys x 25 decimal accumulators, twice)
    # costs more per row than the narrow labeled exchange it saves, and
    # the keep-first window loses its shared partitioning and adds an
    # exchange of the pivoted table. The one wide exchange stays.
    return (
        labeled.repartition("cik", "fiscal_year")
        .groupBy(*KEY_COLS)
        .pivot("label", labels)
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double"))
    )


def _row_sum_except(labels: list[str], exclude: list[str]):
    cols = [F.coalesce(F.col(f"`{c}`"), F.lit(0.0)) for c in labels if c not in exclude]
    total = None
    for c in cols:
        total = c if total is None else total + c
    return total if total is not None else F.lit(0.0)


def _dedup_keep_first(df: DataFrame) -> DataFrame:
    """W5 — drop amended filings: keep the earliest filing per
    (cik, fiscal_year), explicit order replacing concat order."""
    w = Window.partitionBy("cik", "fiscal_year").orderBy(
        F.col("filing_date").asc(), F.col("name").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _relative_error(recon, reported):
    """abs error ratio with the reference's edge behavior: reported null
    -> null (NOT FOUND); reported 0 with nonzero recon -> +inf (GROSS)."""
    err = F.abs(recon - reported) / reported
    return (
        F.when(reported.isNull(), F.lit(None).cast("double"))
        .when((reported == 0) & (recon != 0), F.lit(float("inf")))
        .when((reported == 0) & (recon == 0), F.lit(None).cast("double"))
        .otherwise(err)
    )


def build_structured_assets(
    long_df: DataFrame, label_map: DataFrame, labels: list[str]
) -> DataFrame:
    """Asset-side structured table with identity validation
    (DatabaseStructured.py:222-235)."""
    piv = _dedup_keep_first(pivot_by_label(long_df, label_map, labels))
    recon = _row_sum_except(labels, [TOTAL_ASSETS]).alias("reconstructed_total_assets")
    out = piv.withColumn("reconstructed_total_assets", recon)
    err = _relative_error(
        F.col("reconstructed_total_assets"), F.col(f"`{TOTAL_ASSETS}`")
    )
    return out.withColumn("relative_error", err).withColumn(
        "total_asset_check", relative_error_class(F.col("relative_error"))
    )


def build_structured_liabilities(
    long_df: DataFrame, label_map: DataFrame, labels: list[str]
) -> DataFrame:
    """Liability-side structured table: four reconstruction variants
    (base, less total liabilities, less total equity, less both), best
    (minimum) relative error decides the match class
    (DatabaseStructured.py:241-264)."""
    piv = _dedup_keep_first(pivot_by_label(long_df, label_map, labels))
    base = _row_sum_except(labels, [TOTAL_LE])
    tl = F.coalesce(F.col(f"`{TOTAL_L}`"), F.lit(0.0)) if TOTAL_L in labels else F.lit(0.0)
    te = F.coalesce(F.col(f"`{TOTAL_E}`"), F.lit(0.0)) if TOTAL_E in labels else F.lit(0.0)
    # one withColumns per dependent layer: each DataFrame op re-analyzes
    # the whole plan, so 8 withColumn calls cost 8 analysis passes
    recons = {
        "recon_total_le": base,
        "recon_total_le_less_liab": base - tl,
        "recon_total_le_less_equity": base - te,
        "recon_total_le_less_both": base - tl - te,
    }
    reported = F.col(f"`{TOTAL_LE}`")
    out = piv.withColumns(recons).withColumns(
        {
            f"relative_error{i}": _relative_error(F.col(c), reported)
            for i, c in enumerate(recons, start=1)
        }
    )
    best = F.least(
        *[F.col(f"relative_error{i}") for i in range(1, 5)]
    )
    return out.withColumn("relative_error", best).withColumn(
        "total_le_check", relative_error_class(F.col("relative_error"))
    )
