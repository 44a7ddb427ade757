"""Structured Streaming over the events table: watermarked event-time
window counts and a watermarked stream-stream interval join (SURVEY.md
§2.9 — scope beyond the batch reference, built entirely from
``window()`` / ``withWatermark`` built-ins and an equi-join).

Each function runs unchanged over a batch DataFrame and under
``readStream``; tests/test_sources_streaming.py drives both streams
with ``Trigger.AvailableNow`` + a memory sink and asserts stream ==
batch, and tests/test_patches_watermark.py pins the window counts'
late-event handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding counts per event_type."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    # Parquet TIMESTAMP without isAdjustedToUTC arrives as TIMESTAMP_NTZ,
    # which withWatermark rejects; event-time state tracking needs the
    # instant (LTZ) type. Session tz is pinned to UTC, so the cast is
    # deterministic and stream==batch equality is preserved (both paths
    # go through this function).
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def joined_event_streams(
    errors: DataFrame,
    purchases: DataFrame,
    horizon: str = "10 minutes",
    watermark: str = "2 hours",
    bin_s: int = 600,
) -> DataFrame:
    """Watermarked stream-stream interval join: purchases within
    ``horizon`` after each error incident.

    Both sides carry a watermark (required for state cleanup: Spark
    buffers each side until the watermark passes the join horizon, the
    streaming analog of the state-store retention bound). The join is
    the j9 time-bucket rewrite — an EQUI-join on the bucket plus a
    residual BETWEEN — so the streaming state is hash-partitioned by
    bucket, never a nested-loop across the full buffers. The identical
    expression runs in batch (watermark is a no-op there); tests assert
    stream == batch under Trigger.AvailableNow.
    """
    e = (
        errors.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("t0"),
            (F.col("ts") + F.expr(f"INTERVAL {horizon}")).alias("t1"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp("t0") / bin_s),
                    F.floor(F.unix_timestamp("t1") / bin_s),
                )
            ),
        )
    )
    p = (
        purchases.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withColumn("bin", F.floor(F.unix_timestamp("p_ts") / bin_s))
    )
    return e.join(
        p,
        (e["bin"] == p["bin"])
        & (F.col("p_ts") > F.col("t0"))
        & (F.col("p_ts") <= F.col("t1")),
    ).select("incident_id", "purchase_id", "p_ts", "purchase_value")
