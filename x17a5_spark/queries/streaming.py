"""Event-time windowing over the ``events`` table (SURVEY.md §2.9).

``window()`` / ``session_window()`` run identically under batch and
Structured Streaming; the batch forms are declared here
(oracle-checkable). The window counts and the interval join also run
as streams (readStream + watermark + Trigger.AvailableNow) in
x17a5_spark/streaming/events.py, whose tests assert stream == batch.
Tumbling/sliding windows shuffle once on (window, key); session
windows additionally merge per-key state — all built-in operators.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from x17a5_spark.functions.compat import dec_sql, dsum
from x17a5_spark.tables import load_table


# ST1 — tumbling event-time window (1 hour).
def st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


ST1_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {dec_sql('value')} AS total_value
FROM events GROUP BY 1, 2
"""


# ST2 — sliding window (1 hour length, 30 minute slide): every event
# belongs to exactly 2 windows; the oracle enumerates both bucket starts.
def st2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


ST2_SQL = f"""
WITH grid AS (
  SELECT value, unnest([
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800) AS BIGINT) * 1000000),
           make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800) AS BIGINT) * 1000000)
         ]) AS window_start
  FROM events
)
SELECT window_start, count(*) AS n_events, {dec_sql('value')} AS total_value
FROM grid GROUP BY 1
"""


# ST3 — session window (10 minute gap) per user. Batch session_window
# has gaps-and-islands semantics: a new session starts when the gap to
# the previous event is >= the timeout; window end = last_ts + gap.
def st3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


ST3_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 10 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 10 MINUTE AS session_end,
       count(*) AS n_events, {dec_sql('value')} AS total_value
FROM sessions GROUP BY user_id, sess_id
"""


# ST4 — watermark late-data drop, batch-deterministic form.
#
# Spark Structured Streaming drops a row when its event time is below
# the watermark, and the watermark is max(event time seen in PREVIOUS
# micro-batches) - delay. The events lake arrives exactly in ts order,
# so to exercise the drop path deterministically we derive a synthetic
# arrival time (ts + md5-hash jitter of up to 20 min — both engines
# compute the identical hash), cut 10-minute arrival micro-batches,
# advance the watermark per batch (5 min delay), and drop late rows
# before the tumbling aggregation — the exact semantics of
# ``withWatermark("ts", "5 minutes")`` over that arrival stream
# (streaming/events.py runs the real streaming form).
#
# Scale: the per-batch max is a map-side-combined aggregation down to
# one row per 10 minutes of wall clock (bounded by time, not data
# volume), the running-max window runs over that tiny frame, and the
# watermark table broadcast-joins back to the events — no global sort
# or single-partition pass over the fact table at any scale.
def _arrival_survivors(events: DataFrame) -> DataFrame:
    """st4's arrival/watermark model: events that survive the late-data
    drop (shared by st4 and the st6 stream-stream join)."""
    from pyspark.sql import Window

    h8 = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    arrival_sec = F.unix_timestamp("ts") + h8 % 1200
    # The batch-tagged event table feeds BOTH the watermark aggregate
    # and the survivors join — un-persisted, the events scan plus the
    # md5 arrival hash would run twice per execution. Persisting it is
    # the batch ledger a real micro-batch pipeline materializes anyway.
    b = (
        events.withColumn("batch_id", (arrival_sec - arrival_sec % 600) / 600)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bmax = b.groupBy("batch_id").agg(F.max("ts").alias("batch_max"))
    wm = bmax.select(
        "batch_id",
        (
            F.max("batch_max").over(
                Window.orderBy("batch_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            - F.expr("INTERVAL 5 MINUTES")
        ).alias("watermark"),
    )
    return (
        b.join(F.broadcast(wm), "batch_id")
        .filter(F.col("watermark").isNull() | (F.col("ts") >= F.col("watermark")))
        .drop("batch_id", "watermark")
    )


def st4_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    kept = _arrival_survivors(events)
    return (
        kept.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


ST4_SQL = f"""
WITH arr AS (
  SELECT *,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST('0x' || md5(CAST(event_id AS VARCHAR))[1:8] AS BIGINT) % 1200
           AS arrival_sec
  FROM events
),
b AS (SELECT *, arrival_sec // 600 AS batch_id FROM arr),
bmax AS (SELECT batch_id, max(ts) AS batch_max FROM b GROUP BY batch_id),
wm AS (
  SELECT batch_id,
         max(batch_max) OVER (ORDER BY batch_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - INTERVAL 5 MINUTE AS watermark
  FROM bmax
)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {dec_sql('value')} AS total_value
FROM b JOIN wm USING (batch_id)
WHERE watermark IS NULL OR ts >= watermark
GROUP BY 1, 2
"""


# ST5 — hypertable-style rollup cascade (continuous aggregates): the
# daily level is re-aggregated FROM the hourly aggregate, never from
# raw events — the timeseries-database pattern where each coarser
# granularity costs a scan of the (tiny) finer aggregate instead of
# the fact table. Totals stay exact DECIMAL through every level, so the
# cascade is partition-order independent and the result is identical
# to aggregating raw events directly — which is exactly what the
# oracle does NOT do: it mirrors the cascade, and the pytest asserts
# cascade == direct.
def st5_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("dec_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "dec_value",
        )
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour_start").alias("day_start"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("dec_value").cast("double").alias("total_value"),
            F.count("*").alias("n_hours"),
        )
    )


ST5_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         count(*) AS n_events,
         SUM(CAST(value AS DECIMAL(27,6))) AS dec_value
  FROM events GROUP BY 1, 2
)
SELECT CAST(date_trunc('day', hour_start) AS TIMESTAMP) AS day_start, event_type,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(SUM(dec_value) AS DOUBLE) AS total_value,
       count(*) AS n_hours
FROM hourly GROUP BY 1, 2
"""


# ST6 — watermarked stream-stream interval join, batch-deterministic
# form. Spark's stream-stream inner join buffers each side's rows in
# state until the watermark passes the join-condition horizon; rows
# arriving below the watermark are dropped and can never join. The
# deterministic replay: both sides share st4's arrival/watermark model
# (same lake, same arrival process), late rows are dropped per side,
# and the survivors meet in a time-bucket equi-join (j9's rewrite —
# never a nested loop): purchases within 10 minutes AFTER an error
# incident. tests/test_streaming_join.py runs the REAL
# readStream-side: two file streams, withWatermark on both, interval
# join under Trigger.AvailableNow, asserted == the batch join.
#
# Scale: the watermark frame is bounded by wall-clock (one row per
# 10-minute batch), both drop filters are broadcast joins against it,
# and the join itself is the j9 bucket shape — state per key bounded
# by the 10-minute horizon, exactly like the streaming form's state
# store retention.
ST6_BIN_S = 600


def st6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    kept = _arrival_survivors(events)
    inc = kept.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1"),
    )
    b0 = F.floor(F.unix_timestamp("t0") / ST6_BIN_S)
    b1 = F.floor(F.unix_timestamp("t1") / ST6_BIN_S)
    inc_b = inc.withColumn("bin", F.explode(F.sequence(b0, b1)))
    probe = kept.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "ts",
        "value",
        F.floor(F.unix_timestamp("ts") / ST6_BIN_S).alias("bin"),
    )
    joined = probe.join(inc_b, "bin").filter(
        (F.col("ts") > F.col("t0")) & (F.col("ts") <= F.col("t1"))
    )
    return joined.groupBy("incident_id").agg(
        F.count("*").alias("n_purchases"),
        dsum("value", "purchase_value"),
    )


_ST6_SURVIVORS = """
arr AS (
  SELECT *,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST('0x' || md5(CAST(event_id AS VARCHAR))[1:8] AS BIGINT) % 1200
           AS arrival_sec
  FROM events
),
b AS (SELECT *, arrival_sec // 600 AS batch_id FROM arr),
bmax AS (SELECT batch_id, max(ts) AS batch_max FROM b GROUP BY batch_id),
wm AS (
  SELECT batch_id,
         max(batch_max) OVER (ORDER BY batch_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - INTERVAL 5 MINUTE AS watermark
  FROM bmax
),
kept AS (
  SELECT b.* FROM b JOIN wm USING (batch_id)
  WHERE watermark IS NULL OR ts >= watermark
)
"""

ST6_SQL = f"""
WITH {_ST6_SURVIVORS.strip()},
inc AS (
  SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 10 MINUTE AS t1
  FROM kept WHERE event_type = 'error'
)
SELECT i.incident_id, count(*) AS n_purchases,
       {dec_sql("p.value")} AS purchase_value
FROM inc i JOIN kept p ON p.event_type = 'purchase'
                      AND p.ts > i.t0 AND p.ts <= i.t1
GROUP BY 1
"""



# ST7 — rate-anomaly detection over event-time windows: hourly counts
# per event type (st1's aggregate), then each hour scored against the
# trailing 24 hourly counts with a mean + k*stddev control band — the
# standard streaming ops-monitoring shape (anomaly = count above the
# band). Declarative window-over-aggregate: the anomaly window runs on
# the HOURLY table (bounded: types x hours), never on raw events, so
# the second window costs nothing at any scale. Stats go through exact
# DECIMAL moments so the band — and therefore the boolean flag — is
# bit-stable across engines; population stddev spelled from the same
# moments in both.

ST7_K = 3.0  # control-band width (sigmas)


def st7_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-24, -1)
    )
    dec = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    stats = hourly.select(
        "hour_start",
        "event_type",
        "n",
        F.count("n").over(w).alias("n_hist"),
        F.sum(dec(F.col("n"))).over(w).cast("double").alias("s1"),
        F.sum(dec(F.col("n") * F.col("n"))).over(w).cast("double").alias("s2"),
    ).filter(F.col("n_hist") >= 12)
    mean = F.col("s1") / F.col("n_hist")
    var = F.col("s2") / F.col("n_hist") - mean * mean
    band = mean + ST7_K * F.sqrt(F.greatest(var, F.lit(0.0)))
    return stats.select(
        "hour_start",
        "event_type",
        "n",
        F.round(mean, 6).alias("trailing_mean"),
        F.round(band, 6).alias("band_hi"),
        (F.col("n") > F.round(band, 6)).alias("is_anomaly"),
    )


ST7_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT hour_start, event_type, n,
         count(n) OVER w AS n_hist,
         CAST(sum(CAST(n AS DECIMAL(27,6))) OVER w AS DOUBLE) AS s1,
         CAST(sum(CAST(n * n AS DECIMAL(27,6))) OVER w AS DOUBLE) AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour_start, event_type, n,
       round(s1 / n_hist, 6) AS trailing_mean,
       round(s1 / n_hist + {ST7_K} * sqrt(greatest(s2 / n_hist
             - (s1 / n_hist) * (s1 / n_hist), 0.0)), 6) AS band_hi,
       n > round(s1 / n_hist + {ST7_K} * sqrt(greatest(s2 / n_hist
             - (s1 / n_hist) * (s1 / n_hist), 0.0)), 6) AS is_anomaly
FROM stats
WHERE n_hist >= 12
"""


# ST8 — TTL dedup (the batch twin of streaming/stateful.py's
# applyInPandasWithState dedup-with-TTL: an event is suppressed when
# another event of the same (user, type) arrived within the previous
# TTL). "Within TTL of the previous EVENT" chains into bursts, so the
# declarative form is gap sessionization: a burst starts where the gap
# from the predecessor exceeds the TTL (lag + running sum of
# burst-starts — no sequential kernel), and the burst's first event is
# the kept one, carrying how many it suppressed. Timestamps go through
# the µs floor on both engines (the w8/a23 cross-engine discipline).
#
# Scale: one hash exchange on (user_id, event_type) + per-key sort —
# the same cost profile as any per-key window; state never accumulates
# beyond a partition sort, unlike the streaming form whose state store
# holds one timestamp per live key.
#
# The per-burst rollup is run-start filtering, not a
# groupBy(..., burst).agg(min(struct(us, event_id)), count(*)): min
# over a STRUCT plans as SortAggregate, a second per-partition sort of
# the full event stream.
#
# CHUNKED sessionization: a per-key window alone means one task sorts
# a hot user's ENTIRE stream (skew lake: a 30%-hot user serialized 30%
# of the window scan, 1.65×). The gap scan is a segmented scan, so
# it decomposes: sessionize WITHIN (user, type, time-chunk)
# partitions, then stitch bursts across chunk edges with a per-chunk
# summary pass whose row count is #chunks, not #events. Per-task work
# is bounded by (event rate × chunk width)
# — a retention contract a hot key cannot break. Correctness of the
# stitch: with CHUNK ≥ TTL (build-time assert), an event whose
# PRECEDING event is not in the same or adjacent chunk is always a
# burst start (the empty chunk between them is itself > TTL of gap),
# so only adjacent-chunk edges need the summary join; the burst ids,
# kept events and suppressed counts are value-identical to the flat
# form — and the DuckDB oracle still runs the FLAT sessionization, so
# the hash gate itself proves the rewrite at every offset.
ST8_TTL_US = 600 * 1_000_000  # 10 minutes
ST8_CHUNK_US = 6 * ST8_TTL_US  # 1 h; any value >= TTL is correct
# Keys with more events than this route through the CHUNKED path;
# everything else keeps the one-window flat plan. The threshold is a
# TASK-CAPACITY bound, not a skew detector: one task sorting
# ST8_HOT_EVENTS rows is a bounded, seconds-scale straggler (measured
# ~0.4 s/M rows), while the chunked bookkeeping costs ~3x per row —
# worth paying only when a single key outgrows what one task can sort
# (an A/B at the 20x skew lake: routing 120k-row keys through the
# chunked path made the skew ratio WORSE, 2.6x vs flat's ~1.5x,
# because at that size the straggler is cheaper than the extra
# passes; at the 5M-row design point the chunked path wins ~4x and
# the flat straggler dominates the stage — SCALE.md's st8 section).
# The hot-key listing is driver-collected, bounded by
# ST8_MAX_HOT_KEYS (top keys by count): constant driver traffic at
# any corpus size; keys past the cap keep the flat path.
ST8_HOT_EVENTS = 2_000_000
ST8_MAX_HOT_KEYS = 4096

assert ST8_CHUNK_US >= ST8_TTL_US, "st8 chunk must cover the TTL"


def _st8_flat(ev: DataFrame) -> DataFrame:
    """One-window gap sessionization (the rollup-as-filter shape, and
    the whole plan when no hot keys exist): per-key total via an
    unordered frame over the SAME window exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gap_new = (
        F.lag("us").over(w).isNull()
        | (F.col("us") - F.lag("us").over(w) > ST8_TTL_US)
    )
    bursts = (
        ev.withColumn("is_new", gap_new.cast("long"))
        .withColumn(
            "burst",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            # per-key event total: same hash partitioning, unordered
            # frame — no additional sort or exchange
            "n_key",
            F.count("*").over(Window.partitionBy("user_id", "event_type")),
        )
    )
    bw = Window.partitionBy("user_id", "event_type").orderBy("burst_id")
    return (
        bursts.filter(F.col("is_new") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("burst").alias("burst_id"),
            F.col("event_id").alias("kept_event_id"),
            F.col("us").alias("kept_us"),
            "rn",
            "n_key",
        )
        .withColumn(
            "n_suppressed",
            (
                F.coalesce(F.lead("rn").over(bw), F.col("n_key") + 1)
                - F.col("rn")
                - 1
            ).cast("long"),
        )
        .select(
            "user_id",
            "event_type",
            "burst_id",
            "kept_event_id",
            "kept_us",
            "n_suppressed",
        )
    )


def _st8_chunked(ev: DataFrame) -> DataFrame:
    """Chunked sessionization for HOT keys: gap scans
    are segmented scans, so they decompose into ONE within-(user,
    type, time-chunk) window pass plus a stitch computed entirely on
    per-chunk summaries (one row per chunk, not per event) — per-task
    work is bounded by (event rate x chunk width), a retention
    contract a hot key cannot break. Stitch correctness: with
    CHUNK >= TTL (build-time assert), an event whose preceding event
    is not in the same or ADJACENT chunk is always a burst start (any
    skipped chunk is itself > TTL of gap), so a chunk's first event
    merges into the previous burst iff the previous summary row is the
    adjacent chunk AND the edge gap is <= TTL; the within-chunk
    provisional numbering is then shifted by (running new-burst total
    - merge flag). Burst ids, kept events and suppressed counts are
    value-identical to the flat form — pinned by the hybrid parity
    test AND by the hash gate (the DuckDB oracle runs the flat form).

    Plan: one full-event exchange+sort (the chunk window), a summary
    aggregate on the SAME partitioning, a chunk-count-sized window, a
    summary join back, and the final partial-aggregated burst rollup —
    each global burst holds exactly one true start, so kept-event
    extraction is a conditional max, never a struct-min."""
    from pyspark.sql import Window

    key = ["user_id", "event_type"]
    ev = ev.withColumn("chunk", F.floor(F.col("us") / ST8_CHUNK_US))
    wc = Window.partitionBy(*key, "chunk").orderBy("us", "event_id")

    # level 1: ONE window pass — provisional sessionization where every
    # chunk-first event counts as a burst start
    flagged = (
        ev.withColumn("prev_us", F.lag("us").over(wc))
        .withColumn(
            "is_new_local",
            (
                F.col("prev_us").isNull()
                | (F.col("us") - F.col("prev_us") > ST8_TTL_US)
            ).cast("long"),
        )
        .withColumn(
            "local_cum",
            F.sum("is_new_local").over(
                wc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )

    # level 2: the stitch, on summary rows only
    summaries = flagged.groupBy(*key, "chunk").agg(
        F.min("us").alias("_first_us"),
        F.max("us").alias("_last_us"),
        F.sum("is_new_local").alias("_n_new_raw"),
    )
    cw = Window.partitionBy(*key).orderBy("chunk")
    merged = summaries.select(
        *key,
        "chunk",
        F.when(
            (F.lag("chunk").over(cw) == F.col("chunk") - 1)
            & (
                F.col("_first_us") - F.lag("_last_us").over(cw)
                <= ST8_TTL_US
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_merge_first"),
        "_n_new_raw",
    ).withColumn(
        "_offset",
        F.coalesce(
            F.sum(F.col("_n_new_raw") - F.col("_merge_first")).over(
                cw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    numbered = flagged.join(merged, [*key, "chunk"]).select(
        *key,
        "event_id",
        "us",
        (
            F.col("_offset") + F.col("local_cum") - F.col("_merge_first")
        ).cast("long").alias("burst_id"),
        # a provisional chunk-first start is NOT a true start when its
        # edge merges into the previous chunk's last burst
        (
            (F.col("is_new_local") == 1)
            & ~(F.col("prev_us").isNull() & (F.col("_merge_first") == 1))
        ).cast("long").alias("is_new"),
    )
    return (
        numbered.groupBy(*key, "burst_id")
        .agg(
            F.max(F.when(F.col("is_new") == 1, F.col("event_id"))).alias(
                "kept_event_id"
            ),
            F.max(F.when(F.col("is_new") == 1, F.col("us"))).alias("kept_us"),
            (F.count("*") - 1).cast("long").alias("n_suppressed"),
        )
        .select(
            "user_id",
            "event_type",
            "burst_id",
            "kept_event_id",
            "kept_us",
            "n_suppressed",
        )
    )


def st8_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid routing: only hot keys take the chunked window path.
    A map-side-combined per-key count finds keys over
    ST8_HOT_EVENTS; the hot-key list is COLLECTED (bounded: top
    ST8_MAX_HOT_KEYS by count — constant driver traffic, the j11
    bitmap discipline) and drives the split: no hot keys -> the flat
    r9 plan runs UNCHANGED (zero overhead beyond the count pass); hot
    keys -> they are broadcast-anti'd out of the flat window and
    routed through the chunked path, so no task ever sorts more than
    (hot-key rate x chunk width) events. Both paths emit identical
    rows per key, so the union IS the flat answer — the DuckDB oracle
    runs the flat form and the hash gate proves the rewrite."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    key = ["user_id", "event_type"]
    hot_rows = (
        ev.groupBy(*key)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > ST8_HOT_EVENTS)
        .orderBy(F.desc("n"))
        .limit(ST8_MAX_HOT_KEYS)
        .select(*key)
        .collect()
    )
    if not hot_rows:
        return _st8_flat(ev)
    hot_df = ev.sparkSession.createDataFrame(
        [(r["user_id"], r["event_type"]) for r in hot_rows],
        "user_id string, event_type string",
    )
    cold = _st8_flat(ev.join(F.broadcast(hot_df), key, "left_anti"))
    hot = _st8_chunked(ev.join(F.broadcast(hot_df), key, "left_semi"))
    return cold.unionByName(hot)


ST8_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
  FROM events
),
bursts AS (
  SELECT *,
         CAST(sum(CASE WHEN prev_us IS NULL
                            OR us - prev_us > {ST8_TTL_US} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, event_type ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst
  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS prev_us
        FROM ev)
)
SELECT user_id, event_type, burst AS burst_id,
       -- lexicographic struct-min mirrors Spark's min(struct(us, id));
       -- a bare min(event_id ORDER BY ...) would silently return the
       -- burst's globally smallest id (ORDER BY is a no-op on min)
       (min({{'us': us, 'event_id': event_id}})).event_id AS kept_event_id,
       min(us) AS kept_us,
       count(*) - 1 AS n_suppressed
FROM bursts
GROUP BY 1, 2, 3
"""


# ST10 — windowed trending top-k: per tumbling hour, the top-3 event
# types by count with their share of the hour — the "trending topics"
# panel every event platform runs as a continuous query. Batch form
# here (oracle-checkable); under readStream the same groupBy(window,
# type) + rank runs with a watermark. Scale: one (hour, type) hash
# aggregation (map-side combined, bounded by |types| per hour), then a
# per-hour window over |types| rows — never a global sort.
ST10_K = 3


def st10_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    # The hour total rides an UNORDERED window over the same
    # hour_start partitioning the rank window already exchanges on; a
    # groupBy(hour_start)+join would re-derive the hourly aggregate
    # subtree (a second exchange) and recombine through a join. sum
    # over the partition equals that per-hour groupBy sum exactly (same
    # long addition over the same rows; every hour has >= 1 row, so the
    # inner join would drop no row either).
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    tw = Window.partitionBy("hour_start")
    return (
        hourly.select(
            "hour_start",
            "event_type",
            "n",
            F.row_number().over(w).alias("rank"),
            F.sum("n").over(tw).cast("long").alias("n_hour"),
        )
        .filter(F.col("rank") <= ST10_K)
        .select(
            "hour_start",
            "rank",
            "event_type",
            "n",
            F.round(F.col("n") / F.col("n_hour"), 6).alias("share"),
        )
    )


ST10_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (SELECT hour_start, CAST(sum(n) AS BIGINT) AS n_hour
        FROM hourly GROUP BY 1),
ranked AS (
  SELECT hour_start, event_type, n, row_number() OVER (
           PARTITION BY hour_start ORDER BY n DESC, event_type ASC) AS rank
  FROM hourly
)
SELECT r.hour_start, r.rank, r.event_type, r.n,
       round(r.n / CAST(t.n_hour AS DOUBLE), 6) AS share
FROM ranked r JOIN tot t USING (hour_start)
WHERE r.rank <= {ST10_K}
"""


QUERIES = {
    "st1_tumbling_window": st1_tumbling_window,
    "st2_sliding_window": st2_sliding_window,
    "st3_session_window": st3_session_window,
    "st4_watermark_drop": st4_watermark_drop,
    "st5_rollup_cascade": st5_rollup_cascade,
    "st6_stream_stream_join": st6_stream_stream_join,
    "st7_rate_anomaly": st7_rate_anomaly,
    "st8_ttl_dedup": st8_ttl_dedup,
    "st10_trending": st10_trending,
}

ORACLES = {
    "st1_tumbling_window": ST1_SQL,
    "st2_sliding_window": ST2_SQL,
    "st3_session_window": ST3_SQL,
    "st4_watermark_drop": ST4_SQL,
    "st5_rollup_cascade": ST5_SQL,
    "st6_stream_stream_join": ST6_SQL,
    "st7_rate_anomaly": ST7_SQL,
    "st8_ttl_dedup": ST8_SQL,
    "st10_trending": ST10_SQL,
}
