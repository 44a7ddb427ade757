"""Beyond-reference analytics surface: exact percentiles, GROUPING
SETS, unpivot (wide→long, the inverse of A2 and the engine's canonical
direction), the full ranking-function family, and an as-of join.

The as-of join is the canonical "operator Spark lacks" case: rather
than a quadratic range join, the engine sorts once per key and carries
the last left-side row forward with an ignore-nulls window — O(n log n)
per key, one shuffle, no range explosion. The oracle is DuckDB's native
ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from x17a5_spark.functions.compat import dec_sql, dsum
from x17a5_spark.tables import load_table


# A14 — exact interpolated percentiles (Spark `percentile` == DuckDB
# `quantile_cont`).
def a14_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.max("o_totalprice"), 4).alias("p100"),
    )


A14_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(max(o_totalprice), 4) AS p100
FROM orders GROUP BY o_orderpriority
"""


# A15 — GROUPING SETS with grouping_id disambiguation (free in Catalyst;
# SQL API surface).
def a15_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
               {dec_sql('l_quantity')} AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


A15_SQL = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
       {dec_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus))
"""


# A16 — unpivot wide→long: the inverse of A2 and the engine's canonical
# normalization step (SURVEY §1.3: long form is the model at rest).
def a16_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "measure_value",
    )


A16_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS measure_value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


# W7 — the full ranking family over one deterministic order.
def w7_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


W7_SQL = """
SELECT c_mktsegment, c_custkey,
       row_number() OVER w AS rn,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# J8 — as-of join: for each purchase event, the user's most recent
# click at or before the purchase time. Engine form: union-tag + sort
# once per user + ignore-nulls carry-forward — no range join.
def j8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # at equal ts the click sorts first, so '>=' semantics hold
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("_kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_kind").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    carried = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
        "last_click_id",
    )


J8_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS last_click_ts, c.event_id AS last_click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# A18 — equi-width histogram (the profiling/EDA shape behind every
# data-quality dashboard). Bucket assignment is a pure codegen
# expression evaluated at the scan — floor((x - lo) / step) clamped to
# [0, nb) — so the only exchange is the 24-row final aggregation; at
# 100 TB the map-side partial aggregation reduces each partition to at
# most nb rows before the shuffle. Totals go through exact DECIMAL
# (functions/compat.py) so the hash is partition-order-independent.

A18_LO, A18_STEP, A18_NB = 0.0, 25_000.0, 24


def a18_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(A18_NB - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("o_totalprice") - A18_LO) / A18_STEP).cast("int"),
        ),
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
        .select(
            "bucket",
            (F.lit(A18_LO) + F.col("bucket") * A18_STEP).alias("bucket_lo"),
            "n",
            "total",
        )
    )


A18_SQL = f"""
SELECT bucket,
       CAST({A18_LO} + bucket * {A18_STEP} AS DOUBLE) AS bucket_lo,
       count(*) AS n,
       {dec_sql("o_totalprice")} AS total
FROM (
  SELECT o_totalprice,
         least({A18_NB - 1},
               greatest(0, CAST(floor((o_totalprice - {A18_LO}) / {A18_STEP})
                               AS INT))) AS bucket
  FROM orders
)
GROUP BY bucket
"""



# A20 — ordered event funnel (view -> click -> purchase). Each step's
# first-completion time must follow the PREVIOUS step's — the classic
# product-analytics conversion funnel, which the reference's
# funnel-count audit (Full_process_failings.ipynb cells 9-27) is the
# batch ancestor of. Timestamps compare as unix MICROSECONDS on both
# engines (Spark's parquet reader floors TIMESTAMP_NS to micros; the
# oracle floors explicitly), so step strict-inequalities can't drift on
# sub-microsecond ties. Shape: three conditional min-aggregations, each
# one user-keyed exchange over an already-filtered event subset —
# no windows, no self-joins over raw events.


def a20_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    funnel = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    return funnel.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click_after_view"),
        F.count("t_purchase").alias("n_purchase_after_click"),
    )


A20_SQL = """
WITH ev AS (
  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us, event_type
  FROM events
),
t1 AS (SELECT user_id, min(us) AS t_view FROM ev
       WHERE event_type = 'view' GROUP BY 1),
t2 AS (SELECT e.user_id, min(e.us) AS t_click
       FROM ev e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.us > t1.t_view GROUP BY 1),
t3 AS (SELECT e.user_id, min(e.us) AS t_purchase
       FROM ev e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us > t2.t_click GROUP BY 1)
SELECT count(t1.t_view) AS n_view,
       count(t2.t_click) AS n_click_after_view,
       count(t3.t_purchase) AS n_purchase_after_click
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


# A21 — cohort retention: users grouped by first-seen day, activity
# bucketed into whole weeks since that day — all INTEGER arithmetic on
# unix microseconds (no engine-specific week truncation), so the hash
# is stable by construction. Shape: one user-keyed min-aggregation for
# cohorts, one re-join of events to their user's cohort, one distinct
# + count — the standard cohort matrix at any scale.

_US_PER_DAY = 86_400_000_000


def a21_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    # Guide §2.3: the per-user first-event day rides an UNORDERED
    # window min instead of a groupBy(user_id) + join-back — one hash
    # exchange of the event stream serves both the min and the week
    # arithmetic, where the join shape scans events twice and at scale
    # (cohort table too big to broadcast) would shuffle BOTH join sides
    # plus the aggregate. floor(min/day) over the identical rows equals
    # that aggregate exactly; the join would be inner on user_id (every
    # event's user has a cohort row by construction), so row sets match.
    # An inner join (and the oracle's JOIN USING) DROPS null-user
    # events, while a window gives nulls their own partition —
    # events.user_id has no nulls at any SF today, but the filter makes
    # the equivalence hold by construction rather than by fixture luck.
    ev = ev.filter(F.col("user_id").isNotNull())
    uw = Window.partitionBy("user_id")
    cohort_day = F.floor(F.min("us").over(uw) / _US_PER_DAY).cast("long")
    marked = ev.select(
        "user_id",
        cohort_day.alias("cohort_day"),
        F.floor(
            (F.col("us") - cohort_day * _US_PER_DAY)
            / (7 * _US_PER_DAY)
        )
        .cast("long")
        .alias("week_k"),
    )
    return (
        marked.distinct()
        .groupBy("cohort_day", "week_k")
        .agg(F.count("*").alias("n_active_users"))
    )


A21_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events
),
cohort AS (
  SELECT user_id,
         CAST(floor(min(us) / {_US_PER_DAY}) AS BIGINT) AS cohort_day
  FROM ev GROUP BY 1
),
marked AS (
  SELECT DISTINCT e.user_id, c.cohort_day,
         CAST(floor((e.us - c.cohort_day * {_US_PER_DAY})
                    / {7 * _US_PER_DAY}) AS BIGINT) AS week_k
  FROM ev e JOIN cohort c USING (user_id)
)
SELECT cohort_day, week_k, count(*) AS n_active_users
FROM marked GROUP BY 1, 2
"""



# A22 — robust outlier detection (median/MAD z-score): the data-quality
# gate that survives heavy tails where mean/stddev rules break. Two
# group-keyed aggregations (median, then MAD about it) and a broadcast
# join back to the rows — the per-group stats table is tiny at any
# scale. `percentile(..., 0.5)` == DuckDB `quantile_cont(..., 0.5)`
# exactly (same linear interpolation), and the flag threshold compares
# rounded doubles computed identically in both engines.

A22_THRESH = 3.5  # modified z-score cutoff (Iglewicz-Hoaglin)


def a22_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    mad = (
        orders.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad"),
            F.max("med").alias("med"),
        )
    )
    z = 0.6745 * (F.col("o_totalprice") - F.col("med")) / F.col("mad")
    return (
        orders.join(F.broadcast(mad), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(z, 6).alias("robust_z"),
            (F.abs(F.round(z, 6)) > A22_THRESH).alias("is_outlier"),
        )
    )


A22_SQL = f"""
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
),
mad AS (
  SELECT o.o_orderpriority,
         quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad,
         max(m.med) AS med
  FROM orders o JOIN med m USING (o_orderpriority)
  GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority,
       round(0.6745 * (o.o_totalprice - mad.med) / mad.mad, 6) AS robust_z,
       abs(round(0.6745 * (o.o_totalprice - mad.med) / mad.mad, 6))
           > {A22_THRESH} AS is_outlier
FROM orders o JOIN mad USING (o_orderpriority)
"""



# A23 — cumulative distinct count (growth-curve analytics: total unique
# users ever seen, by hour). COUNT(DISTINCT) OVER a running frame is
# disallowed/quadratic in most engines; the scale-correct rewrite marks
# each user's FIRST event (one per-user window), day-aggregates the
# marks, and runs a running sum over the bounded hourly table — two
# cheap exchanges, no distinct-state explosion. Hour arithmetic is pure
# integer unix-µs (no engine date-truncation drift).


def a23_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    firsts = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.floor(F.col("us") / 3_600_000_000).cast("long").alias("hour"))
    )
    hourly = firsts.groupBy("hour").agg(F.count("*").alias("n_new_users"))
    cum = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        "hour",
        "n_new_users",
        F.sum("n_new_users").over(cum).cast("long").alias("cum_users"),
    )


A23_SQL = """
WITH firsts AS (
  SELECT CAST(floor(CAST(epoch_ns(ts) // 1000 AS BIGINT) / 3600000000)
              AS BIGINT) AS hour
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY CAST(epoch_ns(ts) // 1000 AS BIGINT),
                                      event_id) = 1
),
hourly AS (SELECT hour, count(*) AS n_new_users FROM firsts GROUP BY 1)
SELECT hour, n_new_users,
       CAST(sum(n_new_users) OVER (ORDER BY hour ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM hourly
"""


# ---------------------------------------------------------------------------
# A24 — rolling active users (DAU / trailing-7-day WAU): the product-
# analytics staple. Distinct-count-over-a-sliding-window has no
# native window form (count(distinct) over a frame is unsupported),
# and the naive per-day self-join over a 7-day range re-scans the fact
# table per day. The scale shape: dedup to (user, day) once, then fan
# each active day out to the <= 7 trailing report days it contributes
# to (a BOUNDED explode — window_length rows per active-day, the same
# trick as st2's slide enumeration), dedup (user, report_day), and
# count. Work is O(active_pairs * 7), independent of raw event volume
# after the first dedup, and every step is a hash exchange.
# ---------------------------------------------------------------------------

_A24_US_PER_DAY = 86_400_000_000
A24_WINDOW = 7


def a24_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / _A24_US_PER_DAY
        ).cast("long").alias("day"),
    )
    # Persisting `active` was A/B'd and REJECTED (single-JVM
    # interleaved, median-of-9: persisted 1.20 s vs 0.49 s plain —
    # caching the (user, day) distinct costs ~2.4x what the re-derived
    # scan+distinct subtree costs; the t13/t25 persist wins all cover
    # EXPLODE-heavy subtrees, which this is not).
    active = ev.distinct()
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    covered = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (A24_WINDOW - 1))
        ).alias("day"),
    ).distinct()
    wau = covered.groupBy("day").agg(F.count("*").alias("wau_7"))
    # report only days that actually have activity (trailing windows
    # hanging past the last active day are not report rows)
    return dau.join(wau, "day").select("day", "dau", "wau_7")


A24_SQL = f"""
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(CAST(epoch_ns(ts) // 1000 AS BIGINT) / {_A24_US_PER_DAY})
              AS BIGINT) AS day
  FROM events
),
dau AS (SELECT day, count(*) AS dau FROM active GROUP BY 1),
covered AS (
  SELECT DISTINCT user_id, day + off AS day
  FROM active CROSS JOIN (SELECT unnest(range(0, {A24_WINDOW})) AS off)
),
wau AS (SELECT day, count(*) AS wau_7 FROM covered GROUP BY 1)
SELECT day, dau, wau_7 FROM dau JOIN wau USING (day)
"""


# ---------------------------------------------------------------------------
# A26 — two-sample Kolmogorov-Smirnov statistic per source pair: the
# distribution-drift monitor (is src_k's order-value distribution the
# same as the reference source's?). D = max |ECDF_a(x) - ECDF_b(x)|
# evaluated at the pooled sample points — exact, not binned.
#
# Scale shape: ECDFs via rank windows partitioned BY SOURCE (each
# source sorts only its own values), then a pooled merge per pair
# ordered by value with carry-forward of each side's last rank — the
# as-of union trick again, so no cross-pair value join materializes.
# For the bounded source set here the pooled window partitions by
# pair; per-pair data is two sources' worth, the same partition-sort
# cost profile as any per-key window. Values are exact DECIMAL-cast
# doubles; D is a max of exact rational differences rounded once.
# ---------------------------------------------------------------------------

A26_REF = "src0"


def a26_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("x")
    )
    ref = docs.filter(F.col("source") == A26_REF).select(
        F.lit(0).alias("side"), "x"
    )
    others = docs.filter(F.col("source") != A26_REF).select(
        "source", F.lit(1).alias("side"), "x"
    )
    counts_o = others.groupBy("source").agg(F.count("*").alias("n_b"))
    # n_a stays IN the plan (broadcast 1-row aggregate, the g2 rule:
    # construction must not run an eager action)
    counts_a = ref.agg(F.count("*").alias("n_a"))
    pooled = others.unionByName(
        ref.crossJoin(counts_o.select("source")).select("source", "side", "x")
    )
    # group each distinct x FIRST, then cumulate: evaluating the gap
    # mid-tie-group (e.g. after side 0's rows but before side 1's at
    # the same x) is not |F_a(t) - F_b(t)| for any t and inflates D —
    # identical samples would score D = 1. With per-x totals the scan
    # touches only complete ECDF evaluation points.
    per_x = pooled.groupBy("source", "x").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("na_x"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("nb_x"),
    )
    w = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_x.select(
        "source",
        "x",
        F.sum("na_x").over(w).alias("ca"),
        F.sum("nb_x").over(w).alias("cb"),
    )
    d_expr = F.abs(
        F.col("ca") / F.col("n_a").cast("double") - F.col("cb") / F.col("n_b")
    )
    return (
        cum.join(F.broadcast(counts_o), "source")
        .crossJoin(F.broadcast(counts_a))
        .groupBy("source", "n_a")
        .agg(F.round(F.max(d_expr), 6).alias("ks_d"), F.max("n_b").alias("n_b"))
        .select("source", "n_a", "n_b", "ks_d")
    )


A26_SQL = f"""
WITH ref AS (
  SELECT 0 AS side, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE source = '{A26_REF}'
),
others AS (
  SELECT source, 1 AS side, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE source <> '{A26_REF}'
),
counts_o AS (SELECT source, count(*) AS n_b FROM others GROUP BY 1),
n_a AS (SELECT count(*) AS n_a FROM ref),
pooled AS (
  SELECT source, side, x FROM others
  UNION ALL
  SELECT c.source, r.side, r.x FROM ref r CROSS JOIN counts_o c
),
per_x AS (
  SELECT source, x,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na_x,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb_x
  FROM pooled GROUP BY 1, 2
),
cum AS (
  SELECT source, x,
         sum(na_x) OVER (PARTITION BY source ORDER BY x
                         ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb_x) OVER (PARTITION BY source ORDER BY x
                         ROWS UNBOUNDED PRECEDING) AS cb
  FROM per_x
)
SELECT c.source, CAST(n_a.n_a AS BIGINT) AS n_a, o.n_b,
       round(max(abs(c.ca / CAST(n_a.n_a AS DOUBLE) - c.cb / CAST(o.n_b AS DOUBLE))), 6)
           AS ks_d
FROM cum c
JOIN counts_o o USING (source)
CROSS JOIN n_a
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# A27 — pairwise Pearson correlation matrix over lineitem's numeric
# columns, ONE scan: every pairwise sum (n, Σx, Σx², Σxy) rides a
# single map-side-combined aggregation to one row — no per-pair passes,
# no unpivot self-join. Sums go through exact DECIMAL (f15's
# normal-equations discipline) so r is partition-order independent;
# the final arithmetic is driver-free column math on the 1-row result.
# ---------------------------------------------------------------------------

A27_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def a27_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itertools import combinations

    from x17a5_spark.functions.compat import to_dec

    li = load_table(spark, sf_dir, "lineitem", fanout=True)
    aggs = [F.count("*").alias("n")]
    for c in A27_COLS:
        aggs.append(F.sum(to_dec(c)).cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum(to_dec(F.col(c) * F.col(c))).cast("double").alias(f"ss_{c}")
        )
    for a, b in combinations(A27_COLS, 2):
        aggs.append(
            F.sum(to_dec(F.col(a) * F.col(b))).cast("double").alias(f"sp_{a}_{b}")
        )
    stats = li.agg(*aggs)
    # The "ONE scan" promise above is kept by the plan, not only the
    # algebra: building each output row as ``stats.select(...)`` and
    # unioning would reference the un-persisted aggregate SIX times,
    # so Catalyst replicates the whole scan+fanout+aggregate subtree
    # per pair (6 parquet scans, 12 Exchanges). The pair rows are pure column math on the
    # single stats row, so they fold into ONE 6-element struct array
    # exploded in place: one scan, one fan-out exchange, one aggregate,
    # zero unions (guide §2.4 — remove shuffles outright; §7.2 —
    # duplicated subtrees). Row order (combinations order) is exactly
    # the union order.
    entries = []
    for a, b in combinations(A27_COLS, 2):
        num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        entries.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(num / den, 6).alias("pearson_r"),
            )
        )
    return stats.select(F.explode(F.array(*entries)).alias("e")).select(
        "e.col_a", "e.col_b", "e.pearson_r"
    )


def _a27_sql() -> str:
    from itertools import combinations

    from x17a5_spark.functions.compat import dec_sql

    sums = ["count(*) AS n"]
    for c in A27_COLS:
        sums.append(f"{dec_sql(c)} AS s_{c}")
        sums.append(f"{dec_sql(f'{c} * {c}')} AS ss_{c}")
    for a, b in combinations(A27_COLS, 2):
        sums.append(f"{dec_sql(f'{a} * {b}')} AS sp_{a}_{b}")
    rows = []
    for a, b in combinations(A27_COLS, 2):
        rows.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"round((n * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"sqrt((n * ss_{a} - s_{a} * s_{a}) * (n * ss_{b} - s_{b} * s_{b})), 6)"
            f" AS pearson_r FROM stats"
        )
    return (
        "WITH stats AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(rows)
    )


A27_SQL = _a27_sql()


# ---------------------------------------------------------------------------
# O5 — diversified top-k: the global top-10 orders by value with AT
# MOST ONE order per customer (result diversification — the dedupe
# every leaderboard/search page applies). Two-stage, scale-safe:
# per-customer argmax first (hash-partitioned window), then the global
# rank runs over AT MOST one row per customer — the global sort's
# input is group-winner-sized, never table-sized.
# ---------------------------------------------------------------------------

O5_K = 10


def o5_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    winners = (
        orders.withColumn("rn", F.row_number().over(per_cust))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    # global top-K via sort+limit: Catalyst plans TakeOrderedAndProject
    # (per-partition top-K, merge of K*partitions rows) — an
    # unpartitioned row_number window would instead funnel EVERY
    # group winner through one task. Ranking then runs over K rows.
    topk = winners.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).limit(O5_K)
    glob = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return topk.withColumn("rank", F.row_number().over(glob)).select(
        "rank", "o_custkey", "o_orderkey", "o_totalprice"
    )


O5_SQL = f"""
WITH winners AS (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders) WHERE rn = 1
)
SELECT rank, o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM winners)
WHERE rank <= {O5_K}
"""


# ---------------------------------------------------------------------------
# J15 — temporal absence anti-join (churn detection): users active in
# the first half of the observation window with NO PURCHASE event in
# the final 10%. Absence is not expressible as a filter — it is an
# anti-join between two time-sliced activity sets; both sides reduce
# to distinct user ids BEFORE the join (bounded by |users|, not
# events), so the anti-join probe is dimension-sized at any scale.
# Window edges derive from the data inside the plan (broadcast 1-row
# min/max aggregate — no eager action, the g2/a26 rule).
# ---------------------------------------------------------------------------


def j15_churn_absence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    span = ev.agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    )
    with_span = ev.crossJoin(F.broadcast(span))
    # Guide §2.3/§2.4: an early aggregate and a late-purchase distinct
    # would each re-scan events and meet in an anti join — but both
    # are per-user facts, so ONE conditional aggregation computes
    # them in a single pass and the anti join becomes a filter.
    # Identities: early-grouped rows == users with >= 1 early event
    # (n_early > 0); anti-join survival == no late purchase (_late
    # null). Values are the same count/max over the same row sets.
    mid = F.col("lo") + (F.col("hi") - F.col("lo")) / 2
    p90 = F.col("lo") + 0.9 * (F.col("hi") - F.col("lo"))
    is_early = F.col("us") < mid
    is_late = (F.col("us") >= p90) & (F.col("event_type") == "purchase")
    per_user = with_span.groupBy("user_id").agg(
        F.count(F.when(is_early, 1)).alias("n_early"),
        F.max(F.when(is_early, F.col("us"))).alias("last_early_us"),
        F.max(F.when(is_late, 1)).alias("_late"),
    )
    return per_user.filter(
        (F.col("n_early") > 0) & F.col("_late").isNull()
    ).select("user_id", "n_early", "last_early_us")


J15_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
  FROM events
),
span AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
early AS (
  SELECT user_id, count(*) AS n_early, max(us) AS last_early_us
  FROM ev CROSS JOIN span
  WHERE us < lo + (hi - lo) / 2
  GROUP BY 1
),
late_users AS (
  SELECT DISTINCT user_id FROM ev CROSS JOIN span
  WHERE us >= lo + 0.9 * (hi - lo) AND event_type = 'purchase'
)
SELECT e.user_id, e.n_early, e.last_early_us
FROM early e ANTI JOIN late_users l ON l.user_id = e.user_id
"""


QUERIES = {
    "a14_percentiles": a14_percentiles,
    "a15_grouping_sets": a15_grouping_sets,
    "a16_unpivot": a16_unpivot,
    "a18_histogram": a18_histogram,
    "w7_ranking_family": w7_ranking_family,
    "j8_asof_join": j8_asof_join,
    "a20_event_funnel": a20_event_funnel,
    "a21_cohort_retention": a21_cohort_retention,
    "a22_robust_outliers": a22_robust_outliers,
    "a23_cumulative_distinct": a23_cumulative_distinct,
    "a24_rolling_active_users": a24_rolling_active_users,
    "a26_ks_test": a26_ks_test,
    "a27_correlation_matrix": a27_correlation_matrix,
    "o5_diversified_topk": o5_diversified_topk,
    "j15_churn_absence": j15_churn_absence,
}

ORACLES = {
    "a14_percentiles": A14_SQL,
    "a15_grouping_sets": A15_SQL,
    "a16_unpivot": A16_SQL,
    "a18_histogram": A18_SQL,
    "w7_ranking_family": W7_SQL,
    "j8_asof_join": J8_SQL,
    "a20_event_funnel": A20_SQL,
    "a21_cohort_retention": A21_SQL,
    "a22_robust_outliers": A22_SQL,
    "a23_cumulative_distinct": A23_SQL,
    "a24_rolling_active_users": A24_SQL,
    "a26_ks_test": A26_SQL,
    "a27_correlation_matrix": A27_SQL,
    "o5_diversified_topk": O5_SQL,
    "j15_churn_absence": J15_SQL,
}
