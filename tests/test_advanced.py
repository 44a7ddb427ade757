"""Tests for the round-3 scale-technique operators (queries/advanced.py):
plan discipline for the range-join and salted rewrites, result identity
against the naive spellings, and partition-invariance of the sketches.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from x17a5_spark.operators.skew import SALT_COL, salted_aggregate, salted_join
from x17a5_spark.queries.advanced import (
    a17_sample_quantiles,
    d8_semdedup,
    j9_range_join,
    j10_salted_skew_join,
    t13_perplexity_filter,
)
from x17a5_spark.tables import load_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- j9: the bucketed range join must be a hash join, never a
# nested-loop / cartesian over (incidents x events) -----------------------


def test_j9_plan_has_no_nested_loop(spark):
    plan = _plan(j9_range_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_j9_matches_naive_range_join(spark):
    ev = load_table(spark, SF, "events")
    inc = ev.filter((F.col("event_type") == "error") & (F.col("value") > 200)).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1"),
    )
    naive = (
        ev.join(inc, (F.col("ts") >= F.col("t0")) & (F.col("ts") <= F.col("t1")))
        .groupBy("incident_id")
        .agg(F.count("*").alias("n_events"))
    )
    got = {
        r["incident_id"]: r["n_events"]
        for r in j9_range_join(spark, SF).collect()
    }
    want = {r["incident_id"]: r["n_events"] for r in naive.collect()}
    assert got == want


# --- j10 / skew operators: salting changes the schedule, not the answer --


def test_salted_join_exchanges_on_salt(spark):
    df = j10_salted_skew_join(spark, SF)
    plan = _plan(df)
    assert SALT_COL in plan, "salt column never reached the physical plan"
    exchange_lines = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert any(SALT_COL in l for l in exchange_lines), (
        "no exchange partitions by the salt — the skew spread is not happening"
    )


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    dim = li.select("l_returnflag").distinct().withColumn(
        "factor", F.length("l_returnflag").cast("double")
    )
    salted = salted_join(
        li, dim, ["l_returnflag"], salt_from=["l_orderkey", "l_linenumber"], n_salt=4
    )
    plain = li.join(dim, "l_returnflag")
    assert salted.count() == plain.count()
    dec = lambda c: F.sum(F.col(c).cast("decimal(27,6)"))  # noqa: E731
    s = salted.agg(dec("l_extendedprice"), dec("factor")).collect()[0]
    p = plain.agg(dec("l_extendedprice"), dec("factor")).collect()[0]
    assert s == p


def test_salted_aggregate_equals_plain_groupby(spark):
    li = load_table(spark, SF, "lineitem")
    got = {
        r["l_returnflag"]: (r["n"], r["s"])
        for r in salted_aggregate(
            li,
            ["l_returnflag"],
            partial_aggs=[
                F.count("*").alias("pn"),
                F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("ps"),
            ],
            final_aggs=[
                F.sum("pn").alias("n"),
                F.sum("ps").cast("double").alias("s"),
            ],
            salt_from=["l_orderkey", "l_linenumber"],
            n_salt=16,
        ).collect()
    }
    want = {
        r["l_returnflag"]: (r["n"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == want


# --- a17: the distributed bottom-k never globally sorts the data, and
# equals the single-sort evaluation exactly ------------------------------


def test_a17_equals_naive_bottom_k(spark):
    li = load_table(spark, SF, "lineitem")
    hashed = li.select(
        F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("h"),
        F.col("l_extendedprice").alias("value"),
    )
    naive_sample = hashed.withColumn(
        "rk", F.row_number().over(Window.orderBy("h"))
    ).filter(F.col("rk") <= 256)
    naive_vals = sorted(r["value"] for r in naive_sample.collect())
    got = {r["q"]: r["value"] for r in a17_sample_quantiles(spark, SF).collect()}
    for q, v in got.items():
        assert v == naive_vals[int(q * 255)]


def test_a17_sample_is_partition_invariant(spark):
    base = a17_sample_quantiles(spark, SF).collect()
    # same computation (incl. the adaptive u <= 4k/n pre-filter) over a
    # differently-partitioned source
    li = load_table(spark, SF, "lineitem").repartition(7)
    hashed = li.select(
        F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("h"),
        F.col("l_extendedprice").alias("value"),
    )
    n = hashed.count()
    u = F.conv(F.substring("h", 1, 15), 16, 10).cast("double") / F.lit(
        float(1 << 60)
    )
    surv = hashed.filter(u <= min(1.0, 4.0 * 256 / n))
    bottom = (
        surv.withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rk") <= 256)
    )
    ranked = bottom.withColumn(
        "vr", F.row_number().over(Window.orderBy("value", "h"))
    )
    vals = {r["vr"]: r["value"] for r in ranked.collect()}
    for row in base:
        assert vals[int(row["q"] * 255) + 1] == row["value"]


# --- d8: every planted exact copy must be dropped, kept by its source ---


def test_d8_drops_all_planted_copies(spark):
    emb_n = load_table(spark, SF, "embeddings").count()
    rows = d8_semdedup(spark, SF).collect()
    dropped = {r["dropped_id"]: r["kept_id"] for r in rows}
    planted = {i + 100000 for i in range(emb_n)}
    missing = [d for d in planted if d not in dropped]
    assert not missing, f"planted copies not dropped: {missing[:5]}"
    # each planted copy is kept by its own source (cos == 1.0 exactly,
    # and the source has the smallest id among perfect dups)
    wrong = {
        d: k for d, k in dropped.items() if d >= 100000 and k != d - 100000 and k < 100000
    }
    # a copy may legitimately be kept by a DIFFERENT original if two
    # originals are themselves near-identical; require the kept id to at
    # least be an original
    assert all(k < 100000 for k in dropped.values()), wrong


def test_t13_scores_and_flags_are_consistent(spark):
    rows = t13_perplexity_filter(spark, SF).collect()
    assert rows, "t13 returned no rows"
    for r in rows:
        assert r["keep"] == (r["avg_nll"] < 3.41)
        assert r["n_tokens"] > 0
        assert 0.0 < r["avg_nll"] < 20.0


# --- d9: every planted truncated copy long enough to share a full
# 15-token window with its source must be flagged --------------------------


def test_d9_flags_planted_copies(spark):
    from x17a5_spark.queries.dedup import d9_substring_dedup

    docs = load_table(spark, SF, "documents")
    n_tok = F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != ""))
    # copy keeps floor(0.9n) tokens; a shared 15-gram needs >= 15 of them
    eligible = {
        r["doc_id"]
        for r in docs.select("doc_id", n_tok.alias("n")).collect()
        if int(r["n"] * 9 / 10) >= 15
    }
    pairs = {
        (r["id_a"], r["id_b"])
        for r in d9_substring_dedup(spark, SF).collect()
    }
    missing = [d for d in eligible if (d, d + 100000) not in pairs]
    assert not missing, f"planted copies not flagged: {missing[:5]}"


def test_t14_bm25_ranking_is_consistent(spark):
    from x17a5_spark.queries.advanced import t14_bm25_search

    rows = t14_bm25_search(spark, SF).collect()
    assert rows
    by_rank = sorted(rows, key=lambda r: r["rank"])
    # ranks are dense from 1 and ordered by (score desc, doc_id asc)
    assert [r["rank"] for r in by_rank] == list(range(1, len(rows) + 1))
    for prev, cur in zip(by_rank, by_rank[1:]):
        assert (prev["score"], -prev["doc_id"]) >= (cur["score"], -cur["doc_id"])
        assert prev["score"] > 0 and 1 <= prev["n_terms_hit"] <= 3


def test_bigram_perplexity_shape(spark):
    from x17a5_spark.queries.advanced import T24_THRESHOLD, t24_bigram_perplexity
    from x17a5_spark.queries.textops import t1_token_stats

    sf = "/root/testdata/sf0.001"
    out = {r.doc_id: r for r in t24_bigram_perplexity(spark, sf).collect()}
    ntok = {r.doc_id: r.n_tokens for r in t1_token_stats(spark, sf).collect()}
    for doc_id, r in out.items():
        assert r.n_bigrams == ntok[doc_id] - 1
        assert r.keep == (r.avg_nll < T24_THRESHOLD)
        assert r.avg_nll > 0


def test_keyword_extraction_ranks(spark):
    from collections import defaultdict

    from x17a5_spark.queries.textops import T25_K, t25_keyword_extraction

    rows = t25_keyword_extraction(spark, "/root/testdata/sf0.001").collect()
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= T25_K
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_rolling_active_users_vs_bruteforce(spark):
    from x17a5_spark.queries.analytics import (
        _A24_US_PER_DAY,
        A24_WINDOW,
        a24_rolling_active_users,
    )
    from x17a5_spark.tables import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = {r.day: r for r in a24_rolling_active_users(spark, sf).collect()}
    active = (
        load_table(spark, sf, "events")
        .select(
            "user_id",
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / _A24_US_PER_DAY
            ).cast("long").alias("day"),
        )
        .distinct()
        .collect()
    )
    days = {r.day for r in active}
    for day in days:
        dau = {r.user_id for r in active if r.day == day}
        wau = {
            r.user_id
            for r in active
            if day - (A24_WINDOW - 1) <= r.day <= day
        }
        assert out[day].dau == len(dau)
        assert out[day].wau_7 == len(wau)
        assert out[day].wau_7 >= out[day].dau


def test_phash_dedup_finds_planted_copies(spark):
    """Exact copies hash to hamming 0; one-pixel perturbations stay
    within the hamming threshold; corrupt blobs never pair."""
    from x17a5_spark.queries.multimodal import M6_HAM_T, m6_phash_dedup

    rows = m6_phash_dedup(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    def src(media_id):
        if media_id >= 500000:
            return media_id - 500000
        if media_id >= 400000:
            return media_id - 400000
        return media_id

    for (a, b), h in pairs.items():
        assert 0 <= h <= M6_HAM_T
        # corrupt source docs (doc % 13 == 0) can never appear
        assert src(a) % 13 != 0 and src(b) % 13 != 0
    # every non-corrupt planted exact copy pairs at hamming 0
    exact = [(a, b) for (a, b) in pairs if b == a + 500000]
    for a, b in exact:
        assert pairs[(a, b)] == 0
    assert exact, "no exact-copy pairs found"
    near = [(a, b) for (a, b) in pairs if b == a + 400000]
    assert near, "no perturbed near-dup pairs found"


def test_a26_oracle_identical_samples_score_zero():
    """Regression: mid-tie ECDF evaluation inflated D to 1.0 for
    IDENTICAL samples. With per-x grouping the statistic must be 0."""
    import duckdb

    from x17a5_spark.queries.analytics import A26_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT * FROM (VALUES (0, 'src0', 5), (1, 'src0', 5), "
        "(2, 'srcX', 5), (3, 'srcX', 5)) t(doc_id, source, n_chars)"
    )
    rows = con.execute(A26_SQL).fetchall()
    assert rows == [("srcX", 2, 2, 0.0)]


def test_st8_oracle_non_monotone_event_ids():
    """Regression: the oracle's kept_event_id must be the FIRST event
    of the burst in (us, event_id) order, not the globally smallest id
    — exercised with ids deliberately anti-ordered vs time."""
    import duckdb

    from x17a5_spark.queries.streaming import ST8_SQL

    con = duckdb.connect()
    # one user/type: events at us 100 (id 7) and 200 (id 3) — within TTL
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, 'click', 7, CAST('2024-01-01 00:00:00.1' AS TIMESTAMP_NS)), "
        "(1, 'click', 3, CAST('2024-01-01 00:00:00.2' AS TIMESTAMP_NS))"
        ") t(user_id, event_type, event_id, ts)"
    )
    rows = con.execute(ST8_SQL).fetchall()
    assert len(rows) == 1
    user_id, event_type, burst_id, kept_id, kept_us, n_sup = rows[0]
    assert (kept_id, n_sup) == (7, 1), rows


def test_d8_cell_count_derives_from_corpus_no_env_knob():
    """d8 derives its cell count from one corpus count with the
    perf-optimal cap (~1k augmented vectors per cell), so no hand-set
    knob is needed at 100× (a fixed k=16 meant 50,000-vector cells, a
    ~20 GB matmul, on the 100× lake). Pins: (a) every shipped gate lake
    derives EXACTLY (16, 4), the cell counts the static oracle is
    written with; (b) the per-cell bound n/k <= D8_CELL_CAP (1024^2 x
    8 B ~= 8 MB of per-cell scores, the measured U-curve optimum, far
    below Arrow limits) holds for ANY corpus size, so the matmul can
    never outgrow an Arrow batch; (c) the derived super count is a true
    divisor near sqrt(k) (a prime k would collapse staged assignment to
    flat N*k)."""
    import math

    from x17a5_spark.queries.advanced import D8_CELL_CAP, _d8_derive
    from x17a5_spark.queries.similarity import N_CELLS, N_SUPERS

    # (a) gate lakes: sf0.001/0.01 = 500 embeddings, sf0.1 = 2000
    assert _d8_derive(2 * 500) == (16, 4) == (N_CELLS, N_SUPERS)
    assert _d8_derive(2 * 2000) == (16, 4)
    # (b)+(c) OOM guard across 6 orders of magnitude, incl. the 100×
    # lake (400k aug vecs -> the recipe's 1600) and awkward sizes
    for n in (1, 1000, 4000, 80_000, 400_000, 800_000, 12_345_677, 10**9):
        k, s = _d8_derive(n)
        assert n / k <= D8_CELL_CAP, f"cell over cap at n={n}: {n / k}"
        assert k % s == 0, f"supers not a divisor at n={n}"
        assert s >= math.isqrt(k) // 2, f"degenerate staging at n={n}"
    assert _d8_derive(400_000) == (400, 20)  # the documented 100× point
