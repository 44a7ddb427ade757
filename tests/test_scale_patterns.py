"""Scale-pattern tests: bucketed co-located joins (no shuffle in the
plan), foreachBatch dual-write (good rows + error ledger in one epoch),
and broadcast-join plan assertions — the physical-layout story behind
SURVEY §4."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from x17a5_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy(8, key) on both sides -> sort-merge join with no
    Exchange: the 100 TB co-location strategy for repeated filing-key
    joins."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .mode("overwrite").saveAsTable("b_orders"))
    (li.withColumnRenamed("l_orderkey", "o_orderkey")
       .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("b_lineitem"))
    joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
    # disable broadcast so the join strategy decision is about bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # buckets already co-located
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
    _ = warehouse, os


def test_foreachbatch_dual_write(spark, tmp_path):
    """S10 streaming form: one epoch writes good rows and the error
    ledger to separate sinks exactly once."""
    src = os.path.join(tmp_path, "src")
    good_dir = os.path.join(tmp_path, "good")
    err_dir = os.path.join(tmp_path, "errors")
    df = spark.createDataFrame(
        [("1", "ok-row", None), ("2", None, "OCR failed"), ("3", "ok-too", None)],
        "cik string, payload string, error string",
    )
    df.write.parquet(src)

    def dual_write(batch_df, epoch_id):
        batch_df.filter(F.col("error").isNull()).drop("error").write.mode(
            "append"
        ).parquet(good_dir)
        batch_df.filter(F.col("error").isNotNull()).select("cik", "error").write.mode(
            "append"
        ).parquet(err_dir)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(dual_write)
        .option("checkpointLocation", os.path.join(tmp_path, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    good = spark.read.parquet(good_dir)
    errors = spark.read.parquet(err_dir)
    assert {r["cik"] for r in good.collect()} == {"1", "3"}
    assert errors.count() == 1 and errors.first()["error"] == "OCR failed"


def test_broadcast_hint_respected(spark):
    nation = load_table(spark, SF, "nation")
    cust = load_table(spark, SF, "customer")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A fact table partitioned on the join key must get a runtime
    dynamicpruning subquery at its scan when joined to a filtered dim —
    the partition-pruning half of the 100 TB story (the other half,
    static PartitionFilters, is asserted above)."""
    fact_dir = os.path.join(tmp_path, "fact_part")
    orders = load_table(spark, SF, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", "keep")], ["o_orderpriority", "tag"]
    ).filter(F.col("tag") == "keep")
    joined = fact.join(dim, "o_orderpriority").groupBy("tag").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only reads the one partition
    assert joined.first()["count"] == orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_bench_stdout_line_never_exceeds_budget():
    """ADVICE r6 item 4: the bench stdout clamp must hold for ANY key
    shape — synthetic long full-name keys (colliding prefixes disable
    the short codes), many queries, and tiny budgets all stay within
    the capture budget with the headline intact."""
    import json

    from bench import LINE_BUDGET, compose_stdout_line

    def full_for(timings):
        return {
            "metric": "headline_suite_wall_clock",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": 0.1,
            "cold_total_sec": 1.0,
            "e2e_pipeline_sec": {},
            "e1_stages": {},
            "n_queries": len(timings),
        }

    # shape 1: today's registry shape (short unique prefixes)
    normal = {f"q{i}_some_query_name": 0.1 * i for i in range(1, 89)}
    line = compose_stdout_line(full_for(normal), normal)
    assert len(line) <= LINE_BUDGET
    assert json.loads(line)["value"] == full_for(normal)["value"]

    # shape 2: synthetic LONG keys sharing one prefix — every short code
    # collides, so the map falls back to 80-char full names; the old
    # n_keep>=10 floor alone would blow the budget here
    long_keys = {
        "x_" + "verylongquerynamesegment" * 3 + f"_{i}": float(i)
        for i in range(120)
    }
    line = compose_stdout_line(full_for(long_keys), long_keys)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_wall_clock"
    assert parsed["queries_file"] == "BENCH_FULL.json"

    # shape 3: a budget so small even the empty-queries record exceeds
    # it once — the minimal headline record must be the final fallback
    line = compose_stdout_line(full_for(long_keys), long_keys, budget=400)
    assert len(line) <= 400
    parsed = json.loads(line)
    assert parsed["value"] == full_for(long_keys)["value"]
    assert parsed.get("queries") in (None, {})  # map dropped, headline kept


def test_bench_bracket_protocol_stays_out_of_stdout():
    """Round-8 variance protocol: the per-query [min,max] bracket map
    lives in BENCH_FULL.json only — main() strips it before composing
    the ~2KB stdout line, and the median/protocol fields survive."""
    import json

    from bench import LINE_BUDGET, compose_stdout_line

    timings = {f"q{i}_name": 0.1 * i for i in range(1, 60)}
    full = {
        "metric": "headline_suite_wall_clock",
        "value": 1.0,
        "unit": "sec",
        "queries": timings,
        "sf": "2u",
        "cold_total_sec": 2.0,
        "e2e_pipeline_sec": {},
        "e1_stages": {},
        "n_queries": len(timings),
        "protocol": "median_of_3",
        "bracket": {n: [t, t * 3] for n, t in timings.items()},
        "regression_rule": "flag only if >1.5x outside bracket",
    }
    slim = {k: v for k, v in full.items() if k != "bracket"}  # main()'s strip
    line = compose_stdout_line(slim, timings)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert "bracket" not in parsed
    assert parsed["protocol"] == "median_of_3"


def test_grouped_kernel_handles_groups_spanning_arrow_batches(spark):
    """grouped_kernel's carry path: with maxRecordsPerBatch far smaller
    than a group, every group spans several Arrow batches and must
    still be dispatched exactly once — output equal to the
    applyInPandas reference, including a NaN group key."""
    import pandas as pd
    from pyspark.sql import functions as F

    from x17a5_spark.operators.kernel_part import grouped_kernel, kernel_partitions

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = (
            spark.range(0, 600)
            .select(
                F.when(F.col("id") % 10 != 9, (F.col("id") % 12).cast("string"))
                .alias("k"),  # ~50 rows per group incl. a NULL-key group
                (F.col("id") % 7).alias("sub"),
                F.col("id").cast("double").alias("v"),
            )
        )

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["sub", "v"]).reset_index(drop=True)
            # order-sensitive per-group reduction: cumulative alternating
            # sum — wrong if the group is dispatched in pieces
            s = 0.0
            for i, v in enumerate(pdf["v"]):
                s += v if i % 2 == 0 else -v
            return pd.DataFrame(
                {"k": [pdf["k"].iloc[0]], "n": [len(pdf)], "alt": [round(s, 6)]}
            )

        schema = "k string, n long, alt double"
        got = (
            grouped_kernel(df, ["k"], fn, schema)
            .toPandas()
            .sort_values("k", na_position="first")
            .reset_index(drop=True)
        )
        ref = (
            kernel_partitions(df, ["k"])
            .groupBy("k")
            .applyInPandas(fn, schema=schema)
            .toPandas()
            .sort_values("k", na_position="first")
            .reset_index(drop=True)
        )
        assert got.equals(ref), (got, ref)
        assert got["n"].sum() == 600  # every row dispatched exactly once
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
