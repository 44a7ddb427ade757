"""Plan construction without fixed per-call costs: the session turns off
PySpark's DataFrame call-site capture, and ``load_table`` reads a file
version's schema once instead of running a schema-inference job on
every load.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import py4j.clientserver
import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from x17a5_spark.queries.domain import e3_structured_assets
from x17a5_spark.tables import DEFAULT_SF_DIR, load_table

# the smallest TESTDATA.md lake, next to the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# e3 takes about 500 py4j round trips to build with call-site capture
# off and about 1,330 with it on
E3_ROUND_TRIPS_MAX = 800


def test_session_disables_call_site_capture_and_keeps_error_class(spark):
    assert not is_debugging_enabled()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException) as exc:
            spark.range(1).select(F.col("id") / F.lit(0)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"


def test_e3_builds_within_round_trip_budget(spark, monkeypatch):
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    me = threading.get_ident()
    calls = [0]

    def counting(self, command):
        # only this thread's calls: py4j sends the deletes of collected
        # objects from another thread, at times of its own
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    # the first build records the table schemas; the counted one is warm
    e3_structured_assets(spark, SF)
    monkeypatch.setattr(conn, "send_command", counting)
    try:
        e3_structured_assets(spark, SF)
    finally:
        monkeypatch.setattr(conn, "send_command", send)
    assert calls[0] <= E3_ROUND_TRIPS_MAX, calls[0]


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_of_unchanged_file_starts_no_job(spark):
    load_table(spark, SF, "orders")
    df, jobs = _jobs_in_group(
        spark, "second_load", lambda: load_table(spark, SF, "orders")
    )
    assert jobs == []
    assert df.schema == spark.read.parquet(os.path.join(SF, "orders.parquet")).schema


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"
    ]
    pq.write_table(
        pa.table({"r_name": ["C"], "r_comment": ["x"], "r_size": [2.5]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in df.collect()] == [("C", "x", 2.5)]
