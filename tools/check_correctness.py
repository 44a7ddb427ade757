"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, sorted column names, and
values (sorted rows, NaN-safe, with exact + tolerance reporting so float
drift is visible before the real gate runs).

Usage: python tools/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

SF_DIR = "/root/testdata/sf0.01"


def duck_connection() -> duckdb.DuckDBPyConnection:
    """DuckDB views of every lake table under ``SF_DIR`` (read at call
    time: the benchmark points it at its own lake)."""
    from x17a5_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows by value — order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def keyify(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v!r}")
        return (1, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: [keyify(v) for v in r])


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def _spark_type_class(dt: str) -> str:
    """Coarse dtype class so HUGEINT-vs-BIGINT style mismatches surface.

    The driver's value hash goes through pandas, where DuckDB HUGEINT
    (int128 — e.g. any uncast integer ``sum()``) renders differently
    from Spark BIGINT even when values are equal (the j12/p2/f21 bug
    class). Width differences within a class are canonicalized away.
    """
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("array"):
        return "array"
    if dt.startswith(("struct", "map")):
        return "nested"
    if dt.startswith("timestamp"):
        return "timestamp"
    return dt


def _arrow_type_class(t) -> str:
    import pyarrow as pa

    if pa.types.is_decimal(t):
        # DuckDB DECIMAL (incl. HUGEINT integer sums, decimal128(38,0))
        # reaches the driver's pandas conversion as float64 — so it
        # matches a Spark DOUBLE but NOT a Spark BIGINT (j12/t17 class).
        return "float"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "array"
    if pa.types.is_struct(t) or pa.types.is_map(t):
        return "nested"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return str(t)


def compare(name: str, spark_df, con) -> dict:
    t0 = time.perf_counter()
    spark_cols = spark_df.columns
    spark_types = {f.name: _spark_type_class(f.dataType.simpleString())
                   for f in spark_df.schema.fields}
    spark_rows = [tuple(r) for r in spark_df.collect()]
    t_spark = time.perf_counter() - t0

    t0 = time.perf_counter()
    res = con.execute(ORACLES[name])
    arrow = res.fetch_arrow_table()
    duck_cols = arrow.column_names
    duck_types = {f.name: _arrow_type_class(f.type) for f in arrow.schema}
    from decimal import Decimal

    # DECIMAL values reach the driver's hasher as pandas float64 — the
    # value compare must see floats too, or a decimal-typed oracle
    # column passes the dtype gate then spuriously fails on
    # Decimal('0.1') != 0.1 and mismatched sort-key string forms.
    duck_rows = [
        tuple(float(v) if isinstance(v, Decimal) else v for v in r.values())
        for r in arrow.to_pylist()
    ]
    t_duck = time.perf_counter() - t0

    info = {
        "name": name,
        "spark_rows": len(spark_rows),
        "duck_rows": len(duck_rows),
        "t_spark": round(t_spark, 2),
        "t_duck": round(t_duck, 2),
    }
    if sorted(spark_cols) != sorted(duck_cols):
        info["status"] = "SCHEMA_MISMATCH"
        info["detail"] = f"spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        return info
    dtype_diff = {
        c: (spark_types[c], duck_types[c])
        for c in spark_cols
        if spark_types[c] != duck_types[c]
    }
    if dtype_diff:
        info["status"] = "DTYPE_MISMATCH"
        info["detail"] = f"spark vs duck classes: {dtype_diff}"
        return info
    if len(spark_rows) != len(duck_rows):
        info["status"] = "ROWCOUNT_MISMATCH"
        return info
    ns = normalize(spark_rows, spark_cols)
    nd = normalize(duck_rows, duck_cols)
    n_exact = 0
    first_diff = None
    for rs, rd in zip(ns, nd):
        if all(values_equal(a, b) for a, b in zip(rs, rd)):
            n_exact += 1
        elif first_diff is None:
            first_diff = (rs, rd)
    if n_exact == len(ns):
        info["status"] = "OK"
    else:
        info["status"] = "VALUE_MISMATCH"
        info["n_exact"] = n_exact
        info["first_diff"] = repr(first_diff)[:400]
    return info


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from x17a5_spark.queries import registry
    from x17a5_spark.session import get_spark

    QUERIES, ORACLES = registry()
    wanted = sys.argv[1:] or list(QUERIES)
    spark = get_spark("check_correctness")
    con = duck_connection()
    failures = 0
    for name in wanted:
        # a full sweep would otherwise accumulate every query's
        # construction-time persists in one session
        spark.catalog.clearCache()
        if name not in QUERIES:
            print(f"{name}: UNKNOWN")
            failures += 1
            continue
        if name not in ORACLES:
            try:
                n = QUERIES[name](spark, SF_DIR).count()
                print(f"{name}: ROWS_ONLY rows={n}")
            except Exception as e:  # noqa: BLE001
                print(f"{name}: ERROR {e}")
                failures += 1
            continue
        try:
            info = compare(name, QUERIES[name](spark, SF_DIR), con)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        status = info.pop("status")
        print(f"{name}: {status} {info}")
        if status != "OK":
            failures += 1
    # the loop releases at the top of each iteration; release the last
    # query's persists too
    spark.catalog.clearCache()
    print(f"\n{'PASS' if failures == 0 else 'FAIL'} ({failures} failures)")
    sys.exit(1 if failures else 0)
