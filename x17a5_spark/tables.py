"""Parquet table loading for the driver's TPC-H-ish testdata lake.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (see TESTDATA.md). On a production lake these would
be partitioned bronze tables; here each is a single parquet file. The
loader is schema-on-read (parquet carries the schema) so Catalyst gets
full pushdown/pruning through every query in ``__spark_entry__``.

The schema is read from the file once per file version, not once per
load: ``_FILE_META`` keeps, per (path, mtime_ns, size) of a plain file,
the schema of its first inferred read and its row-group count, and later
loads of the same version pass that schema to the reader. A rewritten
file has a new version and is inferred again; a directory always is.
"""

from __future__ import annotations

import os
import stat
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any scale factor the
# engine targets (region/nation are bounded by geography; supplier only
# at test SFs — at 100 TB supplier is NOT broadcast, and queries below
# rely on AQE's size-based choice rather than forcing a hint).
BROADCAST_SAFE = {"region", "nation"}


class _FileMeta(NamedTuple):
    schema: StructType
    row_groups: int | None


# File version (path, mtime_ns, size) -> the Spark schema of the first
# inferred read and the parquet row-group count, for plain files only.
# Keyed by version, so a rewritten file misses and is inferred afresh.
_FILE_META: dict[tuple[str, int, int], _FileMeta] = {}


def _file_version(path: str) -> tuple[str, int, int] | None:
    """(path, mtime_ns, size) of a plain file; None for a directory or
    a missing path, which are read with schema inference every time."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (path, st.st_mtime_ns, st.st_size)


def _row_groups(path: str) -> int | None:
    """Row-group count from the parquet footer; None when pyarrow cannot
    read the file as parquet."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_row_groups
    except (OSError, ValueError):
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    every load. Inference runs a one-task Spark job (about 0.13 s per
    warm load at sf0.001 on 4 vCPUs, against 0.025 s and no job with
    the schema given), and a query loads each of its tables afresh. The
    first read of a file version infers and records its schema; later
    reads of the same version pass it in, which gives an equal schema
    and the same optimized plan."""
    key = _file_version(path)
    meta = _FILE_META.get(key) if key is not None else None
    if meta is not None:
        return spark.read.schema(meta.schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _FILE_META[key] = _FileMeta(df.schema, _row_groups(path))
    return df


def _scan_fanout(spark: SparkSession, path: str) -> int | None:
    """Parallelism remedy for row-group-starved scans — OPT-IN only.

    A parquet scan parallelizes to at most its row-group count: Spark
    cuts byte-range splits, but every split that contains no row-group
    midpoint reads zero rows. The driver's testdata tables are single
    files with ONE row group each, so without intervention every scan
    stage — including the heavy map-side work fused into it (parsing,
    shingling, signatures) — runs on one core while the other 31 idle.

    The remedy pays a full round-robin exchange of the (pruned,
    filtered) scan output. That is a win ONLY when the downstream work
    is map-heavy with no exchange of its own (measured: q1 0.75x,
    t2 0.77x, t5 0.76x of the un-fanned time). When the query's next
    step is a join/window/groupBy hash exchange anyway, the fan-out
    inserts a second shuffle where one sufficed (measured: q3 6.7x,
    a16 4.6x SLOWER) — hence ``load_table(..., fanout=True)`` is
    opt-in for the measured winners, never the default.

    Returns the core count to round-robin ``repartition()`` to when the
    scan is row-group-starved (row groups < half the cores) and the
    table is worth fanning out (>= 200 KB — below that, dimension
    tables stay single-partition so broadcast plans are untouched).
    At production scale a 100 TB table has millions of row groups, this
    returns None, and the loader adds nothing — the remedy is strictly
    a small-file/local-mode fix, not a standing shuffle. The row-group
    count comes from the footer read that ``_read_parquet`` recorded.
    """
    key = _file_version(path)
    meta = _FILE_META.get(key) if key is not None else None
    if meta is None or meta.row_groups is None:
        return None
    cores = spark.sparkContext.defaultParallelism
    if meta.row_groups < max(cores // 2, 2) and 200_000 <= key[2] <= (1 << 30):
        return cores
    return None


def _ship_package(spark: SparkSession) -> None:
    """Make ``x17a5_spark`` importable on the Python WORKERS regardless
    of the driver's working directory.

    The grouped kernels and mapInPandas stages pickle functions that
    reference this package by name; workers resolve that import from
    their own sys.path, which contains the driver's cwd only when the
    driver happens to run from the repo root. A consumer importing the
    engine from any other cwd (with the repo on the driver's sys.path
    but not on PYTHONPATH) would lose every Python-kernel query with
    'exception in Python worker'. Fix: zip the package source once per
    process and ``addPyFile`` it once per SparkContext — workers unpack
    it onto their sys.path.
    """
    sc = spark.sparkContext
    if getattr(_ship_package, "_done_for", None) is sc:
        return
    zpath = _content_keyed_zip(os.path.dirname(os.path.abspath(__file__)))
    try:
        sc.addPyFile(zpath)
    except Exception:
        # re-registration of the same path in a reused context — the
        # cwd-on-sys.path fallback still applies, as it always did
        pass
    _ship_package._done_for = sc  # type: ignore[attr-defined]


def _content_keyed_zip(pkg_dir: str, pkg_name: str = "x17a5_spark") -> str:
    """Zip ``pkg_dir``'s .py sources into a CONTENT-HASH-keyed path in
    the temp dir (written once per distinct content, write-then-rename
    so a concurrent process never addPyFiles a half-written zip) and
    return that path. Keyed on content, NOT the PID: a PID-keyed name
    can be reused by a later process (or survive a package edit) and
    ship stale code to the workers — tests/test_advice_pins.py pins
    that an edited source byte yields a new zip path."""
    import hashlib
    import tempfile
    import zipfile

    sources: list[tuple[str, str]] = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                sources.append(
                    (os.path.join(pkg_name, os.path.relpath(full, pkg_dir)), full)
                )
    sources.sort()
    h = hashlib.sha256()
    for rel, full in sources:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, full in sources:
                z.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, fanout: bool = False
) -> DataFrame:
    """Load one lake table. ``fanout=True`` opts into the row-group
    fan-out repartition (see ``_scan_fanout``) — only for map-heavy
    pipelines with no downstream exchange of their own."""
    _ship_package(spark)
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = _load_events(spark, path)
    else:
        df = _read_parquet(spark, path)
    if fanout:
        n = _scan_fanout(spark, path)
        if n is not None:
            # RoundRobinPartitioning: filters and column pruning still
            # reach the scan (Catalyst pushes both through Repartition),
            # so the shuffle carries only the pruned, filtered columns.
            df = df.repartition(n)
    return df


def _load_events(spark: SparkSession, path: str):
    """events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects. Read nanos as long
    (``nanosAsLong``) and truncate to microsecond timestamps — the same
    floor-truncation DuckDB applies when it hands TIMESTAMP_NS values to
    a microsecond consumer, so oracle comparisons agree.
    """
    from pyspark.sql import functions as F

    # set before any read, so the schema ``_read_parquet`` records (ts
    # as bigint) is the one every later read of the file gets
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
