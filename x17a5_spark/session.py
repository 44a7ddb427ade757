"""SparkSession factory tuned for the engine.

Local mode is a correctness harness; the config is written for a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the pandas-UDF kernels, UTC session timezone so
results compare bit-for-bit against the DuckDB oracle, and shuffle
partitions sized by ``SPARK_GRAFT_CPUS`` rather than the 200 default.

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``F.*`` function and ``Column`` method walks the Python stack and
sends the call site to the JVM, several py4j round trips per call:
building e3's plan takes about 1,330 round trips with it and about 500
without. The setting belongs in the builder because pyspark reads it
once per process, from the first active session, and caches it. The cost
is in error messages only: an analysis or runtime error keeps its error
class and message but loses the Python ``file:line`` of the DataFrame
call that built the failing expression.

Python workers import the site-packages pyspark, not Spark's zips.
``spark.python.daemon.module`` names ``x17a5_pyspark_daemon`` and
``spark.executorEnv.PYTHONPATH`` puts its directory,
``x17a5_spark/_worker/``, on the workers' path. Spark starts the worker
daemon with ``pyspark.zip``, the py4j zip and the spark-core jar at the
front of ``PYTHONPATH``, and every task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes each cached zipimporter
re-read its archive's directory. The daemon drops those three entries
from ``sys.path`` and ``sys.path_importer_cache`` before it imports
pyspark, so no task pays that re-read. It does so only when the worker
interpreter's installed pyspark has the version of the dropped
``pyspark.zip``. If there is no installed pyspark, or the versions
differ, it keeps Spark's default path and runs like ``pyspark.daemon``.
The version check runs in the worker, because ``PYSPARK_PYTHON`` may
name another interpreter than the driver's. On a cluster the module's
directory must exist at the same path on every executor, as it does for
a package installed there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# no __init__.py, so importing the daemon never imports this package
_WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def get_spark(app_name: str = "x17a5_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a 1000-executor cluster the same config applies unchanged except
    ``master`` and memory sizing, which deployment owns; AQE coalescing
    makes the shuffle-partition setting a ceiling, not a fixed fanout.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "x17a5_pyspark_daemon")
        .config("spark.executorEnv.PYTHONPATH", _WORKER_DIR)
    )
    # A long-lived driver running the full registry compiles thousands
    # of whole-stage-codegen classes, and the JVM's default reserved
    # code cache (240 MB) fills after ~70 queries: the JIT compiler
    # shuts off ("CodeCache is full") and every later query runs
    # interpreted. Measured on the full sf0.1 suite, the late-suite
    # queries inflated 2-3x (t30 4.33 s -> 1.89 s, a27 3.17 -> 1.05,
    # m6's cached probe 2.05 -> 0.15; suite total 68.4 -> 54.5 s) with
    # nothing but this flag. ReservedCodeCacheSize is a virtual
    # reservation that costs memory only as compiled code fills it, so
    # it is safe at any deployment size, and any driver or executor
    # serving a large query registry hits the same cliff. Only effective
    # when this process creates the JVM; a getOrCreate() against a live
    # session ignores driver JVM options.
    spark = builder.config(
        "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
