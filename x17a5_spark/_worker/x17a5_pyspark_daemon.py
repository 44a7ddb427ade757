"""Python worker daemon that imports site-packages pyspark, not Spark's zips.

Spark starts each Python worker daemon with ``PYTHONPATH`` led by
``PythonUtils.sparkPythonPath``: ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar. Every task then runs
pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes each cached
zipimporter re-read its archive's directory, 1,328 entries for
``pyspark.zip``, and a worker that imported pyspark from the zip holds
one zipimporter per pyspark subpackage.

``session.get_spark`` names this module in ``spark.python.daemon.module``
and puts its directory on ``spark.executorEnv.PYTHONPATH``, so Spark runs
``python -m x17a5_pyspark_daemon pyspark.worker``. Before anything from
pyspark is imported, the module takes those three entries off
``sys.path`` and out of ``sys.path_importer_cache``, then hands over to
``pyspark.daemon.manager()``; the workers it forks inherit the pruned
path. It prunes only when the pyspark left on the path (site-packages) is
the zip's version. The check runs here, in the worker interpreter
(``PYSPARK_PYTHON``), which need not be the driver's. Otherwise the
daemon keeps Spark's default path.

The module sits in a directory without ``__init__.py`` so that importing
it never runs ``x17a5_spark/__init__.py``, which imports pyspark.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib import metadata

# the entries PythonUtils.sparkPythonPath puts in front of PYTHONPATH
SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def _is_spark_entry(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pat) for pat in SPARK_ENTRIES)


def _zip_version(zip_path: str) -> str | None:
    """``__version__`` of the pyspark inside ``zip_path``, or None."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            src = zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    ns: dict = {}
    exec(compile(src, f"{zip_path}/pyspark/version.py", "exec"), ns)
    return ns.get("__version__")


def _installed_version(path: list[str]) -> str | None:
    dist = next(iter(metadata.distributions(name="pyspark", path=path)), None)
    return dist.version if dist is not None else None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's zips and jar if the pyspark installed on
    what is left has the version of the dropped ``pyspark.zip``; else
    ``path`` itself. Reads the zip and the installed metadata; changes
    nothing."""
    spark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if spark_zip is None:
        return path
    kept = [p for p in path if not _is_spark_entry(p)]
    installed = _installed_version(kept)
    if installed is None or installed != _zip_version(spark_zip):
        return path
    return kept


def _prune_sys_path() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    if not dropped:
        return
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _prune_sys_path()
    import pyspark.daemon

    pyspark.daemon.manager()
