"""Python workers start on site-packages pyspark (``x17a5_pyspark_daemon``).

The path choice is a pure function, tested here against fake Spark zips
and fake installed metadata with no Spark at all; the last test asks the
shared session's workers where their pyspark came from.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile

import pandas as pd
import pytest

from x17a5_spark import session

_spec = importlib.util.spec_from_file_location(
    "x17a5_pyspark_daemon",
    os.path.join(session._WORKER_DIR, "x17a5_pyspark_daemon.py"),
)
daemon = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(daemon)


def _spark_lib(tmp_path, zip_version):
    """The three entries Spark puts in front of a worker's PYTHONPATH."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir(parents=True)
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"), str(jar)]


def _site(tmp_path, installed_version):
    """A site-packages directory, with pyspark's metadata if a version is given."""
    site = tmp_path / "site-packages"
    site.mkdir()
    if installed_version is not None:
        info = site / f"pyspark-{installed_version}.dist-info"
        info.mkdir()
        (info / "METADATA").write_text(
            f"Metadata-Version: 2.1\nName: pyspark\nVersion: {installed_version}\n"
        )
    return str(site)


def test_worker_path_drops_spark_entries_when_versions_match(tmp_path):
    spark_entries = _spark_lib(tmp_path, "4.1.2")
    site = _site(tmp_path, "4.1.2")
    path = ["", *spark_entries, session._WORKER_DIR, site]
    assert daemon.worker_path(path) == ["", session._WORKER_DIR, site]


@pytest.mark.parametrize("installed", ["4.1.1", None])
def test_worker_path_keeps_default_on_version_skew_or_no_install(tmp_path, installed):
    path = [*_spark_lib(tmp_path, "4.1.2"), _site(tmp_path, installed)]
    assert daemon.worker_path(path) == path


def test_worker_path_without_spark_zip_is_unchanged(tmp_path):
    path = [session._WORKER_DIR, _site(tmp_path, "4.1.2")]
    assert daemon.worker_path(path) == path


def test_prune_evicts_spark_importers(tmp_path, monkeypatch):
    spark_entries = _spark_lib(tmp_path, "4.1.2")
    site = _site(tmp_path, "4.1.2")
    cache = {p: object() for p in spark_entries}
    cache[spark_entries[0] + os.sep + "pyspark"] = object()
    cache[site] = object()
    monkeypatch.setattr(sys, "path", [*spark_entries, site])
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    daemon._prune_sys_path()
    assert sys.path == [site]
    assert list(cache) == [site]


def test_workers_import_site_packages_pyspark(spark):
    """Every worker's pyspark is the installed one, at the JVM's version,
    with no importer left for Spark's zips or jar."""

    def origin(batches):
        import sys

        import pyspark

        for _ in batches:
            keys = [
                k for k in sys.path_importer_cache if k.endswith(".zip") or ".jar" in k
            ]
            yield pd.DataFrame(
                {"file": [pyspark.__file__], "version": [pyspark.__version__],
                 "keys": [keys]}
            )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(origin, "file string, version string, keys array<string>")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert ".zip" + os.sep not in r.file, r.file
        assert r.version == spark.version
        stale = [
            k for k in r["keys"]
            if "pyspark.zip" in k or "py4j" in k or "spark-core" in k
        ]
        assert not stale, stale
