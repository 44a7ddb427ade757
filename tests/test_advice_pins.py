"""Regression pins for the four round-6-close ADVICE hazards.

All four were FIXED in round-7 code but had no test, so any of them
could silently revert (round-7 VERDICT "What's wrong" #1):

(a) package-ship zip is CONTENT-hash keyed (tables.py::_content_keyed_zip)
    — a PID-keyed name could ship stale code to Python workers;
(b) j17 stage-table tag folds source-parquet mtime/size
    (lakehouse.py::_j17_tag) — a lake regenerated at the same path must
    invalidate the bucketed stage tables;
(c) g1's durable checkpoint path unpersists each iteration's cache
    after its eager checkpoint (graph.py) — executor storage must stay
    constant in walk length;
(d) kernel_width degrades to an UNCONDITIONAL +1 offset when
    spark.sql.shuffle.partitions is non-numeric (kernel_part.py) — the
    explicit repartition must never pattern-match the effective shuffle
    width and lose its REPARTITION_BY_NUM origin.
"""

from __future__ import annotations

import os
import zipfile

from x17a5_spark.operators.kernel_part import kernel_width
from x17a5_spark.tables import _content_keyed_zip


def test_package_zip_path_tracks_source_content(tmp_path):
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text("X = 1\n")
    (pkg / "notes.txt").write_text("ignored: not a .py source\n")
    p1 = _content_keyed_zip(str(pkg), "fakepkg")
    assert os.path.exists(p1)
    with zipfile.ZipFile(p1) as z:
        assert z.namelist() == [os.path.join("fakepkg", "mod.py")]
        assert z.read(os.path.join("fakepkg", "mod.py")) == b"X = 1\n"
    # same content -> same path (the once-per-content cache hit)
    assert _content_keyed_zip(str(pkg), "fakepkg") == p1
    # edit ONE source byte -> a NEW zip path carrying the new bytes
    (pkg / "mod.py").write_text("X = 2\n")
    p2 = _content_keyed_zip(str(pkg), "fakepkg")
    assert p2 != p1
    with zipfile.ZipFile(p2) as z:
        assert z.read(os.path.join("fakepkg", "mod.py")) == b"X = 2\n"
    # revert -> the original content-keyed path again
    (pkg / "mod.py").write_text("X = 1\n")
    assert _content_keyed_zip(str(pkg), "fakepkg") == p1


def test_j17_stage_tag_tracks_source_fingerprint(tmp_path):
    from x17a5_spark.queries import lakehouse

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"v1-orders")
    (sf / "lineitem.parquet").write_bytes(b"v1-lineitem")
    t1 = lakehouse._j17_tag(str(sf))
    assert lakehouse._j17_tag(str(sf)) == t1  # deterministic
    # regenerate ONE source at the same path (new bytes => new size)
    (sf / "lineitem.parquet").write_bytes(b"v2-lineitem-regenerated")
    t2 = lakehouse._j17_tag(str(sf))
    assert t2 != t1
    # same bytes, different mtime: still a rebuild (mtime_ns is folded)
    st = os.stat(sf / "orders.parquet")
    os.utime(sf / "orders.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 7))
    assert lakehouse._j17_tag(str(sf)) != t2


def test_g1_checkpoint_walk_does_not_accumulate_caches(spark, tmp_path):
    from x17a5_spark.queries.graph import g1_pagerank

    sc = spark.sparkContext

    def n_persistent() -> int:
        return sc._jsc.sc().getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_persistent()
    sf = "/root/testdata/sf0.001"
    # the durable path materializes iterations eagerly during plan
    # construction; each iteration persists, checkpoints, unpersists
    short = g1_pagerank(spark, sf, iters=2, checkpoint_dir=str(tmp_path / "c2"))
    short.count()
    after_short = n_persistent()
    spark.catalog.clearCache()
    long = g1_pagerank(spark, sf, iters=5, checkpoint_dir=str(tmp_path / "c5"))
    long.count()
    after_long = n_persistent()
    # storage footprint is CONSTANT in walk length: only the edge-list
    # persist (and no per-iteration residue) may remain registered
    assert after_long - base <= after_short - base
    assert after_long - base <= 2
    spark.catalog.clearCache()


def test_kernel_width_offsets_unconditionally_on_non_numeric_conf():
    class _Conf:
        def get(self, key, default=None):
            return "auto"  # e.g. a platform AQE setting

    class _SC:
        defaultParallelism = 8

    class _Session:
        conf = _Conf()
        sparkContext = _SC()

    class _DF:
        sparkSession = _Session()

    w = kernel_width(_DF())
    # core-based sizing with the unconditional +1 offset — NOT the bare
    # 2*cores, which could equal the (unknowable) effective shuffle
    # width and let Spark elide the explicit repartition
    assert w == 2 * 8 + 1
