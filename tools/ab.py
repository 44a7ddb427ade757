"""Single-JVM interleaved A/B of one query: the working tree (NEW)
against a git revision (OLD, default HEAD).

Both trees load into ONE SparkSession — the revision's package under
the alias ``x17a5_old`` — and the timed noop-sink executions alternate
NEW, OLD, NEW, OLD, ... so a throttling wave on the host hits both
variants alike (drift between fresh JVMs exceeds the effects worth
measuring). Two protocols run back to back:

- cold: every sample rebuilds the plan, materializes it and releases
  its stage caches, so construction-time persists are paid per sample;
- steady: bench.py's protocol — each plan is built once and warmed up
  once, and the samples reuse the plan and its stage caches.

Each protocol starts with one untimed warm-up execution per tree.

Usage: python tools/ab.py <query_name> [reps=7] [rev=HEAD]
Reads the lake at ``tables.DEFAULT_SF_DIR`` ($SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from collections.abc import Callable, Iterator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "x17a5_spark"
ALIAS = "x17a5_old"
_PKG_WORD = re.compile(rf"\b{PKG}\b")


@contextlib.contextmanager
def old_tree(rev: str) -> Iterator[str]:
    """Extract ``rev``'s package into a temp dir as ``x17a5_old`` and
    yield that dir (for ``sys.path``); it is removed on exit.

    Every whole-word package name in the copy is renamed, string
    literals included: ``tables._content_keyed_zip`` names the package
    it ships to the Python workers after its ``pkg_name`` default, and
    two trees shipping a package of the same name would let a worker
    run either tree's kernels."""
    root = tempfile.mkdtemp(prefix="ab_old_")
    try:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", "--format=tar", rev, PKG],
            check=True,
            capture_output=True,
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(root, filter="data")
        pkg_dir = os.path.join(root, PKG)
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path) as fh:
                        src = fh.read()
                    with open(path, "w") as fh:
                        fh.write(_PKG_WORD.sub(ALIAS, src))
        os.rename(pkg_dir, os.path.join(root, ALIAS))
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def interleave(
    spark, builds: list[Callable], reps: int, steady: bool
) -> list[list[float]]:
    """Run ``reps`` timed executions per variant, alternating variants
    within each rep and which variant goes first from rep to rep, after
    one untimed warm-up rep. ``steady`` builds
    each plan once and releases the caches only at the end; otherwise
    every execution builds a fresh plan and releases after itself."""
    plans = [build() for build in builds] if steady else None
    samples: list[list[float]] = [[] for _ in builds]
    for rep in range(reps + 1):
        order = range(len(builds)) if rep % 2 else reversed(range(len(builds)))
        for i in order:
            dt = _noop_seconds(plans[i] if steady else builds[i]())
            if not steady:
                spark.catalog.clearCache()
            if rep:
                samples[i].append(dt)
    if steady:
        spark.catalog.clearCache()
    return samples


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    rev = sys.argv[3] if len(sys.argv) > 3 else "HEAD"

    from x17a5_spark.queries import registry as reg_new
    from x17a5_spark.session import get_spark
    from x17a5_spark.tables import DEFAULT_SF_DIR as sf_dir

    with old_tree(rev) as root:
        sys.path.insert(0, root)
        from x17a5_old.queries import registry as reg_old

        spark = get_spark("ab")
        new_fn, old_fn = reg_new()[0][name], reg_old()[0][name]
        builds = [lambda: new_fn(spark, sf_dir), lambda: old_fn(spark, sf_dir)]
        for protocol in ("cold", "steady"):
            new_s, old_s = interleave(spark, builds, reps, protocol == "steady")
            print(
                f"{name} {protocol}: NEW median {statistics.median(new_s):.3f} "
                f"OLD median {statistics.median(old_s):.3f} ({rev})\n"
                f"  new samples {[round(x, 3) for x in new_s]}\n"
                f"  old samples {[round(x, 3) for x in old_s]}",
                flush=True,
            )


if __name__ == "__main__":
    main()
