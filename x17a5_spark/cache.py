"""Registry-scoped ownership of construction-time stage caches.

A handful of queries ``persist()`` stage tables that their returned
plan references more than once (d3/d13 candidate tables, e5's shingle
indexes, s7/s8 trained codebooks, t30's eval slice, g1's edge list —
each a stand-in for a pre-materialized production stage table). Those
persists happen at plan-CONSTRUCTION time, the returned DataFrame is
lazy, and the constructing function cannot know when the caller is
done materializing — so without an owner every such site would leak a
CacheManager registration per invocation.

ONE owner: every construction-time persist in the query registry
routes through :func:`stage_persist`, which registers the DataFrame
here; sweep consumers (bench.py between queries,
tools/check_correctness.py, tools/dump_plans.py, the registry tests)
call :func:`release_stage_caches` when they are done with a query.
Releasing unpersists AND drops the Python references, so the JVM side
can actually reclaim the blocks (``clearCache()`` alone unpersists but
leaves live references pinning re-registration paths).

At 100-TB scale this is the eviction policy between queries: a
suite/driver process that runs many queries in one session would
otherwise accumulate every query's stage tables in executor storage
memory — the measured cause of e1's in-suite vs isolated gap at the
100x lake (87.4 s vs 18.8 s, SCALE.md). The e1 pipeline is not a
registry client: it persists its OCR output itself and unpersists it
once the bronze sinks are written.

The registry stays append-only per query: re-invoking the same query
twice tracks both persists and ``release_stage_caches()`` drops both —
there is no single-slot aliasing.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_STAGE_CACHES: list[DataFrame] = []


def stage_persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)``, registered for scoped release.
    Stage tables are corpus-sized: they spill to disk, never OOM.

    Use for every persist created during query CONSTRUCTION whose
    lifetime must extend past the builder's return (the returned plan
    references it). Persists that a builder both creates and
    unpersists itself (e.g. t18's per-round BPE vocab) don't need
    tracking."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _STAGE_CACHES.append(out)
    return out


def release_stage_caches() -> int:
    """Unpersist and forget every tracked stage cache.

    Returns the number of caches released. Safe to call at any time:
    queries constructed afterwards re-register their own stages.
    ``blocking=False`` — release is an eviction hint, not a barrier."""
    n = 0
    while _STAGE_CACHES:
        _STAGE_CACHES.pop().unpersist(blocking=False)
        n += 1
    return n


def tracked_stage_count() -> int:
    """How many stage caches are currently tracked (test hook)."""
    return len(_STAGE_CACHES)
