"""In-memory spans, Spark status-store counters and process memory.

Spans are kept in a list and written once, at the end of a run. A span
may carry the Spark counters of the jobs it ran: the benchmark tags every
traced call with its own job group and, when the call returns, reads the
app status store for those jobs' stages.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "task_time_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Reads per-job-group stage metrics from the app status store
    (``sc._jsc.sc().statusStore()``) and the SQL execution count from the
    SQL status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def sql_executions(self) -> int:
        return int(self.sql_store.executionsCount())

    def read(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            # lastStageAttempt takes one argument; stageList would need all
            # five (statuses, details, withSummaries, quantiles, task
            # statuses) and returns the whole retained history as a Scala
            # Seq. Stages a job skipped (shuffle reuse) have no attempt.
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_time_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs and DataFrames, memory plus disk, from
    the app's storage status."""
    return sum(
        int(r.memSize()) + int(r.diskSize())
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


class Tracer:
    """Spans in memory, written out once with ``write``. ``overhead_s`` is
    the time spent tagging jobs and reading the status stores: what
    tracing adds to the traced calls."""

    _ids = itertools.count(1)

    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self.counters = SparkCounters(spark) if spark is not None else None
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark: bool = False):
        """Time a block; with ``spark=True`` (and a session) also count the
        Spark work it ran."""
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        group = None
        if spark and self.counters is not None:
            t0 = time.perf_counter()
            group = f"perfbench-{sid}"
            self._set_group(group)
            sql0 = self.counters.sql_executions()
            self.overhead_s += time.perf_counter() - t0
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if group is not None:
                self._set_group(None)
                rec.update(self.counters.read(group))
                rec["sql_executions"] = self.counters.sql_executions() - sql0
                rec["parallelism"] = rec["task_time_s"] / rec["wall_s"] if rec["wall_s"] else 0.0
                self.overhead_s += time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def _set_group(self, group: str | None) -> None:
        self.counters.sc.setLocalProperty("spark.jobGroup.id", group)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, sort_keys=True)


def descendants(pid: int) -> list[int]:
    """Every descendant of ``pid`` (the JVM, the Python daemon, workers)."""
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in parents.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Highest VmHWM across this process and its descendants, in MiB."""
    best = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0
