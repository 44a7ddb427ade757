"""Repository benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload {ingest,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. After untimed warm-up passes, whole passes
of the workload's operations are timed until ``S`` seconds have gone by.
Inputs are generated from ``--seed`` under ``.perfbench/`` (removed at
exit); the engine sees only those files. The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Earlier stdout lines are a readable report,
and ``.perfbench/results/`` keeps each run's record and spans.
``perfbench/README.md`` maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "stored_bytes_per_item": "bytes",
}
OP_COUNTERS = {
    "op.p50_s": "s",
    "op.jobs": "count", "op.stages": "count", "op.tasks": "count",
    "op.task_time_s": "s", "op.cpu_s": "s", "op.gc_s": "s",
    "op.shuffle_write_bytes": "bytes", "op.spill_bytes": "bytes",
    "op.parallelism": "ratio",
}
SILVER = ("purge", "merge3", "row_split", "parse", "scale", "dense", "bisect_subtotals")


def per_layer_units(mix: list[str]) -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "inputs.register_s": "s",
        "setup.warm_up_s": "s",
        **OP_COUNTERS,
        "pipeline.ocr_bronze_s": "s",
        "pipeline.silver_clean_s": "s",
        "pipeline.gold_build_s": "s",
        "pipeline.rerun_s": "s",
        "streaming.incremental_todo_s": "s",
        "streaming.incremental_todo_rerun_s": "s",
        "incremental.todo_frac": "fraction",
        "incremental.wasted_filings": "count",
        "sources.ocr.quarantine_frac": "fraction",
        "pipeline.ledger_dup_rows": "count",
        "sources.ocr_s": "s",
        **{f"silver.{s}_s": "s" for s in SILVER},
        "operators.structured_s": "s",
    }
    for name in mix:
        code = name.split("_")[0]
        units[f"queries.{code}.construct_s"] = "s"
        units[f"queries.{code}.wall_s"] = "s"
        units[f"queries.{code}.stages"] = "count"
    units["cache.stored_bytes"] = "bytes"
    units["process.peak_rss_mb"] = "MiB"
    units["trace.overhead_frac"] = "fraction"
    return units


def pin_environment(work: str) -> dict:
    """The benchmark's own machine settings: every core, a driver heap
    well below physical memory, and every temp and spill path inside
    the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    tempfile.tempdir = None
    return {"cpus": cpus, "mem_total_gb": round(mem_kb / 2**20, 1), "driver_mem_gb": driver_gb}


def source_revision() -> dict:
    """The git revision where the checkout is a repository, and a hash of
    the engine's sources either way."""
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "x17a5_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def setup(wl, tracer):
    """Session start and input registration; returns the session and the
    seconds they took. Once per run: a second SparkContext in one process
    loses its Python accumulator channel."""
    from x17a5_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("inputs.register"):
        wl.register(spark)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far, in ticks per state (user, nice,
    system, idle, iowait, irq, softirq, steal), from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(wl, spark, seconds: float, tracer=None) -> list:
    """Closed loop, one client: whole passes until ``seconds`` have gone by;
    ``seconds=0`` runs exactly one pass."""
    outcomes = []
    t_end = time.perf_counter() + seconds
    for batch in wl.passes():
        for arg in batch:
            o = wl.run_op(spark, arg, len(outcomes), tracer)
            o.arg = arg
            outcomes.append(o)
        if time.perf_counter() >= t_end:
            return outcomes


def warm_up(wl, spark) -> tuple[list, float]:
    """Untimed passes before the timed ones: the session's first pass pays
    JIT compilation, Janino code generation, Python worker start-up and
    first-query planning, which made a cold operation's time swing by half
    between identical runs. A pipeline run still gets faster up to its
    fourth, so ``ingest`` warms up with three passes; the second analytics
    pass is within 5% of the third. Outcomes are checked like any other
    (the analytics oracle checks run here); returns them and the seconds
    the operations took, which ``setup_s`` includes."""
    done: list = []
    for _ in range(wl.warm_up_passes):
        done += measure(wl, spark, 0)
    return done, sum(o.latency_s for o in done)


def rates(outcomes) -> tuple[float, float]:
    """(items per second, stored bytes per item) of a pass made of each
    distinct operation's median: robust to one slow operation, and the
    same formula for one pipeline op per pass or a mix of queries."""
    by_op: dict = {}
    for o in outcomes:
        by_op.setdefault(o.arg, []).append(o)
    med = [
        [statistics.median(getattr(o, f) for o in group)
         for f in ("latency_s", "items", "stored_bytes")]
        for group in by_op.values()
    ]
    lat, items, stored = (sum(m[i] for m in med) for i in range(3))
    return (items / lat if lat else 0.0), stored / max(items, 1)


def median_layers(outcomes) -> dict[str, float]:
    keys = {k for o in outcomes for k in o.layers}
    return {k: statistics.median(o.layers[k] for o in outcomes if k in o.layers) for k in keys}


def trace_layers(wl, spark, seed, seconds, work, tracer):
    """The per-layer numbers, with spans on, after the warm-up. Every traced
    run reports every layer, so after the workload's own operations and
    profile it prepares the other workload from the same seed and runs one
    pass of it in the warmed session: a layer's number comes from the same
    inputs whichever workload runs.
    ``op.*`` and the overhead are the workload's own operations. Returns
    (layers, outcomes, checks)."""
    from spans import peak_rss_mb
    from workloads import OP_COUNTERS, WORKLOADS

    layers: dict[str, float] = {}
    checks: list = []
    outcomes: list = []
    sides = [wl] + [cls() for name, cls in WORKLOADS.items() if name != wl.name]
    for w in sides:
        if w is not wl:
            w.prepare(seed, os.path.join(work, w.name))
            w.register(spark)
        spent = tracer.overhead_s
        done = measure(w, spark, seconds if w is wl else 0, tracer)
        ok = [o for o in done if not o.errors]
        if w is wl and ok:
            layers["process.peak_rss_mb"] = peak_rss_mb()
            layers["trace.overhead_frac"] = (
                (tracer.overhead_s - spent) / sum(o.latency_s for o in ok))
            layers["op.p50_s"] = statistics.median(o.latency_s for o in ok)
            layers.update({
                f"op.{c}": statistics.median(o.counters[c] for o in ok) for c in OP_COUNTERS})
        layers.update(median_layers(ok))
        if ok:
            more, errors = w.profile(spark, tracer, ok)
            layers.update(more)
            checks += errors
        outcomes += done
    return layers, outcomes, checks


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    # without the engine and its tools there is nothing to measure: fail
    # here, before any file is written
    import check_correctness  # noqa: F401
    import x17a5_spark  # noqa: F401

    from spans import Tracer
    from workloads import MIX, WORKLOADS

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        env = pin_environment(work)
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, **env, **source_revision()}
        wl.prepare(args.seed, work)
        record["inputs"] = wl.describe()
        setup_tracer = Tracer()
        spark, session_s = setup(wl, setup_tracer)
        warm, warm_s = warm_up(wl, spark)
        setup_s = session_s + warm_s
        checks: list = []
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            values, outcomes, more = trace_layers(wl, spark, args.seed, args.seconds, work, tracer)
            values.update({f"{s['name']}_s": s["wall_s"] for s in setup_tracer.spans})
            values["setup.warm_up_s"] = warm_s
            checks += more
            units = per_layer_units(MIX)
            missing = sorted(set(units) - set(values))
            if missing:
                checks.append(("per-layer metrics", [f"not measured: {missing}"]))
        else:
            ticks = cpu_ticks()
            outcomes = measure(wl, spark, args.seconds)
            ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
            # the share of CPU time the host gave to other guests while
            # the operations were timed: a reading of how loaded it was
            record["steal_frac"] = ticks[7] / max(sum(ticks), 1)
            items_per_s, bytes_per_item = rates([o for o in outcomes if not o.errors])
            values = {
                "setup_s": setup_s,
                "items_per_s": items_per_s,
                "stored_bytes_per_item": bytes_per_item,
            }
            units = E2E
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
        outcomes = warm + outcomes

        errors = [e for _, errs in checks for e in errs] + [e for o in outcomes for e in o.errors]
        attempted = len(outcomes) + len(checks)
        failed = sum(1 for o in outcomes if o.errors) + sum(1 for _, errs in checks if errs)
        record.update(
            setup_s=setup_s,
            warm_up_s=warm_s,
            latencies_s=[(o.arg, o.latency_s) for o in outcomes],
            failed_frac=failed / attempted,
            errors=errors[:20],
            metrics=metrics,
            layers_extra={k: v for k, v in values.items() if k not in units},
        )
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        if tracer is not None:
            tracer.spans[:0] = setup_tracer.spans
            tracer.write(stem + ".spans.json")

        for e in errors[:10]:
            print(f"# error: {e}")
        env_keys = ("cpus", "mem_total_gb", "driver_mem_gb", "git_rev", "source_sha256",
                    "seed", "inputs", "steal_frac")
        print(f"# env: {json.dumps({k: record[k] for k in env_keys if k in record})}")
        print(f"# samples: {len(outcomes)} operations, {attempted} attempted, "
              f"failed_frac {failed / attempted:.4f}")
        for k, m in metrics.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
