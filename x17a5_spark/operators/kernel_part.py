"""Partitioning policy for grouped Python-kernel stages.

AQE coalesces post-shuffle partitions by BYTES
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB default).
That is the right policy for JVM operators, but a grouped
``applyInPandas`` stage is CPU-bound per GROUP (Arrow slice + pandas
frame + Python fn ≈ 2-4 ms each), not byte-bound: a corpus of thousands
of small filings is only a few MB, so AQE folds the exchange to ONE
partition and the kernels run serially — measured at sf0.1, the e1
silver chain's three kernels spent 24 s + 17 s + 40 s on single tasks
(silver_clean 90 s) and dropped to ~1/30th of that once spread.

``kernel_partitions`` therefore repartitions a kernel input explicitly
on the group key: an explicit width is exempt from AQE coalescing, and
the width tracks the cluster (``defaultParallelism`` = total cores) so
the policy is scale-correct — at 100 TB the byte-based and CPU-based
choices converge, while on a small corpus every core still gets groups.
The cost is at most relabeling the exchange the grouped kernel needs
anyway; when the upstream already clusters on the same key (e.g. a
window over the filing key feeding a kernel) it adds one cheap exchange
of kernel-input rows in return for full-width execution.

``batched_grouped_kernel`` additionally removes the PER-GROUP dispatch
cost: instead of applyInPandas's one Arrow round trip per group, groups
stream through ``mapInPandas`` over key-sorted partitions, many
complete groups per call. ``grouped_kernel`` is the per-group form on
top of it (an in-batch pandas groupby) — measured 2.2× on the k1
kernel at the 20× lake. The silver chain has one Python stage, the
fused bisect/subtotals kernel (the conjoined-row split and the
unit-scale match are Spark expressions); it runs on this path over the
chain's own filing-key exchange (``pipeline._silver_purge``), whose
width and keys equal its repartition, so Spark drops the repartition.

Every Python task also pays a fixed cost, whatever its rows. Measured
on a 4-vCPU host, 17 trivial ``mapInPandas`` tasks take 0.41-0.73 s
against 0.10-0.33 s for the same JVM projection. Part of it is
pyspark's per-task ``setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes each
cached zipimporter re-read its archive's directory. Workers start on
the installed pyspark (``session.py``, ``x17a5_pyspark_daemon``), so
the only zip left on their path is the 54-entry package zip that
``tables._ship_package`` adds: ``invalidate_caches()`` takes
0.0003-0.0007 s with it and 0.00003-0.00006 s without it. With
Spark's default worker path (17 zip and jar importers, among them the
1,328-entry ``pyspark.zip``) it took 0.14-0.25 s, and the 17 tasks
took 1.40-2.27 s. A stage that Spark's built-in functions can express
still runs as a JVM pass, and a kernel runs on as few tasks and stages
as its width allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def kernel_width(df: DataFrame) -> int:
    """Partition count for a CPU-bound grouped-kernel stage: at least
    2× every core in the cluster (a few group-batches per core evens
    out group-size variance), or the session's shuffle width if larger.

    The returned width is deliberately NEVER equal to
    ``spark.sql.shuffle.partitions``: Spark elides an explicit
    repartition whose hash partitioning exactly matches the child's
    (same keys, same width) at planning time — measured, the silver
    kernels silently lost their spread and ran serially on the
    AQE-coalesced upstream window exchange. A width off by one keeps
    the exchange in the plan with shuffleOrigin REPARTITION_BY_NUM,
    which AQE is contractually not allowed to coalesce."""
    spark = df.sparkSession
    try:
        # platforms may set this to a non-numeric value (e.g. "auto");
        # degrade to core-based sizing instead of failing plan build
        shuffle: int | None = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except (TypeError, ValueError):
        shuffle = None
    w = 2 * spark.sparkContext.defaultParallelism
    if shuffle is None:
        # session width unknowable — offset unconditionally so the
        # explicit repartition can never silently pattern-match the
        # effective shuffle width and lose its REPARTITION_BY_NUM origin
        return w + 1
    w = max(w, shuffle)
    return w + 1 if w == shuffle else w


def kernel_partitions(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Spread a grouped-kernel input across the cluster on its group
    key, immune to AQE's byte-based coalescing (see module docstring)."""
    return df.repartition(kernel_width(df), *group_cols)


def grouped_kernel(df: DataFrame, group_cols: list[str], fn, schema: str) -> DataFrame:
    """Run a per-group pandas kernel with BATCHED group dispatch.

    Same contract as ``kernel_partitions(df, g).groupBy(*g)
    .applyInPandas(fn, schema)`` — ``fn`` receives one group's frame
    (group columns included, so it reads its key from the frame; row
    order unspecified: kernels sort by their own order column) and
    returns a frame matched to ``schema`` by column name. The
    difference is dispatch cost: applyInPandas pays a JVM→Arrow→pandas
    round trip PER GROUP, which dominates when groups are tiny (a
    filing side is ~10-25 rows). Here the groups of one Arrow batch are
    split by an in-batch pandas groupby — measured 2.2× faster on the
    k1 kernel at the 20× lake (31.9 s → 14.6 s for 200k groups,
    value-identical output). NaN group keys form their own group
    (dropna=False), as in applyInPandas.
    """
    import pandas as pd

    group_cols = list(group_cols)

    def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame | None:
        outs = []
        for _, g in pdf.groupby(group_cols, sort=False, dropna=False):
            o = fn(g.reset_index(drop=True))
            if o is not None and len(o):
                outs.append(o)
        return pd.concat(outs, ignore_index=True) if outs else None

    return batched_grouped_kernel(df, group_cols, batch_fn, schema)


def _stream_complete_groups(batches, group_cols: list[str], run):
    """Re-batch an Arrow batch iterator so ``run`` only ever sees
    COMPLETE groups: input is key-sorted within the partition, so a
    group is a contiguous run and only the possibly-incomplete trailing
    group of each batch is carried into the next. Memory stays bounded
    at O(Arrow batch + largest group), not O(partition)."""
    import numpy as np
    import pandas as pd

    carry: pd.DataFrame | None = None
    for b in batches:
        if carry is not None:
            b = pd.concat([carry, b], ignore_index=True)
            carry = None
        if not len(b):
            continue
        # trailing (possibly batch-spanning) group = contiguous run
        # of rows keyed like the last row
        eq = np.ones(len(b), dtype=bool)
        last = b.iloc[-1]
        for c in group_cols:
            v = last[c]
            if pd.isna(v):
                eq &= b[c].isna().to_numpy()
            else:
                eq &= (b[c] == v).to_numpy()
        n_tail = len(b) if eq.all() else int(np.argmin(eq[::-1]))
        if n_tail == len(b):
            carry = b
            continue
        carry = b.iloc[len(b) - n_tail :]
        yield from run(b.iloc[: len(b) - n_tail])
    if carry is not None and len(carry):
        yield from run(carry)


def batched_grouped_kernel(
    df: DataFrame, group_cols: list[str], batch_fn, schema: str
) -> DataFrame:
    """Run ``batch_fn`` over frames holding MANY complete groups at once
    (one per Arrow batch, group boundaries guaranteed intact): the
    input is repartitioned on the group key (``kernel_partitions``),
    sorted within partitions (local SortExec, no extra exchange) and
    streamed through ``mapInPandas``. ``batch_fn`` returns one output
    frame matched to ``schema`` by column name, or None. For kernels
    whose per-group work is tiny — a filing side is ~6-25 rows — the
    per-group pandas machinery (groupby dispatch, frame
    slice/copy/concat per group) dominates; a batch_fn can sort once,
    walk numpy group boundaries, run the pure-Python kernels over list
    slices, and build ONE output frame per batch (23.9 s → 1.2 s on the
    fused silver tail at the 20× lake — 20×, value-identical output)."""
    group_cols = list(group_cols)

    def run(pdf):
        o = batch_fn(pdf)
        if o is not None and len(o):
            yield o

    def op(batches):
        yield from _stream_complete_groups(batches, group_cols, run)

    return (
        kernel_partitions(df, group_cols)
        .sortWithinPartitions(*group_cols)
        .mapInPandas(op, schema=schema)
    )
