"""Plan-discipline tests: the physical plans the engine promises in
SCALE.md, enforced. A regression that silently drops pushdown or turns
a broadcast star into a cartesian product fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest

from x17a5_spark.queries.domain import e3_structured_assets
from x17a5_spark.queries.relational import (
    p7_threshold_keylist,
    q1_pricing_summary,
    q5_region_volume,
)
from x17a5_spark.queries.similarity import s1_cosine_topk

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(q1_pricing_summary(spark, SF))
    # filter reaches the parquet scan
    assert "PushedFilters" in plan or "DataFilters: [isnotnull(l_shipdate" in plan
    # column pruning: unneeded lineitem columns never read
    assert "l_partkey" not in plan.split("ReadSchema")[0].split("FileScan")[-1]
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_suppkey" not in scan_line and "l_partkey" not in scan_line


def test_q5_star_is_broadcast_at_this_sf(spark):
    plan = _plan(q5_region_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_p7_semi_structure_no_cartesian(spark):
    plan = _plan(p7_threshold_keylist(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_e3_no_cartesian_and_bounded_exchanges(spark):
    plan = _plan(e3_structured_assets(spark, SF))
    assert "CartesianProduct" not in plan
    # two-phase pivot + dedup window: shuffles stay on filing-ish keys
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    )
    assert n_exchanges <= 4, f"e3 exchange count regressed: {n_exchanges}"


def test_s1_broadcast_nested_loop_is_intentional(spark):
    plan = _plan(s1_cosine_topk(spark, SF))
    # tiny query set broadcast against the candidate scan: BNLJ is the
    # designed plan; the big side must be the streamed side
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_o1_window_sits_above_the_aggregate(spark):
    # o1's unpartitioned (global) window is acceptable ONLY because it
    # ranks a bounded post-aggregation table ("never global-sort raw
    # data", SCALE.md). Physical plans print top-down, so the Window
    # must appear before (= downstream of) the final HashAggregate; a
    # refactor that moves the window upstream of the aggregate flips
    # that order and fails here.
    from x17a5_spark.queries.misc import o1_global_rank

    plan = _plan(o1_global_rank(spark, SF))
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    agg = next(i for i, l in enumerate(lines) if "HashAggregate" in l)
    assert win < agg, "global window moved upstream of the aggregate"


def test_whole_stage_codegen_active(spark):
    import io
    from contextlib import redirect_stdout

    df = q1_pricing_summary(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    txt = buf.getvalue()
    assert "WholeStageCodegen" in txt
    assert "Found" in txt  # "Found N WholeStageCodegen subtrees"


@pytest.mark.parametrize("qname", ["q1_pricing_summary", "q5_region_volume"])
def test_aqe_enabled_in_session(spark, qname):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_d3_confirm_carries_no_shingle_arrays(spark):
    # the d3 confirm path re-joins the shingle table on pair keys; a
    # regression back to collect_set arrays re-shuffles the corpus'
    # shingle mass and OOMs at 100 TB
    from x17a5_spark.queries.dedup import d3_minhash_lsh

    plan = _plan(d3_minhash_lsh(spark, SF))
    assert "collect_set" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_s3_ivf_probe_is_equi_join(spark):
    # candidates come from the inverted-file equi-join on cell id with
    # the tiny probe set broadcast — never a cross product
    from x17a5_spark.queries.similarity import s3_ivf_probe

    plan = _plan(s3_ivf_probe(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_st4_watermark_table_broadcasts(spark):
    # the per-batch watermark frame is bounded by wall-clock time, so it
    # must broadcast back to the events — a hash exchange of the fact
    # table here would be a scale regression
    from x17a5_spark.queries.streaming import st4_watermark_drop

    plan = _plan(st4_watermark_drop(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_j13_merge_is_single_key_exchange_join(spark):
    from x17a5_spark.queries.graph import j13_upsert_merge

    plan = _plan(j13_upsert_merge(spark, SF))
    assert "CartesianProduct" not in plan
    # full-outer MERGE must be a key join (SMJ or shuffled hash), and the
    # changelog window must not force a second exchange kind
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_a19_incremental_merge_no_extra_scan_work(spark):
    from x17a5_spark.queries.lakehouse import a19_incremental_agg

    plan = _plan(a19_incremental_agg(spark, SF))
    assert "CartesianProduct" not in plan
    # both branches prune to the 3 needed columns at the scan
    for scan_line in (l for l in plan.splitlines() if "FileScan parquet" in l):
        assert "o_comment" not in scan_line and "o_clerk" not in scan_line


def test_d11_window_is_blocked_never_global(spark):
    from x17a5_spark.queries.dedup import d11_sorted_neighborhood

    plan = _plan(d11_sorted_neighborhood(spark, SF))
    assert "CartesianProduct" not in plan
    # the neighbor window partitions by the block prefix — a global
    # (unpartitioned) window would show 'Window ... [partitionSpec=[]]'
    # i.e. an Exchange SinglePartition feeding the Window
    assert "Exchange SinglePartition" not in plan.split("Window")[0]


def test_d12_quota_join_is_broadcast(spark):
    from x17a5_spark.queries.lakehouse import d12_temperature_mix

    plan = _plan(d12_temperature_mix(spark, SF))
    assert "CartesianProduct" not in plan
    # quotas (one row per source) must broadcast to the doc scan
    assert "BroadcastHashJoin" in plan


def test_g1_iterations_reuse_cached_edges(spark):
    from x17a5_spark.queries.graph import g1_pagerank

    # production form: each iteration ends in a lazy localCheckpoint, so
    # the returned plan is the (truncated) last iteration only — assert
    # it is sound, then assert the reuse property on the unrolled form.
    plan = _plan(g1_pagerank(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the lineage breaker is in place
    # breaker off exposes the full unrolled plan: the annotated edge
    # relation is persisted once and referenced by EVERY iteration, so
    # InMemoryTableScan must appear >= iteration count (3 keeps Catalyst
    # compile time test-friendly; the property is per-iteration).
    unrolled = _plan(g1_pagerank(spark, SF, iters=3, breaker=False))
    assert "CartesianProduct" not in unrolled
    assert unrolled.count("InMemoryTableScan") >= 3


def test_g1_reliable_checkpoint_matches_local(spark, tmp_path):
    """checkpoint_dir knob (cluster-durable lineage break) must be
    value-identical to the default localCheckpoint path."""
    from x17a5_spark.queries.graph import g1_pagerank

    sf = "/root/testdata/sf0.001"
    base = {
        tuple(r) for r in g1_pagerank(spark, sf).collect()
    }
    durable = {
        tuple(r)
        for r in g1_pagerank(
            spark, sf, checkpoint_dir=str(tmp_path / "g1_ckpt")
        ).collect()
    }
    assert base == durable and len(base) > 0


def test_j14_pit_join_single_user_exchange(spark):
    """The PIT join must stay an as-of union window — no range join,
    no nested loop, no cartesian anywhere in the plan."""
    from x17a5_spark.queries.lakehouse import j14_pit_join

    plan = _plan(j14_pit_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t22_boilerplate_join_is_hash_not_pair(spark):
    """Segment-df attach must be an equi-join (one row out per segment
    row in) — never a doc-pair join."""
    from x17a5_spark.queries.filtering import t22_boilerplate_removal

    plan = _plan(t22_boilerplate_removal(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t23_sampling_is_shuffle_free(spark):
    """Importance sampling is a stateless scan: zero exchanges."""
    from x17a5_spark.queries.filtering import t23_quality_sampling

    plan = _plan(t23_quality_sampling(spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def _main_path(plan: str) -> list[str]:
    """The plan's nodes from the root down its first-child chain: in a
    tree string a node's first child is the next line, one level
    deeper."""
    def depth(line: str) -> int:
        marks = [i for i in (line.find("+-"), line.find(":-")) if i >= 0]
        return min(marks) // 3 + 1 if marks else 0

    lines = plan.splitlines()
    path = [lines[0]]
    for line in lines[1:]:
        if depth(line) != depth(path[-1]) + 1:
            break
        path.append(line)
    return path


def test_silver_kernels_keep_explicit_width(spark):
    """The silver chain runs on ONE filing-key exchange with an
    explicit width: ``clean_filings`` hash-partitions its input at
    kernel width (kernel_part.py), and every later window, the TEXT-map
    join and the bisect kernel reuse it. The width is what keeps AQE
    from coalescing a byte-small corpus onto one task (measured:
    silver_clean 100.6 s -> 15.6 s at sf0.1); the single exchange is
    what keeps the chain's stage and Python-task count low. The
    conjoined-row split and the unit-scale match are JVM passes, so the
    bisect/subtotals tail is the chain's only Python stage, batched as
    MapInPandas over key-sorted partitions (grouped_kernel, measured
    2.2x over per-group FlatMapGroupsInPandas)."""
    from x17a5_spark.operators.kernel_part import kernel_width
    from x17a5_spark.pipeline import clean_filings
    from x17a5_spark.queries.domain import e2_clean_pipeline

    plan = _plan(e2_clean_pipeline(spark, SF))
    assert plan.count("MapInPandas") == 1, plan.count("MapInPandas")
    for node in (
        "InMemoryRelation", "Union", "FlatMapGroupsInPandas", "ArrowEvalPython",
    ):
        assert node not in plan, node
    # e2 plants one constant filing_date, which the optimizer folds into
    # the hash keys and drops from the window keys; every explicit
    # exchange still hashes the filing key at kernel width
    width = kernel_width(spark.range(1))
    repart = [l for l in plan.splitlines() if "REPARTITION_BY_NUM" in l]
    assert repart
    assert all(
        "hashpartitioning(cik#" in l and f"2021-06-30, {width})" in l
        for l in repart
    ), repart

    # with a real filing_date column the whole chain, bronze rows to the
    # bisect kernel, sits on one exchange
    rows = [
        ("1", d, i, n, v, None)
        for d in ("2020-06-30", "2021-06-30")
        for i, (n, v) in enumerate([
            ("Cash", "$ 2"), ("Receivables", "5"), ("Total assets", "7"),
            ("Payables", "11"), ("Total liabilities and equity", "11"),
        ])
    ]
    raw = spark.createDataFrame(
        rows, "cik string, filing_date string, row_idx int, "
        "col0 string, col1 string, col2 string",
    )
    text = spark.createDataFrame(
        [("1", "2020-06-30", 0, "(in Millions)")],
        "cik string, filing_date string, line_idx int, line_text string",
    )
    path = _main_path(_plan(clean_filings(raw, text)))
    exchanges = [l for l in path if "Exchange" in l]
    assert len(exchanges) == 1, exchanges
    assert "REPARTITION_BY_NUM" in exchanges[0]
    assert "filing_date#" in exchanges[0] and f", {width})" in exchanges[0]
    assert sum("MapInPandas" in l for l in path) == 1
    assert sum("Window" in l for l in path) >= 3


def test_k5_unit_scale_runs_no_python(spark):
    """The scale-word match is a Spark expression (levenshtein inside
    ``exists``), so unit scaling plans no Python node at all."""
    from x17a5_spark.queries.domain import k5_unit_scale

    plan = _plan(k5_unit_scale(spark, SF))
    for node in ("ArrowEvalPython", "BatchEvalPython", "InPandas"):
        assert node not in plan, node
    assert "levenshtein" in plan


def test_kernel_width_never_equals_session_shuffle_width(spark):
    """kernel_width must differ from spark.sql.shuffle.partitions —
    equal hash partitioning gets the explicit exchange elided at
    planning time, which re-serializes the kernels."""
    from x17a5_spark.operators.kernel_part import kernel_width

    df = spark.range(10)
    w = kernel_width(df)
    assert w != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert w >= spark.sparkContext.defaultParallelism


def test_j17_bucketed_join_has_no_exchange_below_the_join(spark):
    """The bucketed co-located join is THE 100-TB repeated-join shape:
    both fact sides pre-shuffled at write time (bucketBy on the join
    key), so the SortMergeJoin must run with ZERO exchanges beneath it
    — the only shuffle in the query is the final priority aggregate."""
    from x17a5_spark.queries.lakehouse import j17_bucketed_join

    plan = _plan(j17_bucketed_join(spark, SF))
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan  # scans are bucket-aware
    below_join = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in below_join, "bucketed join re-shuffled a fact side"
    # exactly one hash exchange in the whole query: the final aggregate
    assert plan.count("Exchange hashpartitioning") == 1


def test_d15_keep_first_is_hash_aggregate_not_sort(spark):
    """The d15 keep-first must compile to HashAggregate (partial +
    final over the packed-long winner) — min over a STRUCT falls back
    to SortAggregate and drags a per-partition sort of every paragraph
    row into the plan, which is exactly what the packed encoding is
    there to avoid."""
    from x17a5_spark.queries.dedup import d15_paragraph_dedup

    plan = _plan(d15_paragraph_dedup(spark, SF))
    assert "SortAggregate" not in plan, "keep-first fell back to SortAggregate"
    # partial + final hash aggregation around one exchange, plus the
    # ObjectHashAggregate pair for the collect_list reassembly
    assert plan.count("HashAggregate") >= 2
    assert "ObjectHashAggregate" in plan


def test_e11_argmax_is_hash_aggregate_not_sort(spark):
    """e11's per-cluster quality argmax must stay HashAggregate (packed
    BIGINT max), never SortAggregate — the same struct-min lesson d15
    pinned, applied to the keep-best rule."""
    from x17a5_spark.queries.dedup import e11_cluster_canonical

    plan = _plan(e11_cluster_canonical(spark, SF))
    assert "SortAggregate" not in plan, "argmax fell back to SortAggregate"


@pytest.mark.parametrize("qname", ["f1_parse_accounting", "c5_accounting_chain"])
def test_f1_parse_plans_the_dirty_string_once(spark, qname):
    """f1 and c5 parse a compound dirty-string CASE that holds 5
    ``format_number`` calls. An F1 parse with its steps inlined copies
    its input into every step (720 calls, most of the query's time spent
    in Catalyst analysis); staged on a column of its own, the optimized
    plan holds the CASE exactly once."""
    import os

    from x17a5_spark.queries import scalars

    sf_tiny = os.path.join(os.path.dirname(SF), "sf0.001")
    df = getattr(scalars, qname)(spark, sf_tiny)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("format_number(") == 5


def test_plans_md_matches_live_plans(spark):
    """Every plan tree committed in PLANS.md must match the LIVE plan's node-type
    skeleton — a plan-shape change cannot strand its documentation.
    Regenerate with `python tools/dump_plans.py` when this fails."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(__file__), "..", "tools"),
    )
    import dump_plans as DP

    from x17a5_spark.queries import registry

    plans_path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans_path) as f:
        documented = DP.documented_skeletons(f.read())
    assert set(documented) == set(DP.PICKS), "PLANS.md entries != PICKS"
    queries, _ = registry()
    drifted = {}
    for name, doc_skel in documented.items():
        live = DP.node_skeleton(DP.plan_tree(spark, queries, name, SF))
        if live != doc_skel:
            drifted[name] = (doc_skel, live)
    assert not drifted, (
        "PLANS.md is stale for: "
        + ", ".join(sorted(drifted))
        + " — run `python tools/dump_plans.py`"
    )
