"""Seeded inputs of the benchmark, and its metric list.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import corpus  # noqa: E402
import lake  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_corpus_same_seed_same_bytes(tmp_path):
    a = corpus.write(corpus.generate(5, 200), str(tmp_path / "a"))
    b = corpus.write(corpus.generate(5, 200), str(tmp_path / "b"))
    assert set(a) == {"docs", "text", "label_map", "expected"}
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


def test_corpus_other_seed_other_bytes(tmp_path):
    corpus.write(corpus.generate(5, 200), str(tmp_path / "a"))
    corpus.write(corpus.generate(6, 200), str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a["docs.parquet"] != b["docs.parquet"]
    assert a["expected_gold.json"] != b["expected_gold.json"]


def test_generators_do_not_import_the_engine():
    """The inputs of a seed must not depend on the code under test."""
    code = (
        "import sys; sys.path[:0] = [sys.argv[1]]; import corpus, lake; "
        "corpus.generate(1, 200); lake.build(1, 0.0005); "
        "assert not [m for m in sys.modules if m.startswith('x17a5_spark')]"
    )
    subprocess.run([sys.executable, "-c", code, BENCH], check=True)


def test_subtotal_rule_plants_only_the_total():
    assert corpus._only_total_is_subtotal([100.0, 250.0, 350.0], mismatch=False)
    assert corpus._only_total_is_subtotal([100.0, 250.0, 400.0], mismatch=True)
    # a line item that equals the sum above it is a subtotal
    assert not corpus._only_total_is_subtotal([100.0, 250.0, 350.0, 700.0], mismatch=False)
    # ... and so is one that is a power-of-ten multiple of it
    assert not corpus._only_total_is_subtotal([100.0, 1000.0, 1100.0], mismatch=False)
    # a mismatched total within one misread digit still explains the sum
    assert not corpus._only_total_is_subtotal([1000.0, 2345.0, 3355.0], mismatch=True)


def test_corpus_plants_the_funnel_shares():
    filings = corpus.generate(9, 3000)
    n = len(filings)
    kinds = [f.kind for f in filings]
    assert abs(kinds.count("ocr_fail") / n - corpus.FAIL_SHARE) < 0.02
    assert abs(kinds.count("missing_side") / n - corpus.MISSING_SIDE_SHARE) < 0.02
    years = {}
    for f in filings:
        years.setdefault((f.cik, f.fiscal_year), []).append(f)
    assert any(len(v) > 1 for v in years.values()), "no amended filings"
    assert any(b"|$ " in f.content and len(f.text_lines) > 3 for f in filings), "no conjoined rows"
    gold = corpus.expected_gold(filings)
    assert len({(k[0], v["fiscal_year"]) for k, v in gold.items()}) == len(gold)


def test_unit_headers_match_the_engine_scale_words():
    scaler = pytest.importorskip("x17a5_spark.operators.scaler")
    for header, mult in corpus.UNIT_HEADERS:
        assert scaler._line_scale_py(header) == mult, header
    for f in corpus.generate(3, 300):
        for line in f.text_lines:
            if line not in dict(corpus.UNIT_HEADERS):
                assert scaler._line_scale_py(line) is None, line


def test_lake_same_seed_same_bytes(tmp_path):
    lake.write(4, 0.0005, str(tmp_path / "a"))
    lake.write(4, 0.0005, str(tmp_path / "b"))
    lake.write(5, 0.0005, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_benchmark_json_lists_what_run_prints():
    import run
    from workloads import MIX, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(MIX)
