"""Tests for the HTML table source (S2), binary document corpus (S5),
CSV/JSON scans (S3/S4), partitioned sinks (S8/S10), and the X6
cross-validated tuner."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from x17a5_spark.sources.binary_docs import read_document_corpus, slice_pages
from x17a5_spark.sources.html_table import parse_html_tables, read_html_tables


# ----------------------------------------------------------------- S2
def test_parse_html_tables_fallback():
    doc = """
    <html><body>
    <table><tr><th>Form</th><th>CIK</th></tr>
           <tr><td>X-17A-5</td><td>885639</td></tr>
           <tr><td>10-K</td><td><b>123</b>456</td></tr></table>
    <table><tr><td>single &amp; cell</td></tr></table>
    </body></html>
    """
    tables = parse_html_tables(doc)
    assert len(tables) == 2
    assert tables[0][0] == ["Form", "CIK"]
    assert tables[0][2] == ["10-K", "123456"]  # nested markup stripped
    assert tables[1][0] == ["single & cell"]  # entity decoded


def test_read_html_tables_spark(spark):
    doc = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
    df = spark.createDataFrame([("doc1", doc), ("doc2", "<p>no tables</p>")],
                               ["doc_key", "html"])
    out = read_html_tables(df).toPandas()
    assert set(out.doc_key) == {"doc1"}
    assert len(out) == 4
    got = out.set_index(["row_idx", "col_idx"]).cell
    assert got[(0, 0)] == "a" and got[(1, 1)] == "d"


# ----------------------------------------------------------------- S5
def test_binary_document_corpus(spark, tmp_path):
    for name, content in [
        ("885639-2020-02-28.pdf", b"%PDF-fake-1"),
        ("123456-2019-12-31.pdf", b"%PDF-fake-2"),
    ]:
        (tmp_path / name).write_bytes(content)
    df = read_document_corpus(spark, str(tmp_path))
    rows = {r["cik"]: r for r in df.collect()}
    assert rows["885639"]["filing_date"] == "2020-02-28"
    assert rows["123456"]["n_bytes"] == 11
    # not-a-PDF content passes through the page slice, schema stable
    sliced = slice_pages(df)
    assert sliced.schema == df.schema
    assert sliced.count() == 2


def _minimal_pdf(n_pages: int) -> bytes:
    """Handwritten uncompressed PDF 1.4 with n_pages empty pages and a
    correct xref table — parseable by pypdf, no library needed to build."""
    objs = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for _ in range(n_pages):
        objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
    out = b"%PDF-1.4\n"
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return out


def test_page_slice_real(spark, tmp_path):
    """Real first-N-pages slice (reference FocusReportSlicing.py:78-109)
    — runs with NO optional dependency: the vendored pure-Python slicer
    (sources/pdf_mini.py) handles the classic-xref subset. Verified
    structurally by the independent count_pages parser, and
    cross-checked with pypdf whenever it happens to be importable."""
    from tests.pdf_fixtures import count_pages

    (tmp_path / "885639-2020-02-28.pdf").write_bytes(_minimal_pdf(5))
    df = read_document_corpus(spark, str(tmp_path))
    out = slice_pages(df, max_pages=2).collect()
    assert len(out) == 1
    sliced = bytes(out[0]["content"])
    assert count_pages(sliced) == 2
    assert sliced.startswith(b"%PDF") and sliced.rstrip().endswith(b"%%EOF")
    try:
        import io

        import pypdf  # type: ignore

        assert len(pypdf.PdfReader(io.BytesIO(sliced)).pages) == 2
    except ImportError:
        pass


def test_pdf_mini_slicer_unit():
    """Slicer contract on the simple subset: truncates, is idempotent,
    keeps short docs byte-identical, declines garbage/streams."""
    from x17a5_spark.sources.pdf_mini import slice_pdf
    from tests.pdf_fixtures import count_pages

    five = _minimal_pdf(5)
    assert count_pages(five) == 5
    two = slice_pdf(five, 2)[0]
    assert two is not None and count_pages(two) == 2
    # xref offsets must be correct: every recorded offset points at
    # "<num> 0 obj"
    xref_block = two.split(b"xref\n")[1].split(b"trailer")[0]
    offsets = [int(l[:10]) for l in xref_block.splitlines()[1:] if l[-1:] == b"n"]
    for i, off in enumerate(offsets, start=1):
        assert two[off:].startswith(f"{i} 0 obj".encode())
    assert slice_pdf(five, 9)[0] == five  # already short enough
    assert slice_pdf(two, 2)[0] == two  # idempotent
    assert slice_pdf(b"%PDF-fake", 2)[0] is None
    assert slice_pdf(b"not a pdf", 2)[0] is None
    # round 7: stream OBJECTS are in-subset now (tests/test_pdf_real.py
    # covers them); a stream the file never terminates is still out
    assert slice_pdf(
        five.replace(b"/Type /Page ", b"stream\n/Type /Page ", 1), 2
    )[0] is None  # unterminated stream: broken file


# ------------------------------------------------------- S3/S4 scans
def test_csv_json_round_trip(spark, tmp_path):
    csv_dir = os.path.join(tmp_path, "csv")
    json_dir = os.path.join(tmp_path, "json")
    src = spark.createDataFrame(
        [("356628", "GOLDMAN", 1.5), ("123456", "MS & CO", -2.0)],
        "cik string, name string, score double",
    )
    src.write.mode("overwrite").option("header", True).csv(csv_dir)
    back_csv = spark.read.csv(csv_dir, header=True, inferSchema=True)
    assert back_csv.count() == 2
    assert {r["name"] for r in back_csv.collect()} == {"GOLDMAN", "MS & CO"}

    src.write.mode("overwrite").json(json_dir)
    back_json = spark.read.json(json_dir)
    assert back_json.count() == 2


# --------------------------------------------------- S8/S10 sinks
def test_partitioned_parquet_sink(spark, tmp_path):
    out_dir = os.path.join(tmp_path, "stage")
    df = spark.createDataFrame(
        [("1", "2020-01-01", "Cash", 1.0), ("1", "2020-01-01", "Total", 1.0),
         ("2", "2020-06-30", "Cash", 5.0)],
        "cik string, filing_date string, lineitem string, value double",
    )
    df.write.partitionBy("cik").mode("overwrite").parquet(out_dir)
    # partition pruning: reading one cik touches only its directory
    assert os.path.isdir(os.path.join(out_dir, "cik=1"))
    one = spark.read.parquet(out_dir).filter(F.col("cik") == "1")
    assert one.count() == 2
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_error_ledger_json_sink(spark, tmp_path):
    ledger_dir = os.path.join(tmp_path, "errors")
    errors = spark.createDataFrame(
        [("2", "2020-01-01", "RuntimeError: stub OCR failure")],
        "cik string, filing_date string, error string",
    )
    errors.write.mode("overwrite").json(ledger_dir)
    files = [
        f
        for f in os.listdir(ledger_dir)
        if f.endswith(".json") and os.path.getsize(os.path.join(ledger_dir, f)) > 0
    ]
    assert files  # empty-partition part files excluded
    with open(os.path.join(ledger_dir, files[0])) as fh:
        rec = json.loads(fh.readline())
    assert rec["cik"] == "2" and "stub OCR" in rec["error"]


# ----------------------------------------------------------------- X6
def test_cross_validated_tuner(spark):
    from x17a5_spark.ml.classifier import tune_lineitem_classifier

    base = [
        ("Cash", "Cash"), ("Cash equivalents", "Cash"), ("Cash on hand", "Cash"),
        ("Receivables from brokers", "Receivables"),
        ("Receivables from customers", "Receivables"),
        ("Net receivables due", "Receivables"),
    ]
    training = spark.createDataFrame(base * 6, ["lineitem", "label"])
    model, metrics = tune_lineitem_classifier(training, num_folds=2)
    assert len(metrics) == 3  # one per grid point
    assert max(metrics) > 0.8
    preds = model.transform(
        spark.createDataFrame([("Cash balances",)], ["lineitem"]).withColumn(
            "label", F.lit("?")
        )
    )
    assert preds.first()["predicted_label"] == "Cash"


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """S-family breadth: native ORC sink/scan round-trip; predicate
    reaches the ORC reader (searchArgument pushdown)."""
    import os

    from x17a5_spark.tables import load_table

    path = os.path.join(tmp_path, "orders_orc")
    load_table(spark, "/root/testdata/sf0.001", "orders").write.orc(path)
    back = spark.read.orc(path).filter("o_orderkey % 100 = 0")
    want = (
        load_table(spark, "/root/testdata/sf0.001", "orders")
        .filter("o_orderkey % 100 = 0")
        .count()
    )
    assert back.count() == want
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()


def test_xml_roundtrip(spark, tmp_path):
    """S-family breadth: Spark 4 native XML source — write rowTag
    records, read them back schema-inferred, values intact."""
    import os

    path = os.path.join(tmp_path, "region_xml")
    df = spark.createDataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")], ["r_regionkey", "r_name"]
    )
    df.write.format("xml").option("rootTag", "regions").option(
        "rowTag", "region"
    ).save(path)
    back = spark.read.format("xml").option("rowTag", "region").load(path)
    got = {(r.r_regionkey, r.r_name) for r in back.collect()}
    assert got == {(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")}


def test_wav_roundtrip_odd_and_negative(spark):
    """RIFF PCM16 encoder/decoder edge cases: negative samples, and the
    chunk walk's odd-length padding rule."""
    from x17a5_spark.sources.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
    )

    for samples in ([0], [-32768, 32767, -1, 1], [((i * 37) % 199) - 99 for i in range(257)]):
        rate, back = decode_wav_samples(encode_wav_pcm16(samples, rate=16000))
        assert rate == 16000
        assert back == samples
