"""Round-7 contract for the dependency-free PDF slicer
(sources/pdf_mini.py): real-shaped PDFs WITH content streams slice on
the no-pypdf path (reference FocusReportSlicing.py:78-109's first-20-
pages bound), covering direct and indirect /Length, payloads that
alias structural keywords, nested page trees with attribute
inheritance, FlateDecode object-stream page trees (xref-stream-era
files, no classic trailer), reachability GC of dropped pages, and the
lenient None contract for encrypted/broken files."""

from __future__ import annotations

import zlib

from x17a5_spark.sources.pdf_mini import slice_pdf
from tests.pdf_fixtures import count_pages


def _assemble(objects: dict[int, bytes], root: int, trailer_extra: bytes = b"") -> bytes:
    """Classic-xref PDF from {num: body}: bodies may embed their own
    stream..endstream; numbering must be contiguous from 1."""
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    for num in sorted(objects):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R %s>>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, root, trailer_extra, xref_at)
    )
    return bytes(out)


def _stream_obj(payload: bytes, extra: bytes = b"") -> bytes:
    return (
        b"<< /Length %d %s>>\nstream\n" % (len(payload), extra)
        + payload
        + b"\nendstream"
    )


def _flat_pdf_with_streams(n_pages: int) -> bytes:
    """1=catalog 2=pages, then per page: page dict + content stream.
    Page 1's stream length is INDIRECT (via the last object); payloads
    embed keyword-aliasing bytes."""
    objs: dict[int, bytes] = {}
    kids = []
    next_num = 3
    len_obj = 3 + 2 * n_pages  # indirect /Length target for page 1
    for p in range(1, n_pages + 1):
        page_num, cont_num = next_num, next_num + 1
        next_num += 2
        kids.append(page_num)
        objs[page_num] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R "
            b"/MediaBox [0 0 612 792] >>" % cont_num
        )
        payload = (
            b"BT /F1 12 Tf (PAYLOAD-PAGE-%d) Tj ET\n" % p
            + b"%% binary run aliasing keywords: endobj 1 0 obj stream\n"
            + bytes(range(256))
        )
        if p == 1:
            objs[cont_num] = (
                b"<< /Length %d 0 R >>\nstream\n" % len_obj
                + payload
                + b"\nendstream"
            )
            objs[len_obj] = b"%d" % len(payload)
        else:
            objs[cont_num] = _stream_obj(payload)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (
        n_pages,
        b" ".join(b"%d 0 R" % k for k in kids),
    )
    return _assemble(objs, root=1)


def test_flat_pdf_with_content_streams_slices():
    pdf = _flat_pdf_with_streams(6)
    assert count_pages(pdf) == 6
    sliced = slice_pdf(pdf, 2)[0]
    assert sliced is not None and sliced != pdf
    assert count_pages(sliced) == 2
    # kept payloads survive byte-identically (incl. the aliasing runs
    # and the indirect-length page), dropped pages are GC'd out
    assert b"PAYLOAD-PAGE-1" in sliced and b"PAYLOAD-PAGE-2" in sliced
    for p in (3, 4, 5, 6):
        assert b"PAYLOAD-PAGE-%d" % p not in sliced
    assert bytes(range(256)) in sliced
    # /Length is pinned to the emitted payload for every stream object
    import re

    for m in re.finditer(rb"/Length\s+(\d+)\s*>>\s*stream\n", sliced):
        ln = int(m.group(1))
        data_start = sliced.index(b"stream\n", m.start()) + len(b"stream\n")
        assert sliced[data_start + ln : data_start + ln + 11] == b"\nendstream\n"
    # xref offsets point at their objects
    xref_block = sliced.split(b"xref\n")[1].split(b"trailer")[0]
    offsets = [int(l[:10]) for l in xref_block.splitlines()[1:] if l[-1:] == b"n"]
    for i, off in enumerate(offsets, start=1):
        assert sliced[off:].startswith(b"%d 0 obj" % i)
    # idempotent: slicing the sliced output is a byte-identical no-op
    assert slice_pdf(sliced, 2)[0] == sliced
    # short enough already: untouched original bytes
    assert slice_pdf(pdf, 6)[0] == pdf


def test_nested_page_tree_flattens_with_inheritance():
    """Two intermediate /Pages nodes each supply MediaBox/Rotate; the
    flattened kept pages must carry the inherited values down."""
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 4 /Kids [ 3 0 R 4 0 R ] >>",
        3: (
            b"<< /Type /Pages /Parent 2 0 R /Count 2 /Kids [ 5 0 R 6 0 R ] "
            b"/MediaBox [0 0 100 200] /Rotate 90 >>"
        ),
        4: (
            b"<< /Type /Pages /Parent 2 0 R /Count 2 /Kids [ 7 0 R 8 0 R ] "
            b"/MediaBox [0 0 300 400] >>"
        ),
    }
    for i, page in enumerate((5, 6, 7, 8)):
        cont = 9 + i
        objs[page] = (
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>"
            % (3 if page in (5, 6) else 4, cont)
        )
        objs[cont] = _stream_obj(b"NESTED-PAGE-%d" % page)
    pdf = _assemble(objs, root=1)
    assert count_pages(pdf) == 4
    sliced = slice_pdf(pdf, 3)[0]
    assert sliced is not None and count_pages(sliced) == 3
    assert b"NESTED-PAGE-5" in sliced and b"NESTED-PAGE-7" in sliced
    assert b"NESTED-PAGE-8" not in sliced
    # inheritance: the kept page from node 4 (object 7) now carries the
    # [0 0 300 400] box; pages from node 3 carry theirs plus /Rotate
    assert sliced.count(b"[0 0 100 200]") >= 2
    assert sliced.count(b"[0 0 300 400]") >= 1
    assert b"/Rotate 90" in sliced
    # flattened: every kept page's parent is the single root pages node
    assert slice_pdf(sliced, 3)[0] == sliced


def _objstm_pdf(n_pages: int) -> bytes:
    """Page tree packed in a FlateDecode /ObjStm, content streams as
    regular objects, NO classic trailer (xref-stream era): the root is
    findable only by the /Type /Catalog scan."""
    inner: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count %d /Kids [ %s ] >>"
        % (n_pages, b" ".join(b"%d 0 R" % (10 + i) for i in range(n_pages))),
    }
    objs: dict[int, bytes] = {}
    for i in range(n_pages):
        inner[10 + i] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R "
            b"/MediaBox [0 0 612 792] >>" % (30 + i)
        )
        objs[30 + i] = _stream_obj(b"OBJSTM-PAGE-%d" % i)
    header = b" ".join(
        b"%d %d" % (num, off)
        for num, off in _objstm_offsets(inner)
    )
    bodies = b"".join(inner[num] + b"\n" for num in sorted(inner))
    payload = header + b"\n" + bodies
    first = len(header) + 1
    comp = zlib.compress(payload)
    objs[3] = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>"
        b"\nstream\n" % (len(inner), first, len(comp))
        + comp
        + b"\nendstream"
    )
    # xref-stream-era shape: no classic xref/trailer at all, and the
    # object numbering is non-contiguous — the parser must not care
    raw = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    for num in sorted(objs):
        raw += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    raw += b"startxref\n0\n%%EOF\n"
    return bytes(raw)


def _objstm_offsets(inner: dict[int, bytes]) -> list[tuple[int, int]]:
    pairs, cur = [], 0
    for num in sorted(inner):
        pairs.append((num, cur))
        cur += len(inner[num]) + 1
    return pairs


def test_objstm_packed_page_tree_slices():
    pdf = _objstm_pdf(5)
    assert count_pages(pdf) == 5
    sliced = slice_pdf(pdf, 2)[0]
    assert sliced is not None and count_pages(sliced) == 2
    assert b"OBJSTM-PAGE-0" in sliced and b"OBJSTM-PAGE-1" in sliced
    assert b"OBJSTM-PAGE-4" not in sliced
    # output is classic-xref and stable under re-slicing
    assert b"trailer" in sliced
    assert slice_pdf(sliced, 2)[0] == sliced


def test_out_of_subset_returns_none():
    pdf = _flat_pdf_with_streams(3)
    # encrypted: lenient pass-through
    enc = _assemble(
        {1: b"<< /Type /Catalog /Pages 2 0 R >>", 2: b"<< /Type /Pages /Count 0 /Kids [] >>"},
        root=1,
        trailer_extra=b"/Encrypt 9 0 R ",
    )
    assert slice_pdf(enc, 2)[0] is None
    # unterminated stream: broken file
    broken = pdf.replace(b"\nendstream", b"", 1)
    assert slice_pdf(broken, 2)[0] is None
    # garbage
    assert slice_pdf(b"not a pdf at all", 2)[0] is None
    assert count_pages(b"%PDF-1.5 nothing here") is None
    assert slice_pdf(pdf, 0)[0] is None


def test_slice_pages_spark_path_with_real_streams(spark, tmp_path):
    """End-to-end through the mapInPandas operator: a stream-bearing
    PDF in a binaryFile corpus comes out truncated (the vendored
    slicer is slice_pages' only engine)."""
    from x17a5_spark.sources.binary_docs import read_document_corpus, slice_pages

    (tmp_path / "885639-2020-02-28.pdf").write_bytes(_flat_pdf_with_streams(30))
    df = read_document_corpus(spark, str(tmp_path))
    out = slice_pages(df, max_pages=20).collect()
    assert len(out) == 1
    sliced = bytes(out[0]["content"])
    assert count_pages(sliced) == 20
    assert b"PAYLOAD-PAGE-20" in sliced and b"PAYLOAD-PAGE-21" not in sliced


def test_real_world_pdfs_slice_on_zero_dep_path():
    """The round's acceptance check against PRODUCTION PDFs (xref
    streams, object streams, compressed page trees — shapes no fixture
    fully reproduces): the two PDFs shipped with this OS image must
    parse, slice to the exact page count, and be idempotent under
    re-slicing. Skipped only where the image lacks them."""
    import os

    import pytest

    candidates = [
        ("/usr/share/doc/libtasn1-doc/libtasn1.pdf", 36),
        ("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf", 17),
    ]
    present = [(p, n) for p, n in candidates if os.path.exists(p)]
    if not present:
        pytest.skip("no system PDFs on this image")
    for path, n_pages in present:
        content = open(path, "rb").read()
        assert count_pages(content) == n_pages, path
        for mp in (2, 20):
            sliced = slice_pdf(content, mp)[0]
            if mp >= n_pages:
                assert sliced == content, path
                continue
            assert sliced is not None and sliced != content, (path, mp)
            assert count_pages(sliced) == mp, (path, mp)
            assert slice_pdf(sliced, mp)[0] == sliced, (path, mp)


def test_slice_pages_status_column(spark, tmp_path):
    """status_col quantifies the slice outcome per document: sliced /
    short / passthrough (ADVICE r5/r6's observability ask)."""
    from x17a5_spark.sources.binary_docs import read_document_corpus, slice_pages

    (tmp_path / "1-2020-01-01.pdf").write_bytes(_flat_pdf_with_streams(30))
    (tmp_path / "2-2020-01-02.pdf").write_bytes(_flat_pdf_with_streams(3))
    (tmp_path / "3-2020-01-03.pdf").write_bytes(b"%PDF-1.5 not really a pdf")
    df = read_document_corpus(spark, str(tmp_path))
    out = {
        r["cik"]: r
        for r in slice_pages(df, max_pages=20, status_col="slice_status").collect()
    }
    assert out["1"]["slice_status"] == "sliced"
    assert count_pages(bytes(out["1"]["content"])) == 20
    assert out["2"]["slice_status"] == "short"
    assert count_pages(bytes(out["2"]["content"])) == 3
    assert out["3"]["slice_status"] == "passthrough:broken"
    assert bytes(out["3"]["content"]) == b"%PDF-1.5 not really a pdf"
    # default call keeps the legacy schema untouched
    assert slice_pages(df).schema == df.schema


def test_slice_pages_status_taxonomy(spark, tmp_path):
    """Round-7 VERDICT #8: the passthrough status distinguishes WHY —
    encrypted vs codec-unsupported ObjStm vs not-a-pdf — so a corpus
    audit can tell crypt problems from codec problems."""
    from x17a5_spark.sources.binary_docs import read_document_corpus, slice_pages

    enc = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Count 0 /Kids [] >>",
        },
        root=1,
        trailer_extra=b"/Encrypt 9 0 R ",
    )
    (tmp_path / "1-2020-01-01.pdf").write_bytes(enc)
    (tmp_path / "2-2020-01-02.pdf").write_bytes(_dct_objstm_pdf())
    (tmp_path / "3-2020-01-03.pdf").write_bytes(b"plain text, no header")
    df = read_document_corpus(spark, str(tmp_path))
    out = {
        r["cik"]: r["slice_status"]
        for r in slice_pages(df, max_pages=2, status_col="slice_status").collect()
    }
    assert out == {
        "1": "passthrough:encrypted",
        "2": "passthrough:objstm-filter",
        "3": "passthrough:not-pdf",
    }


def _dct_objstm_pdf() -> bytes:
    """A PDF whose page tree hides in an ObjStm with an UNSUPPORTED
    filter (DCTDecode): structurally valid, codec-unsupported. (LZW
    graduated to a supported codec in round 10.)"""
    fake_payload = b"\xff\xd8\xff\xe0junk"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        3: (
            b"<< /Type /ObjStm /N 1 /First 4 /Filter /DCTDecode /Length %d >>"
            b"\nstream\n" % len(fake_payload)
            + fake_payload
            + b"\nendstream"
        ),
    }
    return _assemble(objs, root=1)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Test-local LZW ENCODER (the independent direction; the decoder
    under test lives in pdf_mini). Emits clear-table, data codes with
    early-change width bumps, then EOD."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    codes: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        if next_code >= (1 << width) - early and width < 12:
            width += 1
        w = bytes([b])
    if w:
        codes.append((table[w], width))
    codes.append((257, width))
    acc = nacc = 0
    out = bytearray()
    for code, cw in codes:
        acc = (acc << cw) | code
        nacc += cw
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _lzw_objstm_pdf(n_pages: int, early: int = 1) -> bytes:
    """Page tree packed in an LZWDecode /ObjStm (the _objstm_pdf shape
    with the 1990s-era codec), content streams as regular objects."""
    inner: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count %d /Kids [ %s ] >>"
        % (n_pages, b" ".join(b"%d 0 R" % (10 + i) for i in range(n_pages))),
    }
    objs: dict[int, bytes] = {}
    for i in range(n_pages):
        inner[10 + i] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R "
            b"/MediaBox [0 0 612 792] >>" % (30 + i)
        )
        objs[30 + i] = _stream_obj(b"LZW-OBJSTM-PAGE-%d" % i)
    header = b" ".join(
        b"%d %d" % (num, off) for num, off in _objstm_offsets(inner)
    )
    bodies = b"".join(inner[num] + b"\n" for num in sorted(inner))
    payload = header + b"\n" + bodies
    first = len(header) + 1
    comp = _lzw_encode(payload, early=early)
    parms = b" /DecodeParms << /EarlyChange 0 >>" if early == 0 else b""
    objs[3] = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /LZWDecode%s /Length %d >>"
        b"\nstream\n" % (len(inner), first, parms, len(comp))
        + comp
        + b"\nendstream"
    )
    raw = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    for num in sorted(objs):
        raw += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    raw += b"startxref\n0\n%%EOF\n"
    return bytes(raw)


def test_lzw_decoder_matches_published_spec_example():
    """PDF 32000-1 §7.4.4.2's worked example: the encoded bytes
    80 0B 60 50 22 0C 0C 85 01 decode to 45*5 65 45*3 66 — an external
    vector the decoder AND the test-local encoder both pin to."""
    from x17a5_spark.sources.pdf_mini import _lzw_decode

    spec_encoded = bytes.fromhex("800b6050220c0c8501")
    spec_plain = bytes([45] * 5 + [65] + [45] * 3 + [66])
    assert _lzw_decode(spec_encoded) == spec_plain
    assert _lzw_encode(spec_plain) == spec_encoded


def test_lzw_roundtrip_widths_and_kwkwk():
    """Width bumps past 9/10/11 bits, the KwKwK self-referencing code,
    and EarlyChange=0 all round-trip through the independent pair."""
    from x17a5_spark.sources.pdf_mini import _lzw_decode

    cases = [
        b"aaabaaabaaa",  # KwKwK territory
        bytes(range(256)) * 8,  # grows the table past 9-bit codes
        (b"the quick brown fox " * 400),  # 10->11-bit widths
        b"",
    ]
    for early in (1, 0):
        for data in cases:
            enc = _lzw_encode(data, early=early)
            assert _lzw_decode(enc, early=early) == data, (early, len(data))
    # malformed stream: a code beyond the table declines to None
    assert _lzw_decode(b"\xff\xff\xff\xff") is None


def test_lzw_objstm_page_tree_slices():
    """VERDICT r9 #7: the one remaining DECODABLE slice residue — a
    1990s-era page tree in an LZW-coded object stream — now slices."""

    pdf = _lzw_objstm_pdf(5)
    assert count_pages(pdf) == 5
    sliced, status = slice_pdf(pdf, 2)
    assert status == "sliced" and count_pages(sliced) == 2
    assert b"LZW-OBJSTM-PAGE-0" in sliced
    # /EarlyChange 0 variant honors the DecodeParms override
    pdf0 = _lzw_objstm_pdf(4, early=0)
    assert count_pages(pdf0) == 4
    sliced0, status0 = slice_pdf(pdf0, 2)
    assert status0 == "sliced" and count_pages(sliced0) == 2


def test_slice_pdf_explicit_status_contract():
    """Round-7 VERDICT #5: sliced/short come from the parser's page
    count, never byte equality; out-of-subset reasons are named."""

    pdf = _flat_pdf_with_streams(4)
    out, status = slice_pdf(pdf, 2)
    assert status == "sliced" and count_pages(out) == 2
    out, status = slice_pdf(pdf, 4)
    assert status == "short" and out == pdf  # verbatim by contract
    assert slice_pdf(pdf, 0) == (None, "max-pages")
    assert slice_pdf(b"junk", 3) == (None, "not-pdf")
    assert slice_pdf(_dct_objstm_pdf(), 3) == (None, "objstm-filter")
    broken = pdf.replace(b"\nendstream", b"", 1)
    assert slice_pdf(broken, 2) == (None, "broken")


def test_indirect_length_with_multidigit_object_number():
    """ADVICE r7 item 1: /Length 15 0 R must be treated as INDIRECT —
    regex backtracking must not misread it as direct length 1. The
    fixture's payload genuinely ends within 2 bytes of the bogus
    declared end, which the old regex silently truncated."""
    payload = b"ab"  # real payload; the bogus direct read was len 1
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] >>"
        ),
        4: b"<< /Length 15 0 R >>\nstream\n" + payload + b"\nendstream",
        15: b"%d" % len(payload),
    }
    pdf = _assemble(objs, root=1)
    sliced = slice_pdf(pdf, 1)[0]
    # page count is 1 <= max_pages, so bytes pass through verbatim; the
    # regression would corrupt the scan and may still parse — assert
    # the payload survives a real re-serialization instead
    assert sliced == pdf
    pdf2 = _assemble(
        {**objs, 2: b"<< /Type /Pages /Count 2 /Kids [ 3 0 R 5 0 R ] >>",
         5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>"},
        root=1,
    )
    sliced2 = slice_pdf(pdf2, 1)[0]
    assert sliced2 is not None
    assert b"stream\nab\nendstream" in sliced2
    assert b"/Length 2" in sliced2  # pinned to the REAL payload length


def test_delimiter_scan_declines_corrupt_flate_payload():
    """ADVICE r7 item 2: an indirect-/Length FlateDecode stream whose
    payload cannot inflate after the delimiter scan means the scan was
    fooled (e.g. b'endstream' inside the binary) — decline with None,
    never emit a corrupt PDF."""
    good = zlib.compress(b"real content " * 20)
    evil = good[: len(good) // 2] + b"\nendstream\n" + good[len(good) // 2 :]
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] >>"
        ),
        4: b"<< /Length 15 0 R /Filter /FlateDecode >>\nstream\n"
        + evil
        + b"\nendstream",
        15: b"%d" % len(evil),
    }
    pdf = _assemble(objs, root=1)

    assert slice_pdf(pdf, 1) == (None, "broken")
    # variant where the aliasing run mimics a WELL-FORMED object end
    # ("endstream endobj ..."): the next-token check passes, so only
    # the Flate inflate check catches the truncation
    evil2 = good[: len(good) // 2] + b"\nendstream\nendobj " + good[len(good) // 2 :]
    objs[4] = (
        b"<< /Length 15 0 R /Filter /FlateDecode >>\nstream\n"
        + evil2
        + b"\nendstream"
    )
    objs[15] = b"%d" % len(evil2)
    assert slice_pdf(_assemble(objs, root=1), 1) == (None, "broken")
    # the same stream with an intact payload parses fine
    objs[4] = (
        b"<< /Length 15 0 R /Filter /FlateDecode >>\nstream\n"
        + good
        + b"\nendstream"
    )
    objs[15] = b"%d" % len(good)
    assert count_pages(_assemble(objs, root=1)) == 1


def _random_pdf(rng, n_pages: int) -> tuple[bytes, list[bytes]]:
    """Randomized generator over the supported subset: flat or nested
    tree (random fanout), random binary payloads salted with structural
    keywords, random ObjStm packing of the tree dicts. Returns (pdf,
    per-page payload markers in page order)."""
    markers = [b"MARK-%04d-%d" % (rng.randrange(10000), i) for i in range(n_pages)]
    payloads = [
        m + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        + rng.choice([b"", b"\nendobj\n", b"\nstream\n", b"\n7 0 obj\n", b"endstream"])
        for m in markers
    ]
    page_nums = [100 + 2 * i for i in range(n_pages)]
    cont_nums = [101 + 2 * i for i in range(n_pages)]
    tree: dict[int, bytes] = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    if n_pages >= 3 and rng.random() < 0.5:
        # nested: split pages across two intermediate nodes
        cut = rng.randrange(1, n_pages)
        groups = [(3, page_nums[:cut]), (4, page_nums[cut:])]
        tree[2] = b"<< /Type /Pages /Count %d /Kids [ 3 0 R 4 0 R ] >>" % n_pages
        for node, members in groups:
            tree[node] = (
                b"<< /Type /Pages /Parent 2 0 R /Count %d /Kids [ %s ] "
                b"/MediaBox [0 0 %d %d] >>"
                % (
                    len(members),
                    b" ".join(b"%d 0 R" % p for p in members),
                    rng.randrange(100, 999),
                    rng.randrange(100, 999),
                )
            )
        parent_of = {p: node for node, members in groups for p in members}
    else:
        tree[2] = b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (
            n_pages,
            b" ".join(b"%d 0 R" % p for p in page_nums),
        )
        parent_of = {p: 2 for p in page_nums}
    for i, p in enumerate(page_nums):
        tree[p] = (
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>"
            % (parent_of[p], cont_nums[i])
        )
    streams = {
        cont_nums[i]: _stream_obj(payloads[i]) for i in range(n_pages)
    }
    if rng.random() < 0.5:
        # pack the tree dicts into a FlateDecode ObjStm, no trailer
        header = b" ".join(
            b"%d %d" % (num, off) for num, off in _objstm_offsets(tree)
        )
        bodies = b"".join(tree[num] + b"\n" for num in sorted(tree))
        payload = header + b"\n" + bodies
        comp = zlib.compress(payload)
        objs = dict(streams)
        objs[99] = (
            b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>"
            b"\nstream\n" % (len(tree), len(header) + 1, len(comp))
            + comp
            + b"\nendstream"
        )
        raw = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
        for num in sorted(objs):
            raw += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
        raw += b"startxref\n0\n%%EOF\n"
        return bytes(raw), payloads
    objs = dict(tree) | streams
    raw = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(raw)
        raw += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    raw += b"trailer\n<< /Size 1 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n"
    return bytes(raw), payloads


def test_slicer_property_fuzz():
    """Property fuzz over the supported subset: for every generated
    shape, count_pages is exact, slicing keeps exactly the first
    max_pages payloads byte-identically, drops the rest, and is
    idempotent."""
    import random

    for seed in range(200):
        rng = random.Random(seed)
        n_pages = rng.randrange(1, 12)
        max_pages = rng.randrange(1, 14)
        pdf, payloads = _random_pdf(rng, n_pages)
        assert count_pages(pdf) == n_pages, seed
        sliced = slice_pdf(pdf, max_pages)[0]
        assert sliced is not None, seed
        if n_pages <= max_pages:
            assert sliced == pdf, seed
            continue
        assert count_pages(sliced) == max_pages, seed
        for i, pl in enumerate(payloads):
            if i < max_pages:
                assert pl in sliced, (seed, i)
            else:
                # markers are unique per page; dropped pages must be
                # GC'd (their payloads can collide with kept bytes only
                # via the marker, which is unique)
                assert pl[:9] not in sliced or payloads[i][:9] in [
                    p[:9] for p in payloads[:max_pages]
                ], (seed, i)
        assert slice_pdf(sliced, max_pages)[0] == sliced, seed


def test_real_world_encrypted_pdf_slices(tmp_path):
    """VERDICT r10 #6: a GENUINE third-party document (the GNU
    Libtasn1 manual shipped by the OS image — TeX-produced, 36 pages,
    subsetted fonts; committed at tests/fixtures/libtasn1.pdf) sliced
    through the encrypted path. The committed AES-128 fixture
    (libtasn1-aes128.pdf, regenerable via
    tools/make_real_encrypted_fixture.py) plus in-test RC4-40/128 and
    AES-256 variants must each: (a) be opaque before decryption, (b)
    decrypt + slice to exactly 20 pages with status 'sliced', and (c)
    carry BIT-IDENTICAL decompressed stream payloads (fonts, page
    content, ToUnicode maps) to slicing the plaintext form — the
    strongest available cross-check in a container with no independent
    PDF encryptor (the handler's key derivation is externally
    vector-pinned in test_pdf_crypt.py, so the crypto itself is not
    self-referential)."""
    import hashlib
    import os
    import sys
    import zlib

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_pdf_crypt import _encrypt_pdf

    from x17a5_spark.sources import pdf_mini as M

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    plain = open(os.path.join(fx, "libtasn1.pdf"), "rb").read()
    (objs, root, *_), status = M._parse(plain)
    assert status == "ok"
    flat = M._serialize(objs, root)
    base_slice, base_status = M.slice_pdf(flat, 20)
    assert base_status == "sliced" and count_pages(base_slice) == 20

    def payload_digests(pdf: bytes) -> list[str]:
        sigs = []
        for _num, (_body, data) in sorted(M._scan_objects(pdf).items()):
            if data is None:
                continue
            try:
                payload = zlib.decompress(data)
            except Exception:
                payload = data
            sigs.append(hashlib.md5(payload).hexdigest())
        return sorted(sigs)

    base_digests = payload_digests(base_slice)
    assert len(base_digests) >= 40  # real document: fonts + 20 pages

    committed = open(os.path.join(fx, "libtasn1-aes128.pdf"), "rb").read()
    variants = [("aes-128 (committed fixture)", committed)]
    for label, kw in (
        ("rc4-40", dict(v=1, r=2, length_bits=40)),
        ("rc4-128", dict(v=2, r=3, length_bits=128)),
        ("aes-256-r5", dict(v=5, r=5, length_bits=256)),
    ):
        variants.append((label, _encrypt_pdf(flat, **kw)))

    probe = flat[5000:5100]  # raw third-party bytes, mid-document
    for label, enc in variants:
        assert probe not in enc, f"{label}: fixture is not actually opaque"
        out, st = M.slice_pdf(enc, 20)
        assert st == "sliced", (label, st)
        assert count_pages(out) == 20, label
        assert payload_digests(out) == base_digests, label
