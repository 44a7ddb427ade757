"""Tests for source connectors (S1/S5/S6 + multimodal plumbing) and
incremental anti-join semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from x17a5_spark.sources.fwf import read_fixed_width
from x17a5_spark.sources.multimodal import decode_metadata, extract_features
from x17a5_spark.sources.ocr import OcrSource, StubOcrBackend, quarantine
from x17a5_spark.streaming.incremental import incremental_todo


# ----------------------------------------------------------------- S1
def test_fixed_width_reader(spark, tmp_path):
    def fwf_line(form, company, cik, date, url):
        return (
            form.ljust(12) + company.ljust(62) + cik.ljust(12)
            + date.ljust(12) + url
        )

    lines = [
        fwf_line("X-17A-5", "GOLDMAN SACHS & CO.", "885639", "2020-02-28",
                 "edgar/data/885639/file1.txt"),
        fwf_line("10-K", "SOME OTHER CORP", "123456", "2020-03-15",
                 "edgar/data/123456/file2.txt"),
    ]
    p = tmp_path / "form.idx"
    p.write_text("\n".join(lines) + "\n")
    df = read_fixed_width(spark, str(p))
    rows = {r["cik"]: r for r in df.collect()}
    assert rows["885639"]["form_type"] == "X-17A-5"
    assert rows["885639"]["date_filed"] == "2020-02-28"
    assert rows["123456"]["company_name"] == "SOME OTHER CORP"
    # P1 regex filter on top of the scan
    kept = df.filter(F.col("form_type").rlike("(?i)^x-17a")).count()
    assert kept == 1


# ----------------------------------------------------------------- S6
def test_ocr_source_with_error_ledger(spark):
    docs = spark.createDataFrame(
        [
            ("1", "2020-01-01", b"Cash|100\nTotal assets|100"),
            ("2", "2020-01-01", b"__FAIL__"),
        ],
        "cik string, filing_date string, content binary",
    )
    out = OcrSource(backend_factory=StubOcrBackend).run(docs)
    good, errors = quarantine(out)
    g = good.toPandas().sort_values("row_idx")
    assert list(g.col0) == ["Cash", "Total assets"]
    assert list(g.col1) == ["100", "100"]
    e = errors.collect()
    assert len(e) == 1 and e[0]["cik"] == "2" and "stub OCR failure" in e[0]["error"]


def test_ocr_cell_missing_a_key_is_null_not_a_failed_partition(spark):
    class NoConfidenceBackend(StubOcrBackend):
        def fetch(self, job_id):
            cells = super().fetch(job_id)
            for cell in cells:
                del cell["confidence"]
            return cells

    docs = spark.createDataFrame(
        [("1", "2020-01-01", b"Cash|100\nTotal assets|100")],
        "cik string, filing_date string, content binary",
    )
    good, errors = quarantine(
        OcrSource(backend_factory=NoConfidenceBackend).run(docs)
    )
    rows = sorted(good.collect(), key=lambda r: r["row_idx"])
    assert [r["col0"] for r in rows] == ["Cash", "Total assets"]
    assert [r["col1"] for r in rows] == ["100", "100"]
    assert all(r["confidence"] is None for r in rows)
    assert errors.count() == 0


# --------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark):
    rows = [
        (1, "image", b"IMG|640|480|" + b"\x01\x02\x03" * 10),
        (2, "image", b"\x89PNG not decodable here"),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, kind string, media binary")
    meta = decode_metadata(df).toPandas().set_index("media_id")
    assert meta.loc[1, "width"] == 640 and meta.loc[1, "height"] == 480
    assert meta.loc[1, "error"] is None
    assert "NotImplementedError" in meta.loc[2, "error"]

    feats = extract_features(df).toPandas().set_index("media_id")
    assert len(feats.loc[1, "feature"]) == 8
    assert abs(sum(feats.loc[1, "feature"]) - 1.0) < 1e-9
    # deterministic: same bytes -> same feature
    feats2 = extract_features(df).toPandas().set_index("media_id")
    assert list(feats.loc[1, "feature"]) == list(feats2.loc[1, "feature"])


def _chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_rgb(rows, filter_type=0) -> bytes:
    """Handwritten non-interlaced 8-bit RGB PNG; rows = [[(r,g,b)...]].
    filter_type 0 (None) or 2 (Up) to exercise unfiltering."""
    import struct
    import zlib

    h, w = len(rows), len(rows[0])
    raw = b""
    prev = [0] * (w * 3)
    for row in rows:
        line = [c for px in row for c in px]
        if filter_type == 2:
            filt = [(line[i] - prev[i]) & 0xFF for i in range(len(line))]
        else:
            filt = line
        raw += bytes([filter_type]) + bytes(filt)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_multimodal_real_container_headers(spark):
    import struct

    png = _png_rgb([[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (100, 110, 120)]])
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    jpg = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 480, 640)
        + b"\x03" + b"\x00" * 10
    )
    df = spark.createDataFrame(
        [(1, "image", png), (2, "image", gif), (3, "image", jpg)],
        "media_id bigint, kind string, media binary",
    )
    meta = decode_metadata(df).toPandas().set_index("media_id")
    assert (meta.loc[1, "width"], meta.loc[1, "height"]) == (2, 2)
    assert (meta.loc[2, "width"], meta.loc[2, "height"]) == (320, 200)
    assert (meta.loc[3, "width"], meta.loc[3, "height"]) == (640, 480)
    assert meta["error"].isna().all()


def test_multimodal_png_pixel_stats(spark):
    from x17a5_spark.sources.multimodal import decode_png_pixels, extract_pixel_stats

    rows = [[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (100, 110, 120)]]
    # unfiltering correctness: Up-filtered encoding decodes to the same
    # pixels as the unfiltered one
    for ft in (0, 2):
        w, h, ch, pix = decode_png_pixels(_png_rgb(rows, filter_type=ft))
        assert (w, h, ch) == (2, 2, 3)
        assert list(pix) == [c for row in rows for px in row for c in px]

    df = spark.createDataFrame(
        [(1, "image", _png_rgb(rows, filter_type=2)), (2, "image", b"junk")],
        "media_id bigint, kind string, media binary",
    )
    stats = extract_pixel_stats(df).toPandas().set_index("media_id")
    exp_r = (10 + 40 + 70 + 100) / 4 / 255.0
    assert abs(stats.loc[1, "mean"][0] - exp_r) < 1e-9
    assert stats.loc[1, "channels"] == 3
    assert stats.loc[2, "error"] is not None


def _wav_16bit(rate, channels, frames) -> bytes:
    """Handwritten PCM WAV; frames = [[ch0, ch1...], ...] int16."""
    import struct

    data = b"".join(
        struct.pack("<h", s) for frame in frames for s in frame
    )
    block = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_multimodal_audio_and_video_metadata():
    import struct

    from x17a5_spark.sources.multimodal import decode_mp4_duration, decode_wav

    # 16-bit stereo PCM: the header walk finds fmt and data
    frames = [[16384, -8192]] * 100
    wav = _wav_16bit(8000, 2, frames)
    assert decode_wav(wav) == (8000, 2, 16, 100)

    # minimal MP4: ftyp + moov{mvhd v0: timescale 1000, duration 90500}
    mvhd = b"\x00" * 12 + struct.pack(">II", 1000, 90500) + b"\x00" * 80
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    assert abs(decode_mp4_duration(ftyp + moov) - 90.5) < 1e-12


# -------------------------------------------------------- incremental
def test_incremental_todo_idempotent(spark):
    cand = spark.createDataFrame(
        [("1", "a"), ("2", "b"), ("3", "c")], ["key", "payload"]
    )
    sink = spark.createDataFrame([("1",), ("1",)], ["key"])
    todo = incremental_todo(cand, sink, ["key"])
    assert {r["key"] for r in todo.collect()} == {"2", "3"}
    # idempotence: after "processing", nothing remains
    done = sink.select("key").union(todo.select("key"))
    assert incremental_todo(cand, done, ["key"]).count() == 0
