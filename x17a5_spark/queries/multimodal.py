"""Multimodal-column queries: binary media + typed metadata through the
``mapInPandas`` decode plumbing (sources/multimodal.py), oracle-checked.

The container has no codec libraries, so media blobs are synthesized in
the engine's own fake ``IMG|w|h|payload`` format deterministically from
``documents`` — in BOTH engines — and the decode stage's outputs
(dimensions, byte size, error routing) are therefore closed-form for
the oracle. What the hash match proves: binary columns survive the
Arrow round-trip intact, the mapInPandas schema contract holds, and
bad blobs land in the error channel instead of failing the stage.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from x17a5_spark.queries.dedup import AUG_TWIN_OFFSET, guarded_twin_id
from x17a5_spark.sources.multimodal import decode_metadata, extract_features
from x17a5_spark.tables import load_table


def _fake_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = ((F.col("doc_id") % 16) + 1) * 64
    h = ((F.col("doc_id") % 9) + 1) * 64
    good = F.concat_ws(
        "|", F.lit("IMG"), w.cast("string"), h.cast("string"), F.substring("text", 1, 64)
    )
    # every 13th blob lacks the IMG| header -> must route to error, not fail
    blob = F.when(F.col("doc_id") % 13 == 0, F.substring("text", 1, 32)).otherwise(good)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(blob, "UTF-8").alias("media"),
    )


# M1 — decode/metadata extraction over binary media columns.
def m1_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = decode_metadata(_fake_media(spark, sf_dir))
    return out.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.col("error").isNotNull().alias("failed"),
    )


M1_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE CAST(((doc_id % 16) + 1) * 64 AS INT) END AS width,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE CAST(((doc_id % 9) + 1) * 64 AS INT) END AS height,
       CASE WHEN doc_id % 13 = 0 THEN strlen(substr(text, 1, 32))
            ELSE strlen('IMG|' || CAST(((doc_id % 16) + 1) * 64 AS VARCHAR)
                        || '|' || CAST(((doc_id % 9) + 1) * 64 AS VARCHAR)
                        || '|' || substr(text, 1, 64)) END AS n_bytes,
       doc_id % 13 = 0 AS failed
FROM documents
"""


# M2 — deterministic feature extraction (byte-histogram embedding): the
# mapInPandas batch contract a real vision/audio model would use, with
# the fold-to-dim histogram recomputed closed-form by the oracle over
# the same UTF-8 bytes. unnest+ord in DuckDB == Python byte iteration.
def m2_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(_fake_media(spark, sf_dir), dim=4)
    return feats.select(
        "media_id",
        F.round(F.element_at("feature", 1), 6).alias("f1"),
        F.round(F.element_at("feature", 2), 6).alias("f2"),
        F.round(F.element_at("feature", 3), 6).alias("f3"),
        F.round(F.element_at("feature", 4), 6).alias("f4"),
    )


# The corpus text is ASCII (asserted by the oracle matching at all:
# ord(char) == byte value only then), so DuckDB can re-derive the byte
# histogram with per-character ord() over the same constructed blob.
M2_SQL = """
WITH blobs AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 32)
              ELSE 'IMG|' || CAST(((doc_id % 16) + 1) * 64 AS VARCHAR)
                   || '|' || CAST(((doc_id % 9) + 1) * 64 AS VARCHAR)
                   || '|' || substr(text, 1, 64) END AS s
  FROM documents
),
codes AS (
  SELECT media_id,
         list_transform(range(1, strlen(s) + 1), i -> ord(substr(s, i, 1))) AS cs
  FROM blobs
)
SELECT media_id,
       round(len(list_filter(cs, c -> c % 4 = 0)) / greatest(len(cs), 1), 6) AS f1,
       round(len(list_filter(cs, c -> c % 4 = 1)) / greatest(len(cs), 1), 6) AS f2,
       round(len(list_filter(cs, c -> c % 4 = 2)) / greatest(len(cs), 1), 6) AS f3,
       round(len(list_filter(cs, c -> c % 4 = 3)) / greatest(len(cs), 1), 6) AS f4
FROM codes
"""


# M3 — REAL codec round trip, hash-checked: the kernel zlib-ENCODES a
# constant-color Up-filtered PNG per document (sources/multimodal.py::
# encode_png_constant), the pixel-stats stage zlib-DECODES it through
# the full scanline unfilter, and the oracle derives the expected
# dimensions and per-channel means closed-form from the plant
# parameters — so a hash match proves the entire binary codec path
# (encode -> Arrow round-trip -> inflate -> unfilter -> stats), not a
# stub. Every 13th blob is junk and must route to the error channel.
def m3_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from x17a5_spark.sources.multimodal import (
        encode_png_constant,
        extract_pixel_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        (2 + F.col("doc_id") % 7).cast("int").alias("w"),
        (2 + F.col("doc_id") % 5).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("r"),
        ((F.col("doc_id") * 7) % 256).cast("int").alias("g"),
        ((F.col("doc_id") * 13) % 256).cast("int").alias("b"),
    )

    def enc(batches):
        for pdf in batches:
            medias = [
                b"junk"
                if mid % 13 == 0
                else encode_png_constant(int(w), int(h), (int(r), int(g), int(b)))
                for mid, w, h, r, g, b in zip(
                    pdf["media_id"], pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"]
                )
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": "image", "media": medias}
            )

    media = base.mapInPandas(enc, "media_id bigint, kind string, media binary")
    stats = extract_pixel_stats(media)
    return stats.select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round(F.element_at("mean", 1), 6).alias("mean_r"),
        F.round(F.element_at("mean", 2), 6).alias("mean_g"),
        F.round(F.element_at("mean", 3), 6).alias("mean_b"),
        F.col("error").isNotNull().alias("failed"),
    )


M3_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE CAST(2 + doc_id % 7 AS INT) END AS width,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE CAST(2 + doc_id % 5 AS INT) END AS height,
       CASE WHEN doc_id % 13 = 0 THEN NULL ELSE CAST(3 AS INT) END AS channels,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE round((doc_id % 256) / 255.0, 6) END AS mean_r,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE round(((doc_id * 7) % 256) / 255.0, 6) END AS mean_g,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            ELSE round(((doc_id * 13) % 256) / 255.0, 6) END AS mean_b,
       doc_id % 13 = 0 AS failed
FROM documents
"""


# M4 — video frame sampling over REAL ISO-BMFF containers: the query
# assembles a bit-valid minimal MP4 (ftyp + moov/mvhd, big-endian box
# sizes built with format_string('%08x')+unhex — pure codegen), the
# kernel walks the box tree for the mvhd duration
# (sources/multimodal.py::decode_mp4_duration) and fans out one row per
# sampled timestamp (stride 2 s) — the UDTF shape of a real
# frame-extraction stage, with the pixel decode stubbed (no ffmpeg in
# the container). The oracle re-derives the frame set closed-form from
# the planted duration, so a hash match proves the binary assembly, the
# box walk, the per-media fan-out, and the error routing (every 13th
# blob is not a container and must yield exactly one error row).
M4_STRIDE = 2.0


def m4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from x17a5_spark.sources.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    dur_units = ((F.col("doc_id") % 120) + 5) * 1000  # timescale 1000
    good = F.unhex(
        F.concat(
            # ftyp box: size 16, brand isom, minor version 0
            F.lit("0000001066747970" + "69736f6d" + "00000000"),
            # moov box: size 36 = 8 + mvhd(28)
            F.lit("000000246d6f6f76"),
            # mvhd box: size 28, v0, creation/modification 0, ts 1000
            F.lit("0000001c6d766864" + "00000000" * 3 + "000003e8"),
            F.format_string("%08x", dur_units.cast("int")),
        )
    )
    blob = F.when(
        F.col("doc_id") % 13 == 0, F.encode(F.substring("text", 1, 32), "UTF-8")
    ).otherwise(good)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        blob.alias("media"),
    )
    frames = sample_frames(media, stride_sec=M4_STRIDE)
    return frames.select(
        "media_id",
        "frame_idx",
        "t_sec",
        F.col("error").isNotNull().alias("failed"),
    )


M4_SQL = """
WITH good AS (
  SELECT doc_id AS media_id,
         CAST(unnest(range(0, ((doc_id % 120) + 5) // 2 + 1)) AS INT)
             AS frame_idx
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT media_id, frame_idx, CAST(frame_idx * 2.0 AS DOUBLE) AS t_sec,
       false AS failed
FROM good
UNION ALL
SELECT doc_id AS media_id, NULL AS frame_idx, NULL AS t_sec, true AS failed
FROM documents WHERE doc_id % 13 = 0
"""



# M5 — image patch-grid extraction (ViT-style tiling plumbing): decode
# dimensions from the binary media header (real mapInPandas decode,
# same path as m1) and fan out one row per PATCH_SIZE x PATCH_SIZE
# patch with its pixel offsets — the N-rows-in, (w/p * h/p)-rows-out
# shape the vision-transformer preprocessing stage has. Pixel extraction
# itself needs a codec (stubbed, like m4's frames); the grid geometry,
# fan-out, and error routing are real. The oracle re-derives the grid
# closed-form from the planted dimensions.
M5_PATCH = 32


def m5_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _fake_media(spark, sf_dir)
    # Guide §5: the grid branch and the error branch both read the
    # decode output — un-persisted, the Python decode would round-trip
    # the media blobs TWICE. Persist only the narrow metadata (never the
    # blob — the m6 packed-band discipline: bytes stay out of caches).
    decoded = (
        decode_metadata(media).select("media_id", "width", "height", "error")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    good = decoded.filter(F.col("error").isNull())
    nx = (F.col("width") / M5_PATCH).cast("int")
    grid = good.select(
        "media_id",
        "width",
        "height",
        F.explode(
            F.sequence(F.lit(0), (nx * (F.col("height") / M5_PATCH).cast("int")) - 1)
        ).alias("patch_idx"),
    ).select(
        "media_id",
        "patch_idx",
        ((F.col("patch_idx") % ((F.col("width") / M5_PATCH).cast("int"))) * M5_PATCH)
        .cast("int")
        .alias("x0"),
        (
            F.floor(F.col("patch_idx") / ((F.col("width") / M5_PATCH).cast("int")))
            * M5_PATCH
        )
        .cast("int")
        .alias("y0"),
        F.lit(False).alias("failed"),
    )
    errs = decoded.filter(F.col("error").isNotNull()).select(
        "media_id",
        F.lit(None).cast("int").alias("patch_idx"),
        F.lit(None).cast("int").alias("x0"),
        F.lit(None).cast("int").alias("y0"),
        F.lit(True).alias("failed"),
    )
    return grid.unionByName(errs)


M5_SQL = f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(((doc_id % 16) + 1) * 64 / {M5_PATCH} AS INT) AS nx,
         CAST(((doc_id % 9) + 1) * 64 / {M5_PATCH} AS INT) AS ny
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT media_id,
       CAST(unnest(range(0, nx * ny)) AS INT) AS patch_idx,
       CAST(unnest(range(0, nx * ny)) % nx * {M5_PATCH} AS INT) AS x0,
       CAST(unnest(range(0, nx * ny)) // nx * {M5_PATCH} AS INT) AS y0,
       false AS failed
FROM dims
UNION ALL
SELECT doc_id, NULL, NULL, NULL, true
FROM documents WHERE doc_id % 13 = 0
"""


# ---------------------------------------------------------------------------
# M6 — perceptual-hash (aHash) image dedup: the multimodal arm of the
# dedup family. Real 8-bit grayscale PNGs are synthesized per doc
# (Sub-filtered scanlines — a different unfilter path than m3's Up),
# decoded back through the stdlib codec, average-hashed (bit i set iff
# pixel i > image mean, strict integer compare px*64 > sum so no
# float), and near-duplicate pairs are found by d4's banded-Hamming
# pattern: 4 x 16-bit bands, pigeonhole guarantees hamming <= 3 pairs
# share >= 1 exact band, confirm computes true Hamming on candidates
# only. Planted: one-pixel perturbations (media_id + 4*AUG_TWIN_OFFSET,
# hamming small but > 0) and exact copies (media_id +
# 5*AUG_TWIN_OFFSET, hamming 0; defaults 400000/500000);
# corrupt blobs (doc_id % 13 == 0) decode to NULL and can never pair.
#
# What the hash match proves: the ENTIRE encode -> PNG bytes -> Arrow
# -> stdlib decode -> hash path reproduces the closed-form pixel
# formula the oracle evaluates directly — a bit-exact codec round-trip
# under a downstream analytic, not just a header parse.
#
# Scale: hashing is one Arrow batch pass per image (O(pixels)); the
# band self-join is an equi-join on (band, value) — candidates bounded
# by true collisions, never all-pairs; the Hamming confirm joins only
# candidate ids. The same shape d4 uses for text SimHash.
# ---------------------------------------------------------------------------

M6_W = M6_H = 8
M6_HAM_T = 3  # pigeonhole-complete for 4 bands


def _m6_pixel_expr(doc: str, i: str, perturbed: str) -> str:
    """Closed-form pixel value (SQL spelling), row-major index i.

    md5-derived so every doc's image is DISTINCT noise (a linear
    doc-dependent gradient collapses to 251 equivalence classes and
    floods the hash with accidental near-dups); accidental hamming<=3
    collisions between 64-bit hashes of independent noise are ~never,
    so surviving pairs are exactly the planted ones."""
    return (
        f"(CAST('0x' || md5({doc} || 'px' || {i})[1:8] AS BIGINT)"
        f" + CASE WHEN {perturbed} AND {i} = 0 THEN 128 ELSE 0 END) % 251"
    )


def m6_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from x17a5_spark.sources.multimodal import (
        decode_png_pixels,
        encode_png_gray,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(F.col("doc_id").alias("media_id"),
                       F.col("doc_id").alias("doc"),
                       F.lit(False).alias("perturbed"))
    near = docs.filter(F.col("doc_id") % 6 == 0).select(
        guarded_twin_id(F.col("doc_id"), 4, "m6").alias("media_id"),
        F.col("doc_id").alias("doc"),
        F.lit(True).alias("perturbed"),
    )
    exact = docs.filter(F.col("doc_id") % 9 == 0).select(
        guarded_twin_id(F.col("doc_id"), 5, "m6").alias("media_id"),
        F.col("doc_id").alias("doc"),
        F.lit(False).alias("perturbed"),
    )
    imgs = base.unionByName(near).unionByName(exact)

    def enc(batches):
        import hashlib

        for pdf in batches:
            blobs = []
            for mid, doc, pert in zip(
                pdf["media_id"], pdf["doc"], pdf["perturbed"]
            ):
                if doc % 13 == 0:
                    blobs.append(b"junk")
                    continue
                px = [
                    (
                        int(
                            hashlib.md5(f"{doc}px{i}".encode()).hexdigest()[:8],
                            16,
                        )
                        + (128 if pert and i == 0 else 0)
                    )
                    % 251
                    for i in range(M6_W * M6_H)
                ]
                blobs.append(encode_png_gray(M6_W, M6_H, px))
            yield pd.DataFrame({"media_id": pdf["media_id"], "media": blobs})

    media = imgs.mapInPandas(enc, "media_id bigint, media binary")

    def hash_bits(batches):
        import struct

        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                try:
                    w, h, ch, raw = decode_png_pixels(bytes(blob))
                except (ValueError, NotImplementedError, struct.error):
                    continue  # corrupt blobs can never pair
                px = list(raw)
                total = sum(px)
                bits = [1 if v * len(px) > total else 0 for v in px]
                out.append((mid, bits))
            yield pd.DataFrame(
                {"media_id": [m for m, _ in out], "bits": [b for _, b in out]}
            )

    hashed = media.mapInPandas(hash_bits, "media_id bigint, bits array<int>")
    # Round 13 (the m6 super-linearity, measured under the fresh-JVM
    # protocol): the old shape posexploded |imgs|x64 bit rows, grouped
    # them back into band values (a 41M-row exchange at the 100x lake)
    # and verified Hamming through a |pairs|x64-row join — and the
    # 16-bit band space SATURATES as the corpus grows (~N^2/2^16
    # random band collisions: ~0.5M pairs at 20x -> ~12M at 100x), so
    # the verify moved ~756M rows at 100x (fresh-JVM median 193 s).
    # Identical results from packed arithmetic: the four 16-bit band
    # values fall out of the bits array SCALAR-side (no explode, no
    # exchange), candidates self-join on (band, v) exactly as before,
    # and Hamming = sum of bit_count(xor) over the four packed longs —
    # the |pairs|x64 join collapses to two slim joins + 4 xors per
    # pair. Band saturation itself is inherent to a 64-bit fingerprint
    # at ham<=3 (pigeonhole needs >=4 bands; 16-bit bands are forced):
    # beyond ~10M images the fix is a wider fingerprint (16x16 grid ->
    # 256-bit, 64-bit bands), not different banding of 64 bits.
    def band_val(j: int):
        return sum(
            (
                F.element_at("bits", 16 * j + i + 1).cast("long")
                * F.lit(1 << i).cast("long")
                for i in range(16)
            ),
            F.lit(0).cast("long"),
        )

    # `packed` feeds FOUR plan references (both sides of the band
    # self-join, then pa/pb of the Hamming verify), and with no exchange
    # between the mapInPandas chain and those consumers Spark
    # duplicates the whole Python subtree per reference — un-persisted,
    # the plan holds 16 MapInPandas nodes (8 copies of the
    # encode+decode chain). Persist the 40-byte-per-image packed table
    # so the PNG round-trip runs ONCE per execution (guide §5: reuse
    # justifies the cache; §2.3: every downstream join moves keys +
    # four longs, never bytes).
    packed = (
        hashed.select(
            "media_id", *[band_val(j).alias(f"v{j}") for j in range(4)]
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = packed.select(
        "media_id",
        F.posexplode(F.array(*[F.col(f"v{j}") for j in range(4)])).alias(
            "band", "v"
        ),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .distinct()
    )
    pa = packed.select(
        F.col("media_id").alias("id_a"),
        *[F.col(f"v{j}").alias(f"a{j}") for j in range(4)],
    )
    pb = packed.select(
        F.col("media_id").alias("id_b"),
        *[F.col(f"v{j}").alias(f"b{j}") for j in range(4)],
    )
    ham = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            sum(
                (
                    F.bit_count(
                        F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}"))
                    ).cast("long")
                    for j in range(4)
                ),
                F.lit(0).cast("long"),
            ).alias("hamming"),
        )
    )
    return ham.filter(F.col("hamming") <= M6_HAM_T)


_M6_PX = _m6_pixel_expr("doc", "i", "perturbed")

M6_SQL = f"""
WITH imgs AS (
  SELECT doc_id AS media_id, doc_id AS doc, false AS perturbed FROM documents
  UNION ALL
  SELECT doc_id + {4 * AUG_TWIN_OFFSET}, doc_id, true FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + {5 * AUG_TWIN_OFFSET}, doc_id, false FROM documents WHERE doc_id % 9 = 0
),
ok AS (SELECT * FROM imgs WHERE doc % 13 <> 0),
px AS (
  SELECT media_id, i, {_M6_PX} AS v
  FROM ok CROSS JOIN (SELECT unnest(range(0, {M6_W * M6_H})) AS i)
),
tot AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1),
bits AS (
  SELECT px.media_id, px.i,
         CASE WHEN px.v * {M6_W * M6_H} > t.total THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot t USING (media_id)
),
bands AS (
  SELECT media_id, CAST(i // 16 AS INT) AS band,
         CAST(sum(bit * (1 << (i % 16))) AS BIGINT) AS v
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.v = b.v AND a.media_id < b.media_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
             AS hamming
  FROM cand c
  JOIN bits ba ON ba.media_id = c.id_a
  JOIN bits bb ON bb.media_id = c.id_b AND bb.i = ba.i
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= {M6_HAM_T}
"""


# ---------------------------------------------------------------------------
# M7 — audio frame features over a REAL codec round trip: per doc a
# PCM16-mono WAV is synthesized from closed-form integer samples
# (s_i = ((doc*7 + i*13) % 201) - 100), RIFF-encoded
# (sources/multimodal.py::encode_wav_pcm16), decoded back through the
# chunk-walk + struct unpack, and per-64-sample frames yield RMS and
# peak — the windowed-feature shape a real audio pipeline (VAD,
# loudness normalization) runs. Integer samples make RMS closed-form:
# the oracle evaluates sqrt(sum s_i^2 / 64) from the same formula, so
# a hash match proves encode -> Arrow -> decode -> frame math end to
# end. Every 13th blob is junk and must be dropped (the m6 rule:
# corrupt media can't produce frames).
#
# Scale: one Arrow batch pass per media (O(samples)); the frame
# fan-out is a bounded per-doc explode, features are pure column math.
# ---------------------------------------------------------------------------

M7_N_SAMPLES = 256
M7_FRAME = 64


def m7_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from x17a5_spark.sources.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        import numpy as np

        # Guide §4.2: a per-sample synth as a 256-element Python list
        # comprehension per doc costs ~6M interpreted ops per 25k-doc
        # batch. One numpy expression per doc generates the identical
        # int sequence; the WAV container encode is the operator under
        # test.
        base = np.arange(M7_N_SAMPLES, dtype=np.int64) * 13
        for pdf in batches:
            blobs = []
            for doc in pdf["doc_id"]:
                if doc % 13 == 0:
                    blobs.append(b"junk")
                    continue
                samples = ((doc * 7 + base) % 201) - 100
                blobs.append(encode_wav_pcm16(samples.tolist()))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(enc, "media_id bigint, media binary")

    def frames(batches):
        import struct as _struct

        import numpy as np

        # Guide §4.2: the frame fold (sum of squares over 64 samples
        # per frame) is one reshaped numpy pass per doc, not nested
        # Python loops. The WAV decode is the operator under test. Arithmetic is identical:
        # int64-exact sum of squares, /64.0, sqrt, round-half-even 6 —
        # value-equal to the scalar path (oracle-checked).
        for pdf in batches:
            ids, idxs, rms, peak = [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                try:
                    _rate, samples = decode_wav_samples(bytes(blob))
                except (ValueError, NotImplementedError, _struct.error):
                    continue
                n_fr = len(samples) // M7_FRAME
                if n_fr == 0:
                    continue
                a = np.asarray(
                    samples[: n_fr * M7_FRAME], dtype=np.int64
                ).reshape(n_fr, M7_FRAME)
                ids.extend([mid] * n_fr)
                idxs.extend(range(n_fr))
                # Python round (correctly-rounded), not np.round (scale-
                # multiply, can differ in the last ulp): bit-exact with
                # the old scalar path. Only n_frames values per doc.
                rms.extend(
                    round(v, 6)
                    for v in np.sqrt((a * a).sum(axis=1) / M7_FRAME).tolist()
                )
                peak.extend(np.abs(a).max(axis=1).tolist())
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "rms": rms,
                    "peak": peak,
                }
            )

    return media.mapInPandas(
        frames, "media_id bigint, frame_idx int, rms double, peak int"
    )


M7_SQL = f"""
WITH ok AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 13 <> 0),
sam AS (
  SELECT media_id, i // {M7_FRAME} AS frame_idx,
         ((media_id * 7 + i * 13) % 201) - 100 AS s
  FROM ok CROSS JOIN (SELECT unnest(range(0, {M7_N_SAMPLES})) AS i)
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       round(sqrt(CAST(sum(s * s) AS DOUBLE) / {M7_FRAME}), 6) AS rms,
       CAST(max(abs(s)) AS INT) AS peak
FROM sam GROUP BY 1, 2
"""


QUERIES = {
    "m1_multimodal_decode": m1_multimodal_decode,
    "m2_multimodal_features": m2_multimodal_features,
    "m3_png_pixel_stats": m3_png_pixel_stats,
    "m6_phash_dedup": m6_phash_dedup,
    "m7_audio_frames": m7_audio_frames,
    "m4_frame_sample": m4_frame_sample,
    "m5_patch_grid": m5_patch_grid,
}

ORACLES = {
    "m1_multimodal_decode": M1_SQL,
    "m2_multimodal_features": M2_SQL,
    "m3_png_pixel_stats": M3_SQL,
    "m6_phash_dedup": M6_SQL,
    "m7_audio_frames": M7_SQL,
    "m4_frame_sample": M4_SQL,
    "m5_patch_grid": M5_SQL,
}
