"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for a 100 TB multimodal corpus: media lives as an opaque
`binary` column (or object-store pointer) beside typed metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched Pandas
functions over `mapInPandas`, so Python touches columnar batches, never
rows. Heavy media work is partition-parallel and never collects.

The codec step (`decode_image` / `resize_image`) decodes REAL pixels for
PPM P6, 24-bit BMP, zlib-compressed PNG, and JPEG in both Huffman
profiles — baseline-sequential AND progressive (SOF2, r10) — via the
dependency-free codecs in functions/imaging.py + functions/jpeg.py;
formats genuinely needing an external codec
(WebP, ...) use PIL when the environment provides it and
raise a clearly marked NotImplementedError otherwise (this container has
no codec libraries). A
deterministic fake feature extractor keeps the Spark-side plumbing — schema,
batch shape, partitioning — real and testable either way. Here the payload
is the utf-8 encoding of `documents.text`, standing in for image bytes;
`mm_image_decode` generates genuine PPM/BMP/PNG/JPEG payloads instead and
decodes them pixel-for-pixel (the JPEG fixture is block-constant gray, the
shape whose unit-quant round-trip is EXACT, so the oracle stays closed-form).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..data import load_table, shielded_sort
from ..functions import imaging

try:  # codec boundary: PIL is optional — kernels degrade to explicit stubs
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # pragma: no cover - env-dependent
    _PILImage = None

N_FEATURE_BINS = 8


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata columns."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


def decode_image(payload_bytes: bytes) -> tuple[str, int, int, bytes]:
    """Decode an image payload to (format, width, height, row-major RGB).

    PPM P6, 24-bit BMP, PNG, and baseline/progressive JPEG decode
    natively — REAL
    header parsing, entropy decode, and pixel extraction, no dependency
    (functions/imaging.py + functions/jpeg.py). Remaining compressed
    formats use PIL when the environment provides it; otherwise raise the
    documented codec-boundary stub error. The Spark-side plumbing
    (schema/batching) is identical either way."""
    if imaging.sniff_format(payload_bytes) is not None:
        return imaging.decode_any(payload_bytes)
    if _PILImage is None:
        raise NotImplementedError(
            "lossy-VP8 WebP (and other exotic-codec) decode requires a codec "
            "library (e.g. PIL); PPM/BMP/PNG/JPEG (both profiles)/GIF/"
            "WebP-lossless decode natively"
        )
    import io

    img = _PILImage.open(io.BytesIO(payload_bytes)).convert("RGB")
    return (
        (img.format or "unknown").lower(),
        img.width,
        img.height,
        img.tobytes(),
    )


_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def extract_binary_meta(df: DataFrame) -> DataFrame:
    """mapInPandas over the binary column: per-batch metadata extraction.
    (The shape every real decode kernel follows: Iterator[pd.DataFrame] →
    Iterator[pd.DataFrame], schema declared up front.)"""

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL-safe: encode(NULL)->NULL payload must yield NULL n_bytes
            # (the oracle's strlen(NULL)), not a TypeError
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(
                        [None if p is None else len(p) for p in pdf["payload"]],
                        dtype="Int64",
                    ),
                }
            )

    return df.mapInPandas(meta, schema=_META_SCHEMA)


_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(IntegerType())),
    ]
)


def extract_fake_features(df: DataFrame) -> DataFrame:
    """Deterministic fake feature extractor (byte-value histogram, 8 bins) —
    the stand-in for an image-embedding kernel; same mapInPandas shape."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                if payload is None:
                    # NULL payload -> NULL feature vector (oracle: any list
                    # expression over strlen(NULL) is NULL)
                    out.append(None)
                    continue
                hist = [0] * N_FEATURE_BINS
                for byte in payload:
                    hist[byte % N_FEATURE_BINS] += 1
                out.append(hist)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": out})

    return df.mapInPandas(feats, schema=_FEAT_SCHEMA)


def resize_image(payload_bytes: bytes, width: int, height: int) -> bytes:
    """Resize an image payload (bytes in, bytes out — the contract a
    mapInPandas kernel shaped like `extract_binary_meta` applies per batch).
    PPM/BMP payloads resize natively (nearest-neighbor over real decoded
    pixels, re-encoded in the same container format); compressed formats
    use PIL when available, else the documented stub error."""
    fmt = imaging.sniff_format(payload_bytes)
    if fmt is not None:
        _, w, h, pixels = imaging.decode_any(payload_bytes)
        return imaging.encode(
            fmt, width, height, imaging.resize_nearest(w, h, pixels, width, height)
        )
    if _PILImage is None:
        raise NotImplementedError(
            "lossy-VP8 WebP (and other exotic-codec) resize requires a codec "
            "library (e.g. PIL); PPM/BMP/PNG/JPEG (both profiles)/GIF/"
            "WebP-lossless resize natively"
        )
    import io

    img = _PILImage.open(io.BytesIO(payload_bytes))
    out = io.BytesIO()
    img.resize((width, height)).save(out, format=img.format or "PNG")
    return out.getvalue()


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
    ]
)


def sample_frames(df: DataFrame, stride: int = 4, frame_size: int = 32) -> DataFrame:
    """Frame sampling over an opaque video payload — deterministic fake
    decoder: the payload is treated as a concatenation of fixed-size
    "frames"; every `stride`-th frame is emitted as (doc_id, frame_idx,
    frame_bytes). One input row fans out to many output rows — the
    mapInPandas shape for any 1->N media kernel (a real decoder swaps the
    byte-slicing for codec calls; partitioning, batching, and schema stay)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, sizes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # NULL payload -> no frames (oracle: unnest over a NULL
                    # range emits zero rows), not a TypeError
                    continue
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, stride):
                    chunk = payload[fi * frame_size : (fi + 1) * frame_size]
                    doc_ids.append(doc_id)
                    idxs.append(fi)
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": doc_ids, "frame_idx": idxs, "frame_bytes": sizes}
            )

    return df.mapInPandas(frames, schema=_FRAME_SCHEMA)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over the fake video payloads; oracle replays
    the arithmetic (frame boundaries/strides) on the text length."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return shielded_sort(sample_frames(docs.select("doc_id", "payload")), "doc_id", "frame_idx")


MM_FRAME_SAMPLE_SQL = """
WITH f AS (
  SELECT doc_id, strlen(text) AS n,
         unnest(range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT), 4)) AS frame_idx
  FROM documents
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(LEAST(32, n - frame_idx * 32) AS BIGINT) AS frame_bytes
FROM f
ORDER BY doc_id, frame_idx
"""


# ------------------------------------------------- scene cuts (staged r14)
# Shot/scene-boundary detection — the standard video-curation primitive
# (a training pipeline samples per SCENE, not per fixed stride, so one
# static shot doesn't flood the batch): per-frame intensity feature,
# consecutive-frame absolute difference, threshold -> cut, cuts ->
# scenes by running-sum numbering. The decode stays the deterministic
# fake frame kernel (mm_frame_sample's contract: payload = fixed-size
# byte frames; a real decoder swaps byte slicing for codec calls —
# partitioning, batch shape, and everything downstream of the feature
# column are production-real), so the DuckDB oracle replays the feature
# closed-form from the ASCII text. Intensity is an exact BIGINT byte
# sum — no float anywhere, the bitwise-gate discipline.
SCENE_FRAME_BYTES = 32
SCENE_CUT_MIN_DIFF = 120  # |Δ intensity| strictly above -> cut


_SCENE_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("intensity", LongType()),
    ]
)


def frame_intensities(df: DataFrame, frame_size: int = SCENE_FRAME_BYTES) -> DataFrame:
    """(doc_id, frame_idx, intensity): per-frame exact byte-sum feature
    over every frame (stride 1 — boundary detection needs adjacency).
    Same Arrow mapInPandas 1->N kernel shape as sample_frames."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, vals = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # NULL payload -> no frames (the oracle's
                    # range-over-NULL contract, as in sample_frames)
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for fi in range(n_frames):
                    chunk = payload[fi * frame_size : (fi + 1) * frame_size]
                    doc_ids.append(doc_id)
                    idxs.append(fi)
                    vals.append(sum(chunk))
            yield pd.DataFrame(
                {"doc_id": doc_ids, "frame_idx": idxs, "intensity": vals}
            )

    return df.mapInPandas(feats, schema=_SCENE_FEAT_SCHEMA)


def scene_cuts(feats: DataFrame, min_diff: int = SCENE_CUT_MIN_DIFF) -> DataFrame:
    """(doc_id, scene_idx, start_frame, n_frames, sum_intensity) from a
    per-frame feature table: lag-diff per doc, threshold, running-sum
    scene numbering, per-scene rollup. All windows PARTITION BY doc_id
    (loader-sized at any corpus scale — never global); the rollup is one
    map-side-combinable aggregate on (doc_id, scene)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    cut = F.when(
        F.lag("intensity").over(w).isNull()
        | (
            F.abs(F.col("intensity") - F.lag("intensity").over(w))
            > F.lit(min_diff)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    scened = feats.withColumn("cut", cut).withColumn(
        "scene", F.sum("cut").over(wrun) - F.lit(1)
    )
    return (
        scened.groupBy("doc_id", F.col("scene").alias("scene_idx"))
        .agg(
            F.min("frame_idx").cast("int").alias("start_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("intensity").alias("sum_intensity"),
        )
        .select(
            "doc_id",
            F.col("scene_idx").cast("int").alias("scene_idx"),
            "start_frame",
            "n_frames",
            "sum_intensity",
        )
        .orderBy("doc_id", "scene_idx")
    )


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r14 (gates r15): scene segmentation over the fake video
    payloads — per-scene (start frame, length, total intensity), the
    per-scene sampling index a video curation pass reads instead of
    mm_frame_sample's blind stride."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return scene_cuts(frame_intensities(docs.select("doc_id", "payload")))


def _scene_cuts_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_scene_cuts_oracle_agrees_cross_engine; registers r15): replays
    the byte-sum feature closed-form from the ASCII text (the
    mm_fake_features unicode() model), then the same lag/threshold/
    running-sum arithmetic."""
    fs = SCENE_FRAME_BYTES
    return f"""
WITH f AS (
  SELECT doc_id, text, strlen(text) AS n,
         unnest(range(0, CAST(ceil(strlen(text) / {fs}.0) AS BIGINT))) AS fi
  FROM documents
),
i AS (
  SELECT doc_id, fi,
         CAST(list_sum(list_transform(
           range(fi * {fs} + 1, LEAST((fi + 1) * {fs}, n) + 1),
           __p -> unicode(substr(text, __p, 1)))) AS BIGINT) AS intensity
  FROM f
),
d AS (
  SELECT *, intensity - LAG(intensity) OVER (
    PARTITION BY doc_id ORDER BY fi) AS diff
  FROM i
),
c AS (
  SELECT *, CASE WHEN diff IS NULL OR ABS(diff) > {SCENE_CUT_MIN_DIFF}
                 THEN 1 ELSE 0 END AS cut
  FROM d
),
s AS (
  SELECT *, SUM(cut) OVER (PARTITION BY doc_id ORDER BY fi
                           ROWS UNBOUNDED PRECEDING) - 1 AS scene
  FROM c
)
SELECT doc_id, CAST(scene AS INT) AS scene_idx,
       CAST(MIN(fi) AS INT) AS start_frame,
       COUNT(*) AS n_frames,
       CAST(SUM(intensity) AS BIGINT) AS sum_intensity
FROM s
GROUP BY doc_id, scene
ORDER BY doc_id, scene_idx
"""


# Deterministic image fixtures: an 8x6 RGB image per document whose flat
# pixel byte i is (doc_id * 31 + i) % 256 — generated Spark-side into REAL
# container bytes (PPM for most docs, 24-bit BMP for every third), so the
# decode kernel exercises genuine header parsing + channel/row-order
# unpacking, while the DuckDB oracle replays the generative formula
# closed-form without needing a decoder.
IMG_W, IMG_H = 8, 6


def _fixture_pixels(doc_id: int) -> bytes:
    return bytes((doc_id * 31 + i) % 256 for i in range(IMG_W * IMG_H * 3))


_IMG_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def with_image_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real encoded image bytes per document."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                fmt = ("bmp", "ppm", "png")[doc_id % 3]
                payloads.append(
                    imaging.encode(fmt, IMG_W, IMG_H, _fixture_pixels(doc_id))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema=_IMG_PAYLOAD_SCHEMA)


# the JPEG decode fixture: block-constant gray pixels. The DCT of a constant
# block is DC-only, so with unit quantisation tables the encode->decode
# round-trip is EXACT (functions/jpeg.py) and the oracle replays the pixel
# formula closed-form despite the codec being lossy in general. 16x14 gives
# 4 MCUs (DC prediction across blocks) and a partial bottom block row
# (MCU padding/crop under test).
JPEG_W, JPEG_H = 16, 14


def _jpeg_fixture_pixels(doc_id: int) -> bytes:
    out = bytearray()
    for y in range(JPEG_H):
        for x in range(JPEG_W):
            v = (doc_id * 31 + (y // 8) * 2 + (x // 8)) % 256
            out += bytes((v, v, v))
    return bytes(out)


def _gif_fixture_pixels(doc_id: int) -> bytes:
    """Gray per-PIXEL gradient: pixel p = ((doc_id*31 + p) % 256,)*3 —
    ≤256 distinct colors by construction (GIF is palettized), and the
    decoded buffer is a closed-form function of (doc_id, p)."""
    out = bytearray()
    for p in range(IMG_W * IMG_H):
        v = (doc_id * 31 + p) % 256
        out += bytes((v, v, v))
    return bytes(out)


def with_decode_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): 7-format fixture for the decode query — the
    with_image_payload trio plus a baseline-JPEG class, (r10) a
    PROGRESSIVE-JPEG class (both grayscale block-constant — see JPEG_W
    above for why that shape is oracle-exact; the progressive payload
    exercises the full SOF2 scan script: successive approximation,
    spectral bands, EOB runs, refinement), (r11) a GIF class —
    palettized gray gradient through the full LZW entropy decode
    (functions/gif.py) — and (r12) a WebP-lossless class: the gradient
    pixels through the VP8L decode (functions/webp.py), alternating the
    encoder's two profiles per doc so BOTH the color-indexing-transform
    path and the subtract-green + color-cache + LZ77 path sit under the
    value gate (lossless either way, so the oracle formula is shared
    with the PPM/BMP/PNG trio)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jpeg import encode_jpeg_baseline, encode_jpeg_progressive
        from ..functions.webp import encode_webp

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                which = doc_id % 7
                if which in (3, 4):
                    enc = encode_jpeg_baseline if which == 3 else encode_jpeg_progressive
                    payloads.append(
                        enc(
                            JPEG_W,
                            JPEG_H,
                            _jpeg_fixture_pixels(doc_id),
                            grayscale=True,
                        )
                    )
                elif which == 5:
                    payloads.append(
                        imaging.encode(
                            "gif", IMG_W, IMG_H, _gif_fixture_pixels(doc_id)
                        )
                    )
                elif which == 6:
                    mode = "palette" if doc_id % 2 == 0 else "truecolor"
                    payloads.append(
                        encode_webp(
                            IMG_W, IMG_H, _fixture_pixels(doc_id), mode=mode
                        )
                    )
                else:
                    fmt = ("bmp", "ppm", "png")[which]
                    payloads.append(
                        imaging.encode(fmt, IMG_W, IMG_H, _fixture_pixels(doc_id))
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    # r12: the spread decision REVERSED with measurement. Through r11 the
    # kernel carried ~0.6 s of codec work at sf0.1 and a forced shuffle
    # cost more than it spread (2.4 -> 3.0 s, the negative result this
    # comment used to record). The 7-class fixture roughly TRIPLED the
    # per-pass codec work (WebP/VP8L encode joins JPEG/GIF), and the same
    # interleaved A/B now measures 4.9 -> 1.35 s in favor of spreading
    # the doc_id-only projection (8 bytes/row) across the cores — the
    # with_resize_payload discipline. On a many-file cluster scan the
    # repartition stays a cheap no-op-ish exchange over ids.
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.select("doc_id").repartition(par).mapInPandas(
        gen, schema=_IMG_PAYLOAD_SCHEMA
    )


_IMG_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def extract_image_features(df: DataFrame) -> DataFrame:
    """Real image decode as a mapInPandas kernel: per payload, parse the
    container (PPM or BMP — format sniffed from magic bytes), then compute
    per-channel pixel sums over the decoded RGB buffer. This is the decode
    stage of a multimodal featurization pipeline with the embedding model
    swapped for integer-exact channel statistics (oracle-checkable)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # NULL payload decodes to no row
                try:
                    fmt, w, h, pixels = decode_image(bytes(payload))
                except (imaging.ImageFormatError, NotImplementedError):
                    continue  # corrupt or codec-less payload: quarantine-
                    # drop, never a job-killing exception (the codecs
                    # promise the typed error for ANY malformed byte
                    # stream — fuzz-pinned by
                    # test_decode_kernel_survives_fuzzed_payloads; the
                    # gate's fixed row count catches silent over-dropping;
                    # NotImplementedError is the documented WebP-without-
                    # PIL boundary — at crawl scale an undecodable blob is
                    # a quarantine row, not a job death)
                px = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
                sums = px.reshape(-1, 3).sum(axis=0)
                rows.append((doc_id, fmt, w, h, *map(int, sums)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _IMG_FEAT_SCHEMA.fields]
            )

    return df.mapInPandas(feats, schema=_IMG_FEAT_SCHEMA)


def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real PPM/BMP/PNG/JPEG bytes per document, then DECODE them —
    header parse, BMP bottom-up row + BGR channel unpacking, PPM grammar,
    for PNG a full COMPRESSED decode (chunk CRCs, stdlib-zlib inflate, all
    five scanline filters — the fixture encoder cycles them per row), and
    for JPEG a full entropy decode (DHT Huffman tables, DC prediction,
    dequant, IDCT, MCU crop) in BOTH profiles — one baseline-sequential
    class and one progressive class (SOF2 successive-approximation +
    spectral-selection scan script, r10) — and for GIF (r11, the sixth
    class) a full LZW decode (variable code width, dictionary resets,
    sub-block stream, palette lookup), and for WebP lossless (r12, the
    seventh class) a full VP8L decode — canonical prefix codes, the
    color-indexing transform with delta-coded palette on even docs, the
    subtract-green transform + color cache + LZ77 backward references on
    odd docs (functions/webp.py) — and emit per-channel pixel
    sums. The oracle never decodes: it replays the generative pixel
    formulas arithmetically (the JPEG classes are block-constant gray,
    the shape whose unit-quant round-trip is exact; the GIF class is a
    palettized gray gradient; the WebP class is lossless over the same
    gradient as the uncompressed trio), so any decoder defect (row order,
    channel order, padding, filter math, Huffman/LZW/IDCT/VP8L math,
    header arithmetic) breaks the match."""
    docs = load_table(spark, sf_dir, "documents")
    return shielded_sort(extract_image_features(with_decode_payload(docs)), "doc_id")


def _image_decode_sql() -> str:
    def ch_sum(c: int) -> str:
        return (
            "CAST(list_sum(list_transform(list_filter("
            f"range(0, {IMG_W * IMG_H * 3}), __i -> __i % 3 = {c}), "
            "__i -> (doc_id * 31 + __i) % 256)) AS BIGINT)"
        )

    # gray block-constant: every channel sums the same per-pixel value
    # v(x,y) = (doc_id*31 + (y//8)*2 + (x//8)) % 256 over the 16x14 grid
    jpeg_sum = (
        f"CAST(list_sum(list_transform(range(0, {JPEG_W * JPEG_H}), "
        f"__i -> (doc_id * 31 + ((__i // {JPEG_W}) // 8) * 2 "
        f"+ ((__i % {JPEG_W}) // 8)) % 256)) AS BIGINT)"
    )
    # the GIF class (r11) is a gray per-PIXEL gradient: pixel p carries
    # (doc_id*31 + p) % 256 on every channel
    gif_sum = (
        f"CAST(list_sum(list_transform(range(0, {IMG_W * IMG_H}), "
        f"__p -> (doc_id * 31 + __p) % 256)) AS BIGINT)"
    )

    def pick(c: int) -> str:
        # the WebP class (r12, doc_id%7=6) is LOSSLESS over the same
        # gradient as the PPM/BMP/PNG trio, so it shares ch_sum
        return (
            f"CASE WHEN doc_id % 7 IN (3, 4) THEN {jpeg_sum} "
            f"WHEN doc_id % 7 = 5 THEN {gif_sum} "
            f"ELSE {ch_sum(c)} END"
        )

    return f"""
SELECT doc_id,
       CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                       WHEN 2 THEN 'png' WHEN 5 THEN 'gif'
                       WHEN 6 THEN 'webp'
                       ELSE 'jpeg' END AS fmt,
       CAST(CASE WHEN doc_id % 7 IN (3, 4) THEN {JPEG_W} ELSE {IMG_W} END AS INT) AS width,
       CAST(CASE WHEN doc_id % 7 IN (3, 4) THEN {JPEG_H} ELSE {IMG_H} END AS INT) AS height,
       {pick(0)} AS sum_r,
       {pick(1)} AS sum_g,
       {pick(2)} AS sum_b
FROM documents ORDER BY doc_id
"""


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata via the Pandas path, joined with the JVM-side
    digest — proves the multimodal plumbing end-to-end and is oracle-checked
    against byte-length/sha256 of the source text."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    meta = extract_binary_meta(docs.select("doc_id", "payload"))
    digests = docs.select("doc_id", "payload_sha256")
    return shielded_sort(
        meta.join(digests, "doc_id").select(
            "doc_id", "n_bytes", "payload_sha256"
        ),
        "doc_id",
    )


MM_BINARY_META_SQL = """
SELECT doc_id, strlen(text)::BIGINT AS n_bytes, sha256(text) AS payload_sha256
FROM documents ORDER BY doc_id
"""


def mm_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake feature extraction over binary payloads. Oracle-checked: the
    corpus is ASCII, so the byte histogram equals a codepoint histogram the
    DuckDB oracle can replay. The GATED projection serializes the feature
    vector to JSON text — the gate's row canonicalizer cannot sort array
    cells (the same harness limit that hit geo's coordinates in r1); the
    array contract itself stays on extract_fake_features and its pytest."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    feats = extract_fake_features(docs.select("doc_id", "payload"))
    return shielded_sort(
        feats.select(
            "doc_id", F.to_json(F.col("features")).alias("features_json")
        ),
        "doc_id",
    )


def _fake_features_sql() -> str:
    bins = " || ',' || ".join(
        "CAST(len(list_filter(range(1, strlen(text)+1), "
        f"__i -> (unicode(substr(text, __i, 1)) % {N_FEATURE_BINS}) = {b})) AS VARCHAR)"
        for b in range(N_FEATURE_BINS)
    )
    return (
        f"SELECT doc_id, '[' || {bins} || ']' AS features_json "
        "FROM documents ORDER BY doc_id"
    )


# ----------------------------------------------------------------- audio
# Same design as the image fixture: REAL RIFF/WAV container bytes are
# generated per document (mono for most docs, stereo every fourth — so the
# decode kernel exercises genuine chunk walking + interleaved-channel
# unpacking), while the DuckDB oracle replays the generative sample
# formula closed-form without needing a decoder. Any decoder defect
# (chunk offsets, word alignment, channel de-interleave, sign handling)
# breaks the match.
AUDIO_N_TOTAL = 64  # interleaved int16 samples per payload


def _fixture_sample(doc_id: int, j: int) -> int:
    return ((doc_id * 17 + j * 7) % 4096) - 2048


def _audio_params(doc_id: int) -> tuple[int, int]:
    """(sample_rate, n_channels) for the fixture payload of doc_id."""
    return 8000 + (doc_id % 3) * 4000, 2 if doc_id % 4 == 0 else 1


def with_audio_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real encoded WAV bytes per document."""
    import struct

    from ..functions import audio

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                rate, n_ch = _audio_params(doc_id)
                raw = struct.pack(
                    f"<{AUDIO_N_TOTAL}h",
                    *[_fixture_sample(doc_id, j) for j in range(AUDIO_N_TOTAL)],
                )
                payloads.append(audio.encode_wav(rate, n_ch, raw))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema=_IMG_PAYLOAD_SCHEMA)


_AUDIO_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_us", LongType()),
        StructField("amp_sum", LongType()),
        StructField("zcr_ch0", IntegerType()),
    ]
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Real WAV decode as a mapInPandas kernel: per payload, walk the RIFF
    chunks, validate 16-bit PCM, de-interleave, then compute integer-exact
    signal statistics — frame count, duration (µs, integer division),
    total sample sum, and channel-0 zero crossings (the classic cheap
    audio features a curation pipeline gates on). This is the decode stage
    of an audio featurization pipeline with the embedding model swapped
    for oracle-checkable arithmetic."""
    from ..functions import audio

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # NULL payload decodes to no row
                rate, n_ch, raw = audio.decode_wav(bytes(payload))
                vals = audio.samples_to_ints(raw)
                n_frames = len(vals) // n_ch
                ch0 = vals[::n_ch]
                zcr = sum(
                    1
                    for a, b in zip(ch0, ch0[1:])
                    if (a < 0) != (b < 0)
                )
                rows.append(
                    (
                        doc_id,
                        rate,
                        n_ch,
                        n_frames,
                        n_frames * 1_000_000 // rate,
                        sum(vals),
                        zcr,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _AUDIO_FEAT_SCHEMA.fields]
            )

    return df.mapInPandas(feats, schema=_AUDIO_FEAT_SCHEMA)


def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real RIFF/WAV bytes per document, then DECODE them — chunk
    walk, PCM validation, interleaved-channel unpack — and emit
    integer-exact signal statistics. The oracle never decodes: it replays
    the generative sample formula arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    return shielded_sort(extract_audio_features(with_audio_payload(docs)), "doc_id")


def _audio_decode_sql() -> str:
    samp = "((doc_id * 17 + {j} * 7) % 4096) - 2048"
    s_j = samp.format(j="__j")
    s_prev = samp.format(j="((__k - 1) * n_ch)")
    s_cur = samp.format(j="(__k * n_ch)")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
         CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT) AS n_ch
  FROM documents
)
SELECT doc_id,
       rate AS sample_rate,
       n_ch AS n_channels,
       CAST({AUDIO_N_TOTAL} // n_ch AS INT) AS n_frames,
       CAST(({AUDIO_N_TOTAL} // n_ch) * 1000000 // rate AS BIGINT) AS duration_us,
       CAST(list_sum(list_transform(range(0, {AUDIO_N_TOTAL}),
            __j -> {s_j})) AS BIGINT) AS amp_sum,
       CAST(list_sum(list_transform(range(1, {AUDIO_N_TOTAL} // n_ch),
            __k -> CASE WHEN (({s_prev}) < 0) != (({s_cur}) < 0)
                        THEN 1 ELSE 0 END)) AS INT) AS zcr_ch0
FROM base ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Audio perceptual fingerprint — the time-domain analog of the image dHash
# (the Haitsma-Kalman 2002 family's core move — sign of energy GRADIENTS —
# applied to channel-0 sample gradients, which needs no FFT and stays
# integer-exact): bit k set iff ch0[k+1] > ch0[k], first AFP_NBITS
# comparisons, zero-padded when the clip is shorter. Invariant to DC offset
# and (sign-preserving) gain, robust to small additive noise on
# decent-slope signals; near-dup pairs reuse the image phash's Hamming
# band machinery verbatim (`phash_neardup_pairs(fps, col="afp")`).
AFP_NBITS = 56  # positive-BIGINT convention shared with dhash56/simhash


def afp56(ch0: list[int]) -> int:
    """56-bit sign-of-gradient fingerprint of a channel-0 sample list."""
    fp = 0
    for k in range(min(AFP_NBITS, len(ch0) - 1)):
        if ch0[k + 1] > ch0[k]:
            fp |= 1 << k
    return fp


_AFP_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("afp", LongType())]
)


def extract_audio_fingerprint(df: DataFrame) -> DataFrame:
    """(doc_id, afp) from (doc_id, payload) — real WAV decode +
    de-interleave + gradient fingerprint. NULL payloads yield no row."""
    from ..functions import audio

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                _rate, n_ch, raw = audio.decode_wav(bytes(payload))
                ch0 = audio.samples_to_ints(raw)[::n_ch]
                rows.append((doc_id, afp56(ch0)))
            yield pd.DataFrame(rows, columns=["doc_id", "afp"])

    return df.mapInPandas(feats, schema=_AFP_SCHEMA)


def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: real WAV payloads decoded to channel-0 gradients.
    The oracle replays the generative sample formula (mono docs get 56
    comparisons, stereo docs 31 — channel count changes the ch0 stride,
    so a de-interleave defect breaks the match)."""
    docs = load_table(spark, sf_dir, "documents")
    return shielded_sort(extract_audio_fingerprint(with_audio_payload(docs)), "doc_id")


def _audio_fingerprint_sql() -> str:
    samp = "((doc_id * 17 + {j} * 7) % 4096) - 2048"
    s_next = samp.format(j="((__k + 1) * n_ch)")
    s_cur = samp.format(j="(__k * n_ch)")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT) AS n_ch
  FROM documents
)
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(
            range(0, LEAST({AFP_NBITS}, {AUDIO_N_TOTAL} // n_ch - 1)),
            __k -> CASE WHEN ({s_next}) > ({s_cur})
                        THEN (1::BIGINT << __k) ELSE 0::BIGINT END)), 0)
            AS BIGINT) AS afp
FROM base ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Perceptual image hashing (dHash/aHash) + Hamming-banded near-dup pairs —
# the multimodal dedup operator a training-data pipeline actually runs
# (near-identical images survive exact-byte dedup: re-encodes, crops of
# padding, minor edits). Made honest by the REAL pixel decoders
# (functions/imaging.py): fingerprints are computed from decoded RGB, so a
# decoder defect (row order, channel order, padding) changes the hash and
# breaks the oracle match. 56-bit fingerprints (7 rows x 8 comparisons)
# keep every value a positive BIGINT in both engines (the dedup_simhash
# 60-bit convention).
PHASH_ROWS = 7  # sample rows
PHASH_BITS_PER_ROW = 8  # comparisons per row (dHash samples 9 columns)
PHASH_NBITS = PHASH_ROWS * PHASH_BITS_PER_ROW  # 56


def _phash_grid_coords(nx: int, w: int, h: int) -> list[tuple[int, int]]:
    """Row-major (pixel_x, pixel_y) nearest-neighbor sample coordinates for
    an nx x PHASH_ROWS grid — shared by the kernel and the oracle SQL
    generator so both sample identical pixels."""
    return [
        (x * w // nx, y * h // PHASH_ROWS)
        for y in range(PHASH_ROWS)
        for x in range(nx)
    ]


def _luma_samples(px: bytes, w: int, h: int, nx: int) -> list[int]:
    """Integer luma (r+g+b) at each grid sample of a decoded RGB buffer."""
    out = []
    for sx, sy in _phash_grid_coords(nx, w, h):
        i = (sy * w + sx) * 3
        out.append(px[i] + px[i + 1] + px[i + 2])
    return out


def dhash56(px: bytes, w: int, h: int) -> int:
    """Difference hash: 9-column x 7-row luma grid; bit p=(y*8+x) set iff
    luma(x+1,y) > luma(x,y) — the horizontal-gradient signature, invariant
    to global brightness shifts."""
    nx = PHASH_BITS_PER_ROW + 1
    lum = _luma_samples(px, w, h, nx)
    fp = 0
    for y in range(PHASH_ROWS):
        for x in range(PHASH_BITS_PER_ROW):
            if lum[y * nx + x + 1] > lum[y * nx + x]:
                fp |= 1 << (y * PHASH_BITS_PER_ROW + x)
    return fp


def ahash56(px: bytes, w: int, h: int) -> int:
    """Average hash: 8x7 luma grid; bit p set iff luma(p) > truncated
    integer mean over the grid."""
    lum = _luma_samples(px, w, h, PHASH_BITS_PER_ROW)
    mean = sum(lum) // PHASH_NBITS
    fp = 0
    for p, v in enumerate(lum):
        if v > mean:
            fp |= 1 << p
    return fp


_PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
        StructField("ahash", LongType()),
    ]
)


def extract_image_phash(df: DataFrame) -> DataFrame:
    """(doc_id, dhash, ahash) from (doc_id, payload) — Arrow-batched decode
    + fingerprint kernel. NULL payloads yield no row (the decode-quarantine
    contract)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                _fmt, w, h, px = decode_image(bytes(payload))
                rows.append((doc_id, dhash56(px, w, h), ahash56(px, w, h)))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash", "ahash"])

    return df.mapInPandas(feats, schema=_PHASH_SCHEMA)


def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: generate real PPM/BMP/PNG payloads per document, decode
    them, emit both perceptual fingerprints. The oracle replays the
    generative pixel formula closed-form (grid coordinates precomputed at
    SQL-build time), never touching a decoder — so container parsing,
    channel order, row order AND the sampling arithmetic are all under
    test."""
    docs = load_table(spark, sf_dir, "documents")
    return shielded_sort(extract_image_phash(with_image_payload(docs)), "doc_id")


def _image_phash_sql() -> str:
    def luma(sx: int, sy: int) -> str:
        base = (sy * IMG_W + sx) * 3
        return "(" + " + ".join(
            f"((doc_id * 31 + {base + c}) % 256)" for c in range(3)
        ) + ")"

    nx = PHASH_BITS_PER_ROW + 1
    dcoords = _phash_grid_coords(nx, IMG_W, IMG_H)
    dterms = []
    for y in range(PHASH_ROWS):
        for x in range(PHASH_BITS_PER_ROW):
            a = dcoords[y * nx + x]
            b = dcoords[y * nx + x + 1]
            p = y * PHASH_BITS_PER_ROW + x
            dterms.append(
                f"CASE WHEN {luma(*b)} > {luma(*a)} THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
            )
    acoords = _phash_grid_coords(PHASH_BITS_PER_ROW, IMG_W, IMG_H)
    mean = "((" + " + ".join(luma(*c) for c in acoords) + f") // {PHASH_NBITS})"
    aterms = [
        f"CASE WHEN {luma(*c)} > __amean THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
        for p, c in enumerate(acoords)
    ]
    return f"""
WITH base AS (SELECT doc_id, {mean} AS __amean FROM documents)
SELECT doc_id,
       ({" + ".join(dterms)}) AS dhash,
       ({" + ".join(aterms)}) AS ahash
FROM base ORDER BY doc_id
"""


PHASH_BANDS = 4  # 14 bits per band: pigeonhole-guaranteed for hamming <= 3
PHASH_MAX_HAMMING = 3


def phash_neardup_pairs(
    fps: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    col: str = "dhash",
    drop_degenerate: bool = True,
) -> DataFrame:
    """Near-duplicate image pairs from perceptual fingerprints, banded for
    scale: the 56-bit fingerprint splits into PHASH_BANDS 14-bit bands;
    candidates share at least one band (a hash equi-join on (band_idx,
    band_value) — never all-pairs); survivors are filtered by exact
    Hamming distance bit_count(a XOR b) <= max_hamming. Pigeonhole makes
    recall EXACT for max_hamming < PHASH_BANDS (a pair differing in <= 3
    bits cannot touch all 4 bands); larger radii degrade gracefully like
    any banding scheme. Expects (doc_id, {col}); emits
    (doc_a, doc_b, hamming).

    ``drop_degenerate`` (default on) excludes the all-zero and all-one
    fingerprints before banding — a CONSTANT signal (flat image, silent
    clip) hashes to one of those two values, so at corpus scale every
    flat input lands in the same band bucket and the "pairs" it emits are
    matches on signal absence, not content: a quadratic hot bucket with
    meaningless output (the standard guard perceptual-dedup systems
    apply). Pass False to screen degenerates deliberately."""
    band_w = PHASH_NBITS // PHASH_BANDS
    mask = (1 << band_w) - 1
    if drop_degenerate:
        fps = fps.filter(
            (F.col(col) != 0) & (F.col(col) != ((1 << PHASH_NBITS) - 1))
        )
    banded = fps.select(
        "doc_id",
        F.col(col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col(col), i * band_w)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band_idx", "bk.band_val")
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fp").alias("fp_a"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ------------------- gated pHash near-dup rendering (staged r15)
# phash_neardup_pairs has carried pigeonhole-exact pair pytests since
# r6 but never a driver CORRECTNESS row; this gates the banded Hamming
# join end-to-end (payload generate → container decode → fingerprint →
# band → verify) against a closed-form oracle. The corpus's generative
# fingerprints are effectively random 56-bit words (P[hamming<=3] ≈
# 2.6e-13 per pair), so to exercise the MATCH path — not just the empty
# relation — each document contributes a PLANTED near-dup twin: the same
# fingerprint with one doc_id-derived bit flipped (the realistic
# perceptual drift of a re-encode), ids offset far above the corpus.
# hamming=1 < PHASH_BANDS makes every twin's recovery pigeonhole-
# GUARANTEED, so the expected output is exactly one pair per
# non-degenerate document plus deterministic natural collisions.
PHASH_TWIN_OFFSET = 1_000_000

def _assert_twin_offset(docs: DataFrame) -> None:
    """Planning-time attestation that every natural doc_id sits below
    PHASH_TWIN_OFFSET, so planted-twin ids can never alias onto real
    documents (ambiguous pairs both engines would agree on — the oracle
    gate cannot catch it, only this raise can). Raise-not-proceed, the
    IVF cell-cap precedent. One bounded 1-row aggregate (a parquet-footer
    max); no registry query reaches it, so it is not memoized."""
    mx = docs.agg(F.max("doc_id").alias("mx")).collect()[0].mx
    if mx is not None and mx >= PHASH_TWIN_OFFSET:
        raise ValueError(
            f"max(doc_id)={mx} >= PHASH_TWIN_OFFSET={PHASH_TWIN_OFFSET}: "
            "planted twin ids would alias onto natural documents — raise "
            "the offset above the corpus id space"
        )


def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r15 (gates r16): banded-Hamming near-duplicate report over
    dHash fingerprints of the decoded image corpus plus one planted
    one-bit-drifted twin per document — at FINGERPRINT-GROUP grain.

    Why group grain (measured, sf0.1): the generative corpus's gradient
    class collapses 46% of documents onto ONE fingerprint
    (0xfefefefefefefe — every pixel brighter than its left neighbor), so
    a per-doc pair listing is quadratic in that clique (~2.7M hamming-0
    rows, 40 s) with zero information beyond the clique size. Identical
    fingerprints are EXACT duplicates under the perceptual metric —
    collapse them first (the dedup_exact move), band only the DISTINCT
    fingerprints (79 at every SF — replication-invariant, so the op is
    decade-FLAT by construction), and report implied doc-pair counts
    exactly: cross rows (rep_a, rep_b, hamming, n_a·n_b) plus
    within-group rows (rep, rep, 0, n·(n−1)/2). Σ n_doc_pairs IS the
    per-doc listing's cardinality, recoverable without materializing it.

    One codec-chain pass: base and twin rows leave the same scan via a
    2-element explode (never a self-referencing union, which would
    re-execute the Arrow codec stages per branch); everything after runs
    on |distinct fingerprints|-sized tables."""
    docs = load_table(spark, sf_dir, "documents")
    _assert_twin_offset(docs)
    fps = extract_image_phash(with_image_payload(docs)).select(
        "doc_id", "dhash"
    )
    twin_fp = F.col("dhash").bitwiseXOR(
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(doc_id, {PHASH_NBITS}) AS INT))"
        )
    )
    u = fps.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("dhash")),
                F.struct(
                    (F.col("doc_id") + PHASH_TWIN_OFFSET).alias("doc_id"),
                    twin_fp.alias("dhash"),
                ),
            )
        ).alias("r")
    ).select("r.doc_id", "r.dhash")
    groups = u.groupBy("dhash").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n")
    )
    cross = phash_neardup_pairs(
        groups.select(F.col("rep").alias("doc_id"), "dhash")
    )
    sized = (
        cross.join(
            groups.select(F.col("rep").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            groups.select(F.col("rep").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("n_doc_pairs"),
        )
    )
    nondeg = (F.col("dhash") != 0) & (
        F.col("dhash") != ((1 << PHASH_NBITS) - 1)
    )
    within = groups.filter(nondeg & (F.col("n") >= 2)).select(
        F.col("rep").alias("doc_a"),
        F.col("rep").alias("doc_b"),
        F.lit(0).cast("integer").alias("hamming"),
        F.expr("(n * (n - 1)) div 2").cast("long").alias("n_doc_pairs"),
    )
    return sized.unionByName(within).orderBy("doc_a", "doc_b")


def _phash_neardup_sql() -> str:
    """Staged DuckDB oracle: the closed-form fingerprint CTE, the same
    twin plant, the fingerprint-group collapse, band split over DISTINCT
    fingerprints, bit_count verify, and the sized cross/within rows."""
    band_w = PHASH_NBITS // PHASH_BANDS
    mask = (1 << band_w) - 1
    all_ones = (1 << PHASH_NBITS) - 1
    return f"""
WITH fp0 AS ({_image_phash_sql()}),
u AS (
  SELECT doc_id, dhash FROM fp0
  UNION ALL
  SELECT doc_id + {PHASH_TWIN_OFFSET} AS doc_id,
         xor(dhash, CAST(1 AS BIGINT) << CAST(doc_id % {PHASH_NBITS} AS INT))
           AS dhash
  FROM fp0
),
g AS (
  SELECT dhash, MIN(doc_id) AS rep, COUNT(*) AS n FROM u GROUP BY dhash
),
fps AS (
  SELECT rep AS doc_id, dhash AS fp FROM g
  WHERE dhash != 0 AND dhash != {all_ones}
),
bands AS (
  SELECT doc_id, fp, b AS band_idx,
         (fp >> CAST(b * {band_w} AS INT)) & {mask} AS band_val
  FROM fps CROSS JOIN (SELECT unnest(range({PHASH_BANDS})) AS b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
sized AS (
  SELECT p.doc_a, p.doc_b, p.hamming,
         CAST(ga.n * gb.n AS BIGINT) AS n_doc_pairs
  FROM pairs p
  JOIN g ga ON p.doc_a = ga.rep
  JOIN g gb ON p.doc_b = gb.rep
  WHERE p.hamming <= {PHASH_MAX_HAMMING}
),
within AS (
  SELECT rep AS doc_a, rep AS doc_b, 0 AS hamming,
         CAST((n * (n - 1)) // 2 AS BIGINT) AS n_doc_pairs
  FROM g WHERE n >= 2 AND dhash != 0 AND dhash != {all_ones}
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming, n_doc_pairs
FROM (SELECT * FROM sized UNION ALL SELECT * FROM within)
ORDER BY doc_a, doc_b
"""


RESIZE_W, RESIZE_H = 4, 3  # thumbnail target for the gated resize query


def with_resize_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): the 6-class fixture for the RESIZE query (r11,
    VERDICT r10 #8; WebP class r12) — with_image_payload's gradient
    PPM/BMP/PNG trio plus a baseline-JPEG and a progressive-JPEG class,
    plus a WebP-lossless class over the SAME gradient (VP8L is lossless,
    so unlike JPEG it needs no constant-gray concession: the full
    decode→resample→re-encode-as-WebP→decode cycle is exact — and the
    4×3 thumbnail re-encode lands ≤16 distinct colors, putting the
    palette BUNDLING path (2 px/byte) under the value gate). The JPEG
    classes are WHOLE-IMAGE-constant gray ((doc_id·31) % 256): a
    nearest-neighbor resample of a constant image is constant, and a
    constant image re-encodes EXACTLY at unit quant tables (every block
    DC-only), so the cycle stays closed-form for the oracle even though
    the re-encode is lossy in general. (The decode fixture's
    per-8×8-block pixels would land resized values across JPEG block
    boundaries, making the re-encode lossy and un-oracle-able; the
    gradient content keeps stressing the resample arithmetic via the
    three uncompressed classes and WebP.)"""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jpeg import encode_jpeg_baseline, encode_jpeg_progressive
        from ..functions.webp import encode_webp

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                which = doc_id % 6
                if which == 5:
                    payloads.append(
                        encode_webp(IMG_W, IMG_H, _fixture_pixels(doc_id))
                    )
                elif which >= 3:
                    enc = encode_jpeg_baseline if which == 3 else encode_jpeg_progressive
                    v = (doc_id * 31) % 256
                    payloads.append(
                        enc(
                            JPEG_W,
                            JPEG_H,
                            bytes([v]) * (JPEG_W * JPEG_H * 3),
                            grayscale=True,
                        )
                    )
                else:
                    fmt = ("bmp", "ppm", "png")[which]
                    payloads.append(
                        imaging.encode(fmt, IMG_W, IMG_H, _fixture_pixels(doc_id))
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    # Unlike with_decode_payload (kernel work ~0.6 s — a shuffle costs more
    # than it spreads), the resize consumer's downstream cycle is ~4 s of
    # pure-Python codec work per sf0.1 pass, and the shuffle here ships ONLY
    # doc_ids (8 bytes/row), so spreading wins decisively: measured
    # 4.8 → 1.6 s at sf0.1 (r11).
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.select("doc_id").repartition(par).mapInPandas(
        gen, schema=_IMG_PAYLOAD_SCHEMA
    )


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thumbnailing stage of a multimodal ingest, end to end and gated:
    generate real PPM/BMP/PNG/JPEG/WebP payloads (all six fixture classes —
    the JPEG pair constant-gray so the lossy re-encode stays closed-form;
    see with_resize_payload), run the resize kernel (decode →
    nearest-neighbor resample → re-encode IN THE SAME CONTAINER), then
    decode the RESIZED payload and emit its per-channel sums. Every pixel
    thus passes through two decodes and one encode — including the full
    progressive-JPEG (SOF2) decode on class 4 — so container math, the
    index-mapping arithmetic, and the re-encode path are all under the
    value gate. The oracle replays the nearest-neighbor mapping
    closed-form: resized(x, y) = source(x·W div {RESIZE_W}, y·H div
    {RESIZE_H}) over the generative pixel formulas — no decoding anywhere
    in the oracle.

    Scale shape: same as mm_image_decode — one Arrow mapInPandas pass,
    partition-parallel, nothing collects."""

    def resize_then_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    resized = resize_image(bytes(payload), RESIZE_W, RESIZE_H)
                    fmt, w, h, pixels = decode_image(resized)
                except (imaging.ImageFormatError, NotImplementedError):
                    continue  # corrupt / codec-less payload:
                    # quarantine-drop (see extract_image_features)
                px = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
                sums = px.reshape(-1, 3).sum(axis=0)
                rows.append((doc_id, fmt, w, h, *map(int, sums)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _IMG_FEAT_SCHEMA.fields]
            )

    docs = load_table(spark, sf_dir, "documents")
    payloads = with_resize_payload(docs)
    return shielded_sort(
        payloads.mapInPandas(resize_then_sums, schema=_IMG_FEAT_SCHEMA),
        "doc_id",
    )


def _image_resize_sql() -> str:
    def ch_sum(c: int) -> str:
        # nearest-neighbor source index for resized pixel i (row-major over
        # the RESIZE_W x RESIZE_H grid): sx = (i % W')·W div W', sy = (i //
        # W')·H div H'; channel c of source pixel (sx, sy) is the
        # generative formula at flat index (sy·W + sx)·3 + c
        return (
            f"CAST(list_sum(list_transform(range(0, {RESIZE_W * RESIZE_H}), "
            f"__i -> (doc_id * 31 + (((__i // {RESIZE_W}) * {IMG_H} // {RESIZE_H}) "
            f"* {IMG_W} + ((__i % {RESIZE_W}) * {IMG_W} // {RESIZE_W})) * 3 + {c}) "
            f"% 256)) AS BIGINT)"
        )

    # the constant-gray JPEG classes resize to a constant thumbnail:
    # every channel sums to |thumb| x (doc_id*31 % 256), exactly; the
    # WebP class (r12, doc_id%6=5) is lossless over the gradient, so it
    # shares ch_sum with the uncompressed trio
    jpeg_sum = f"CAST({RESIZE_W * RESIZE_H} * ((doc_id * 31) % 256) AS BIGINT)"
    return f"""
SELECT doc_id,
       CASE doc_id % 6 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                       WHEN 2 THEN 'png' WHEN 5 THEN 'webp'
                       ELSE 'jpeg' END AS fmt,
       CAST({RESIZE_W} AS INT) AS width, CAST({RESIZE_H} AS INT) AS height,
       CASE WHEN doc_id % 6 IN (3, 4) THEN {jpeg_sum} ELSE {ch_sum(0)} END AS sum_r,
       CASE WHEN doc_id % 6 IN (3, 4) THEN {jpeg_sum} ELSE {ch_sum(1)} END AS sum_g,
       CASE WHEN doc_id % 6 IN (3, 4) THEN {jpeg_sum} ELSE {ch_sum(2)} END AS sum_b
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "mm_binary_meta": mm_binary_meta,
    "mm_image_resize": mm_image_resize,
    "mm_fake_features": mm_fake_features,
    "mm_frame_sample": mm_frame_sample,
    "mm_image_decode": mm_image_decode,
    "mm_audio_decode": mm_audio_decode,
    "mm_image_phash": mm_image_phash,
    "mm_audio_fingerprint": mm_audio_fingerprint,
    "mm_scene_cuts": mm_scene_cuts,
}

ORACLE = {
    "mm_binary_meta": MM_BINARY_META_SQL,
    "mm_image_resize": _image_resize_sql(),
    "mm_fake_features": _fake_features_sql(),
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_image_decode": _image_decode_sql(),
    "mm_audio_decode": _audio_decode_sql(),
    "mm_image_phash": _image_phash_sql(),
    "mm_audio_fingerprint": _audio_fingerprint_sql(),
    "mm_scene_cuts": _scene_cuts_sql(),
}
