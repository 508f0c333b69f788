"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by per-row ``mapInArrow`` stages (spark/records.py
``row_stage``; no pandas in the workers).

The decode dispatch is REAL for every format the engine owns a codec
for — PNG and JPEG (pdfio/), PCM WAV, YUV4MPEG2 and uncompressed-DIB
AVI (media_codecs.py) — and a deterministic sha256 STUB only for
payloads with no recognizable container (disclosed;
``fake_decode_header``). RIFF forms besides WAVE/AVI raise. The
Spark-side plumbing is what matters at scale: binary column
through Arrow batches, explicit output schema, small batch sizes,
content-addressed output refs — swapping in an ffmpeg call changes
nothing structurally.

Because the stub is sha256-derived it IS SQL-expressible: both queries
carry exact DuckDB oracles (sha256(VARCHAR) hashes the same UTF-8
bytes), plus the local re-implementation check in tests/test_ops.py.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import UserError
from ..spark.records import row_stage
from .common import register_persist, table

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("format", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("thumb_ref", T.StringType(), False),
])


def fake_decode_header(payload: bytes) -> dict:
    """STUB decoder for formats this container has no codec for:
    deterministic pseudo-metadata from the payload bytes. A real
    deployment swaps this for PIL.Image.open / soundfile / pyav with
    the same signature and cost shape."""

    digest = hashlib.sha256(payload).digest()
    return {
        "format": ("img", "audio", "video")[digest[0] % 3],
        "width": 64 + digest[1],
        "height": 64 + digest[2],
        "thumb_ref": "sha256:" + digest.hex()[:16],
    }


def decode_header(payload: bytes) -> dict:
    """Media header dispatch: REAL decodes for the formats the engine
    owns codecs for (PNG/JPEG via pdfio, PCM WAV / YUV4MPEG2 / AVI via
    media_codecs), the deterministic stub for unrecognizable payloads,
    NotImplementedError for recognized-but-unsupported containers
    (non-WAVE/AVI RIFF forms).

    A payload with a recognized magic but a corrupt body degrades to a
    deterministic ``format="corrupt"`` row — at corpus scale a flipped
    byte in one image must become a countable row, never a dead Spark
    task (the codecs' own fail-closed boundaries guarantee the only
    error type here is UserError/ValueError)."""

    try:
        return _decode_header_impl(payload)
    except NotImplementedError:
        raise
    except (UserError, ValueError):
        return {
            "format": "corrupt",
            "width": 0,
            "height": 0,
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }


def _decode_header_impl(payload: bytes) -> dict:
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..pdfio.png import decode_png

        arr = decode_png(payload)
        h, w = arr.shape[:2]
        return {
            "format": "png-gray" if arr.ndim == 2 else "png-rgb",
            "width": int(w),
            "height": int(h),
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }
    if payload[:2] == b"\xff\xd8":
        from ..pdfio.jpeg import decode_jpeg

        arr = decode_jpeg(payload)
        h, w = arr.shape[:2]
        return {
            "format": "jpeg-gray" if arr.ndim == 2 else "jpeg-rgb",
            "width": int(w),
            "height": int(h),
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        from ..media_codecs import decode_wav

        rate, arr = decode_wav(payload)
        return {
            "format": "wav-pcm",
            "width": int(rate),            # rate/sample-count ride the
            "height": int(arr.shape[0]),   # generic metadata columns
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }
    if payload[:9] == b"YUV4MPEG2":
        from ..media_codecs import decode_y4m

        fps, frames = decode_y4m(payload)
        return {
            "format": "y4m",
            "width": int(frames.shape[2] if len(frames) else 0),
            "height": int(frames.shape[1] if len(frames) else 0),
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from ..media_codecs import decode_avi

        fps, frames = decode_avi(payload)
        return {
            "format": "avi",
            "width": int(frames.shape[2] if len(frames) else 0),
            "height": int(frames.shape[1] if len(frames) else 0),
            "thumb_ref": "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
        }
    if payload[:4] == b"RIFF":
        raise NotImplementedError(
            "no codec for this RIFF form (not WAVE/AVI) in this build"
        )
    return fake_decode_header(payload)


def _per_doc(
    spark: SparkSession, sf_dir: str, fn: Callable[[int, bytes], Iterable[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """One per-row stage ``fn(doc_id, payload)`` over every document's
    text bytes, repartitioned to the session parallelism BEFORE the
    stage: the testdata tables are single-row-group parquet files, so
    without the explicit repartition the whole decode pipeline runs as
    ONE task (the same CPU-bound-stage gotcha documents_as_pdfs already
    guards against; at fleet scale the shuffle is a few bytes per doc
    and the decode stage it feeds dominates by orders of magnitude)."""

    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInArrow(row_stage(fn, schema), schema=schema)
    )


def _decode_row(doc_id: int, payload: bytes):
    meta = decode_header(payload)
    yield (doc_id, len(payload), meta["format"], meta["width"], meta["height"],
           meta["thumb_ref"])


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each document's text bytes as an opaque media payload and
    extract typed metadata via one per-row stage."""

    return _per_doc(spark, sf_dir, _decode_row, MEDIA_META_SCHEMA)


def media_format_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream relational stage over UDF output (format histogram) —
    shows the metadata is a first-class column for Catalyst."""

    return (
        media_metadata(spark, sf_dir)
        .groupBy("format")
        .agg(F.count("*").alias("n_docs"), F.sum("n_bytes").alias("total_bytes"))
    )


PNG_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("format", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("mean_px", T.IntegerType(), False),
])


def _png_roundtrip_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..pdfio.png import decode_png, encode_png

    d = hashlib.sha256(payload).digest()
    w, h, fill = 16 + d[1] % 32, 16 + d[2] % 32, d[3]
    shape = (h, w, 3) if d[0] % 2 else (h, w)
    png = encode_png(np.full(shape, fill, np.uint8))
    meta = decode_header(png)          # the REAL decode
    arr = decode_png(png)
    yield (doc_id, meta["format"], meta["width"], meta["height"], int(arr.mean()))


def png_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec media path: per doc, a deterministic PNG payload
    (dims/mode/fill derived from sha256(text), encoded with the
    engine's own pdfio.png codec) is decoded back through
    :func:`decode_header` — IHDR parse, zlib inflate, scanline
    reconstruction — and the decoded raster's stats become columns.

    The payload derivation is sha256-arithmetic, so width/height/mode/
    mean have an exact DuckDB oracle even though the decode itself is a
    real pixel decode (the part a SQL engine cannot express)."""

    return _per_doc(spark, sf_dir, _png_roundtrip_row, PNG_META_SCHEMA)


def _jpeg_roundtrip_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..pdfio.jpeg import decode_jpeg, encode_jpeg

    d = hashlib.sha256(payload).digest()
    w, h, fill = 16 + d[1] % 32, 16 + d[2] % 32, d[3]
    shape = (h, w, 3) if d[0] % 2 else (h, w)
    jpg = encode_jpeg(np.full(shape, fill, np.uint8))
    meta = decode_header(jpg)          # dispatches to decode_jpeg
    arr = decode_jpeg(jpg)
    yield (doc_id, meta["format"], meta["width"], meta["height"], int(arr.mean()))


def jpeg_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same real-codec round-trip as :func:`png_decode_metadata`, but
    through the baseline JPEG codec (pdfio/jpeg.py). A flat-fill block
    is DC-only and survives quantization exactly (quality-75 luma DC
    step divides the scaled DC), so the decoded mean still equals the
    digest-derived fill byte and the DuckDB oracle stays exact even
    though JPEG is lossy in general."""

    return _per_doc(spark, sf_dir, _jpeg_roundtrip_row, PNG_META_SCHEMA)


THUMB = 8  # thumbnail edge (the feature-extract stage's output dims)

THUMB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("thumb_sum", T.LongType(), False),
    T.StructField("thumb_hex", T.StringType(), False),
])


def _pixel_center_thumb(arr, w: int, h: int):
    """THUMB x THUMB reduction of a decoded (h, w) raster at the render
    kernel's pixel-center sample points (kernels.resample_nearest
    applied per axis) — the one thumbnail kernel shared by the
    feature-extract op and the perceptual hash."""

    import numpy as np

    rows = np.clip(
        ((np.arange(THUMB) + 0.5) * h / THUMB).astype(np.int64), 0, h - 1
    )
    cols = np.clip(
        ((np.arange(THUMB) + 0.5) * w / THUMB).astype(np.int64), 0, w - 1
    )
    return arr[rows][:, cols]


def _thumbnail_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..pdfio.png import decode_png, encode_png

    d = hashlib.sha256(payload).digest()
    a, b, c = d[0], 1 + d[1] % 7, 1 + d[2] % 7
    w, h = 24 + d[3] % 40, 24 + d[4] % 40
    grad = (a + b * np.arange(w)[None, :] + c * np.arange(h)[:, None]) % 256
    arr = decode_png(encode_png(grad.astype(np.uint8)))  # the REAL decode
    tiny = _pixel_center_thumb(arr, w, h)
    yield (doc_id, int(w), int(h), int(tiny.sum()), tiny.tobytes().hex())


def image_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract stage over the real-codec media path: a
    deterministic GRADIENT PNG per doc (structure, not flat fill — the
    resize must actually sample) is decoded with the engine's PNG codec
    and reduced to an 8x8 nearest-neighbor thumbnail using the render
    kernel's pixel-center mapping (kernels.resample_nearest:502-503,
    applied per axis for the non-uniform aspect). Output: (doc_id,
    width, height, thumb_sum, thumb_hex).

    The gradient and the mapping are integer/dyadic arithmetic, so the
    64 thumbnail bytes have an exact DuckDB oracle even though the
    Spark side round-trips real PNG encode->decode to produce them."""

    return _per_doc(spark, sf_dir, _thumbnail_row, THUMB_SCHEMA)


AUDIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("duration_ms", T.LongType(), False),
    T.StructField("peak", T.IntegerType(), False),
    T.StructField("sum_sq", T.LongType(), False),
])

_RATES = (8000, 16000, 22050, 44100)


def _audio_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..media_codecs import decode_wav, encode_wav

    d = hashlib.sha256(payload).digest()
    rate = _RATES[d[0] % 4]
    n = 500 + d[1] * 7
    a, b = d[2], 1 + d[3]
    wave = ((a + b * np.arange(n, dtype=np.int64)) % 2003 - 1001).astype(np.int16)
    got_rate, arr = decode_wav(encode_wav(wave, rate))  # REAL parse
    s = arr[:, 0].astype(np.int64)
    yield (doc_id, int(got_rate), int(len(s)), int(len(s) * 1000 // got_rate),
           int(np.abs(s).max()), int((s * s).sum()))


def audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path: a deterministic integer waveform per doc is
    encoded to PCM WAV and parsed back with the engine's RIFF parser
    (media_codecs.decode_wav); the decoded samples reduce to rate /
    duration / peak / energy columns. The waveform is
    ((a + b*i) % 2003) - 1001 — pure integer arithmetic, so DuckDB
    recomputes every stat without an audio stack. Output: (doc_id,
    sample_rate, n_samples, duration_ms, peak, sum_sq)."""

    return _per_doc(spark, sf_dir, _audio_row, AUDIO_SCHEMA)


VIDEO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_no", T.IntegerType(), False),
    T.StructField("fps", T.IntegerType(), False),
    T.StructField("frame_sum", T.LongType(), False),
])

FRAME_EVERY = 3  # frame-sampling stride


def _sampled_frames(doc_id: int, fps: int, frames):
    """(doc_id, frame_no, fps, frame_sum) of every FRAME_EVERY-th frame."""

    import numpy as np

    for f in range(0, len(frames), FRAME_EVERY):
        yield (doc_id, f, int(fps), int(frames[f].astype(np.int64).sum()))


def _y4m_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..media_codecs import decode_y4m, encode_y4m

    d = hashlib.sha256(payload).digest()
    w, h = 8 + d[0] % 17, 8 + d[1] % 17
    nf = 4 + d[2] % 9
    a, b, c, e = d[3], 1 + d[4] % 7, 1 + d[5] % 7, 1 + d[6] % 11
    grid = (
        a
        + b * np.arange(w)[None, None, :]
        + c * np.arange(h)[None, :, None]
        + e * np.arange(nf)[:, None, None]
    ) % 256
    fps, frames = decode_y4m(encode_y4m(grid.astype(np.uint8), fps=24))  # REAL parse
    return _sampled_frames(doc_id, fps, frames)


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path: a deterministic gradient y4m clip per doc
    (Cmono Y planes, pixel (a + b*x + c*y + e*f) % 256) round-trips
    through the engine's YUV4MPEG2 parser; every FRAME_EVERY-th frame
    is sampled and reduced to its pixel sum — the frame-sampling stage
    of a video-training pipeline, with an exact arithmetic oracle.
    Output: (doc_id, frame_no, fps, frame_sum), one row per sampled
    frame."""

    return _per_doc(spark, sf_dir, _y4m_row, VIDEO_SCHEMA)


def _avi_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..media_codecs import decode_avi, encode_avi

    d = hashlib.sha256(payload).digest()
    w, h = 5 + d[7] % 19, 6 + d[8] % 15
    nf = 3 + d[9] % 8
    a, b, c = d[10], 1 + d[11] % 7, 1 + d[12] % 7
    e = 1 + d[13] % 11
    grid = (
        a
        + b * np.arange(w)[None, None, :]
        + c * np.arange(h)[None, :, None]
        + e * np.arange(nf)[:, None, None]
    ) % 256
    fps, frames = decode_avi(encode_avi(grid.astype(np.uint8), fps=30))  # REAL parse
    return _sampled_frames(doc_id, fps, frames)


def avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI container path: a deterministic gradient clip per doc
    round-trips through the engine's RIFF/AVI parser (bottom-up DIB
    rows at 4-byte-aligned stride — widths are drawn so most need
    real pad handling), then every FRAME_EVERY-th frame reduces to
    its pixel sum. Same pipeline shape as the y4m leg with an
    independent container and parameter draw, and the same exact
    arithmetic oracle form. Output: (doc_id, frame_no, fps,
    frame_sum)."""

    return _per_doc(spark, sf_dir, _avi_row, VIDEO_SCHEMA)


#: aHash geometry: 8x8 thumbnail, 60 bits kept (cells 8*i+j < 60) so
#: the fingerprint packs into a signed BIGINT both engines agree on —
#: the same packing trick as the SimHash fingerprint (ops/dedup.py)
PHASH_BITS = 60
PHASH_BAND_BITS = 15
PHASH_HAM_MAX = 6
#: pair-block salt width for the banded join (largest within-bucket
#: fan-out divides by PHASH_SALT_G^2 at PHASH_SALT_G-fold band-row
#: replication; raise with cluster size, not corpus size)
PHASH_SALT_G = 8

PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("phash", T.LongType(), False),
])


def _phash_row(doc_id: int, payload: bytes):
    import numpy as np

    from ..pdfio.png import decode_png, encode_png

    d = hashlib.sha256(payload).digest()
    a, b, c = d[14] % 4, 1 + d[15] % 8, 1 + d[16] % 8
    w, h = 10 + d[17] % 6, 10 + d[18] % 6
    sx, sy = d[19] % 2, (d[19] // 2) % 2
    # 256 structure classes (slopes x orientations); max pixel
    # 3 + 8*14 + 8*14 = 227: no % 256 wrap, so the SQL twin's plain
    # integer expression is exact
    xs = np.arange(w)[None, :]
    ys = np.arange(h)[:, None]
    grad = (
        a + b * ((w - 1 - xs) if sx else xs) + c * ((h - 1 - ys) if sy else ys)
    ).astype(np.uint8)
    arr = decode_png(encode_png(grad))      # the REAL decode
    tiny = _pixel_center_thumb(arr, w, h).astype(np.int64)
    s = int(tiny.sum())
    fp64 = 0
    for i in range(THUMB):
        for j in range(THUMB):
            bit = THUMB * i + j
            if bit < PHASH_BITS and int(tiny[i, j]) * 64 > s:
                fp64 |= 1 << bit
    yield (doc_id, fp64)


def _phash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash): average-hash perceptual fingerprints over the
    REAL-codec image path — per doc, a deterministic low-cardinality
    gradient PNG (256 structure classes: slopes b, c in 1..8, four
    axis orientations, offset and dims varying) is encoded and decoded with the engine's PNG codec,
    reduced to the 8x8 pixel-center thumbnail, and hashed as
    bit = (pixel * 64 > sum of thumbnail) — pure integer arithmetic,
    so the DuckDB oracle recomputes the identical 60-bit fingerprint
    while the Spark side must round-trip real pixels to produce it.
    Deliberately collision-rich: same-slope images differ only in
    offset (cancelled by the mean test) and in dims (a small sampling
    perturbation) — the image near-dups the pair query must find."""

    return _per_doc(spark, sf_dir, _phash_row, PHASH_SCHEMA)


def phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual fingerprints themselves (doc_id, phash)."""

    return _phash_fps(spark, sf_dir)


def phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates over the real-codec media path: docs
    whose perceptual hashes share any exact 15-bit band, verified by
    Hamming distance <= PHASH_HAM_MAX. Output: (doc_a, doc_b,
    hamming). Same LSH-banding shape as SimHash text near-dup —
    bucket equi-join on (band, band_val), never an all-pairs compare,
    one packed bigint per doc on every plan edge; the decode cost
    rides one per-row scan."""

    fps = register_persist(_phash_fps(spark, sf_dir))
    n_bands = PHASH_BITS // PHASH_BAND_BITS
    mask = (1 << PHASH_BAND_BITS) - 1
    band_exprs = ", ".join(
        f"{b}, CAST((phash >> {b * PHASH_BAND_BITS}) & {mask} AS BIGINT)"
        for b in range(n_bands)
    )
    # Each band row carries the packed fingerprint, so the Hamming
    # verify computes INSIDE the band equi-join (no rerank joins), and
    # a pair colliding in several bands is emitted exactly once — at
    # its FIRST matching band, decided from the two fingerprints
    # already on the row — so no distinct() shuffle of the candidate
    # relation exists at all. The whole query is: one banded equi-join
    # (linear shuffle of n_bands rows/doc) streaming through a codegen
    # filter.
    bands = fps.selectExpr(
        "doc_id", "phash", f"stack({n_bands}, {band_exprs}) AS (band, band_val)"
    )
    # Block-salt the bucket join: the corpus is deliberately
    # collision-rich (256 structure classes), so a single hot
    # (band, band_val) bucket holds thousands of docs and its n^2
    # match fan-out would otherwise run inside ONE join task (AQE's
    # skew split can't help: the skew is in join OUTPUT, not shuffle
    # bytes). Each side replicates G ways on a doc_id-derived salt and
    # the join keys on (band, band_val, gi, gj), cutting the largest
    # per-task fan-out by G^2 at a G-fold row replication — the
    # block-pair shape of embedding_neardup_pairs. Every unordered
    # pair still meets exactly once: as (left=a, right=b) at
    # (gi, gj) = (salt_a, salt_b), and the transposed encounter is
    # killed by the doc_a < doc_b filter.
    G = PHASH_SALT_G
    salt = F.pmod(F.col("doc_id"), F.lit(G)).cast("int")
    rep = F.explode(F.sequence(F.lit(0), F.lit(G - 1)))
    left = bands.select(
        "doc_id", "phash", "band", "band_val",
        salt.alias("gi"), rep.alias("gj"),
    )
    right = bands.select(
        "doc_id", "phash", "band", "band_val",
        rep.alias("gi"), salt.alias("gj"),
    )
    first_match = F.expr(
        "CASE "
        + " ".join(
            f"WHEN ((fp_a >> {b * PHASH_BAND_BITS}) & {mask})"
            f" = ((fp_b >> {b * PHASH_BAND_BITS}) & {mask}) THEN {b}"
            for b in range(n_bands)
        )
        + " END"
    )
    return (
        left.alias("a")
        .join(right.alias("b"), ["band", "band_val", "gi", "gj"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("band").alias("band"),
            F.col("a.phash").alias("fp_a"),
            F.col("b.phash").alias("fp_b"),
        )
        .withColumn("hamming", F.expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)"))
        .filter((F.col("hamming") <= PHASH_HAM_MAX) & (F.col("band") == first_match))
        .select("doc_a", "doc_b", "hamming")
    )


QUERIES = {
    "mm_media_metadata": media_metadata,
    "mm_media_format_histogram": media_format_histogram,
    "mm_png_decode": png_decode_metadata,
    "mm_jpeg_decode": jpeg_decode_metadata,
    "mm_image_thumbnail": image_thumbnail,
    "mm_audio_stats": audio_stats,
    "mm_video_frame_sample": video_frame_sample,
    "mm_avi_frame_sample": avi_frame_sample,
    "mm_phash": phash,
    "mm_phash_pairs": phash_pairs,
}

#: Exact DuckDB oracles: the stub decoder is sha256-derived, and DuckDB
#: sha256(VARCHAR) hashes the UTF-8 bytes — exactly the payload the
#: Spark side encodes. (With a real codec these revert to rows-only
#: checks; the deterministic stub is what makes them SQL-expressible.)
_META_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CASE (('0x' || substr(sha256(text), 1, 2))::INT % 3)
                WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
           64 + ('0x' || substr(sha256(text), 3, 2))::INT AS width,
           64 + ('0x' || substr(sha256(text), 5, 2))::INT AS height,
           'sha256:' || substr(sha256(text), 1, 16) AS thumb_ref
    FROM documents
"""

#: Shared fingerprint CTE for the perceptual-hash oracles: gradient
#: thumbnail cells + the integer mean test recomputed in pure
#: arithmetic (the gradient never wraps mod 256 by construction, so
#: no modular term appears).
_PHASH_SQL = f"""
    pp AS (
        SELECT doc_id,
               ('0x' || substr(sha256(text), 29, 2))::INT % 4 AS a,
               1 + ('0x' || substr(sha256(text), 31, 2))::INT % 8 AS b,
               1 + ('0x' || substr(sha256(text), 33, 2))::INT % 8 AS c,
               10 + ('0x' || substr(sha256(text), 35, 2))::INT % 6 AS w,
               10 + ('0x' || substr(sha256(text), 37, 2))::INT % 6 AS h,
               ('0x' || substr(sha256(text), 39, 2))::INT % 2 AS sx,
               (('0x' || substr(sha256(text), 39, 2))::INT // 2) % 2 AS sy
        FROM documents
    ),
    pidx AS (
        SELECT doc_id, i, j, a, b, c, w, h, sx, sy,
               least(CAST(floor((j + 0.5) * w / {THUMB}) AS INT), w - 1) AS cx,
               least(CAST(floor((i + 0.5) * h / {THUMB}) AS INT), h - 1) AS cy
        FROM pp,
             LATERAL (SELECT unnest(generate_series(0, {THUMB - 1})) AS i),
             LATERAL (SELECT unnest(generate_series(0, {THUMB - 1})) AS j)
    ),
    pcells AS (
        SELECT doc_id, i, j,
               a + b * (CASE WHEN sx = 1 THEN w - 1 - cx ELSE cx END)
                 + c * (CASE WHEN sy = 1 THEN h - 1 - cy ELSE cy END) AS px
        FROM pidx
    ),
    psums AS (SELECT doc_id, sum(px) AS s FROM pcells GROUP BY doc_id),
    pfps AS (
        SELECT c.doc_id,
               CAST(sum(CASE WHEN {THUMB} * c.i + c.j < {PHASH_BITS}
                              AND c.px * 64 > m.s
                             THEN (1::BIGINT << CAST({THUMB} * c.i + c.j AS INT))
                             ELSE 0 END) AS BIGINT) AS phash
        FROM pcells c JOIN psums m USING (doc_id)
        GROUP BY c.doc_id
    )
"""

ORACLES: dict[str, str] = {
    "mm_phash": f"""
        WITH {_PHASH_SQL}
        SELECT doc_id, phash FROM pfps
    """,
    "mm_phash_pairs": f"""
        WITH {_PHASH_SQL},
        pbands AS (
            SELECT doc_id, b AS band,
                   (phash >> CAST(b * {PHASH_BAND_BITS} AS INT))
                       & {(1 << PHASH_BAND_BITS) - 1} AS band_val
            FROM pfps,
                 (SELECT unnest(generate_series(0, {PHASH_BITS // PHASH_BAND_BITS - 1})) AS b)
        ),
        ppairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pbands a JOIN pbands b USING (band, band_val)
            WHERE a.doc_id < b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(bit_count(xor(fa.phash, fb.phash)) AS BIGINT) AS hamming
        FROM ppairs p
        JOIN pfps fa ON fa.doc_id = p.doc_a
        JOIN pfps fb ON fb.doc_id = p.doc_b
        WHERE bit_count(xor(fa.phash, fb.phash)) <= {PHASH_HAM_MAX}
    """,
    "mm_media_metadata": _META_SQL,
    "mm_media_format_histogram": f"""
        SELECT format, count(*) AS n_docs,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        FROM ({_META_SQL}) GROUP BY format
    """,
    # The payload DERIVATION is sha256-arithmetic (SQL-expressible);
    # the Spark side must round-trip it through the real PNG codec to
    # reproduce these values (a flat fill makes the decoded mean equal
    # the fill byte, so a decode bug breaks the match).
    "mm_png_decode": """
        SELECT doc_id,
               CASE WHEN ('0x' || substr(sha256(text), 1, 2))::INT % 2 = 1
                    THEN 'png-rgb' ELSE 'png-gray' END AS format,
               CAST(16 + ('0x' || substr(sha256(text), 3, 2))::INT % 32 AS INT) AS width,
               CAST(16 + ('0x' || substr(sha256(text), 5, 2))::INT % 32 AS INT) AS height,
               CAST(('0x' || substr(sha256(text), 7, 2))::INT AS INT) AS mean_px
        FROM documents
    """,
    "mm_jpeg_decode": """
        SELECT doc_id,
               CASE WHEN ('0x' || substr(sha256(text), 1, 2))::INT % 2 = 1
                    THEN 'jpeg-rgb' ELSE 'jpeg-gray' END AS format,
               CAST(16 + ('0x' || substr(sha256(text), 3, 2))::INT % 32 AS INT) AS width,
               CAST(16 + ('0x' || substr(sha256(text), 5, 2))::INT % 32 AS INT) AS height,
               CAST(('0x' || substr(sha256(text), 7, 2))::INT AS INT) AS mean_px
        FROM documents
    """,
    # The WAV path's waveform is integer arithmetic: every stat
    # recomputed without an audio stack. duration is floor integer ms.
    "mm_audio_stats": """
        WITH p AS (
            SELECT doc_id,
                   CASE (('0x' || substr(sha256(text), 1, 2))::INT % 4)
                        WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END AS rate,
                   500 + ('0x' || substr(sha256(text), 3, 2))::INT * 7 AS n,
                   ('0x' || substr(sha256(text), 5, 2))::INT AS a,
                   1 + ('0x' || substr(sha256(text), 7, 2))::INT AS b
            FROM documents
        ),
        w AS (
            SELECT doc_id, rate, n,
                   ((a + b * i) % 2003) - 1001 AS s
            FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i)
        )
        SELECT doc_id,
               CAST(rate AS INT) AS sample_rate,
               CAST(n AS INT) AS n_samples,
               CAST((n * 1000) // rate AS BIGINT) AS duration_ms,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM w GROUP BY doc_id, rate, n
    """,
    # The y4m path's gradient frames recomputed cell-by-cell for the
    # SAMPLED frame numbers only.
    "mm_video_frame_sample": f"""
        WITH p AS (
            SELECT doc_id,
                   8 + ('0x' || substr(sha256(text), 1, 2))::INT % 17 AS w,
                   8 + ('0x' || substr(sha256(text), 3, 2))::INT % 17 AS h,
                   4 + ('0x' || substr(sha256(text), 5, 2))::INT % 9 AS nf,
                   ('0x' || substr(sha256(text), 7, 2))::INT AS a,
                   1 + ('0x' || substr(sha256(text), 9, 2))::INT % 7 AS b,
                   1 + ('0x' || substr(sha256(text), 11, 2))::INT % 7 AS c,
                   1 + ('0x' || substr(sha256(text), 13, 2))::INT % 11 AS e
            FROM documents
        ),
        fr AS (
            SELECT doc_id, w, h, a, b, c, e, CAST(f AS INT) AS f
            FROM p, LATERAL (
                SELECT unnest(generate_series(0, nf - 1, {FRAME_EVERY})) AS f
            )
        ),
        cells AS (
            SELECT doc_id, f,
                   (a + b * x + c * y + e * f) % 256 AS px
            FROM fr,
                 LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
                 LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y)
        )
        SELECT doc_id, f AS frame_no, 24 AS fps,
               CAST(sum(px) AS BIGINT) AS frame_sum
        FROM cells GROUP BY doc_id, f
    """,
    # AVI leg: same arithmetic-oracle form with an independent
    # parameter draw (sha256 bytes 7-13); the container's bottom-up
    # padded-stride rows cancel in the round-trip, so the pixel sums
    # are pure gradient arithmetic.
    "mm_avi_frame_sample": f"""
        WITH p AS (
            SELECT doc_id,
                   5 + ('0x' || substr(sha256(text), 15, 2))::INT % 19 AS w,
                   6 + ('0x' || substr(sha256(text), 17, 2))::INT % 15 AS h,
                   3 + ('0x' || substr(sha256(text), 19, 2))::INT % 8 AS nf,
                   ('0x' || substr(sha256(text), 21, 2))::INT AS a,
                   1 + ('0x' || substr(sha256(text), 23, 2))::INT % 7 AS b,
                   1 + ('0x' || substr(sha256(text), 25, 2))::INT % 7 AS c,
                   1 + ('0x' || substr(sha256(text), 27, 2))::INT % 11 AS e
            FROM documents
        ),
        fr AS (
            SELECT doc_id, w, h, a, b, c, e, CAST(f AS INT) AS f
            FROM p, LATERAL (
                SELECT unnest(generate_series(0, nf - 1, {FRAME_EVERY})) AS f
            )
        ),
        cells AS (
            SELECT doc_id, f,
                   (a + b * x + c * y + e * f) % 256 AS px
            FROM fr,
                 LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
                 LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y)
        )
        SELECT doc_id, f AS frame_no, 30 AS fps,
               CAST(sum(px) AS BIGINT) AS frame_sum
        FROM cells GROUP BY doc_id, f
    """,
    # The 8x8 thumbnail recomputed in pure arithmetic: gradient pixel
    # (a + b*x + c*y) % 256 sampled at the kernel's pixel-center
    # indices floor((i + 0.5) * dim / 8) — byte-for-byte against the
    # Spark side's real PNG encode->decode->resample.
    "mm_image_thumbnail": f"""
        WITH p AS (
            SELECT doc_id,
                   ('0x' || substr(sha256(text), 1, 2))::INT AS a,
                   1 + ('0x' || substr(sha256(text), 3, 2))::INT % 7 AS b,
                   1 + ('0x' || substr(sha256(text), 5, 2))::INT % 7 AS c,
                   24 + ('0x' || substr(sha256(text), 7, 2))::INT % 40 AS w,
                   24 + ('0x' || substr(sha256(text), 9, 2))::INT % 40 AS h
            FROM documents
        ),
        cells AS (
            SELECT doc_id, w, h, i, j,
                   (a + b * least(CAST(floor((j + 0.5) * w / {THUMB}) AS INT), w - 1)
                      + c * least(CAST(floor((i + 0.5) * h / {THUMB}) AS INT), h - 1)
                   ) % 256 AS px
            FROM p,
                 (SELECT unnest(generate_series(0, {THUMB - 1})) AS i),
                 (SELECT unnest(generate_series(0, {THUMB - 1})) AS j)
        )
        SELECT doc_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum(px) AS BIGINT) AS thumb_sum,
               string_agg(lpad(lower(to_hex(px)), 2, '0'), ''
                          ORDER BY i * {THUMB} + j) AS thumb_hex
        FROM cells GROUP BY doc_id, w, h
    """,
}
