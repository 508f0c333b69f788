"""Standalone image-folder sources and jobs.

The reference's ``page-images`` and ``rotate images`` commands consume a
DIRECTORY OF PNGs, not PDFs (reference page_images.py:25-28,
rotate.py:172-175): ``sorted(in_dir.glob(pattern))`` then the per-image
kernel pipeline. This module is their distributed twin:

- :func:`read_image_folder` — ``binaryFile`` scan with a glob filter
  (S1/S3 in SURVEY.md §2.1); deterministic identity comes from the file
  name, not scan order (Spark scans are unordered by design).
- :func:`extract_image_folder` — the full page-images kernel path
  (spread detect -> gutter split -> crop -> symmetry -> media refs) over
  each image, emitting the same RECORDS/SPANS relations as the PDF
  pipeline. One image behaves exactly like a one-page scan-only PDF
  page, so kernel semantics are pinned by the same tests.
- :func:`rotate_image_folder` — ``rotate images`` (reference
  rotate.py:178-307): clockwise right-angle rotation of every raster,
  returned as (image_id, png) rows for a media-table write.

All Python work is Arrow-batched ``mapInArrow`` over binary columns —
no per-row UDFs and no pandas, same boundary discipline as the PDF job
(output batches built by spark/records.py).
"""

from __future__ import annotations

from typing import Any, Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULTS, validate_config
from .job import assemble_spans, strip_boilerplate
from .schema import RECORDS_SCHEMA


def read_image_folder(spark: SparkSession, path: str, pattern: str = "*.png") -> DataFrame:
    """(image_id, png): deterministic-identity scan of an image folder.

    ``image_id`` is the file's base name — the analog of the reference's
    sorted-glob processing order (page_images.py:25-28): downstream
    relations key and sort on it explicitly instead of relying on scan
    order."""

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    return raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("image_id"),
        F.col("content").alias("png"),
    )


def _make_image_extract_batch(cfg: dict[str, Any]):
    def image_extract_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..extract import extract_page
        from ..pdfio.parser import ParsedPage
        from ..pdfio.png import decode_png
        from .records import RECORDS_ARROW, error_row, page_rows, record_batch

        def image_rows(image_id, png) -> list[tuple]:
            try:
                arr = decode_png(png.as_py())  # gray or RGB
                h, w = arr.shape[:2]
                page = ParsedPage(index=0, width=w, height=h, rotate=0, scan=arr, items=[])
                return page_rows(image_id, 1, 0, extract_page(page, 0, cfg), set())
            except Exception as exc:
                return [error_row(image_id, 1, 0, exc)]

        for batch in batches:
            pngs = batch.column("png")
            for i, image_id in enumerate(batch.column("image_id").to_pylist()):
                yield record_batch(image_rows(image_id, pngs[i]), RECORDS_ARROW)

    return image_extract_batch


def extract_image_folder(
    spark: SparkSession, images: DataFrame, cfg: Optional[dict[str, Any]] = None
) -> tuple[DataFrame, DataFrame]:
    """page-images over an image relation: (spans_df, records_df) with
    the exact schemas of the PDF pipeline (one doc per image)."""

    cfg = validate_config(dict(DEFAULTS, **(cfg or {})))
    n_parts = spark.sparkContext.defaultParallelism * 4
    repart = images.repartition(n_parts, F.col("image_id"))
    records = repart.mapInArrow(_make_image_extract_batch(cfg), schema=RECORDS_SCHEMA)
    # Same narrow-exchange discipline as the PDF pipeline: media rows
    # and lineage payload columns never enter the strip/assembly
    # shuffles (they're consumed from the records branch only).
    span_rows = records.filter(F.col("kind") != "media").select(
        "doc_id", "n_pages", "page_no", "region_idx", "item_idx", "kind",
        "text", "norm_text", "y_band", "is_page_number", "media_ref", "status",
    )
    spans = assemble_spans(strip_boilerplate(span_rows, cfg))
    return spans, records


def rotate_image_folder(images: DataFrame, degrees: int) -> DataFrame:
    """(image_id, png): every raster rotated clockwise by 90/180/270
    (reference rotate.py:274-278 semantics via kernels.rotate_image_cw)."""

    if degrees % 360 not in (90, 180, 270):
        from ..errors import UserError

        raise UserError("Degrees must be one of 90, 180, 270 (clockwise).")

    def rotate_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .. import kernels as K
        from ..pdfio.png import decode_png, encode_png
        from .records import record_batch

        schema = pa.schema([("image_id", pa.string()), ("png", pa.binary())])
        for batch in batches:
            pngs = batch.column("png")
            rows = []
            for i, image_id in enumerate(batch.column("image_id").to_pylist()):
                arr = K.rotate_image_cw(decode_png(pngs[i].as_py()), degrees % 360)
                rows.append((image_id, encode_png(arr)))
            yield record_batch(rows, schema)

    return images.mapInArrow(rotate_batch, "image_id string, png binary")
