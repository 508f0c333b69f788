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
  returned as (image_id, png, status, error) rows for a media-table
  write.

All Python work is Arrow-batched ``mapInArrow`` over binary columns —
no per-row UDFs and no pandas, same boundary as the PDF job
(spark/records.py row_stage).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULTS, validate_config
from .job import span_branch
from .records import error_row, error_text, page_rows, row_stage
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


def _image_records(cfg: dict[str, Any]):
    """The page-images extraction function for mapInArrow: one image
    file -> its RECORDS rows, a bad image -> its 'error' row."""

    def image_rows(image_id, png, **_) -> list[tuple]:
        from ..extract import extract_page
        from ..pdfio.parser import ParsedPage
        from ..pdfio.png import decode_png

        arr = decode_png(png)  # gray or RGB
        h, w = arr.shape[:2]
        page = ParsedPage(index=0, width=w, height=h, rotate=0, scan=arr, items=[])
        return page_rows(image_id, 1, 0, extract_page(page, 0, cfg), set())

    def image_error(row: dict[str, Any], exc: Exception) -> list[tuple]:
        return [error_row(row["image_id"], 1, 0, exc)]

    return row_stage(image_rows, RECORDS_SCHEMA, on_error=image_error)


def extract_image_folder(
    spark: SparkSession, images: DataFrame, cfg: Optional[dict[str, Any]] = None
) -> tuple[DataFrame, DataFrame]:
    """page-images over an image relation: (spans_df, records_df) with
    the exact schemas of the PDF pipeline (one doc per image)."""

    cfg = validate_config(dict(DEFAULTS, **(cfg or {})))
    n_parts = spark.sparkContext.defaultParallelism * 4
    repart = images.repartition(n_parts, F.col("image_id"))
    records = repart.mapInArrow(_image_records(cfg), schema=RECORDS_SCHEMA)
    return span_branch(records, cfg), records


#: rotate_image_folder's output: a bad image becomes a status='error'
#: row (the ROTATE_SCHEMA convention of spark/pdfjobs.py).
ROTATE_IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("png", T.BinaryType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
])


def rotate_image_folder(images: DataFrame, degrees: int) -> DataFrame:
    """(image_id, png, status, error): every raster rotated clockwise by
    90/180/270 (reference rotate.py:274-278 semantics via
    kernels.rotate_image_cw); an image that fails to decode becomes an
    'error' row instead of failing the stage."""

    if degrees % 360 not in (90, 180, 270):
        from ..errors import UserError

        raise UserError("Degrees must be one of 90, 180, 270 (clockwise).")

    def rotate_row(image_id, png, **_):
        from .. import kernels as K
        from ..pdfio.png import decode_png, encode_png

        arr = K.rotate_image_cw(decode_png(png), degrees % 360)
        yield (image_id, encode_png(arr), "written", None)

    def rotate_error(row: dict[str, Any], exc: Exception):
        yield (row["image_id"], None, "error", error_text(exc))

    return images.mapInArrow(
        row_stage(rotate_row, ROTATE_IMAGES_SCHEMA, on_error=rotate_error),
        schema=ROTATE_IMAGES_SCHEMA,
    )
