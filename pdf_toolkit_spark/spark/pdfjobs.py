"""Distributed twins of the reference's PDF-rewriting commands:

- ``split``      (reference split.py:51-180): each document split into
  range-chunked part PDFs — explicit ``--ranges`` or auto
  ``--pages_per_file`` chunking, ``{prefix}_part{i:0{digits}d}.pdf``
  naming with digits = max(2, digits(num_parts)) (split.py:45-48).
- ``rotate pdf`` (reference rotate.py:31-169): selected pages get
  /Rotate = (current + degrees) % 360 and the document is rewritten.

Both rebuild pages through the engine's parser -> writer round trip
(ParsedPage carries exactly what PageSpec needs: raster, /Rotate,
ordered text/image items in raster coords), which the tests pin as
lossless for page content. Per-document failures become 'error' rows,
never stage failures — the same isolation contract as extraction.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .records import error_text, fetch_pdf, row_stage

SPLIT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("part", T.IntegerType(), True),
    T.StructField("part_name", T.StringType(), True),
    T.StructField("page_range", T.StringType(), True),
    T.StructField("pdf_bytes", T.BinaryType(), True),
    T.StructField("n_pages", T.IntegerType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
])

ROTATE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("pdf_bytes", T.BinaryType(), True),
    T.StructField("n_pages", T.IntegerType(), True),
    T.StructField("pages_rotated", T.IntegerType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
])


def _rebuild_pages(doc, indices, rotate_override=None):
    """ParsedPage -> PageSpec for each index; raises on raster-less
    pages (the fixture surface always has a scan)."""

    from ..pdfio.writer import PageSpec

    specs = []
    for idx in indices:
        page = doc.load_page(idx)
        if page.scan is None:
            raise ValueError(f"page {idx} has no raster; cannot rewrite")
        rot = page.rotate if rotate_override is None else rotate_override(idx, page.rotate)
        specs.append(PageSpec(raster=page.scan, rotate=rot % 360, items=list(page.items)))
    return specs


def split_pdfs(
    docs: DataFrame,
    ranges_spec: Optional[str] = None,
    pages_per_file: Optional[int] = None,
    prefix: str = "doc",
) -> DataFrame:
    """Split every document into part PDFs. Exactly one of
    ``ranges_spec`` / ``pages_per_file`` must be given (the reference's
    --ranges / --pages_per_file exclusivity, split.py:93-94)."""

    from ..errors import UserError

    if bool(ranges_spec) == bool(pages_per_file):
        raise UserError("Use either --ranges or --pages_per_file, not both.")
    if pages_per_file is not None:
        from ..pagespec import validate_positive_int

        validate_positive_int(int(pages_per_file), "--pages_per_file")

    def split_row(doc_id, pdf_bytes=None, pdf_locator=None, **_):
        from ..pagespec import chunk_ranges, compute_part_digits, parse_page_ranges
        from ..pdfio.parser import PdfDocument
        from ..pdfio.writer import write_pdf

        doc = PdfDocument(fetch_pdf(pdf_bytes, pdf_locator))
        total = doc.page_count
        if ranges_spec:
            ranges = parse_page_ranges(ranges_spec, total)
        else:
            ranges = chunk_ranges(total, int(pages_per_file))
        digits = compute_part_digits(len(ranges))
        for index, (start, end) in enumerate(ranges, start=1):
            specs = _rebuild_pages(doc, range(start, end + 1))
            yield (doc_id, index, f"{prefix}_part{index:0{digits}d}.pdf",
                   f"{start + 1}-{end + 1}", write_pdf(specs), len(specs), "written", None)

    def split_error(row: dict[str, Any], exc: Exception):
        yield (row["doc_id"], None, None, None, None, None, "error", error_text(exc))

    return docs.mapInArrow(row_stage(split_row, SPLIT_SCHEMA, on_error=split_error),
                           schema=SPLIT_SCHEMA)


def rotate_pdfs(docs: DataFrame, degrees: int, pages: str = "all") -> DataFrame:
    """Add ``degrees`` (clockwise) to /Rotate of the selected pages of
    every document and rewrite it (reference rotate.py:109-113:
    ``set_rotation((current + degrees) % 360)``)."""

    from ..pagespec import validate_degrees

    validate_degrees(int(degrees))

    def rotate_row(doc_id, pdf_bytes=None, pdf_locator=None, **_):
        from ..pagespec import parse_page_spec
        from ..pdfio.parser import PdfDocument
        from ..pdfio.writer import write_pdf

        doc = PdfDocument(fetch_pdf(pdf_bytes, pdf_locator))
        selected = set(parse_page_spec(pages, doc.page_count))

        def override(idx: int, current: int) -> int:
            return current + degrees if idx in selected else current

        specs = _rebuild_pages(doc, range(doc.page_count), override)
        yield (doc_id, write_pdf(specs), len(specs), len(selected), "written", None)

    def rotate_error(row: dict[str, Any], exc: Exception):
        yield (row["doc_id"], None, None, None, "error", error_text(exc))

    return docs.mapInArrow(row_stage(rotate_row, ROTATE_SCHEMA, on_error=rotate_error),
                           schema=ROTATE_SCHEMA)
