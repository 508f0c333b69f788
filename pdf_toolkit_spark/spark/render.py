"""Distributed `render` command twin (reference render.py:40-170):
PDF pages -> PNG rasters at a requested DPI.

The reference walks one PDF with fitz, renders each selected page at
``zoom = dpi / 72`` and writes ``{prefix}_p{page:0{digits}d}.png``
files. The distributed twin maps the same semantics over a documents
relation: one Arrow-batched stage parses each doc, applies the strict
page-spec filter against that doc's page count, resamples the page
raster by the zoom factor (kernels.resample_nearest for scan-backed
pages; scan-LESS pages rasterize deterministically through the bitfont
microfont — no vector rasterizer or font files exist in this
container, so legibility is approximate but pixels are exact functions
of the page content), and emits
(doc_id, page_no, name, png) rows for a media-table write. Zero-padded
names reproduce the reference's sortable naming (render.py:27-37), and
per-doc failures (bad spec, corrupt PDF) become 'error' rows instead
of stage failures.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .records import error_text, fetch_pdf, row_stage

RENDER_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page_no", T.IntegerType(), True),
    T.StructField("name", T.StringType(), True),
    T.StructField("png", T.BinaryType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
])


#: Accumulator counting pages PNG-encoded by the most recent
#: `render_pages` relation (tests pin that metadata-only mode never
#: pays the encode bill — column pruning cannot reach inside
#: mapInArrow, so the flag is the pruning mechanism).
png_encode_acc = None


def render_pages(
    docs: DataFrame, dpi: int = 144, pages: str = "all", prefix: str = "page",
    with_png: bool = True,
) -> DataFrame:
    """(doc_id, page_no, name, png, status, error): every selected page
    of every document rendered at ``dpi``. Input needs (doc_id,
    pdf_bytes) or locator-mode (doc_id, pdf_locator).

    ``with_png=False`` is the metadata-only mode: statuses/names are
    computed identically but the PNG bytes are neither encoded nor
    carried (callers projecting only metadata must set it — Spark's
    column pruning stops at the mapInArrow boundary)."""

    from ..pagespec import validate_positive_int

    global png_encode_acc
    validate_positive_int(int(dpi), "--dpi")
    zoom = float(dpi) / 72.0
    acc = docs.sparkSession.sparkContext.accumulator(0)
    png_encode_acc = acc

    def render_row(doc_id, pdf_bytes=None, pdf_locator=None, **_):
        from .. import kernels as K
        from ..pagespec import compute_page_digits, parse_page_spec
        from ..pdfio.parser import PdfDocument
        from ..pdfio.png import encode_png

        doc = PdfDocument(fetch_pdf(pdf_bytes, pdf_locator))
        indices = parse_page_spec(pages, doc.page_count)
        digits = compute_page_digits([i + 1 for i in indices])
        for idx in indices:
            page = doc.load_page(idx)
            raster = page.scan
            name = f"{prefix}_p{idx + 1:0{digits}d}.png"
            if not with_png:
                yield (doc_id, idx, name, None, "written", None)
                continue
            if raster is not None:
                # fitz renders the page as DISPLAYED: /Rotate applies
                # before the zoom matrix.
                r = K.rotate_image_cw(raster, page.rotate % 360)
                out = K.resample_nearest(r, zoom)
            else:
                # scan-less page: deterministic microfont rasterization
                # (closes the F3 gap — the reference rasterizes every
                # page).
                from ..bitfont import rasterize_text_page

                out = K.rotate_image_cw(
                    rasterize_text_page(page.width, page.height, page.items, zoom),
                    page.rotate % 360,
                )
            acc.add(1)
            yield (doc_id, idx, name, encode_png(out), "written", None)

    def render_error(row: dict[str, Any], exc: Exception):
        yield (row["doc_id"], None, None, None, "error", error_text(exc))

    return docs.mapInArrow(row_stage(render_row, RENDER_SCHEMA, on_error=render_error),
                           schema=RENDER_SCHEMA)
