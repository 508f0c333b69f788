"""RECORDS rows and the Arrow batches that carry them out of the
extraction UDFs (``spark/job.py`` over PDF chunks, ``spark/images.py``
over image files), both ``mapInArrow`` stages.

Batches are assembled from buffers (numpy offsets and validity bits
wrapped by ``pa.py_buffer``, then ``pa.Array.from_buffers``). pyarrow's
``pa.array``, ``pa.scalar`` and ``RecordBatch.from_pylist`` import
pandas on first use; a forked Python worker that never calls them never
pays that import (about 0.33 s and 38 MB per worker).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import RECORDS_SCHEMA

if TYPE_CHECKING:
    from ..extract import PageResult

#: RECORDS_SCHEMA as Arrow types (string, int32, bool and binary only).
RECORDS_ARROW = to_arrow_schema(RECORDS_SCHEMA)

_NO_LINEAGE = (None,) * 6


def page_rows(
    doc_id: str, n_pages: int, page_no: int, result: PageResult, seen_refs: set[str]
) -> list[tuple]:
    """RECORDS rows of one extracted page.

    One kind='media' row per media ref not yet in ``seen_refs`` (which
    this adds to; one per distinct ref per doc chunk): these feed the
    content-addressed media sink and never become spans. Then one row
    per span candidate; the first candidate row carries the page's
    lineage and counter increments. A page with no candidates gets a
    kind='none' row to carry them instead."""

    c = result.counters
    lineage = (
        result.lineage.get("detail_json"),
        result.lineage.get("status", "ok"),
        c.get("pages_parsed", 1),
        c.get("rotations_fixed", 0),
        c.get("spreads_split", 0),
        c.get("crop_only", 0),
    )
    rows = []
    for ref, png in result.media.items():
        if ref not in seen_refs:
            seen_refs.add(ref)
            rows.append((doc_id, n_pages, page_no, 0, 0, "media", None, None, None,
                         None, ref, png, *_NO_LINEAGE))
    if not result.candidates:
        rows.append((doc_id, n_pages, page_no, 0, 0, "none", None, None, None, None,
                     None, None, *lineage))
    for i, cand in enumerate(result.candidates):
        rows.append((doc_id, n_pages, cand.page_no, cand.region_idx, cand.item_idx,
                     cand.kind, cand.text, cand.norm_text, cand.y_band,
                     cand.is_page_number, cand.media_ref, None,
                     *(lineage if i == 0 else _NO_LINEAGE)))
    return rows


def error_row(doc_id: str, n_pages: int, page_no: int, exc: Exception) -> tuple:
    """The one kind='none', status='error' row of a document (chunk)
    that failed to fetch, parse or decode."""

    detail = json.dumps({"error": f"{type(exc).__name__}: {exc}"}, sort_keys=True)
    return (doc_id, n_pages, page_no, 0, 0, "none", None, None, None, None, None,
            None, detail, "error", 0, 0, 0, 0)


def record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples (in ``schema`` field order) as one RecordBatch."""

    n = len(rows)
    columns = zip(*rows) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [_column(f.type, values, n) for f, values in zip(schema, columns)],
        schema=schema,
    )


def _column(typ: pa.DataType, values: tuple, n: int) -> pa.Array:
    present = np.fromiter((v is not None for v in values), dtype=bool, count=n)
    nulls = n - int(present.sum())
    validity = pa.py_buffer(np.packbits(present, bitorder="little")) if nulls else None
    if typ in (pa.string(), pa.binary()):
        blobs = [b"" if v is None else v.encode() if isinstance(v, str) else v
                 for v in values]
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.fromiter(map(len, blobs), dtype=np.int64, count=n), out=offsets[1:])
        if offsets[-1] > np.iinfo(np.int32).max:
            raise ValueError(f"{offsets[-1]} bytes overflow a {typ} column's int32 offsets")
        buffers = [validity, pa.py_buffer(offsets.astype(np.int32)),
                   pa.py_buffer(b"".join(blobs))]
    elif typ == pa.bool_():
        bits = np.fromiter((bool(v) for v in values), dtype=bool, count=n)
        buffers = [validity, pa.py_buffer(np.packbits(bits, bitorder="little"))]
    elif typ == pa.int32():
        data = np.fromiter((0 if v is None else v for v in values), dtype=np.int32, count=n)
        buffers = [validity, pa.py_buffer(data)]
    else:
        raise TypeError(f"no buffer layout for Arrow type {typ}")
    return pa.Array.from_buffers(typ, n, buffers, null_count=nulls)
