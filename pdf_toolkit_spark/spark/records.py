"""The engine's one Python boundary: per-row ``mapInArrow`` stages
(:func:`row_stage`), whole-batch numpy stages (:func:`batch_stage`),
the Arrow batches they emit (:func:`record_batch`), and the RECORDS
rows of the extraction UDFs (``spark/job.py`` over PDF chunks,
``spark/images.py`` over image files).

Batches are read and assembled through buffers (``np.frombuffer`` over
``Array.buffers()``; numpy offsets and validity bits wrapped by
``pa.py_buffer``, then ``pa.Array.from_buffers``). pyarrow's
``pa.array``, ``pa.scalar``, ``Array.to_numpy`` and
``RecordBatch.from_pylist`` import pandas on first use; a forked Python
worker that never calls them never pays that import (about 0.33 s and
38 MB per worker).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Any, Callable, Iterable, Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import RECORDS_SCHEMA

if TYPE_CHECKING:
    from ..extract import PageResult

#: RECORDS_SCHEMA as Arrow types.
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

    detail = json.dumps({"error": error_text(exc)}, sort_keys=True)
    return (doc_id, n_pages, page_no, 0, 0, "none", None, None, None, None, None,
            None, detail, "error", 0, 0, 0, 0)


def row_stage(
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType,
    on_error: Optional[Callable[[dict[str, Any], Exception], Iterable[tuple]]] = None,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """A per-row function as a ``mapInArrow`` function.

    Each input row is read on its own (``column[i].as_py()``, so a
    worker holds one row's payload at a time) and passed to ``fn`` by
    column name; ``fn`` returns or yields output tuples in ``schema``
    field order, which become one batch per input row. With
    ``on_error``, an exception in ``fn`` becomes the rows of
    ``on_error(row, exc)``, after whatever ``fn`` had already yielded
    (a ``fn`` that returns a list yields nothing before it fails);
    without it the exception fails the task."""

    def rows_of(row: dict[str, Any]) -> list[tuple]:
        out: list[tuple] = []
        try:
            out.extend(fn(**row))
        except Exception as exc:
            if on_error is None:
                raise
            out.extend(on_error(row, exc))
        return out

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow = to_arrow_schema(schema)
        for batch in batches:
            names, columns = batch.schema.names, batch.columns
            for i in range(batch.num_rows):
                # Nothing in this frame keeps a row's payload or output
                # rows alive while the next row runs.
                yield record_batch(
                    rows_of({name: col[i].as_py() for name, col in zip(names, columns)}),
                    arrow,
                )

    return stage


def batch_stage(
    fn: Callable[..., tuple[np.ndarray, ...]], schema: T.StructType
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """A whole-batch numpy function as a ``mapInArrow`` function.

    ``fn`` gets each non-empty input batch's columns, in order, as
    numpy arrays read from the Arrow buffers: an int or float column as
    a 1-D array, a list<float|double> column as a 2-D float64
    ``(rows, width)`` array. A null, or vectors of unequal width within
    a batch, raise. ``fn`` returns int32, int64 or float64 columns in
    ``schema`` field order, which become one output batch."""

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow = to_arrow_schema(schema)
        for batch in batches:
            if batch.num_rows:
                out = fn(*map(_numpy, batch.columns))
                yield pa.RecordBatch.from_arrays(
                    [_from_numpy(f.type, col) for f, col in zip(arrow, out)], schema=arrow
                )

    return stage


def _numpy(col: pa.Array) -> np.ndarray:
    if col.null_count:
        raise ValueError(f"null in a {col.type} column")
    if pa.types.is_list(col.type):
        offsets, values = _numpy(col.offsets), _numpy(col.values)
        n = len(col)
        width = int(offsets[1] - offsets[0]) if n else 0
        if (np.diff(offsets) != width).any():
            raise ValueError(f"vectors of unequal width in a {col.type} column")
        return values[offsets[0]:offsets[-1]].reshape(n, width).astype(np.float64)
    data = np.frombuffer(col.buffers()[1], dtype=_NUMPY[col.type])
    return data[col.offset:col.offset + len(col)]


def _from_numpy(typ: pa.DataType, values: np.ndarray) -> pa.Array:
    data = np.ascontiguousarray(values, dtype=_NUMPY[typ])
    return pa.Array.from_buffers(typ, len(data), [None, pa.py_buffer(data)])


def fetch_pdf(pdf_bytes: Optional[bytes], pdf_locator: Optional[str]) -> bytes:
    """A document's PDF from whichever carrier column its row has: the
    inline bytes, or the file its locator names (an object-store GET on
    a cluster), read executor-side."""

    if pdf_locator is not None:
        with open(pdf_locator, "rb") as fh:
            return fh.read()
    return pdf_bytes


def error_text(exc: Exception) -> str:
    """The ``error`` column of a row that failed."""

    return f"{type(exc).__name__}: {exc}"


def record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples (in ``schema`` field order) as one RecordBatch."""

    n = len(rows)
    columns = zip(*rows) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [_column(f.type, values, n) for f, values in zip(schema, columns)],
        schema=schema,
    )


_NUMPY = {pa.int32(): np.int32, pa.int64(): np.int64,
          pa.float32(): np.float32, pa.float64(): np.float64}


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
    elif typ in _NUMPY:
        data = np.fromiter((0 if v is None else v for v in values), dtype=_NUMPY[typ],
                           count=n)
        buffers = [validity, pa.py_buffer(data)]
    else:
        raise TypeError(f"no buffer layout for Arrow type {typ}")
    return pa.Array.from_buffers(typ, n, buffers, null_count=nulls)
