"""The Arrow boundary: buffer-built batches equal pyarrow's own row
conversion, the PDF extraction UDF, every per-row stage module, a
per-row ops stage and a whole-batch vector stage run without importing
pandas, and the vector stage rejects a null or ragged vector."""

from __future__ import annotations

import json
import math
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from conftest import REPO_ROOT

from pdf_toolkit_spark.spark.records import RECORDS_ARROW, batch_stage, record_batch


def _as_dicts(rows: list[tuple], schema: pa.Schema) -> list[dict]:
    return [dict(zip(schema.names, r)) for r in rows]


def test_record_batch_equals_from_pylist():
    full = ("doc-ü", 3, 0, 1, 2, "text", "Grüße, 世界", "grüße 世界", 7, True,
            "ref0", b"\x89PNG\x00", '{"k": "é"}', "ok", 1, 0, 1, 0)
    # a null in every nullable column, empty strings and empty bytes
    sparse = ("d", 1, 0, 0, 0, "none", *(None,) * 12)
    empty = ("", 0, 0, 0, 0, "media", "", "", 0, False, "", b"", "", "", 0, 0, 0, 0)
    for rows in ([full, sparse, empty, full], [sparse], [empty], [full] * 9, []):
        got = record_batch(rows, RECORDS_ARROW)
        want = pa.RecordBatch.from_pylist(_as_dicts(rows, RECORDS_ARROW),
                                          schema=RECORDS_ARROW)
        got.validate(full=True)
        assert got.schema == RECORDS_ARROW
        assert got.num_rows == len(rows)
        assert got.equals(want)


def test_record_batch_nullable_columns_of_other_schemas():
    schema = pa.schema([("image_id", pa.string()), ("png", pa.binary()),
                        ("phash", pa.int64())])
    rows = [("a", b"x" * 20, (1 << 59) + 3), (None, None, None), ("ü", b"", -(1 << 40))]
    got = record_batch(rows, schema)
    got.validate(full=True)
    assert got.equals(pa.RecordBatch.from_pylist(_as_dicts(rows, schema), schema=schema))


_PANDAS_FREE_RUN = textwrap.dedent("""
    import json, sys
    import pyarrow as pa
    from pdf_toolkit_spark.corpus import corpus_config, make_document
    from pdf_toolkit_spark.spark.job import make_extract_batch
    from pdf_toolkit_spark.spark.records import record_batch

    docs = [make_document(i, seed=42, mega_every=0) for i in range(3)]
    rows = []
    for d in docs:
        n = d["n_pages"]
        if n > 1:   # two chunks of one doc
            rows += [(d["doc_id"], d["pdf_bytes"], n, 0, 0),
                     (d["doc_id"], d["pdf_bytes"], n, 1, n - 1)]
        else:
            rows.append((d["doc_id"], d["pdf_bytes"], n, 0, n - 1))
    rows.append(("truncated", docs[0]["pdf_bytes"][:200], docs[0]["n_pages"], 0, 0))
    schema = pa.schema([("doc_id", pa.string()), ("pdf_bytes", pa.binary()),
                        ("n_pages", pa.int32()), ("chunk_start", pa.int32()),
                        ("chunk_end", pa.int32())])
    out = list(make_extract_batch(corpus_config())(iter([record_batch(rows, schema)])))

    # every per-row stage module, and one ops stage driven through the helper
    import pdf_toolkit_spark.ops
    import pdf_toolkit_spark.spark.html_job, pdf_toolkit_spark.spark.input
    import pdf_toolkit_spark.spark.pdfjobs, pdf_toolkit_spark.spark.render
    from pdf_toolkit_spark.ops.multimodal import PHASH_SCHEMA, _phash_row
    from pdf_toolkit_spark.spark.records import row_stage
    docs = pa.schema([("doc_id", pa.int64()), ("payload", pa.binary())])
    payloads = record_batch([(7, b"seven"), (8, b"eight")], docs)
    phashes = [b.to_pylist() for b in row_stage(_phash_row, PHASH_SCHEMA)(iter([payloads]))]

    # one vector scorer through the whole-batch helper, on a sliced
    # list<double> batch (its offsets start past zero)
    import numpy as np
    from pyspark.sql import types as T
    from pdf_toolkit_spark.ops.similarity import _cosine_scorer
    from pdf_toolkit_spark.spark.records import batch_stage
    ids, vecs, cents = %(ids)r, %(vecs)r, %(cents)r
    def buf(typ, xs, dtype):
        return pa.Array.from_buffers(typ, len(xs), [None, pa.py_buffer(np.array(xs, dtype))])
    width = len(vecs[0])
    offsets = buf(pa.int32(), range(0, len(vecs) * width + 1, width), np.int32)
    flat = buf(pa.float64(), [x for v in vecs for x in v], np.float64)
    batch = pa.RecordBatch.from_arrays(
        [buf(pa.int64(), ids, np.int64), pa.ListArray.from_arrays(offsets, flat)],
        ["vec_id", "v"]).slice(1)
    schema = T.StructType([T.StructField("vec_id", T.LongType()),
                           T.StructField("cell", T.IntegerType()),
                           T.StructField("sim_raw", T.DoubleType())])
    scorer = batch_stage(_cosine_scorer([{"cell": c, "cv": v} for c, v in cents]), schema)
    cosines = [(r["vec_id"], r["cell"], r["sim_raw"].hex())
               for b in scorer(iter([batch])) for r in b.to_pylist()]
    print(json.dumps({
        "chunks": len(rows),
        "batches": [(b.column("doc_id").to_pylist(), b.column("status").to_pylist())
                    for b in out],
        "phashes": phashes,
        "cosines": cosines,
        "pandas": "pandas" in sys.modules,
    }))
""")

_IDS = [3, 5, 8, 13]
_VECS = [[math.sin(7 * i + d) * (d + 1) for d in range(6)] for i in range(len(_IDS))]
_CENTS = [(c, [math.cos(3 * c + d) for d in range(6)]) for c in (2, 0, 1)]


def _fold_cosine(a: list[float], b: list[float]) -> float:
    """Spark's ``aggregate(zip_with)`` cosine: dimension-order sums from
    0.0, one IEEE-754 rounding per operation."""

    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def test_extract_batch_runs_without_pandas():
    """A fresh interpreter runs the extraction UDF over one Arrow batch
    (chunked docs plus a truncated doc), a per-row ops stage and a
    vector scorer through ``batch_stage`` and never imports pandas; the
    scorer's cosines equal the dimension-order fold bit for bit."""

    script = _PANDAS_FREE_RUN % {"ids": _IDS, "vecs": _VECS, "cents": _CENTS}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO_ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    batches = result["batches"]
    assert len(batches) == result["chunks"]          # one batch per chunk
    for doc_ids, statuses in batches:
        assert len(set(doc_ids)) == 1
    *good, (bad_ids, bad_statuses) = batches
    assert bad_ids == ["truncated"] and bad_statuses == ["error"]
    for _, statuses in good:
        assert "error" not in statuses and "ok" in statuses
    from pdf_toolkit_spark.ops.multimodal import _phash_row

    assert result["phashes"] == [
        [{"doc_id": i, "phash": fp} for i, fp in _phash_row(i, payload)]
        for i, payload in ((7, b"seven"), (8, b"eight"))
    ]
    assert result["cosines"] == [
        [vec_id, cell, _fold_cosine(vec, cv).hex()]
        for vec_id, vec in zip(_IDS[1:], _VECS[1:]) for cell, cv in _CENTS
    ]
    assert result["pandas"] is False


_VEC_SCHEMA = T.StructType([T.StructField("vec_id", T.LongType())])


@pytest.mark.parametrize("vectors", [
    [[1.0, 2.0], [3.0]],        # ragged
    [[1.0, 2.0], None],         # null vector
    [[1.0, 2.0], [3.0, None]],  # null component
])
def test_batch_stage_rejects_null_and_ragged_vectors(vectors):
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], pa.int64()), pa.array(vectors, pa.list_(pa.float64()))],
        ["vec_id", "v"])
    stage = batch_stage(lambda ids, vecs: (ids,), _VEC_SCHEMA)
    with pytest.raises(ValueError):
        list(stage(iter([batch])))
