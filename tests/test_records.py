"""The per-row Arrow boundary: buffer-built batches equal pyarrow's own
row conversion, and the PDF extraction UDF, every per-row stage module
and an ops stage run without importing pandas."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap

import pyarrow as pa

from conftest import REPO_ROOT

from pdf_toolkit_spark.spark.records import RECORDS_ARROW, record_batch


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
    print(json.dumps({
        "chunks": len(rows),
        "batches": [(b.column("doc_id").to_pylist(), b.column("status").to_pylist())
                    for b in out],
        "phashes": phashes,
        "pandas": "pandas" in sys.modules,
    }))
""")


def test_extract_batch_runs_without_pandas():
    """A fresh interpreter runs the extraction UDF over one Arrow batch
    (chunked docs plus a truncated doc) and never imports pandas."""

    proc = subprocess.run(
        [sys.executable, "-c", _PANDAS_FREE_RUN], cwd=REPO_ROOT,
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
    assert result["pandas"] is False
