"""Input-side helpers: distributed corpus materialization and readers.

The fixture corpus is generated ON the executors (spark.range ->
a per-row mapInArrow stage over doc ids, spark/records.py row_stage) — the generator is a pure function of
(seed, doc_id), so generation parallelizes like any other stage and the
driver never holds PDF bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .records import row_stage
from .schema import DOCUMENTS_RAW_SCHEMA


def corpus_dataframe(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    mega_every: int = 50,
    partitions: int | None = None,
    profile: str = "scan",
    jpeg_every: int = 0,
    encrypt_every: int = 0,
    cid_every: int = 0,
) -> DataFrame:
    """documents_raw (doc_id, pdf_bytes, n_pages) built distributed."""

    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(id):
        from ..corpus import make_document

        d = make_document(id, seed=seed, mega_every=mega_every, profile=profile,
                          jpeg_every=jpeg_every, encrypt_every=encrypt_every,
                          cid_every=cid_every)
        yield (d["doc_id"], d["pdf_bytes"], d["n_pages"])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInArrow(row_stage(gen, DOCUMENTS_RAW_SCHEMA), schema=DOCUMENTS_RAW_SCHEMA)
    )


def read_documents_raw(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_RAW_SCHEMA).parquet(path)


def write_corpus_files(
    out_dir: str,
    n_docs: int,
    seed: int = 42,
    mega_every: int = 50,
    profile: str = "scan",
    jpeg_every: int = 0,
) -> list[tuple[str, str, int]]:
    """Materialize the fixture corpus as one PDF file per document —
    the local stand-in for object storage in locator-mode extraction —
    and return manifest rows (doc_id, pdf_locator, n_pages)."""

    import os

    from ..corpus import iter_corpus

    os.makedirs(out_dir, exist_ok=True)
    rows: list[tuple[str, str, int]] = []
    for d in iter_corpus(n_docs, seed=seed, mega_every=mega_every,
                         profile=profile, jpeg_every=jpeg_every):
        path = os.path.join(out_dir, f"{d['doc_id']}.pdf")
        with open(path, "wb") as fh:
            fh.write(d["pdf_bytes"])
        rows.append((d["doc_id"], path, d["n_pages"]))
    return rows


def locator_dataframe(
    spark: SparkSession, manifest_rows: list[tuple[str, str, int]]
) -> DataFrame:
    """documents_locator (doc_id, pdf_locator, n_pages) from a manifest.
    On a cluster this is a metadata-table read (paths + page counts);
    the PDF bytes never enter the plan — chunk workers fetch their own
    doc's bytes inside the extraction UDF."""

    from .schema import DOCUMENTS_LOCATOR_SCHEMA

    return spark.createDataFrame(manifest_rows, schema=DOCUMENTS_LOCATOR_SCHEMA)
