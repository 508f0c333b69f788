"""Driver-contract wrappers for the extraction pipeline itself: wrap
the testdata ``documents`` table into deterministic PDF byte streams
(executor-side) and run the full distributed extraction. Non-SQL by
nature (binary parse kernel) -> rows-only driver check; exactness is
covered by tests/test_spark_job.py against the serial oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import corpus_config
from ..spark.job import build_pipeline
from ..spark.records import row_stage
from ..spark.schema import DOCUMENTS_RAW_SCHEMA
from .common import table


def documents_as_pdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pdf_bytes, n_pages): testdata documents wrapped into
    fixture PDFs on the executors (deterministic in doc_id + text)."""

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def wrap(doc_id, text):
        from ..corpus import document_from_text

        m = document_from_text(int(doc_id), text)
        yield (m["doc_id"], m["pdf_bytes"], m["n_pages"])

    # 4 waves per core: the wrap UDF (and, under chunk_spread="input",
    # the downstream extraction UDF that inherits this partitioning) is
    # CPU-bound per doc, so multiple waves absorb stragglers without a
    # second byte-moving exchange.
    return docs.repartition(spark.sparkContext.defaultParallelism * 4).mapInArrow(
        row_stage(wrap, DOCUMENTS_RAW_SCHEMA), schema=DOCUMENTS_RAW_SCHEMA
    )


def extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: full distributed extraction over PDFs synthesized
    from the documents table. Output: (doc_id, n_spans, n_text_spans,
    n_image_spans) — a stable scalar projection of the span arrays."""

    raw = documents_as_pdfs(spark, sf_dir)
    spans, _ = build_pipeline(spark, raw, corpus_config())
    is_text = lambda s: s["kind"] == F.lit("text")  # noqa: E731
    return spans.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", is_text)).alias("n_text_spans"),
        (F.size("spans") - F.size(F.filter("spans", is_text))).alias("n_image_spans"),
    )


def extract_full_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full span arrays (the SPANS_SCHEMA output) for the synthesized
    corpus — the DataFrame the driver's entry() smoke-check collects."""

    raw = documents_as_pdfs(spark, sf_dir)
    spans, _ = build_pipeline(spark, raw, corpus_config())
    return spans


def extract_render_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `render` command twin over the synthesized corpus at 36 DPI
    (zoom 0.5): page metadata projection. The PIXELS are pinned by
    tests/test_render.py against the serial parser; the metadata
    (page fan-out + zero-padded names + statuses) is SQL-derivable
    from the documents table, so this entry carries an exact oracle."""

    from ..spark.render import render_pages

    raw = documents_as_pdfs(spark, sf_dir)
    return render_pages(raw, dpi=36, with_png=False).select(
        "doc_id", "page_no", "name", "status"
    )


QUERIES = {
    "extract_spans": extract_spans,
    "extract_render_pages": extract_render_pages,
}

#: document_from_text paginates at 40 whitespace-split words per page
#: (corpus.py document_from_text); the oracle reproduces that fan-out.
ORACLES: dict[str, str] = {
    "extract_render_pages": """
        WITH pageno AS (
            SELECT 'doc' || lpad(doc_id::VARCHAR, 6, '0') AS doc_id,
                   unnest(generate_series(0,
                       GREATEST(CAST(ceil(len(regexp_split_to_array(trim(text), '\\s+')) / 40.0) AS INT), 1) - 1
                   )) AS page_no
            FROM documents
        )
        SELECT doc_id, CAST(page_no AS INT) AS page_no,
               'page_p' || lpad((page_no + 1)::VARCHAR, 4, '0') || '.png' AS name,
               'written' AS status
        FROM pageno
    """,
}
