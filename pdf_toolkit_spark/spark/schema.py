"""Explicit StructType schemas for every UDF and table boundary.

The reference validates a closed config schema up front
(config.py:100-111); this engine declares closed StructTypes on every
boundary — no inference anywhere (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Input table (FIXTURES.md §1): raw interleaved text+media documents.
DOCUMENTS_RAW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("pdf_bytes", T.BinaryType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
])

#: Streaming documents feed: the input of the dedup, near-dup,
#: canonical-pick, quota, sample, packing and tiering stream operators.
DOCUMENTS_FEED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

#: Streaming embeddings feed: the input of the IVF, IVF-PQ and
#: semantic-dedup stream operators.
EMBEDDINGS_FEED_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("label", T.IntegerType(), True),
])

#: Locator-mode input: documents stay in object storage and only a
#: path travels through the plan. This is the 100-TB mega-PDF shape —
#: chunk salting replicates the input row per chunk, and replicating a
#: locator string is free while replicating a 1 GB pdf_bytes column
#: moves n_chunks x the corpus through the salt exchange.
DOCUMENTS_LOCATOR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("pdf_locator", T.StringType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
])

#: One span: the north rule's (kind, text, media_ref, order) tuple.
SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("offset", T.IntegerType(), False),
])

#: Output table: per-document ordered span arrays.
SPANS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
])

#: Stage-1 (mapInArrow) output: one row per span candidate; the first
#: candidate row of each page additionally carries the page's lineage
#: and counter increments (null elsewhere). kind='none' rows exist only
#: to carry lineage for pages that produced no candidates; kind='media'
#: rows carry one content-addressed PNG blob each (media_ref +
#: media_png) for the media sink and never become spans.
RECORDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("page_no", T.IntegerType(), False),
    T.StructField("region_idx", T.IntegerType(), False),
    T.StructField("item_idx", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("norm_text", T.StringType(), True),
    T.StructField("y_band", T.IntegerType(), True),
    T.StructField("is_page_number", T.BooleanType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("media_png", T.BinaryType(), True),
    # lineage payload (first row of each page only)
    T.StructField("lineage_json", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("pages_parsed", T.IntegerType(), True),
    T.StructField("rotations_fixed", T.IntegerType(), True),
    T.StructField("spreads_split", T.IntegerType(), True),
    T.StructField("crop_only", T.IntegerType(), True),
])

#: Lineage table (FIXTURES.md §4): per-page action records, timestamped
#: (reference manifest records ISO timestamps, manifest.py:21-24).
LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("page_no", T.IntegerType(), False),
    T.StructField("status", T.StringType(), True),
    T.StructField("detail_json", T.StringType(), True),
    T.StructField("recorded_at", T.TimestampType(), True),
])

#: Media table: content-addressed PNG blobs referenced by span
#: media_refs (the reference's PNG sink, page_images.py:934-938).
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("png_bytes", T.BinaryType(), False),
])

#: Metrics table (FIXTURES.md §4): one row per run, with run metadata
#: (ISO timestamps + reconstructed command, reference manifest.py:90-106
#: and cli.py:434-438).
METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("docs_processed", T.LongType(), True),
    T.StructField("pages_parsed", T.LongType(), True),
    T.StructField("spreads_split", T.LongType(), True),
    T.StructField("rotations_fixed", T.LongType(), True),
    T.StructField("crop_only", T.LongType(), True),
    T.StructField("elapsed_sec", T.DoubleType(), True),
    T.StructField("parallelism", T.StringType(), True),
    T.StructField("started_at", T.StringType(), True),
    T.StructField("ended_at", T.StringType(), True),
    T.StructField("command", T.StringType(), True),
])
