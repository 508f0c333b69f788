"""Distributed HTML main-content extraction (north rule: "HTML
boilerplate strip ... DOM heuristics").

Pipeline (all-declarative after the one Arrow-batched parse stage):

  documents --repartition--> mapInArrow(html synth + DOM extract)
            --> corpus-level boilerplate strip (aggregate + anti-join
                on (site, norm_text): spans repeated in >=
                BOILER_MIN_DOCS distinct docs of a site are chrome)
            --> span assembly (collect_list + array_sort + transform
                with dense offsets)

The strip is the PDF pipeline's repeated-span frequency rule
(spark/job.py strip_boilerplate) lifted from pages-within-doc to
docs-within-site. Shapes at fleet scale: the parse stage is
embarrassingly parallel; the boiler-key relation aggregates down to
(sites x distinct chrome strings) — tiny, so AQE broadcasts the
anti-join; assembly shuffles one row per span, keyed by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..htmlx import BOILER_MIN_DOCS, extract_html_document, site_of
from .records import row_stage

#: Accumulator counting documents fed through the DOM-parse UDF in the
#: most recent `html_records_df` relation. Tests read it after an action
#: to pin that the parse stage executed ONCE (see the persist note in
#: `extract_html_spans`); at 10^12-doc scale a re-execution is a full
#: extra parse bill, so the single-execution property is regression-gated.
parse_docs_acc = None

#: The records relation persisted by the most recent `extract_html_spans`
#: call. A queries()-style caller never gets a hook to unpersist after its
#: action, so the next call evicts the previous cache entry (bounded at
#: one resident relation per driver).
_cached_records: DataFrame | None = None

HTML_RECORDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("site", T.IntegerType(), False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("norm_text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
])


def html_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per candidate span, document order preserved in `pos`
    (per-doc DOM heuristics applied; corpus strip NOT yet applied)."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return html_records_df(docs)


def html_records_df(docs: DataFrame) -> DataFrame:
    """DOM-extraction records for an arbitrary (doc_id, text) relation
    (the streaming twin feeds micro-batches through this)."""

    global parse_docs_acc
    spark = docs.sparkSession
    acc = spark.sparkContext.accumulator(0)
    parse_docs_acc = acc

    def run(doc_id, text, **_):
        acc.add(1)
        did = int(doc_id)
        for pos, s in enumerate(extract_html_document(did, text)):
            yield (f"doc{did:06d}", site_of(did), pos, s["kind"], s["text"],
                   s["norm_text"], s["media_ref"])

    return docs.repartition(spark.sparkContext.defaultParallelism).mapInArrow(
        row_stage(run, HTML_RECORDS_SCHEMA), schema=HTML_RECORDS_SCHEMA
    )


def boilerplate_keys(records: DataFrame) -> DataFrame:
    """(site, norm_text) pairs that are site-level chrome: text spans
    occurring in >= BOILER_MIN_DOCS distinct documents of one site."""

    return (
        records.filter(F.col("kind") == "text")
        .groupBy("site", "norm_text")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


def strip_site_boilerplate(records: DataFrame) -> DataFrame:
    """Anti-join the text records against the boiler keys (image rows
    pass through). The boiler relation is tiny (chrome strings per
    site), so Catalyst/AQE broadcasts it — no shuffle of the records."""

    boiler = boilerplate_keys(records).select("site", "norm_text")
    text = records.filter(F.col("kind") == "text").join(
        boiler, ["site", "norm_text"], "left_anti"
    )
    return text.unionByName(records.filter(F.col("kind") != "text"))


def assemble_spans(records: DataFrame) -> DataFrame:
    """(doc_id, spans): surviving records sorted by original pos, with
    DENSE offsets reassigned 0..n-1 (strip must not leave holes)."""

    packed = records.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "kind", "text", "media_ref"))
        ).alias("ordered")
    )
    return packed.select(
        "doc_id",
        F.transform(
            F.col("ordered"),
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )


def extract_html_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed HTML extraction: every document present (docs
    whose page yields no content get an empty span array).

    The records relation feeds FOUR plan branches (boiler-key aggregate,
    text anti-join side, non-text union branch, span assembly); Spark has
    no cross-branch subplan sharing, so without a persist the DOM-parse
    UDF subtree executes once per branch — a multiple of the entire parse
    bill at fleet scale. Persist it (mirrors the streaming twin,
    streaming/stream.py, and the PDF job's records.persist()); the
    single-execution property is pinned by test_html.py via
    `parse_docs_acc`."""

    global _cached_records
    records = html_records(spark, sf_dir).persist()
    if _cached_records is not None:
        _cached_records.unpersist(blocking=False)
    _cached_records = records
    stripped = strip_site_boilerplate(records)
    spans = assemble_spans(stripped)
    all_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.format_string("doc%06d", F.col("doc_id").cast("int")).alias("doc_id")
    )
    return all_docs.join(spans, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.col("spans"),
            F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ),
        ).alias("spans"),
    )
