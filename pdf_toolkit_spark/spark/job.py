"""The distributed extraction job.

Topology (SURVEY.md §3.4) — one Python boundary, everything else JVM:

    read (doc_id, pdf_bytes, n_pages)
      -> anti-join committed doc_ids            [checkpoint resume, P4]
      -> explode page-range chunks              [mega-PDF skew salt, C2]
      -> repartition(doc_id, chunk_start)       [spread chunks across executors]
      -> mapInArrow(extract_batch)              [Arrow-batched kernel pipeline,
                                                 one output batch per chunk]
      -> window count over (doc_id, norm_text, y_band)
         + filter                               [boilerplate strip, relational]
      -> groupBy(doc_id).collect_list + array_sort + transform
                                                [ordered spans, offset assign]
      -> parquet append partitioned by bucket(doc_id) + lineage + metrics

Zero per-row Python UDFs; the strip and the final ordering are Catalyst
aggregates/windows so they scale with the shuffle, not with Python. The
one boundary is pandas-free: Arrow batches in, Arrow batches built from
buffers out (spark/records.py), so a forked Python worker never imports
pandas.
At 100 TB the parquet sink becomes an Iceberg table partitioned by
``bucket(N, doc_id)`` with snapshot commits; the resume anti-join and
bucket layout are identical.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULTS, validate_config
from .records import error_row, fetch_pdf, page_rows, row_stage
from .schema import RECORDS_SCHEMA, SPANS_SCHEMA


def make_extract_batch(cfg: dict[str, Any]):
    """Build the Arrow-batched extraction function for mapInArrow.

    Input rows: (doc_id, pdf_bytes | pdf_locator, n_pages, chunk_start,
    chunk_end). Output: one RECORDS_SCHEMA batch per input row (document
    chunk) — one row per span candidate, the first row of each page
    carrying lineage + counter increments. A worker holds one PDF copy,
    and one chunk's PNG blobs, at a time (spark/records.py row_stage).
    """

    def chunk_rows(doc_id, n_pages, chunk_start, chunk_end, pdf_bytes=None,
                   pdf_locator=None) -> list[tuple]:
        # Imports inside the UDF body: executors pay them lazily
        # (X8 in SURVEY.md §4).
        from ..extract import extract_page
        from ..pdfio.parser import PdfDocument

        doc = PdfDocument(fetch_pdf(pdf_bytes, pdf_locator))
        rows: list[tuple] = []
        seen_refs: set[str] = set()
        for page_no in range(chunk_start, chunk_end + 1):
            result = extract_page(doc.load_page(page_no), page_no, cfg)
            rows += page_rows(doc_id, n_pages, page_no, result, seen_refs)
        return rows

    def chunk_error(row: dict[str, Any], exc: Exception) -> list[tuple]:
        # Per-document error isolation: at 10^12-doc scale one malformed
        # PDF (or failed fetch) must become an 'error' lineage row, not
        # a stage failure. Failed docs emit no spans, stay uncommitted,
        # and are retried by the next resume run.
        return [error_row(row["doc_id"], row["n_pages"], row["chunk_start"], exc)]

    return row_stage(chunk_rows, RECORDS_SCHEMA, on_error=chunk_error)


def salt_into_chunks(df: DataFrame, pages_per_chunk: int) -> DataFrame:
    """Explode each doc into page-range chunk rows (zero-based inclusive
    bounds) — pure Catalyst (sequence/transform/explode), the
    `_chunk_ranges` analog (reference split.py:28-42).

    The carrier column rides the explode: ``pdf_locator`` when present
    (preferred for mega-PDFs — a 1 GB doc split into 100 chunks would
    otherwise move 100 GB of replicated bytes through the salt
    exchange; a locator string replicates for free), else the inline
    ``pdf_bytes``."""

    carrier = "pdf_locator" if "pdf_locator" in df.columns else "pdf_bytes"
    ppc = int(pages_per_chunk)
    # Guard n_pages <= 0 (bad external metadata): sequence() throws on
    # illegal bounds, which would kill the stage instead of producing a
    # per-doc error row. Clamp to one chunk; the UDF then surfaces the
    # doc as an 'error' lineage row if it truly has no pages.
    n_pages = F.greatest(F.col("n_pages"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_pages - 1, F.lit(ppc)),
        lambda s: F.struct(
            s.alias("chunk_start"),
            F.least(s + ppc - 1, n_pages - 1).alias("chunk_end"),
        ),
    )
    return (
        df.withColumn("chunk", F.explode(chunks))
        .select("doc_id", carrier, "n_pages", "chunk.chunk_start", "chunk.chunk_end")
    )


def strip_boilerplate(records: DataFrame, cfg: dict[str, Any]) -> DataFrame:
    """Relational boilerplate strip.

    A text span is boilerplate when its (norm_text, y_band) appears on
    >= max(min_pages, ceil(frac * n_pages)) distinct pages of the doc,
    or (optionally) when it is a digit-only span in the top/bottom
    band. All rows ride the span branch's single doc_id exchange
    (build_pipeline repartitions once; this window's 3-key clustering
    is satisfied by it); image/none rows merely contribute nothing to
    the repeat COUNT (collect_set skips their null page_no).
    """

    w = Window.partitionBy("doc_id", "norm_text", "y_band")
    threshold = F.greatest(
        F.lit(int(cfg["boilerplate_min_pages"])),
        F.ceil(F.lit(float(cfg["boilerplate_page_frac"])) * F.col("n_pages")),
    )
    is_text = F.col("kind") == "text"
    # collect_set skips nulls, so non-text rows contribute nothing to
    # their group's page count; a single window pass keeps the plan to
    # ONE extraction stage (a filter+union here would duplicate the
    # whole mapInArrow subtree in the physical plan).
    pages_with_key = F.size(
        F.collect_set(F.when(is_text, F.col("page_no"))).over(w)
    )
    with_count = records.withColumn("_pages_with_key", pages_with_key)
    keep = ~is_text | (F.col("_pages_with_key") < threshold)
    if cfg["strip_page_numbers"]:
        keep = keep & (~is_text | ~F.coalesce(F.col("is_page_number"), F.lit(False)))
    return with_count.filter(keep).drop("_pages_with_key")


def assemble_spans(kept: DataFrame) -> DataFrame:
    """Per-doc ordered span arrays with dense offsets — one hash
    aggregate; ordering via array_sort on the (page_no, region_idx,
    item_idx) prefix (unique per doc), offsets via transform index."""

    # collect_list skips nulls, so 'none' placeholder rows (lineage
    # carriers for empty pages) contribute nothing — and a doc whose
    # pages are ALL empty still gets a committed row with an empty spans
    # array (otherwise the resume anti-join would re-extract it forever).
    ordered = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("kind").isin("none", "media"),
                F.struct("page_no", "region_idx", "item_idx", "kind", "text", "media_ref"),
            )
        )
    )
    spans = F.transform(
        ordered,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    # A doc with ANY failed chunk must not be committed with partial
    # spans: window-max the error flag per doc. Partitioning by doc_id
    # here is reused by the groupBy below (no extra exchange).
    w = Window.partitionBy("doc_id")
    doc_failed = F.max(
        F.when(F.col("status") == "error", F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    return (
        kept.withColumn("_doc_failed", doc_failed)
        .filter(F.col("_doc_failed") == 0)
        .groupBy("doc_id")
        .agg(spans.alias("spans"))
    )


def build_pipeline(
    spark: SparkSession, input_df: DataFrame, cfg: Optional[dict[str, Any]] = None
) -> tuple[DataFrame, DataFrame]:
    """Wire input -> (spans_df, records_df) without executing anything."""

    cfg = validate_config(dict(DEFAULTS, **(cfg or {})))
    salted = salt_into_chunks(input_df, cfg["pages_per_chunk"])
    if cfg["chunk_spread"] == "shuffle":
        # Spread chunks of the same fat doc across the cluster. The
        # partition count is EXPLICIT (4 waves per core): extraction cost
        # is per-page CPU, not bytes, so AQE's byte-based partition
        # coalescing must not shrink this exchange (it collapsed UDF
        # parallelism 4x when left implicit), and multiple waves absorb
        # mega-PDF straggler chunks. AQE stays on for the downstream
        # join/agg exchanges.
        #
        # chunk_spread="input" skips this exchange entirely: for
        # bytes-mode corpora the repartition moves EVERY PDF byte
        # through shuffle write+read once — for byte-heavy (scan-class)
        # profiles that is the single largest avoidable byte pass in
        # the whole job. When the source is parquet with
        # files.maxPartitionBytes sized to ~4 waves/core, the scan's
        # own splits already provide the load balance, and a mega doc's
        # chunks (which stay within their input partition under the
        # explode) are bounded stragglers absorbed by the wave count.
        n_parts = spark.sparkContext.defaultParallelism * 4
        salted = salted.repartition(n_parts, F.col("doc_id"), F.col("chunk_start"))
    records = salted.mapInArrow(make_extract_batch(cfg), schema=RECORDS_SCHEMA)
    return span_branch(records, cfg), records


def span_branch(records: DataFrame, cfg: dict[str, Any]) -> DataFrame:
    """Ordered spans of a RECORDS relation (PDF chunks or image files):
    boilerplate strip, then assembly, behind one doc_id exchange."""

    # The spans branch shuffles twice (strip window, assembly groupBy) —
    # keep those exchanges narrow: media rows (and their PNG blobs)
    # never enter them, and the lineage payload columns (fat JSON +
    # counters, consumed from the records branch only) are projected
    # away before the first exchange. Measured at the 96k-doc textual
    # corpus this halves strip-shuffle bytes.
    span_rows = records.filter(F.col("kind") != "media").select(
        "doc_id", "n_pages", "page_no", "region_idx", "item_idx", "kind",
        "text", "norm_text", "y_band", "is_page_number", "media_ref", "status",
    )
    # ONE doc_id exchange serves the whole span branch: hash
    # partitioning on doc_id satisfies the strip window's
    # (doc_id, norm_text, y_band) clustering requirement (subset rule),
    # the ordering window's, AND the assembly aggregate's — without
    # this explicit repartition, Catalyst inserts a separate
    # 3-key exchange for the strip window and re-shuffles the full
    # span relation a second time for assembly. At corpus scale that
    # is an entire extra pass of the span bytes through the wire.
    span_rows = span_rows.repartition(F.col("doc_id"))
    return assemble_spans(strip_boilerplate(span_rows, cfg))


def _read_if_exists(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """The parquet relation at ``path``, or None when nothing has been
    written there yet. Only a MISSING path means "first run"; any other
    read failure raises — silently skipping a resume would append
    duplicate rows for already-committed docs or blobs."""

    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        return None


@dataclass
class RunResult:
    run_id: str
    metrics: dict[str, Any]
    spans_path: Optional[str]


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    cfg: Optional[dict[str, Any]] = None,
    out_dir: Optional[str] = None,
    run_id: str = "run0",
    resume: bool = True,
    command: Optional[str] = None,
) -> RunResult:
    """Execute the job; optionally checkpoint-resumable against out_dir.

    Resume is the reference's skip-if-exists predicate
    (page_images.py:740-752) as a left-anti join: docs whose spans are
    already committed are never re-parsed. Docs are written atomically
    per aggregation, so the committed set is always consistent.

    Outputs under ``out_dir``: ``spans`` (bucketed by doc_id), ``media``
    (content-addressed PNG blobs — written BEFORE spans so a committed
    doc always has resolvable media_refs), ``lineage`` (timestamped
    per-page action log, also written before spans, so a committed doc
    always has its lineage), ``metrics`` (one row per run with ISO
    timestamps and the reconstructed ``command``, the reference's
    manifest metadata, manifest.py:90-106 / cli.py:434-438).

    Compatibility notes for pre-existing out_dirs:

    - media_ref preimage is ``{h}x{w}x{c}:`` since round 2 (round 1
      wrote ``{h}x{w}:``). Resuming a round-1 out_dir keeps committed
      spans whose old-format refs do not resolve in the media table;
      re-run with ``overwrite`` (or clear the out_dir) to re-key.
    - metrics/lineage schemas have widened across rounds; read them via
      :func:`read_metrics` / :func:`read_lineage` (mergeSchema=true) so
      mixed-schema dirs don't silently drop the newer columns.
    """

    from datetime import datetime, timezone

    cfg = validate_config(dict(DEFAULTS, **(cfg or {})))
    started = time.monotonic()
    started_at = datetime.now(timezone.utc).isoformat()
    write_mode = "overwrite" if cfg["overwrite"] else "append"

    todo = input_df
    spans_path = f"{out_dir}/spans" if out_dir else None
    if cfg["overwrite"]:
        resume = False
    committed = _read_if_exists(spark, spans_path) if resume and spans_path else None
    if committed is not None:
        # NO broadcast hint: AQE runtime-converts the anti-join to a
        # broadcast when the committed set is small, and falls back to
        # sort-merge when it is not — at 10^9-10^12 committed doc_ids a
        # hard-coded broadcast is a driver/executor OOM (SURVEY.md
        # §2.3: "broadcast when committed set is small, else
        # sort-merge").
        todo = input_df.join(committed.select("doc_id").distinct(), "doc_id", "left_anti")

    spans, records = build_pipeline(spark, todo, cfg)

    if cfg["dry_run"]:
        # Plan-only mode (reference dry-run, utils.py:39-49): build and
        # report the plan, write nothing.
        from .session import explain_str

        plan = explain_str(spans)
        return RunResult(run_id, {"dry_run": True, "plan": plan}, spans_path)

    records = records.persist()
    try:
        lineage_rows = records.filter(F.col("lineage_json").isNotNull())
        # A chunked doc with one failed chunk counts as FAILED only
        # (it commits nothing), so processed = seen - failed.
        agg = lineage_rows.agg(
            F.sum("pages_parsed").alias("pages_parsed"),
            F.sum("rotations_fixed").alias("rotations_fixed"),
            F.sum("spreads_split").alias("spreads_split"),
            F.sum("crop_only").alias("crop_only"),
            F.count_distinct(F.col("doc_id")).alias("docs_seen"),
            F.count_distinct(
                F.when(F.col("status") == "error", F.col("doc_id"))
            ).alias("docs_failed"),
        ).collect()[0]

        n_buckets = int(cfg["output_buckets"])
        if spans_path and cfg["persist_media"]:
            # Content-addressed media store: one row per distinct
            # media_ref (any copy of the blob is identical by
            # construction), anti-joined against already-committed refs
            # so re-runs and resumes never rewrite existing blobs.
            media_tbl = (
                records.filter(F.col("kind") == "media")
                .groupBy("media_ref")
                .agg(F.first("media_png").alias("png_bytes"))
            )
            media_path = f"{out_dir}/media"
            committed_refs = None if cfg["overwrite"] else _read_if_exists(spark, media_path)
            if committed_refs is not None:
                # Same as the spans resume join: no broadcast hint — the
                # committed media set grows unboundedly with the corpus;
                # AQE picks broadcast only while it is small.
                media_tbl = media_tbl.join(
                    committed_refs.select("media_ref"), "media_ref", "left_anti"
                )
            media_tbl.write.mode(write_mode).parquet(media_path)
        if spans_path:
            # Lineage is written BEFORE the spans commit: the records'
            # plan reads spans_path through the resume anti-join, and
            # writing that path re-caches them, so anything computed
            # from records afterwards would see only the docs that are
            # still uncommitted.
            lineage_out = lineage_rows.select(
                F.lit(run_id).alias("run_id"),
                "doc_id",
                "page_no",
                F.col("status"),
                F.col("lineage_json").alias("detail_json"),
                F.current_timestamp().alias("recorded_at"),
            )
            lineage_out.write.mode(write_mode).parquet(f"{out_dir}/lineage")

            out_spans = spans.withColumn(
                "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
            )
            # Iceberg analog: partitionedBy(bucket(N, doc_id)) + snapshot
            # commit; parquet append keeps the same layout locally.
            out_spans.write.mode(write_mode).partitionBy("bucket").parquet(spans_path)

        metrics = {
            "run_id": run_id,
            "docs_failed": int(agg["docs_failed"] or 0),
            "docs_processed": int(agg["docs_seen"] or 0) - int(agg["docs_failed"] or 0),
            "pages_parsed": int(agg["pages_parsed"] or 0),
            "spreads_split": int(agg["spreads_split"] or 0),
            "rotations_fixed": int(agg["rotations_fixed"] or 0),
            "crop_only": int(agg["crop_only"] or 0),
            "elapsed_sec": time.monotonic() - started,
            "parallelism": spark.sparkContext.master,
            "started_at": started_at,
            "ended_at": datetime.now(timezone.utc).isoformat(),
            "command": command,
        }
        if spans_path:
            metrics_df = spark.createDataFrame(
                [tuple(metrics[f] for f in (
                    "run_id", "docs_processed", "pages_parsed", "spreads_split",
                    "rotations_fixed", "crop_only", "elapsed_sec", "parallelism",
                    "started_at", "ended_at", "command",
                ))],
                schema="run_id string, docs_processed long, pages_parsed long, "
                       "spreads_split long, rotations_fixed long, crop_only long, "
                       "elapsed_sec double, parallelism string, started_at string, "
                       "ended_at string, command string",
            )
            metrics_df.write.mode("append").parquet(f"{out_dir}/metrics")
        return RunResult(run_id, metrics, spans_path)
    finally:
        records.unpersist()


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the run-metrics table. mergeSchema: the metrics schema has
    widened across engine versions (8 -> 11 columns) and parquet
    otherwise picks an arbitrary file's schema for a mixed directory,
    silently dropping started_at/ended_at/command."""

    return spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/metrics")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the lineage table (mergeSchema for the recorded_at column
    added after round 1; see :func:`read_metrics`)."""

    return spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/lineage")


def spans_dataframe(spark: SparkSession, input_df: DataFrame, cfg: Optional[dict] = None) -> DataFrame:
    """Convenience: the spans DataFrame with schema SPANS_SCHEMA."""

    spans, _ = build_pipeline(spark, input_df, cfg)
    assert [f.name for f in spans.schema.fields] == [f.name for f in SPANS_SCHEMA.fields]
    return spans
