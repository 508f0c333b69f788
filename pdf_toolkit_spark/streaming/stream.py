"""Streaming operators.

``stream_extraction`` is the incremental-ingest form of the batch job:
a parquet file-source stream over a landing directory; each micro-batch
runs the SAME pipeline (salt -> mapInArrow -> strip -> assemble) via
``foreachBatch`` and appends atomically. Exactly-once at the doc level
comes from two layers: the streaming checkpoint (file-source progress)
and the batch resume anti-join (doc-level idempotence even if a batch
replays).

``windowed_event_counts`` is the standard watermark + tumbling-window
aggregation, used for the engine's operational event stream.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import UserError
from ..spark.job import run_extraction
from ..spark.schema import (
    DOCUMENTS_FEED_SCHEMA,
    DOCUMENTS_RAW_SCHEMA,
    EMBEDDINGS_FEED_SCHEMA,
)
from .epochs import epoch_dir, epochs_before, read_before, read_committed, write_epoch


def _start(spark, schema, input_dir, body, checkpoint_dir, available_now, max_files):
    """Run ``body`` as the foreachBatch sink of a parquet file-source
    stream over ``input_dir``, at most ``max_files`` landed files per
    micro-batch, and return the StreamingQuery."""

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files))
        .parquet(input_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: Optional[dict[str, Any]] = None,
    available_now: bool = True,
):
    """Continuously extract newly landed documents_raw parquet files.

    Returns the StreamingQuery; with ``available_now`` the query drains
    everything currently available and stops (test/batch-catchup mode).
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_extraction(
            spark,
            batch_df,
            cfg,
            out_dir=out_dir,
            run_id=f"stream-epoch-{epoch_id}",
            resume=True,  # doc-level idempotence on micro-batch replay
        )

    return _start(
        spark, DOCUMENTS_RAW_SCHEMA, input_dir, process_batch, checkpoint_dir,
        available_now, 64,
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, value_sum double"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long, vsum double"


def sessionize_stream(events: DataFrame, gap_sec: int = 1800, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: gap-based per-user sessionization via
    ``applyInPandasWithState`` (event-time timeout).

    Sessions close either when a later in-batch event exceeds the gap,
    or when the watermark passes session_end + gap (state timeout). The
    batch twin is ops/relational.sessionize — the streaming/stateful
    form keeps per-user state bounded by the watermark instead of
    holding the full history.
    """

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_sec * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key

        def emit(start_us: int, last_us: int, n: int, vsum: float) -> pd.DataFrame:
            return pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
                "value_sum": [round(vsum, 2)],
            })

        if state.hasTimedOut:
            start, last, n, vsum = state.get
            state.remove()
            yield emit(start, last, n, vsum)
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        # unit-explicit microseconds (event timestamps carry us precision)
        ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        vals = rows["value"].to_numpy()

        cur = list(state.get) if state.exists else None
        for t, v in zip(ts_us, vals):
            if cur is None:
                cur = [int(t), int(t), 1, float(v)]
            elif t - cur[1] > gap_us:
                yield emit(*cur)
                cur = [int(t), int(t), 1, float(v)]
            else:
                # min/max: a late (out-of-order, within-watermark) event
                # must never move session_end backwards
                cur[0] = min(cur[0], int(t))
                cur[1] = max(cur[1], int(t))
                cur[2] += 1
                cur[3] += float(v)
        state.update(tuple(cur))
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)  # API takes ms

    src = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).withWatermark("ts", watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        update, SESSION_SCHEMA, _SESSION_STATE_SCHEMA, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window event-type counts with late-data handling.

    Works on a streaming OR batch events DataFrame (ts, event_type,
    value): watermark bounds state for late events; output is one row
    per (window, event_type) with count + value sum.
    """

    # watermarks require TIMESTAMP (tz-aware); sources often land NTZ
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n_events", "value_sum",
        )
    )


def stream_html_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming twin of the HTML extraction pipeline: a parquet
    file-source stream of (doc_id, text) rows; each micro-batch runs
    the DOM-heuristics stage and is stripped against CUMULATIVE
    site-level boilerplate counts carried across batches (and across
    restarts) in a tiny epoch-versioned state table.

    Semantics vs the batch job: the frequency rule sees only documents
    observed SO FAR, so a site's chrome is stripped from the batch in
    which its count first reaches BOILER_MIN_DOCS and onward — earlier
    already-committed spans are not retro-edited (the standard
    streaming tradeoff; the batch job is the exact retrospective
    form — `reconcile_html_spans` below closes the gap as a periodic
    compaction). State is (site, norm_text, n_docs) — chrome-string-
    sized, NOT corpus-sized — so the merge is a broadcast-scale
    aggregate at any corpus size.

    Restart safety: foreachBatch may REPLAY an epoch whose outputs were
    already written (failure after write, before checkpoint commit).
    Both writes are idempotent under replay: the state merge reads only
    epochs STRICTLY BELOW the current epoch_id (a replayed epoch never
    merges its own counts on top of themselves), and spans land in an
    epoch-keyed directory with mode=overwrite (a replay rewrites, never
    appends duplicates).
    """

    from pyspark.sql import types as T

    from ..htmlx import BOILER_MIN_DOCS
    from ..spark.html_job import assemble_spans, html_records_df

    in_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    state_root = f"{out_dir}/boiler_state"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        records = html_records_df(batch_df.select("doc_id", "text")).persist()
        try:
            batch_counts = (
                records.filter(F.col("kind") == "text")
                .groupBy("site", "norm_text")
                .agg(F.countDistinct("doc_id").alias("n_docs"))
            )
            prev = read_before(spark, state_root, epoch_id, latest=True)
            merged = (
                batch_counts if prev is None
                else prev.unionByName(batch_counts)
                .groupBy("site", "norm_text")
                .agg(F.sum("n_docs").cast("long").alias("n_docs"))
            )
            # epoch-versioned write: atomic per batch, replayable on
            # restart (same epoch overwrites the same directory).
            write_epoch(merged, state_root, epoch_id)
            boiler = (
                spark.read.parquet(epoch_dir(state_root, epoch_id))
                .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
                .select("site", "norm_text")
            )
            text = records.filter(F.col("kind") == "text").join(
                boiler, ["site", "norm_text"], "left_anti"
            )
            stripped = text.unionByName(records.filter(F.col("kind") != "text"))
            write_epoch(assemble_spans(stripped), f"{out_dir}/spans", epoch_id)
        finally:
            records.unpersist()

    return _start(
        spark, in_schema, input_dir, process_batch, checkpoint_dir, available_now, 64
    )


def reconcile_html_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """Retrospective compaction over a `stream_html_extraction` output:
    re-strip spans that were committed BEFORE their site's chrome count
    crossed BOILER_MIN_DOCS, using the FINAL cumulative state table.
    The result equals the batch job (`extract_html_spans`) run over the
    same corpus — pinned by tests/test_streaming.py.

    Fully declarative: posexplode the committed span arrays back to
    records (array position == the dense pos ordering), recover the
    site from the doc_id and the strip key via the engine's canonical
    `norm_text` built-in, anti-join against the final chrome relation
    (tiny -> broadcast), and reassemble with dense offsets. One shuffle
    (the assembly groupBy); intended as a periodic batch job over the
    epoch-partitioned spans directory.
    """

    from ..htmlx import BOILER_MIN_DOCS, N_SITES
    from ..ops.common import norm_text as sql_norm
    from ..spark.html_job import assemble_spans

    state_dirs = epochs_before(f"{out_dir}/boiler_state")
    spans = spark.read.parquet(f"{out_dir}/spans")
    records = spans.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        (F.substring("doc_id", 4, 6).cast("int") % N_SITES).alias("site"),
    )
    if state_dirs:
        boiler = (
            spark.read.parquet(state_dirs[-1])
            .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
            .select("site", "norm_text")
        )
        text = (
            records.filter(F.col("kind") == "text")
            .withColumn("norm_text", sql_norm(F.col("text")))
            .join(boiler, ["site", "norm_text"], "left_anti")
            .drop("norm_text")
        )
        records = text.unionByName(records.filter(F.col("kind") != "text"))
    return assemble_spans(records.drop("site"))


# ---------------------------------------------------------------------------
# Streaming exact dedup
# ---------------------------------------------------------------------------

def dedup_process_batch(spark: SparkSession, out_dir: str):
    """The foreachBatch body of ``stream_dedup_documents``, exposed so
    replay semantics are directly testable (call it twice with the same
    epoch_id: the second call must change nothing).

    Per epoch: canonicalize within the batch (smallest doc_id per
    content hash), anti-join against the hashes committed by STRICTLY
    EARLIER epochs, then write both survivors and their hashes into
    epoch-keyed directories with mode=overwrite — the same
    epoch-versioned idempotence pattern as the HTML stream state.

    Scale shape: the cross-batch "seen" state is the committed hash
    column on disk (16 bytes/doc), not executor-memory streaming state
    — a billion-doc history is a few GB of parquet riding an anti-join
    that AQE keeps broadcast-or-sort-merge as appropriate."""

    docs_root = f"{out_dir}/docs"
    hash_root = f"{out_dir}/hashes"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        b = batch_df.withColumn("h", F.md5(F.col("text")))
        w = Window.partitionBy("h").orderBy("doc_id")
        first = (
            b.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        seen = read_before(spark, hash_root, epoch_id)
        fresh = first if seen is None else first.join(seen, "h", "left_anti")
        fresh = fresh.persist()
        try:
            write_epoch(fresh.drop("h"), docs_root, epoch_id)
            write_epoch(fresh.select("h"), hash_root, epoch_id)
        finally:
            fresh.unpersist()

    return process


def stream_dedup_documents(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming exact deduplication of a documents feed: keep the
    FIRST occurrence of every content hash across micro-batches,
    restarts, and replays. Returns the StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir, dedup_process_batch(spark, out_dir),
        checkpoint_dir, available_now, 64,
    )


def read_deduped(spark: SparkSession, out_dir: str) -> DataFrame:
    """All surviving documents across epochs."""

    return read_committed(spark, f"{out_dir}/docs", "stream_dedup_documents")


# ---------------------------------------------------------------------------
# Streaming MinHash near-dup suppression
# ---------------------------------------------------------------------------

def neardup_process_batch(spark: SparkSession, out_dir: str):
    """The foreachBatch body of ``stream_neardup_documents``, exposed so
    replay semantics are directly testable (calling it twice with the
    same epoch_id must change nothing).

    Per epoch: shingle -> MinHash wide aggregate -> LSH band keys (the
    EXACT batch relations from ops/dedup.py, so streaming and batch
    shingle/sign/band identically by construction). A document is
    suppressed iff any of its band buckets was committed by a strictly
    earlier epoch, or a smaller doc_id in THIS batch shares a bucket —
    which reproduces the batch twin's greedy kept set
    (ops/dedup.py minhash_survivor_relation) when the feed arrives in
    doc_id order. Survivors and the batch's full bucket set land in
    epoch-keyed directories with mode=overwrite, so replays rewrite
    identical bytes instead of double-counting.

    Scale shape: cross-batch state is n_bands (4) committed
    (band, band_key) rows per PROCESSED doc on disk — a parquet bucket
    index riding an equi-join, never executor-memory streaming state;
    a billion-doc history is tens of GB that AQE keeps
    broadcast-or-sort-merge as appropriate. Note kept-and-suppressed
    docs both commit their buckets: the batch semantics suppress on ANY
    earlier doc sharing a bucket, not just earlier survivors."""

    from ..ops.dedup import band_relation, shingle_relation, signature_wide_relation

    docs_root = f"{out_dir}/docs"
    bucket_root = f"{out_dir}/buckets"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        bands = band_relation(
            signature_wide_relation(shingle_relation(batch_df))
        ).persist()
        try:
            bmin = bands.groupBy("band", "band_key").agg(
                F.min("doc_id").alias("bucket_min")
            )
            scored = bands.join(bmin, ["band", "band_key"])
            seen = read_before(spark, bucket_root, epoch_id)
            if seen is not None:
                prior = seen.distinct().withColumn("prior", F.lit(1))
                scored = scored.join(prior, ["band", "band_key"], "left")
            else:
                scored = scored.withColumn("prior", F.lit(None).cast("int"))
            keep = (
                scored.groupBy("doc_id")
                .agg(
                    F.min("bucket_min").alias("bmin"),
                    F.max(F.coalesce(F.col("prior"), F.lit(0))).alias("hit_prior"),
                )
                .filter((F.col("bmin") == F.col("doc_id")) & (F.col("hit_prior") == 0))
                .select("doc_id")
            )
            write_epoch(batch_df.join(keep, "doc_id"), docs_root, epoch_id)
            write_epoch(bands.select("band", "band_key"), bucket_root, epoch_id)
        finally:
            bands.unpersist()

    return process


def stream_neardup_documents(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming MinHash near-dup suppression of a documents feed: keep
    the first document of every LSH neighborhood across micro-batches,
    restarts, and replays. Returns the StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir, neardup_process_batch(spark, out_dir),
        checkpoint_dir, available_now, 64,
    )


def read_neardup_survivors(spark: SparkSession, out_dir: str) -> DataFrame:
    """All near-dup survivors across epochs."""

    return read_committed(spark, f"{out_dir}/docs", "stream_neardup_documents")


# ---------------------------------------------------------------------------
# Streaming IVF ingest (incremental ANN index maintenance)
# ---------------------------------------------------------------------------

def ivf_assign_process_batch(centroids: DataFrame, out_dir: str):
    """The foreachBatch body of ``stream_ivf_assign``: assign each
    micro-batch of embeddings to its nearest cell of a FROZEN centroid
    set via the exact batch relation (ops/similarity.py
    cell_assign_relation — broadcast centroids, argmax-as-aggregate, no
    window sort), appending epoch-keyed partitions of the inverted
    file. Incremental ANN index maintenance: the expensive k-means
    build runs once in batch; new vectors stream into cells without
    touching committed partitions, and a query probes the union.
    Replays rewrite their epoch directory idempotently."""

    from ..ops.similarity import cell_assign_relation

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        e = batch_df.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        write_epoch(cell_assign_relation(e, centroids), f"{out_dir}/cells", epoch_id)

    return process


def stream_ivf_assign(
    spark: SparkSession,
    input_dir: str,
    centroids: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming IVF cell assignment of an embeddings feed against a
    frozen centroid relation. Returns the StreamingQuery."""

    return _start(
        spark, EMBEDDINGS_FEED_SCHEMA, input_dir,
        ivf_assign_process_batch(centroids, out_dir),
        checkpoint_dir, available_now, 64,
    )


def read_ivf_assignments(spark: SparkSession, out_dir: str) -> DataFrame:
    """(vec_id, cell) across all committed epochs."""

    return read_committed(spark, f"{out_dir}/cells", "stream_ivf_assign")


# ---------------------------------------------------------------------------
# Streaming canonical pick (online quality-max per near-dup cluster)
# ---------------------------------------------------------------------------

def cluster_best_process_batch(spark: SparkSession, clusters: DataFrame, out_dir: str):
    """foreachBatch body of ``stream_cluster_best``: score the batch's
    documents with the SAME quality arithmetic as the batch operator
    (ops.text.quality_relation), key them by their FROZEN cluster
    label, and merge the per-cluster (count, argmax) into the latest
    earlier epoch's state. State rows are (cluster, kept_doc_id,
    best_quality, n_members) — one double + three longs per cluster,
    never document bytes. Count-sum and struct-max are both
    associative AND commutative, so the final state equals the batch
    canonical pick (ops.curation.cluster_best) for ANY feed order and
    any micro-batch split. Replays rewrite their epoch directory
    idempotently (history read is strictly-earlier).

    The frozen ``clusters`` relation is re-referenced every
    micro-batch — pass a persisted/cached relation (dedup_components
    returns its converged labels persisted; the same contract as the
    frozen centroids of stream_ivf_assign), or each epoch re-runs the
    full connected-components build."""

    from ..ops.text import quality_relation

    state_root = f"{out_dir}/state"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # Left join against the frozen assignment: a doc_id absent from
        # the freeze (the natural streaming case — documents arriving
        # after the batch connected-components run) coalesces into a
        # SINGLETON cluster keyed by its own doc_id, exactly how the
        # batch labeling constructs singletons — never silently
        # dropped from state.
        scored = (
            quality_relation(batch_df)
            .select("doc_id", "quality")
            .join(clusters, "doc_id", "left")
            .select(
                F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("cluster"),
                F.col("doc_id").alias("kept_doc_id"),
                F.col("quality").alias("best_quality"),
                F.lit(1).cast("bigint").alias("n_members"),
            )
        )
        prior = read_before(spark, state_root, epoch_id, latest=True)
        if prior is not None:
            scored = scored.unionByName(prior)
        merged = (
            scored.groupBy("cluster")
            .agg(
                F.sum("n_members").alias("n_members"),
                F.max_by(
                    F.struct("kept_doc_id", "best_quality"),
                    F.struct(F.col("best_quality"), -F.col("kept_doc_id")),
                ).alias("best"),
            )
            .select(
                "cluster",
                F.col("best.kept_doc_id").alias("kept_doc_id"),
                F.col("best.best_quality").alias("best_quality"),
                "n_members",
            )
        )
        write_epoch(merged, state_root, epoch_id)

    return process


def stream_cluster_best(
    spark: SparkSession,
    input_dir: str,
    clusters: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Online canonical pick over a documents feed: maintain the
    highest-quality member (and member count) of every near-dup
    cluster across micro-batches, restarts, and replays, against a
    frozen cluster assignment (the expensive connected-components run
    happens in batch, like the frozen centroids of stream_ivf_assign).
    The streaming twin of ``curate_cluster_best``. Returns the
    StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir,
        cluster_best_process_batch(spark, clusters, out_dir),
        checkpoint_dir, available_now, 1,
    )


def read_cluster_best(spark: SparkSession, out_dir: str) -> DataFrame:
    """(cluster, kept_doc_id, best_quality, n_members): the latest
    committed state."""

    return read_committed(spark, f"{out_dir}/state", "stream_cluster_best", latest=True)


# ---------------------------------------------------------------------------
# Streaming IVF-PQ ingest (incremental compressed-index maintenance)
# ---------------------------------------------------------------------------

def pq_ingest_process_batch(centroids: DataFrame, books: DataFrame, out_dir: str):
    """The foreachBatch body of ``stream_pq_ingest``: encode each
    micro-batch of embeddings against FROZEN per-subspace PQ codebooks
    (ops/similarity.py geometry: broadcast books, per-(vec, sub)
    min_by argmin — no window sort) and key it by its frozen-centroid
    cell, appending epoch-keyed partitions of the IVFADC inverted
    file. Incremental compressed-index maintenance: the k-means and
    codebook training run once in batch; new vectors stream into
    their posting lists carrying PQ_M small ints each, committed
    partitions are never touched, and a query probes the union.
    Replays rewrite their epoch directory idempotently."""

    from ..ops.similarity import _l2sq, _subparts, cell_assign_relation

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # persisted: two consumers (subvector encoding + cell
        # assignment) would otherwise re-scan the batch's source files
        e = batch_df.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        ).persist()
        try:
            scored = _subparts(e).join(F.broadcast(books), "sub").select(
                "vec_id", "sub", "code",
                F.round(_l2sq(F.col("sv"), F.col("cv")), 6).alias("d2"),
            )
            codes = scored.groupBy("vec_id", "sub").agg(
                F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code")
            )
            write_epoch(
                codes.join(cell_assign_relation(e, centroids), "vec_id").select(
                    "cell", "vec_id", "sub", "code"
                ),
                f"{out_dir}/pq",
                epoch_id,
            )
        finally:
            e.unpersist()

    return process


def stream_pq_ingest(
    spark: SparkSession,
    input_dir: str,
    centroids: DataFrame,
    books: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming IVF-PQ encoding of an embeddings feed against frozen
    centroids + codebooks. Returns the StreamingQuery."""

    return _start(
        spark, EMBEDDINGS_FEED_SCHEMA, input_dir,
        pq_ingest_process_batch(centroids, books, out_dir),
        checkpoint_dir, available_now, 64,
    )


def read_pq_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """(cell, vec_id, sub, code) across all committed epochs."""

    return read_committed(spark, f"{out_dir}/pq", "stream_pq_ingest")


# ---------------------------------------------------------------------------
# Streaming semantic dedup (SemDeDup against a frozen coarse quantizer)
# ---------------------------------------------------------------------------

def semantic_dedup_process_batch(
    spark: SparkSession, centroids: DataFrame, out_dir: str
):
    """The foreachBatch body of ``stream_semantic_dedup``: assign the
    micro-batch's vectors to their nearest frozen-centroid cell (the
    exact batch relation, ops/similarity.py cell_assign_relation), then
    mark dropped every vector with a smaller-vec_id SAME-CELL neighbor
    at cosine >= SEMDEDUP_COS — committed by an earlier epoch or
    sharing THIS batch — which reproduces the batch twin (ops/dedup.py
    dedup_semantic) exactly when the feed arrives in vec_id order: a
    vector's smaller-id neighbors all land no later than it does, so
    its keep bit is final at arrival and never revisited.

    Scale shape: cross-batch state is the per-cell vector log on disk
    (cell, vec_id, v) — epoch-keyed parquet riding an equi-join on
    ``cell``, never executor-memory streaming state; each epoch's
    candidate work is batch_occupancy_c × history_occupancy_c per
    cell, the same sum-of-occupancy² bound as the batch operator (the
    cell count is the knob that caps occupancy). Replays rewrite their
    epoch directories byte-identically (mode=overwrite, history read
    strictly below the replayed epoch). Dropped vectors commit to the
    log too: the batch rule suppresses on ANY smaller-id neighbor,
    kept or not."""

    from ..ops.dedup import SEMDEDUP_COS
    from ..ops.similarity import _cosine, cell_assign_relation

    sem_root = f"{out_dir}/sem"
    log_root = f"{out_dir}/vectors"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        e = batch_df.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        hist = read_before(spark, log_root, epoch_id)
        if hist is not None:
            # Fail-fast guard for the documented id-order precondition:
            # a committed keep bit is final, so a smaller-id vector
            # arriving AFTER a larger-id one could never suppress it
            # and the stream would silently diverge from the batch
            # twin. (Replays pass: history reads strictly below the
            # replayed epoch, so the replayed ids stay above it.)
            # The high-watermark reads ONLY the newest committed epoch:
            # this guard has enforced id order on every prior commit,
            # so the largest committed vec_id lives there — no
            # O(total-history) aggregate per micro-batch.
            newest = read_before(spark, log_root, epoch_id, latest=True)
            committed_max = newest.agg(F.max("vec_id")).collect()[0][0]
            batch_min = e.agg(F.min("vec_id")).collect()[0][0]
            if (
                committed_max is not None
                and batch_min is not None
                and batch_min <= committed_max
            ):
                raise UserError(
                    "stream_semantic_dedup: out-of-order feed (batch min "
                    f"vec_id {batch_min} <= committed max {committed_max}); "
                    "keep bits are final at arrival, so the feed must be "
                    "vec_id-ordered to match the batch operator."
                )
        withv = cell_assign_relation(e, centroids).join(e, "vec_id").persist()
        try:
            b = withv.select(
                F.col("vec_id").alias("vec_b"), "cell", F.col("v").alias("vb")
            )
            a_all = withv.select(
                F.col("vec_id").alias("vec_a"), "cell", F.col("v").alias("va")
            )
            if hist is not None:
                a_all = a_all.unionByName(hist.select(
                    F.col("vec_id").alias("vec_a"), "cell", F.col("v").alias("va")
                ))
            dropped = (
                a_all.join(b, "cell")
                .filter(F.col("vec_a") < F.col("vec_b"))
                .filter(
                    F.round(_cosine(F.col("va"), F.col("vb")), 6) >= SEMDEDUP_COS
                )
                .select(F.col("vec_b").alias("vec_id"))
                .distinct()
                .withColumn("dropped", F.lit(True))
            )
            keep = withv.join(dropped, "vec_id", "left").select(
                "vec_id", "cell", F.col("dropped").isNull().alias("keep")
            )
            write_epoch(keep, sem_root, epoch_id)
            write_epoch(withv.select("cell", "vec_id", "v"), log_root, epoch_id)
        finally:
            withv.unpersist()

    return process


def stream_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    centroids: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming SemDeDup of an embeddings feed against a frozen
    centroid relation (the expensive k-means build runs once in batch;
    new vectors dedup against the committed per-cell history without
    re-scoring it). Returns the StreamingQuery."""

    return _start(
        spark, EMBEDDINGS_FEED_SCHEMA, input_dir,
        semantic_dedup_process_batch(spark, centroids, out_dir),
        checkpoint_dir, available_now, 64,
    )


def read_semantic_keep(spark: SparkSession, out_dir: str) -> DataFrame:
    """(vec_id, cell, keep) across all committed epochs."""

    return read_committed(spark, f"{out_dir}/sem", "stream_semantic_dedup")


# ---------------------------------------------------------------------------
# Streaming per-domain quota (online crawl-curation cap)
# ---------------------------------------------------------------------------

def domain_quota_process_batch(spark: SparkSession, out_dir: str, k: int):
    """foreachBatch body of ``stream_domain_quota`` (exposed for
    replay testing). Per epoch: rank the batch's docs within each
    source by the SAME deterministic hash key the batch operator uses
    (hash32 of 'quota:' + doc_id, doc_id tiebreak), add the counts
    already admitted by STRICTLY EARLIER epochs, keep docs whose
    feed-wide per-source position is <= k, and write both the kept docs
    and this epoch's per-source admission counts into epoch-keyed
    directories with mode=overwrite (replay-idempotent).

    Scale shape: the cross-batch state is a DOMAIN-BOUNDED counts
    relation (one row per source per epoch, compacted like any other
    epoch sink) — it broadcasts into the batch join at any corpus
    size; document bytes never enter the state. For a feed delivered
    in hash-key order the admitted set equals the batch operator's
    rank <= k set exactly (pinned in test_streaming)."""

    from pyspark.sql import Window

    docs_root = f"{out_dir}/docs"
    counts_root = f"{out_dir}/counts"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("bigint")
        w = Window.partitionBy("source").orderBy("h", "doc_id")
        ranked = (
            batch_df.withColumn("h", h)
            .withColumn("rn", F.row_number().over(w))
        )
        prior = read_before(spark, counts_root, epoch_id)
        if prior is not None:
            prior = prior.groupBy("source").agg(F.sum("n_admitted").alias("prior"))
            ranked = ranked.join(F.broadcast(prior), "source", "left").withColumn(
                "pos", F.col("rn") + F.coalesce(F.col("prior"), F.lit(0))
            )
        else:
            ranked = ranked.withColumn("pos", F.col("rn"))
        kept = ranked.filter(F.col("pos") <= k).persist()
        try:
            write_epoch(kept.drop("h", "rn", "prior", "pos"), docs_root, epoch_id)
            write_epoch(
                kept.groupBy("source").agg(F.count("*").alias("n_admitted")),
                counts_root,
                epoch_id,
            )
        finally:
            kept.unpersist()

    return process


def stream_domain_quota(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 18,
    available_now: bool = True,
):
    """Online per-domain quota over a documents feed: admit at most
    ``k`` docs per source across micro-batches, restarts, and
    replays — the streaming twin of ``curate_domain_quota``. Returns
    the StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir,
        domain_quota_process_batch(spark, out_dir, k),
        checkpoint_dir, available_now, 1,
    )


def read_quota_admitted(spark: SparkSession, out_dir: str) -> DataFrame:
    """All admitted documents across epochs."""

    return read_committed(spark, f"{out_dir}/docs", "stream_domain_quota")


# ---------------------------------------------------------------------------
# Streaming weighted sample (online bottom-K sketch of hash priorities)
# ---------------------------------------------------------------------------

def weighted_sample_process_batch(spark: SparkSession, out_dir: str, k: int):
    """foreachBatch body of ``stream_weighted_sample`` (exposed for
    replay testing). Per epoch: compute the batch docs' weighted
    priorities with the SAME hash arithmetic as the batch operator
    (ops.curation.ws_candidates), merge with the latest earlier
    epoch's state, and write the K smallest (priority, doc_id) rows
    as this epoch's state (mode=overwrite, replay-idempotent).

    Scale + exactness shape: the state is a bottom-K sketch — K rows
    of integers, never corpus bytes — and min-merge is associative
    AND commutative, so the final state equals the batch operator's
    TakeOrdered cut for ANY feed order and any micro-batch split
    (stronger than the in-order guarantee quota admission needs)."""

    from ..ops.curation import ws_candidates

    state_root = f"{out_dir}/state"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        cand = ws_candidates(batch_df)
        prior = read_before(spark, state_root, epoch_id, latest=True)
        if prior is not None:
            cand = cand.unionByName(prior)
        write_epoch(cand.orderBy("priority", "doc_id").limit(k), state_root, epoch_id)

    return process


def stream_weighted_sample(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 50,
    available_now: bool = True,
):
    """Online weighted sampling without replacement over a documents
    feed: maintain the K lowest weighted hash priorities across
    micro-batches, restarts, and replays — the streaming twin of
    ``curate_weighted_sample``. Returns the StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir,
        weighted_sample_process_batch(spark, out_dir, k),
        checkpoint_dir, available_now, 1,
    )


def read_weighted_sample(spark: SparkSession, out_dir: str) -> DataFrame:
    """The current sample: the LATEST epoch's bottom-K state."""

    return read_committed(spark, f"{out_dir}/state", "stream_weighted_sample", latest=True)


# ---------------------------------------------------------------------------
# Streaming sequence packing (online concat-and-chunk with carried offset)
# ---------------------------------------------------------------------------

def pack_process_batch(spark: SparkSession, out_dir: str):
    """The foreachBatch body of ``stream_pack_sequences``: GPT-style
    concat-and-chunk packing of a documents feed, online. Each epoch
    computes its batch-local exclusive token prefix (the same two-pass
    distributed prefix scan as the batch operator — no SinglePartition
    window) and shifts it by the RUNNING TOTAL carried from strictly
    earlier epochs, so offsets and training-window ids are consistent
    across micro-batches and restarts. State is one bigint per epoch
    (the cumulative token count) in an epoch-keyed parquet —
    replay of epoch N rereads the state of N-1 and rewrites its own
    directories idempotently. For a feed delivered in doc_id order the
    result equals the batch ``text_pack_sequences`` exactly (pinned in
    tests)."""

    from ..ops.common import prefix_scan
    from ..ops.text import PACK_BUDGET

    state_root = f"{out_dir}/state"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from ..ops.common import norm_text

        norm = norm_text(F.col("text"))
        n_tokens = F.when(norm == "", 0).otherwise(
            F.size(F.split(norm, " "))
        )
        toks = batch_df.select("doc_id", n_tokens.alias("n_tokens"))
        state = read_before(spark, state_root, epoch_id, latest=True)
        carry = 0 if state is None else state.collect()[0]["total"]
        # scope the prefix scan's pin to THIS batch: unpersisting via
        # the process-wide release_caches() would also yank any
        # concurrent query's pins (whose pid->base maps are
        # non-recomputable — see prefix_scan)
        pins: list = []
        packed = prefix_scan(toks, ["doc_id"], "n_tokens", "local", pins=pins)
        out = packed.select(
            "doc_id",
            "n_tokens",
            (F.col("local") + F.lit(carry)).alias("start_offset"),
            F.floor((F.col("local") + F.lit(carry)) / PACK_BUDGET)
            .cast("bigint")
            .alias("window_id"),
        ).persist()
        try:
            write_epoch(out, f"{out_dir}/packed", epoch_id)
            total = carry + (
                out.agg(F.sum("n_tokens").cast("bigint").alias("s"))
                .collect()[0]["s"]
                or 0
            )
            write_epoch(
                spark.createDataFrame([(int(total),)], schema="total bigint").coalesce(1),
                state_root,
                epoch_id,
            )
        finally:
            out.unpersist()
            for df in pins:  # exactly this batch's prefix-scan pin
                df.unpersist()

    return process


def stream_pack_sequences(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming sequence packing of a documents feed with a carried
    feed-wide token offset. Returns the StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir, pack_process_batch(spark, out_dir),
        checkpoint_dir, available_now, 1,
    )


def read_packed_sequences(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, n_tokens, start_offset, window_id) across epochs."""

    return read_committed(spark, f"{out_dir}/packed", "stream_pack_sequences")


# ---------------------------------------------------------------------------
# Streaming perplexity tiering (online CCNet-style quality routing)
# ---------------------------------------------------------------------------

def tier_process_batch(model: DataFrame, thresholds: DataFrame, out_dir: str):
    """The foreachBatch body of ``stream_perplexity_tiers``: score
    each micro-batch of documents against a FROZEN (tri, qlp) trigram
    model and assign head/middle/tail against FROZEN per-language
    cutoffs via the exact batch relation (ops/text.py
    tier_assign_relation — broadcast model join + broadcast threshold
    join, window-free), appending epoch-keyed partitions. Online
    quality routing: the expensive corpus model + tercile build runs
    once in batch (text_perplexity_tier_thresholds); new documents
    stream into tiers without re-ranking the corpus — the same
    freeze-per-epoch contract as stream_ivf_assign's centroids.
    Replays rewrite their epoch directory idempotently."""

    from ..ops.text import tier_assign_relation

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        tiers = tier_assign_relation(
            batch_df.select("doc_id", "text", "lang"), model, thresholds
        )
        write_epoch(tiers, f"{out_dir}/tiers", epoch_id)

    return process


def stream_perplexity_tiers(
    spark: SparkSession,
    input_dir: str,
    model: DataFrame,
    thresholds: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming tier assignment of a documents feed against a frozen
    trigram model + frozen per-language tier cutoffs. Returns the
    StreamingQuery."""

    return _start(
        spark, DOCUMENTS_FEED_SCHEMA, input_dir,
        tier_process_batch(model, thresholds, out_dir),
        checkpoint_dir, available_now, 1,
    )


def read_tier_assignments(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, lang, avg_logp, bucket) across all committed epochs."""

    return read_committed(spark, f"{out_dir}/tiers", "stream_perplexity_tiers")


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------

def purchase_attribution_stream(
    events: DataFrame, window_sec: int = 86400, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join (the streaming attribution
    primitive): every purchase matched to the same user's clicks in the
    preceding ``window_sec``. Both sides carry event-time watermarks,
    which is what lets Spark BOUND the join state: click state older
    than (watermark + window) is dropped, so state is
    click-rate x window sized, not unbounded.

    Works identically on a static DataFrame (watermarks are no-ops in
    batch), which is the test's equality gate. Timestamps are cast to
    TIMESTAMP first — watermarks reject TIMESTAMP_NTZ."""

    ev = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "event_id",
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND purchase_ts > click_ts "
            f"AND purchase_ts <= click_ts + interval {window_sec} seconds"
        ),
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


# ---------------------------------------------------------------------------
# Stateful streaming funnel
# ---------------------------------------------------------------------------

FUNNEL_SCHEMA = "user_id long, stage int, stage_ts timestamp"
_FUNNEL_STATE_SCHEMA = "t_view long, t_click long, t_purchase long"


def funnel_stream(
    events: DataFrame, window_sec: int = 86400, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful streaming funnel (the live twin of ops/relational
    ``rel_funnel``): per user, monotone stage progression first-view ->
    first-later-click -> purchase within ``window_sec`` of that click,
    via ``applyInPandasWithState``. Emits a row whenever a user's stage
    advances; stages are monotone, so the max stage per user is the
    funnel position.

    State is THREE timestamps per user — bounded regardless of event
    volume (the scale property the batch formulation's joins don't
    need but a live pipeline does). Semantics note, disclosed like the
    HTML stream's: transitions consider events in event-time order
    WITHIN each micro-batch and arrival order across batches, so a
    drained in-order feed reproduces the batch funnel exactly; late
    cross-batch views do not retroactively re-qualify earlier clicks
    (the batch job is the exact retrospective form)."""

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        kinds = rows["event_type"].tolist()
        tv, tc, tp = state.get if state.exists else (None, None, None)
        out_stage, out_ts = [], []
        for t, kind in zip(ts_us, kinds):
            t = int(t)
            if kind == "view" and tv is None:
                tv = t
                out_stage.append(1)
                out_ts.append(t)
            elif kind == "click" and tv is not None and tc is None and t > tv:
                tc = t
                out_stage.append(2)
                out_ts.append(t)
            # window test on floored whole seconds, matching the batch
            # funnel's unix_timestamp() semantics (and its oracle's
            # floor(epoch())) for purchases in the boundary second
            elif (kind == "purchase" and tc is not None and tp is None
                  and t > tc
                  and t // 1_000_000 - tc // 1_000_000 <= window_sec):
                tp = t
                out_stage.append(3)
                out_ts.append(t)
        state.update((tv, tc, tp))
        if out_stage:
            yield pd.DataFrame({
                "user_id": [user_id] * len(out_stage),
                "stage": out_stage,
                "stage_ts": [pd.Timestamp(t, unit="us") for t in out_ts],
            })

    src = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    ).withWatermark("ts", watermark)
    # append mode: every emitted stage row is FINAL (stages advance
    # monotonically and are emitted exactly once), so the operator is
    # append-compatible and works with file sinks.
    return src.groupBy("user_id").applyInPandasWithState(
        update, FUNNEL_SCHEMA, _FUNNEL_STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout,
    )
