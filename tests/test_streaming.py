"""Streaming-layer tests: incremental extraction equals batch output;
windowed counts match a static groupBy; late files are picked up by the
next trigger without reprocessing committed docs."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pdf_toolkit_spark.corpus import corpus_config, make_document
from pdf_toolkit_spark.extract import extract_document
from pdf_toolkit_spark.spark.input import corpus_dataframe
from pdf_toolkit_spark.streaming import (
    sessionize_stream,
    stream_extraction,
    windowed_event_counts,
)

CFG = dict(corpus_config(), pages_per_chunk=32)


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    assert not query.isActive


def test_stream_extraction_incremental_equals_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # land the first half, drain the stream
    corpus_dataframe(spark, 6, seed=42, mega_every=0).write.mode("append").parquet(landing)
    _await(stream_extraction(spark, landing, out, ckpt, CFG))

    first = spark.read.parquet(f"{out}/spans")
    assert first.count() == 6

    # land more docs; a second availableNow drain picks up ONLY new files
    corpus_dataframe(spark, 10, seed=42, mega_every=0).filter(
        F.col("doc_id") >= "doc000006"
    ).write.mode("append").parquet(landing)
    _await(stream_extraction(spark, landing, out, ckpt, CFG))

    final = spark.read.parquet(f"{out}/spans")
    assert final.count() == 10
    # each doc appears exactly once and matches the serial oracle
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in final.collect()}
    assert len(rows) == 10
    for doc_id in range(10):
        doc = make_document(doc_id, seed=42, mega_every=0)
        assert rows[doc["doc_id"]] == extract_document(doc["pdf_bytes"], CFG)["spans"]


def test_windowed_event_counts_matches_static_aggregation(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = windowed_event_counts(events).orderBy("window_start", "event_type")
    # independent recomputation with a plain groupBy on truncated ts
    expected = (
        events.groupBy(
            F.window("ts", "5 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .count()
    )
    assert got.count() == expected
    row = got.first()
    assert row["n_events"] >= 1
    assert (row["window_end"] - row["window_start"]).total_seconds() == 300


def test_stateful_sessionization_matches_batch_twin(spark, tmp_path):
    """applyInPandasWithState sessions == the batch gaps-and-islands
    sessionization, for every session the stream could close (a user's
    final session may stay open in state when the query drains)."""

    from pdf_toolkit_spark.ops.relational import sessionize

    src_dir = str(tmp_path / "events")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # Land the stream as time-ordered file batches (a log stream arrives
    # roughly in event-time order; gap sessionization — like any
    # event-time state machine — relies on the watermark bounding
    # disorder). Four quartile files with increasing mtimes.
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    bounds = [r[0] for r in events.select(
        F.percentile(epoch, F.lit([0.25, 0.5, 0.75])).alias("p")).collect()][0]
    lo = float("-inf")
    for i, hi in enumerate([*bounds, float("inf")]):
        part = events.filter((epoch > lo) & (epoch <= hi))
        part.coalesce(1).write.mode("append").parquet(src_dir)
        lo = hi
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    name = f"sessions_{int(time.time())}"
    q = (
        sessionize_stream(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql(f"SELECT user_id, session_start, session_end, n_events, value_sum FROM {name}")

    batch = sessionize(spark, "/root/testdata/sf0.001").select(
        "user_id", "session_start", "session_end", "n_events", "value_sum"
    )
    # every emitted session must exist verbatim in the batch result
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0
    # and the stream closes all but at most one (open) session per user
    n_users = batch.select("user_id").distinct().count()
    assert got.count() >= batch.count() - n_users


def test_windowed_event_counts_streaming_mode(spark, tmp_path):
    """Same aggregation as a real stream (file source, update mode,
    memory sink): final per-key state equals the batch aggregation."""

    src_dir = str(tmp_path / "events")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "4").parquet(src_dir)
    )
    agg = windowed_event_counts(stream)
    name = f"wincounts_{int(time.time())}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # update mode may emit a key several times; the LAST emission per
    # key must equal the batch result
    got = spark.sql(
        f"SELECT window_start, event_type, max_by(n_events, n_events) AS n "
        f"FROM {name} GROUP BY window_start, event_type"
    )
    batch = windowed_event_counts(events).select(
        "window_start", "event_type", F.col("n_events").alias("n")
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stream_html_extraction_accumulates_boiler_state(spark, tmp_path):
    """HTML streaming twin: slogans survive while a site's observed
    doc count is below BOILER_MIN_DOCS and are stripped once the
    CUMULATIVE count (carried across separate stream runs via the
    state table) reaches it."""

    import pandas as pd

    from pdf_toolkit_spark.htmlx import BOILER_MIN_DOCS, SLOGANS
    from pdf_toolkit_spark.streaming.stream import stream_html_extraction

    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    text = " ".join(f"tok{i} alpha beta gamma delta" for i in range(30))

    # batch 1: two docs of site 0 (below threshold of 3)
    pd.DataFrame({"doc_id": [0, 13], "text": [text + " one", text + " two"]}).to_parquet(
        f"{src}/b1.parquet"
    )
    q = stream_html_extraction(spark, src, out, ck)
    q.awaitTermination(120)

    spans1 = spark.read.parquet(f"{out}/spans")
    slogans = set(SLOGANS)
    kept1 = [
        s["text"] for r in spans1.collect() for s in r["spans"] if s["text"] in slogans
    ]
    assert len(kept1) == 2  # chrome not yet strippable: only 2 docs seen

    # batch 2 (separate run, same checkpoint): two more site-0 docs
    # pushes the cumulative count to 4 >= BOILER_MIN_DOCS
    pd.DataFrame({"doc_id": [26, 39], "text": [text + " three", text + " four"]}).to_parquet(
        f"{src}/b2.parquet"
    )
    q = stream_html_extraction(spark, src, out, ck)
    q.awaitTermination(120)

    spans_all = spark.read.parquet(f"{out}/spans")
    by_doc = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in spans_all.collect()}
    assert set(by_doc) == {"doc000000", "doc000013", "doc000026", "doc000039"}
    # new docs are slogan-free; batch-1 docs keep their committed spans
    assert not (set(by_doc["doc000026"]) & slogans)
    assert not (set(by_doc["doc000039"]) & slogans)
    assert set(by_doc["doc000000"]) & slogans

    # cumulative state: the site-0 slogan row counts all 4 docs
    import glob

    latest = sorted(glob.glob(f"{out}/boiler_state/epoch=*"))[-1]
    state = spark.read.parquet(latest)
    slog_rows = state.filter(F.col("n_docs") >= 4).count()
    assert slog_rows >= 1


def test_stream_html_replay_is_idempotent(spark, tmp_path):
    """Replay of an already-written epoch (fresh checkpoint, same
    out_dir — the failure-after-write scenario) must not double-count
    state or duplicate span rows."""

    import glob

    import pandas as pd

    from pdf_toolkit_spark.streaming.stream import stream_html_extraction

    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)
    text = " ".join(f"tok{i} alpha beta gamma delta" for i in range(30))
    pd.DataFrame({"doc_id": [0, 13], "text": [text + " one", text + " two"]}).to_parquet(
        f"{src}/b1.parquet"
    )

    q = stream_html_extraction(spark, src, out, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    # replay: a NEW checkpoint reprocesses the same files as epoch 0
    # against an out_dir where epoch 0's state + spans already exist
    q = stream_html_extraction(spark, src, out, str(tmp_path / "ck2"))
    q.awaitTermination(120)

    latest = sorted(glob.glob(f"{out}/boiler_state/epoch=*"))[-1]
    state = spark.read.parquet(latest)
    assert state.agg(F.max("n_docs")).collect()[0][0] == 2  # not 4
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.count() == 2  # one row per doc, not duplicated


def test_reconcile_equals_batch_pipeline(spark, tmp_path):
    """The retrospective compaction over streaming output must equal the
    batch pipeline (which sees all docs at once) span-for-span —
    including re-stripping chrome committed before the site crossed
    BOILER_MIN_DOCS."""

    import pandas as pd

    from pdf_toolkit_spark.spark.html_job import (
        assemble_spans,
        html_records_df,
        strip_site_boilerplate,
    )
    from pdf_toolkit_spark.streaming.stream import (
        reconcile_html_spans,
        stream_html_extraction,
    )

    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    text = " ".join(f"tok{i} alpha beta gamma delta" for i in range(30))

    # site 0 crosses BOILER_MIN_DOCS only once batch 2 lands, so batch-1
    # docs carry chrome the batch pipeline would strip
    pd.DataFrame({"doc_id": [0, 13], "text": [text + " one", text + " two"]}).to_parquet(
        f"{src}/b1.parquet"
    )
    q = stream_html_extraction(spark, src, out, ck)
    q.awaitTermination(120)
    pd.DataFrame({"doc_id": [26, 39], "text": [text + " three", text + " four"]}).to_parquet(
        f"{src}/b2.parquet"
    )
    q = stream_html_extraction(spark, src, out, ck)
    q.awaitTermination(120)

    docs = spark.createDataFrame(
        [(0, text + " one"), (13, text + " two"), (26, text + " three"), (39, text + " four")],
        "doc_id long, text string",
    )
    batch = assemble_spans(strip_site_boilerplate(html_records_df(docs)))

    def spanset(df):
        return {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
            ]
            for r in df.collect()
        }

    assert spanset(reconcile_html_spans(spark, out)) == spanset(batch)


def test_stream_dedup_keeps_first_occurrence_across_batches(spark, tmp_path):
    from pdf_toolkit_spark.streaming import read_deduped, stream_dedup_documents

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows1 = [(0, "alpha beta", "en", "s1", 10), (1, "gamma", "en", "s1", 5),
             (2, "alpha beta", "en", "s2", 10)]  # in-batch dup of doc 0
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spark.createDataFrame(rows1, cols).coalesce(1).write.mode("append").parquet(landing)
    q = stream_dedup_documents(spark, landing, out, ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    got1 = {r["doc_id"] for r in read_deduped(spark, out).collect()}
    assert got1 == {0, 1}  # doc 2 is an in-batch duplicate of doc 0

    # second landing: cross-batch dup (doc 3) + genuinely new (doc 4)
    rows2 = [(3, "gamma", "en", "s3", 5), (4, "delta", "en", "s3", 5)]
    spark.createDataFrame(rows2, cols).coalesce(1).write.mode("append").parquet(landing)
    q = stream_dedup_documents(spark, landing, out, ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    final = read_deduped(spark, out)
    got = {r["doc_id"]: r["text"] for r in final.collect()}
    assert got == {0: "alpha beta", 1: "gamma", 4: "delta"}
    # every surviving text is unique
    assert final.count() == final.select("text").distinct().count()


def test_stream_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may replay a committed epoch after a crash: calling
    the batch body twice with the SAME epoch_id (and then the next
    epoch) must produce exactly the once-only output."""

    from pdf_toolkit_spark.streaming import dedup_process_batch, read_deduped

    out = str(tmp_path / "out")
    process = dedup_process_batch(spark, out)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b0 = spark.createDataFrame(
        [(0, "alpha", "en", "s", 5), (1, "beta", "en", "s", 4)], cols)
    process(b0, 0)
    process(b0, 0)  # replay of epoch 0
    b1 = spark.createDataFrame(
        [(2, "alpha", "en", "s", 5), (3, "kappa", "en", "s", 5)], cols)
    process(b1, 1)
    process(b1, 1)  # replay of epoch 1

    got = {r["doc_id"]: r["text"] for r in read_deduped(spark, out).collect()}
    assert got == {0: "alpha", 1: "beta", 3: "kappa"}


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """The purchase-attribution stream-stream join (watermarked on both
    sides) must produce exactly the static join's pairs once drained —
    inner interval joins emit eagerly; watermarks only bound state."""

    from pdf_toolkit_spark.streaming import purchase_attribution_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    expected = {
        tuple(r) for r in purchase_attribution_stream(events)
        .select("purchase_id", "click_id").collect()
    }
    assert expected, "static join found no pairs — fixture changed?"

    landing = str(tmp_path / "events")
    # two files so the stream sees multiple input splits
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    out = str(tmp_path / "out")
    q = (
        purchase_attribution_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = {
        tuple(r) for r in spark.read.parquet(out)
        .select("purchase_id", "click_id").collect()
    }
    assert got == expected


def test_stateful_funnel_stream_matches_batch_funnel(spark, tmp_path):
    """The stateful streaming funnel drained over an in-event-order
    feed must land every user on the same stage as the batch funnel
    (stages are monotone, so max(stage) per user is the position)."""

    from pdf_toolkit_spark.ops.relational import funnel as batch_funnel
    from pdf_toolkit_spark.streaming import funnel_stream

    expected = {
        r["stage"]: r["n_users"]
        for r in batch_funnel(spark, "/root/testdata/sf0.001").collect()
    }

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    landing = str(tmp_path / "events")
    # two time-ordered files: in-order arrival across micro-batches
    mid = events.approxQuantile("event_id", [0.5], 0.0)[0]
    events.filter(F.col("event_id") <= mid).orderBy("ts").coalesce(1)\
        .write.mode("append").parquet(landing)
    events.filter(F.col("event_id") > mid).orderBy("ts").coalesce(1)\
        .write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    out = str(tmp_path / "out")
    q = (
        funnel_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive

    got_rows = spark.read.parquet(out)
    per_user = {
        r["user_id"]: r["mx"]
        for r in got_rows.groupBy("user_id").agg(F.max("stage").alias("mx")).collect()
    }
    got = {}
    for stage in (1, 2, 3):
        got[stage] = sum(1 for v in per_user.values() if v >= stage)
    assert got == expected


def test_stream_neardup_matches_batch_survivors(spark, tmp_path):
    """The streaming MinHash near-dup operator must reproduce the batch
    survivor set exactly when the feed arrives in doc_id order — same
    shingles, same signatures, same band keys by construction (shared
    relation builders), with cross-epoch suppression via the committed
    bucket index."""

    from pdf_toolkit_spark.ops.dedup import (
        band_relation,
        minhash_survivor_relation,
        shingle_relation,
        signature_wide_relation,
    )
    from pdf_toolkit_spark.streaming import (
        read_neardup_survivors,
        stream_neardup_documents,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_neardup_documents(spark, landing, out, ckpt))
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_neardup_documents(spark, landing, out, ckpt))

    expected = {
        r["doc_id"]
        for r in minhash_survivor_relation(
            band_relation(signature_wide_relation(shingle_relation(docs)))
        ).collect()
    }
    got = {r["doc_id"] for r in read_neardup_survivors(spark, out).collect()}
    assert got == expected
    assert len(got) < docs.count()  # suppression actually happened


def test_stream_neardup_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch (crash-recovery path) must not
    resurrect suppressed docs or double-write survivors; a later epoch
    must suppress against the committed bucket index."""

    from pdf_toolkit_spark.streaming import (
        neardup_process_batch,
        read_neardup_survivors,
    )

    out = str(tmp_path / "out")
    process = neardup_process_batch(spark, out)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    long_a = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame(
        [(0, long_a, "en", "s", 60), (1, long_a, "en", "s", 60),
         (2, "completely different words here entirely", "en", "s", 41)], cols)
    process(b0, 0)
    process(b0, 0)  # replay of epoch 0
    b1 = spark.createDataFrame(
        [(3, long_a, "en", "s", 60), (4, "yet another unrelated document body", "en", "s", 36)],
        cols)
    process(b1, 1)
    process(b1, 1)  # replay of epoch 1

    got = {r["doc_id"] for r in read_neardup_survivors(spark, out).collect()}
    assert got == {0, 2, 4}  # 1 in-batch dup of 0; 3 cross-epoch dup of 0


def test_stream_ivf_assign_matches_batch_cells(spark, tmp_path):
    """Streaming IVF ingest against a frozen centroid set must assign
    every vector to the same cell as the batch full-corpus pass (shared
    cell_assign_relation), across micro-batches and replays."""

    from pdf_toolkit_spark.ops.similarity import _centroids, _ivf_cells
    from pdf_toolkit_spark.streaming import (
        read_ivf_assignments,
        stream_ivf_assign,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    cents = _centroids(spark, sf)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    emb.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_ivf_assign(spark, landing, cents, out, ckpt))
    emb.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_ivf_assign(spark, landing, cents, out, ckpt))

    got = {
        (r["vec_id"], r["cell"]) for r in read_ivf_assignments(spark, out).collect()
    }
    expected = {(r["vec_id"], r["cell"]) for r in _ivf_cells(spark, sf).collect()}
    assert got == expected
    assert len({c for _, c in got}) > 1  # vectors spread over cells


def test_stream_pack_sequences_matches_batch_and_replays(spark, tmp_path):
    """Online packing with a carried token offset: for a doc_id-ordered
    feed, the union over epochs must equal batch text_pack_sequences
    row-for-row (offsets AND window ids global across the epoch
    boundary), and replaying an epoch must change nothing."""

    from pdf_toolkit_spark.ops.text import pack_sequences
    from pdf_toolkit_spark.streaming import (
        pack_process_batch,
        read_packed_sequences,
        stream_pack_sequences,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_pack_sequences(spark, landing, out, ckpt))
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_pack_sequences(spark, landing, out, ckpt))

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    got = key(
        (r["doc_id"], r["n_tokens"], r["start_offset"], r["window_id"])
        for r in read_packed_sequences(spark, out).collect()
    )
    expected = key(
        (r["doc_id"], r["n_tokens"], r["start_offset"], r["window_id"])
        for r in pack_sequences(spark, sf).collect()
    )
    assert got == expected
    # offsets really cross the epoch boundary (second epoch starts
    # at the first epoch's total, not at zero)
    assert sum(1 for _, _, off, _ in got if off == 0) == 1

    # replay the last epoch: output identical
    process = pack_process_batch(spark, out)
    process(docs.filter(F.col("doc_id") > mid), 1)
    assert key(
        (r["doc_id"], r["n_tokens"], r["start_offset"], r["window_id"])
        for r in read_packed_sequences(spark, out).collect()
    ) == expected


def test_stream_perplexity_tiers_matches_batch_assignment(spark, tmp_path):
    """Streaming tier assignment against a FROZEN trigram model +
    frozen per-language cutoffs must equal the batch
    tier_assign_relation over the union of both epochs' documents
    (shared relation, same freeze-per-epoch contract as IVF ingest),
    and the tier spread must be real (all three buckets present)."""

    from pdf_toolkit_spark.ops.text import (
        _lm_doc_tri,
        _lm_norm,
        perplexity_tier_thresholds,
        tier_assign_relation,
        trigram_model_relation,
    )
    from pdf_toolkit_spark.streaming import (
        read_tier_assignments,
        stream_perplexity_tiers,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    model = trigram_model_relation(_lm_doc_tri(_lm_norm(docs))).persist()
    thr = perplexity_tier_thresholds(spark, sf).persist()
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_perplexity_tiers(spark, landing, model, thr, out, ckpt))
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_perplexity_tiers(spark, landing, model, thr, out, ckpt))

    got = {
        (r["doc_id"], r["lang"], r["avg_logp"], r["bucket"])
        for r in read_tier_assignments(spark, out).collect()
    }
    expected = {
        (r["doc_id"], r["lang"], r["avg_logp"], r["bucket"])
        for r in tier_assign_relation(docs, model, thr).collect()
    }
    assert got == expected
    assert {b for *_, b in got} == {"head", "middle", "tail"}
    model.unpersist(), thr.unpersist()


def test_compact_epochs_preserves_rows_and_recovers(spark, tmp_path):
    """Compaction must merge epoch dirs into the max-epoch dir with
    identical rows, be a no-op when there is nothing to merge, and
    finish an interrupted swap from its manifest on the next call."""

    import glob
    import json
    import os

    from pdf_toolkit_spark.streaming import (
        compact_epochs,
        neardup_process_batch,
        read_neardup_survivors,
    )

    out = str(tmp_path / "out")
    process = neardup_process_batch(spark, out)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for epoch in range(3):
        rows = [(epoch * 10 + i, f"unique doc body {epoch} {i} with words", "en", "s", 30)
                for i in range(4)]
        process(spark.createDataFrame(rows, cols), epoch)

    before = {tuple(r) for r in read_neardup_survivors(spark, out).collect()}
    assert len(glob.glob(f"{out}/docs/epoch=*")) == 3

    n = compact_epochs(spark, f"{out}/docs", target_files=2)
    assert n == 2
    dirs = glob.glob(f"{out}/docs/epoch=*")
    assert sorted(os.path.basename(d) for d in dirs) == ["epoch=000000000001", "epoch=000000000002"]
    after = {tuple(r) for r in read_neardup_survivors(spark, out).collect()}
    assert after == before

    assert compact_epochs(spark, f"{out}/docs") == 0  # two epoch dirs (< 3): no-op

    # simulate a crash AFTER the manifest was written, BEFORE the swap:
    # move the compacted dir back to .compacting with a manifest naming
    # two fake inputs, then recover.
    comp = f"{out}/buckets"  # compact the bucket index this time
    assert len(glob.glob(f"{comp}/epoch=*")) == 3
    bucket_rows = spark.read.parquet(f"{comp}/epoch=*").count()
    tmp = f"{comp}.compacting"
    spark.read.option("basePath", comp).parquet(f"{comp}/epoch=*")\
        .drop("epoch").coalesce(1).write.mode("overwrite").parquet(tmp)
    inputs = sorted(glob.glob(f"{comp}/epoch=*"))
    json.dump(inputs, open(f"{tmp}/_compaction_inputs.json", "w"))
    assert compact_epochs(spark, comp) == 3  # recovery path
    assert sorted(os.path.basename(d) for d in glob.glob(f"{comp}/epoch=*")) \
        == ["epoch=000000000002"]
    assert spark.read.parquet(f"{comp}/epoch=*").count() == bucket_rows

    # simulate a crash AFTER the rename, BEFORE the in-place manifest
    # removal: the committed epoch dir still carries the manifest (all
    # inputs already gone). The next call must finish by clearing the
    # stray manifest WITHOUT touching the data — under the old
    # remove-manifest-then-rename ordering this state was the
    # unrecoverable one (the copy survived with no manifest and was
    # discarded as a pre-manifest partial).
    survivor = f"{comp}/epoch=000000000002"
    json.dump(inputs, open(f"{survivor}/_compaction_inputs.json", "w"))
    assert compact_epochs(spark, comp) == 0  # nothing left to merge
    assert not os.path.exists(f"{survivor}/_compaction_inputs.json")
    assert spark.read.parquet(f"{comp}/epoch=*").count() == bucket_rows


def test_compaction_then_replay_of_newest_epoch_keeps_history(spark, tmp_path):
    """A crash after epoch 2's write but before its checkpoint commit
    makes foreachBatch replay epoch 2. Compacting the sinks before the
    restart must leave that replay's strictly-below history complete,
    so the replay rewrites the same survivors."""

    from pdf_toolkit_spark.streaming import (
        compact_epochs,
        dedup_process_batch,
        read_deduped,
    )

    out = str(tmp_path / "out")
    process = dedup_process_batch(spark, out)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    batches = [
        spark.createDataFrame(
            [(epoch * 10 + i, f"body {epoch} {i}", "en", "s", 8) for i in range(3)], cols
        )
        for epoch in range(3)
    ]
    for epoch, batch in enumerate(batches):
        process(batch, epoch)
    before = {tuple(r) for r in read_deduped(spark, out).collect()}
    assert len(before) == 9

    compact_epochs(spark, f"{out}/docs")
    compact_epochs(spark, f"{out}/hashes")
    process(batches[2], 2)  # replay of the newest epoch

    assert {tuple(r) for r in read_deduped(spark, out).collect()} == before


@pytest.mark.parametrize("reader, operator", [
    ("read_cluster_best", "stream_cluster_best"),
    ("read_deduped", "stream_dedup_documents"),
    ("read_ivf_assignments", "stream_ivf_assign"),
    ("read_neardup_survivors", "stream_neardup_documents"),
    ("read_packed_sequences", "stream_pack_sequences"),
    ("read_pq_index", "stream_pq_ingest"),
    ("read_quota_admitted", "stream_domain_quota"),
    ("read_semantic_keep", "stream_semantic_dedup"),
    ("read_tier_assignments", "stream_perplexity_tiers"),
    ("read_weighted_sample", "stream_weighted_sample"),
])
def test_readers_raise_user_error_on_empty_output(spark, tmp_path, reader, operator):
    """Every result reader reports an output with no committed epoch
    as a UserError naming its operator, not a Spark analysis error."""

    import pdf_toolkit_spark.streaming as streaming
    from pdf_toolkit_spark.errors import UserError

    with pytest.raises(UserError, match=f"^{operator}: "):
        getattr(streaming, reader)(spark, str(tmp_path))


def test_stream_domain_quota_caps_per_source(spark, tmp_path):
    """Online quota: at most k docs admitted per source across
    micro-batches; for a feed delivered in hash-key order the admitted
    set equals the batch curate_domain_quota rank <= k set exactly."""

    import pandas as pd

    from pdf_toolkit_spark.ops.curation import domain_quota
    from pdf_toolkit_spark.streaming import (
        read_quota_admitted, stream_domain_quota,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sf_dir = "/root/testdata/sf0.001"
    k = 18

    # deliver the documents table in the batch operator's hash-key
    # order, split into 3 files (one micro-batch each)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))),
            1, 8,
        ), 16, 10,
    ).cast("bigint")
    ordered = docs.withColumn("h", h).orderBy("h", "doc_id").drop("h").toPandas()
    n = len(ordered)
    for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]:
        spark.createDataFrame(ordered.iloc[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = stream_domain_quota(spark, landing, out, ckpt, k=k)
    q.awaitTermination(180)
    assert not q.isActive

    admitted = {r["doc_id"] for r in read_quota_admitted(spark, out).collect()}
    batch = {r["doc_id"] for r in domain_quota(spark, sf_dir).collect()}
    assert admitted == batch
    # and the cap holds per source
    per_src = (
        read_quota_admitted(spark, out).groupBy("source").count().collect()
    )
    assert all(r["count"] <= k for r in per_src)


def test_stream_domain_quota_replay_is_idempotent(spark, tmp_path):
    """Re-running an epoch (foreachBatch replay after a crash) must
    not admit extra documents."""

    from pdf_toolkit_spark.streaming.stream import (
        domain_quota_process_batch, read_quota_admitted,
    )

    out = str(tmp_path / "out")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = spark.createDataFrame(
        [(i, f"t{i}", "en", "s1", 5) for i in range(4)], cols
    )
    b2 = spark.createDataFrame(
        [(10 + i, f"u{i}", "en", "s1", 5) for i in range(4)], cols
    )
    process = domain_quota_process_batch(spark, out, k=5)
    process(b1, 0)
    process(b2, 1)
    once = sorted(
        r["doc_id"] for r in read_quota_admitted(spark, out).collect()
    )
    assert len(once) == 5
    process(b2, 1)  # replay
    again = sorted(
        r["doc_id"] for r in read_quota_admitted(spark, out).collect()
    )
    assert again == once


def test_stream_weighted_sample_matches_batch_any_order(spark, tmp_path):
    """Online weighted sampling: the bottom-K priority state equals
    the batch curate_weighted_sample cut EXACTLY — and because
    min-merge is associative and commutative, it does so for a
    SHUFFLED feed too (no delivery-order requirement)."""

    from pdf_toolkit_spark.ops.curation import WS_K, weighted_sample
    from pdf_toolkit_spark.streaming import (
        read_weighted_sample, stream_weighted_sample,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = sorted(
        (r["priority"], r["doc_id"], r["source"], r["w"])
        for r in weighted_sample(spark, sf_dir).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    # adversarial delivery order: descending doc_id, split into 3
    # micro-batches
    docs = docs.sort_values("doc_id", ascending=False).reset_index(drop=True)
    landing = str(tmp_path / "landing")
    n = len(docs)
    for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]:
        spark.createDataFrame(docs.iloc[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = stream_weighted_sample(
        spark, landing, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        k=WS_K,
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = sorted(
        (r["priority"], r["doc_id"], r["source"], r["w"])
        for r in read_weighted_sample(spark, str(tmp_path / "out")).collect()
    )
    assert got == batch


def test_stream_weighted_sample_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch (foreachBatch crash recovery) rewrites the
    identical bottom-K state; a later epoch only improves priorities."""

    from pdf_toolkit_spark.streaming.stream import (
        read_weighted_sample, weighted_sample_process_batch,
    )

    out = str(tmp_path / "out")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = spark.createDataFrame(
        [(i, "word " * 30, "en", "s1", 150) for i in range(8)], cols
    )
    b2 = spark.createDataFrame(
        [(100 + i, "word " * 500, "en", "s2", 2500) for i in range(8)], cols
    )
    process = weighted_sample_process_batch(spark, out, k=4)
    process(b1, 0)
    process(b2, 1)
    once = sorted(
        (r["priority"], r["doc_id"])
        for r in read_weighted_sample(spark, out).collect()
    )
    assert len(once) == 4
    process(b2, 1)  # replay
    again = sorted(
        (r["priority"], r["doc_id"])
        for r in read_weighted_sample(spark, out).collect()
    )
    assert again == once
    # state rows carry only integers (hash priorities), never text
    df = read_weighted_sample(spark, out)
    assert set(df.columns) == {"doc_id", "source", "w", "priority"}


def test_stream_semantic_dedup_matches_batch(spark, tmp_path):
    """Streaming SemDeDup against a frozen centroid set must reproduce
    the batch keep/drop bits exactly when the feed arrives in vec_id
    order: same cell assignment (shared cell_assign_relation), in-batch
    pairs from the self-join, cross-epoch pairs from the committed
    per-cell vector log."""

    from pdf_toolkit_spark.ops.dedup import dedup_semantic
    from pdf_toolkit_spark.ops.similarity import _centroids
    from pdf_toolkit_spark.streaming import (
        read_semantic_keep,
        stream_semantic_dedup,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    cents = _centroids(spark, sf)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    emb.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_semantic_dedup(spark, landing, cents, out, ckpt))
    emb.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_semantic_dedup(spark, landing, cents, out, ckpt))

    got = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in read_semantic_keep(spark, out).collect()
    }
    expected = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in dedup_semantic(spark, sf).collect()
    }
    assert got == expected
    assert any(not k for _, _, k in got)  # suppression actually happened
    # and some of it crossed the epoch boundary: a second-epoch vector
    # dropped against first-epoch history only (no in-batch neighbor)
    assert any(not k and v > mid for v, _, k in got)


def test_stream_semantic_dedup_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch must not resurrect dropped vectors
    or flip keep bits; a later epoch must suppress against the
    committed vector log (dropped vectors suppress too — the batch rule
    is ANY smaller-id neighbor, kept or not)."""

    from pdf_toolkit_spark.streaming import (
        read_semantic_keep,
        semantic_dedup_process_batch,
    )

    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, cv array<double>")
    out = str(tmp_path / "out")
    process = semantic_dedup_process_batch(spark, cents, out)
    schema = "vec_id long, embedding array<float>"
    b0 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])], schema)
    process(b0, 0)
    process(b0, 0)  # replay of epoch 0
    b1 = spark.createDataFrame(
        [(3, [0.99, 0.01]),   # cross-epoch dup of 0
         (4, [0.3, 1.0]),     # dup of DROPPED-epoch-0 vec... no: cos(4,2)=0.958 -> dropped vs kept 2
         (5, [-1.0, 0.2])],   # below threshold vs everything
        schema)
    process(b1, 1)
    process(b1, 1)  # replay of epoch 1

    got = {r["vec_id"]: r["keep"] for r in read_semantic_keep(spark, out).collect()}
    assert got == {0: True, 1: False, 2: True, 3: False, 4: False, 5: True}


def test_stream_pq_ingest_matches_batch_index(spark, tmp_path):
    """Streaming IVF-PQ encoding against frozen centroids + codebooks
    must reproduce the batch inverted file (ops/similarity._pq_index)
    row-for-row: same cell keys (shared cell_assign_relation), same
    codes (shared subvector split + argmin), across an epoch split."""

    from pdf_toolkit_spark.ops.similarity import _centroids, _pq_books, _pq_index
    from pdf_toolkit_spark.streaming import read_pq_index, stream_pq_ingest

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    cents = _centroids(spark, sf)
    books = _pq_books(spark, sf)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    emb.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_pq_ingest(spark, landing, cents, books, out, ckpt))
    emb.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_pq_ingest(spark, landing, cents, books, out, ckpt))

    got = {
        (r["cell"], r["vec_id"], r["sub"], r["code"])
        for r in read_pq_index(spark, out).collect()
    }
    expected = {
        (r["cell"], r["vec_id"], r["sub"], r["code"])
        for r in _pq_index(spark, sf).collect()
    }
    assert got == expected
    assert len(got) == emb.count() * 4  # PQ_M rows per vector, all vectors


def test_stream_pq_ingest_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch rewrites it byte-identically: the
    union after a double-processed epoch has no duplicate rows and the
    same codes."""

    from pdf_toolkit_spark.streaming import pq_ingest_process_batch, read_pq_index

    cents = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 7)], "cell int, cv array<double>"
    )
    # PQ_M = 4 subspaces over 8-dim vectors -> 2-dim subvectors; per
    # subspace, code 0 = [0,0] and code 1 = [1,1]
    books = spark.createDataFrame(
        [(s, c, [float(c), float(c)]) for s in range(4) for c in (0, 1)],
        "sub int, code int, cv array<double>",
    )
    out = str(tmp_path / "out")
    process = pq_ingest_process_batch(cents, books, out)
    b0 = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.9, 1.1, 0.0, 0.1, 1.0, 0.9]),
         (1, [1.2, 0.8, 0.1, -0.2, 0.8, 1.2, 0.2, 0.1])],
        "vec_id long, embedding array<float>",
    )
    process(b0, 0)
    process(b0, 0)  # replay
    rows = sorted(
        (r["vec_id"], r["sub"], r["code"]) for r in read_pq_index(spark, out).collect()
    )
    assert rows == [
        (0, 0, 0), (0, 1, 1), (0, 2, 0), (0, 3, 1),
        (1, 0, 1), (1, 1, 0), (1, 2, 1), (1, 3, 0),
    ]


def test_stream_cluster_best_matches_batch(spark, tmp_path):
    """Online canonical pick against a frozen cluster assignment must
    reproduce the batch quality-max pick exactly — count-sum and
    struct-argmax merge commutatively, so the equality holds for any
    epoch split (here: two epochs split by doc_id parity, deliberately
    NOT id-ordered)."""

    from pdf_toolkit_spark.ops.curation import cluster_best
    from pdf_toolkit_spark.ops.dedup import dedup_components
    from pdf_toolkit_spark.streaming import read_cluster_best, stream_cluster_best

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    clusters = dedup_components(spark, sf)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_cluster_best(spark, landing, clusters, out, ckpt))
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(landing)
    _await(stream_cluster_best(spark, landing, clusters, out, ckpt))

    got = {
        (r["cluster"], r["kept_doc_id"], r["best_quality"], r["n_members"])
        for r in read_cluster_best(spark, out).collect()
    }
    expected = {
        (r["cluster"], r["kept_doc_id"], r["best_quality"], r["n_members"])
        for r in cluster_best(spark, sf).collect()
    }
    assert got == expected
    assert any(n > 1 for _, _, _, n in got)  # real clusters crossed epochs


def test_stream_cluster_best_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch must not double-count members or
    flip the argmax."""

    from pdf_toolkit_spark.streaming import cluster_best_process_batch, read_cluster_best

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 30)], "doc_id long, canonical_id long"
    )
    out = str(tmp_path / "out")
    process = cluster_best_process_batch(spark, clusters, out)
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, "the of and solid alpha text here"), (3, "zz")], schema)
    process(b0, 0)
    process(b0, 0)  # replay
    b1 = spark.createDataFrame([(2, "x")], schema)  # low quality, same cluster as 1
    process(b1, 1)
    process(b1, 1)  # replay
    got = {
        r["cluster"]: (r["kept_doc_id"], r["n_members"])
        for r in read_cluster_best(spark, out).collect()
    }
    assert got[10] == (1, 2)  # doc 1 stays best; member count exact
    assert got[30] == (3, 1)


def test_stream_semantic_dedup_rejects_out_of_order_feed(spark, tmp_path):
    """The id-order precondition is enforced, not assumed: a batch
    whose min vec_id is <= the committed max must fail fast (a
    committed keep bit is final, so a late smaller-id vector would
    silently diverge the stream from the batch twin)."""

    import pytest as _pytest

    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.streaming import semantic_dedup_process_batch

    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, cv array<double>")
    out = str(tmp_path / "out")
    process = semantic_dedup_process_batch(spark, cents, out)
    schema = "vec_id long, embedding array<float>"
    process(spark.createDataFrame([(10, [1.0, 0.0])], schema), 0)
    # replay of the same epoch is fine (history reads strictly below)
    process(spark.createDataFrame([(10, [1.0, 0.0])], schema), 0)
    with _pytest.raises(UserError, match="out-of-order"):
        process(spark.createDataFrame([(5, [0.0, 1.0])], schema), 1)
