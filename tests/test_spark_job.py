"""Distributed-job correctness: span-sequence equality vs the serial
oracle (incl. chunked mega-PDFs), checkpoint resume idempotence,
lineage/metrics counters, and plan hygiene."""

from __future__ import annotations

import pytest

from pdf_toolkit_spark.corpus import corpus_config, make_document
from pdf_toolkit_spark.extract import extract_document
from pdf_toolkit_spark.spark.input import corpus_dataframe
from pdf_toolkit_spark.spark.job import build_pipeline, read_lineage, run_extraction

CFG = dict(corpus_config(), pages_per_chunk=32)  # force chunking on megas
N_DOCS = 24
MEGA_EVERY = 12  # docs 11 and 23 are mega (well above pages_per_chunk)


@pytest.fixture(scope="module")
def spans_by_doc(spark):
    input_df = corpus_dataframe(spark, N_DOCS, seed=42, mega_every=MEGA_EVERY)
    spans_df, _ = build_pipeline(spark, input_df, CFG)
    rows = spans_df.collect()
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}


def test_span_sequence_equality_vs_serial_oracle(spans_by_doc):
    """The gate: distributed output == serial extractor, per doc,
    element-wise on (kind, text, media_ref, offset)."""

    assert len(spans_by_doc) == N_DOCS
    for doc_id in range(N_DOCS):
        doc = make_document(doc_id, seed=42, mega_every=MEGA_EVERY)
        expected = extract_document(doc["pdf_bytes"], CFG)["spans"]
        got = spans_by_doc[doc["doc_id"]]
        assert got == expected, (
            f"span mismatch for {doc['doc_id']} ({doc['doc_class']}): "
            f"{got[:3]} vs {expected[:3]}"
        )


def test_mega_pdf_went_through_chunked_path(spans_by_doc):
    doc = make_document(MEGA_EVERY - 1, seed=42, mega_every=MEGA_EVERY)
    assert doc["doc_class"] == "mega_pdf"
    assert doc["n_pages"] > CFG["pages_per_chunk"]  # really was salted
    spans = spans_by_doc[doc["doc_id"]]
    offsets = [s["offset"] for s in spans]
    assert offsets == list(range(len(offsets)))  # dense global order


def test_span_sequence_equality_jpeg_corpus(spark):
    """The same equality gate over a scan-codec corpus: every 3rd
    doc's rasters ship as baseline JPEG, Group-4 fax, generic-region
    JBIG2, lossless JPEG 2000, lossy 9/7 JPEG 2000, symbol/text
    JBIG2 with /JBIG2Globals, or SDHUFF symbol JBIG2 with predefined
    Annex B tables (cycling) — the dominant real-world scan
    encodings. Distributed decode must equal the serial oracle
    pixel-for-pixel (media_refs hash decoded pixels; for the lossy
    codecs both engines decode the SAME bytes, so equality is exact
    even though the codec is not)."""

    n = 21  # coded docs 0,3,...,18 cycle all seven codecs over 2-D rasters
    input_df = corpus_dataframe(spark, n, seed=42, mega_every=0, jpeg_every=3)
    spans_df, _ = build_pipeline(spark, input_df, CFG)
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    saw = set()
    for doc_id in range(n):
        doc = make_document(doc_id, seed=42, mega_every=0, jpeg_every=3)
        for marker, codec in ((b"DCTDecode", "jpeg"), (b"CCITTFaxDecode", "ccitt"),
                              (b"JBIG2Decode", "jbig2"), (b"JPXDecode", "jpx"),
                              (b"JBIG2Globals", "jbig2s")):
            if marker in doc["pdf_bytes"]:
                saw.add(codec)
        expected = extract_document(doc["pdf_bytes"], CFG)["spans"]
        assert rows[doc["doc_id"]] == expected, doc["doc_class"]
    assert saw == {"jpeg", "ccitt", "jbig2", "jpx", "jbig2s"}
    # the jpx97 doc (slot 4) is covered: doc 12 carries JPXDecode with
    # an irreversible SPcod transform byte
    doc12 = make_document(12, seed=42, mega_every=0, jpeg_every=3)
    assert b"JPXDecode" in doc12["pdf_bytes"]
    # slot 1 (doc 3, outer_bar content) is the predefined-table SDHUFF
    # profile: a /JBIG2Globals symbol dictionary coded with the Annex
    # B standard tables (no type-53 code-table segments)
    doc3 = make_document(3, seed=42, mega_every=0, jpeg_every=3)
    assert b"JBIG2Globals" in doc3["pdf_bytes"]


def test_span_sequence_equality_cid_corpus(spark):
    """The equality gate over a CID-font corpus: every 3rd doc writes
    its text as Type0/Identity-H 2-byte glyph codes with a /ToUnicode
    CMap — the distributed font-decoding path must recover the exact
    original text (spans equal each doc's serial extraction, and the
    CID docs' spans equal their simple-font twins')."""

    n = 12
    input_df = corpus_dataframe(spark, n, seed=42, mega_every=0, cid_every=3)
    spans_df, _ = build_pipeline(spark, input_df, CFG)
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    saw_cid = False
    for doc_id in range(n):
        doc = make_document(doc_id, seed=42, mega_every=0, cid_every=3)
        saw_cid = saw_cid or b"Identity-H" in doc["pdf_bytes"]
        expected = extract_document(doc["pdf_bytes"], CFG)["spans"]
        assert rows[doc["doc_id"]] == expected, doc["doc_class"]
        if doc_id % 3 == 0:  # CID doc: text identical to simple-font twin
            twin = make_document(doc_id, seed=42, mega_every=0)
            twin_spans = extract_document(twin["pdf_bytes"], CFG)["spans"]
            assert [(s["kind"], s["text"]) for s in rows[doc["doc_id"]]] == [
                (s["kind"], s["text"]) for s in twin_spans
            ]
    assert saw_cid


def test_span_sequence_equality_encrypted_corpus(spark):
    """The equality gate over an encrypted corpus: every 3rd doc is
    encrypted (cycling RC4-40, AESV2, AES-256, and the /Adobe.PubSec
    certificate handler) — distributed decryption inside the pandas UDF
    must yield spans identical to each doc's serial extraction."""

    n = 21
    input_df = corpus_dataframe(spark, n, seed=42, mega_every=0, encrypt_every=3)
    spans_df, _ = build_pipeline(spark, input_df, CFG)
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    seen = set()
    for doc_id in range(n):
        doc = make_document(doc_id, seed=42, mega_every=0, encrypt_every=3)
        if b"Adobe.PubSec" in doc["pdf_bytes"]:
            seen.add("pubkey")
        elif b"/AESV3" in doc["pdf_bytes"]:
            seen.add("aes256")
        elif b"/AESV2" in doc["pdf_bytes"]:
            seen.add("aes")
        elif b"/Encrypt" in doc["pdf_bytes"]:
            seen.add("rc4")
        if b"/Encrypt" in doc["pdf_bytes"] and b"/ObjStm" in doc["pdf_bytes"]:
            seen.add("enc15")
        expected = extract_document(doc["pdf_bytes"], CFG)["spans"]
        assert rows[doc["doc_id"]] == expected, doc["doc_class"]
    assert seen == {"rc4", "aes", "aes256", "pubkey", "enc15"}


def test_resume_skips_committed_docs(spark, tmp_path):
    out = str(tmp_path / "out")
    first = corpus_dataframe(spark, 6, seed=42, mega_every=0)
    r1 = run_extraction(spark, first, CFG, out_dir=out, run_id="r1")
    assert r1.metrics["docs_processed"] == 6

    # Second run over a superset: only the 4 new docs are processed.
    superset = corpus_dataframe(spark, 10, seed=42, mega_every=0)
    r2 = run_extraction(spark, superset, CFG, out_dir=out, run_id="r2")
    assert r2.metrics["docs_processed"] == 4

    # Third run: nothing left to do.
    r3 = run_extraction(spark, superset, CFG, out_dir=out, run_id="r3")
    assert r3.metrics["docs_processed"] == 0

    # Each run's lineage names exactly the docs that run processed.
    def lineage_docs(run_id):
        rows = read_lineage(spark, out).filter(f"run_id = '{run_id}'")
        return {r["doc_id"] for r in rows.select("doc_id").distinct().collect()}

    first_ids = {r["doc_id"] for r in first.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in superset.select("doc_id").collect()}
    assert lineage_docs("r1") == first_ids
    assert lineage_docs("r2") == all_ids - first_ids and len(all_ids - first_ids) == 4
    assert lineage_docs("r3") == set()

    # Committed output covers all 10 docs exactly once, matching serial.
    final = spark.read.parquet(f"{out}/spans")
    assert final.count() == 10
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in final.collect()}
    for doc_id in range(10):
        doc = make_document(doc_id, seed=42, mega_every=0)
        assert rows[doc["doc_id"]] == extract_document(doc["pdf_bytes"], CFG)["spans"]


def test_locator_mode_matches_bytes_mode(spark, tmp_path):
    """Locator-mode input (doc bytes stay in 'object storage'; only a
    path rides the chunk-salt exchange) must produce identical spans to
    bytes-mode — incl. the chunked mega doc — while keeping every byte
    column out of the salted relation."""

    from pdf_toolkit_spark.spark.input import locator_dataframe, write_corpus_files
    from pdf_toolkit_spark.spark.job import salt_into_chunks

    rows = write_corpus_files(str(tmp_path / "corpus"), 13, seed=42, mega_every=12)
    loc_df = locator_dataframe(spark, rows)

    salted = salt_into_chunks(loc_df, CFG["pages_per_chunk"])
    assert "pdf_bytes" not in salted.columns  # the point: no byte replication
    assert "pdf_locator" in salted.columns
    # the mega doc really does fan out into several locator-only rows
    mega_chunks = salted.filter("doc_id = 'doc000011'").count()
    assert mega_chunks > 1

    spans_df, _ = build_pipeline(spark, loc_df, CFG)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    assert len(got) == 13
    for doc_id in range(13):
        doc = make_document(doc_id, seed=42, mega_every=12)
        expected = extract_document(doc["pdf_bytes"], CFG)["spans"]
        assert got[doc["doc_id"]] == expected, doc["doc_class"]


def test_locator_fetch_failure_is_isolated(spark, tmp_path):
    """A dangling locator (deleted/unreachable object) becomes an
    'error' lineage row like any parse failure — not a stage failure."""

    from pdf_toolkit_spark.spark.input import locator_dataframe, write_corpus_files

    rows = write_corpus_files(str(tmp_path / "corpus"), 2, seed=42, mega_every=0)
    rows.append(("gone", str(tmp_path / "corpus" / "missing.pdf"), 3))
    df = locator_dataframe(spark, rows)
    spans_df, records_df = build_pipeline(spark, df, CFG)
    assert {r["doc_id"] for r in spans_df.collect()} == {"doc000000", "doc000001"}
    errors = records_df.filter("status = 'error'").select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in errors} == {"gone"}


def test_metrics_counters_match_serial(spark):
    input_df = corpus_dataframe(spark, 12, seed=42, mega_every=0)
    result = run_extraction(spark, input_df, CFG, out_dir=None, run_id="m1")
    expected = {"pages_parsed": 0, "spreads_split": 0, "rotations_fixed": 0, "crop_only": 0}
    for doc_id in range(12):
        doc = make_document(doc_id, seed=42, mega_every=0)
        c = extract_document(doc["pdf_bytes"], CFG)["counters"]
        for k in expected:
            expected[k] += c[k]
    assert result.metrics["docs_processed"] == 12
    for k, v in expected.items():
        assert result.metrics[k] == v, k


def test_dry_run_writes_nothing_and_reports_plan(spark, tmp_path):
    out = str(tmp_path / "dry")
    input_df = corpus_dataframe(spark, 3, seed=42, mega_every=0)
    result = run_extraction(spark, input_df, dict(CFG, dry_run=True), out_dir=out)
    assert result.metrics["dry_run"] is True
    assert "plan" in result.metrics
    import os
    assert not os.path.exists(f"{out}/spans")


def test_run_leaves_session_arrow_batch_size_alone(spark):
    """run_extraction does not rewrite session-wide Arrow conf that
    every later Python stage inherits."""

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "8")
    try:
        input_df = corpus_dataframe(spark, 2, seed=42, mega_every=0)
        run_extraction(spark, input_df, dict(CFG, dry_run=True))
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, "16")


def test_corrupt_documents_are_isolated_not_fatal(spark):
    """One malformed PDF must not kill the stage: it becomes an error
    lineage row, emits no spans, and healthy docs still extract."""

    from pdf_toolkit_spark.spark.schema import DOCUMENTS_RAW_SCHEMA

    good = make_document(0, seed=42, mega_every=0)
    rows = [
        ("ok", bytearray(good["pdf_bytes"]), good["n_pages"]),
        ("corrupt", bytearray(b"GIF89a not a pdf"), 1),
        ("truncated", bytearray(good["pdf_bytes"][:200]), good["n_pages"]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_RAW_SCHEMA)
    spans_df, records_df = build_pipeline(spark, df, CFG)
    spans = {r["doc_id"]: r["spans"] for r in spans_df.collect()}
    assert set(spans) == {"ok"}  # failed docs emit no (partial) spans
    errors = records_df.filter("status = 'error'").select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in errors} == {"corrupt", "truncated"}

    result = run_extraction(spark, df, CFG)
    assert result.metrics["docs_processed"] == 1
    assert result.metrics["docs_failed"] == 2


def test_plan_has_single_python_stage(spark):
    """Plan hygiene: exactly one Python boundary (a mapInArrow for the
    corpus gen is input-side; extraction adds one mapInArrow), no
    per-row PythonUDF nodes and no pandas stage."""

    from pdf_toolkit_spark.spark.session import explain_str

    input_df = corpus_dataframe(spark, 4, seed=42, mega_every=0)
    spans_df, _ = build_pipeline(spark, input_df, CFG)
    plan = explain_str(spans_df, "simple")
    assert "BatchEvalPython" not in plan        # no row-at-a-time Python
    # exactly two Python stages: corpus generation (input-side) and the
    # extraction UDF — crucially NOT duplicated by the strip stage
    assert plan.count("MapInPandas") == 0
    assert plan.count("MapInArrow") == 2
    assert "Aggregate" in plan


def test_chunk_spread_input_matches_shuffle(spark):
    """chunk_spread='input' (no byte shuffle; source partitioning
    provides the spread) must produce identical spans to the default
    shuffle mode — including chunked mega docs — and its plan must
    contain NO exchange before the Python stage."""

    import re

    from pdf_toolkit_spark.spark.session import explain_str

    input_df = corpus_dataframe(spark, 13, seed=42, mega_every=12)
    cfg_in = dict(CFG, chunk_spread="input")
    spans_in, _ = build_pipeline(spark, input_df, cfg_in)
    # explain BEFORE executing: the post-execution formatted plan
    # repeats the tree (AQE final + initial) and double-counts nodes
    plan = explain_str(spans_in, "formatted")
    rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_in.collect()}
    assert len(rows) == 13
    for doc_id in (0, 5, 11):  # incl. the mega doc
        doc = make_document(doc_id, seed=42, mega_every=12)
        assert rows[doc["doc_id"]] == extract_document(doc["pdf_bytes"], CFG)["spans"]
    # exactly ONE exchange: the fused doc_id shuffle of the span branch
    # (the chunk-salt byte shuffle is gone)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert not any("chunk_start" in k for k in keys)
