#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "extraction": {docs, pages, docs_per_sec, pages_per_sec}}

The extraction headline is end-to-end: synthesized PDF corpus (cached,
generation timed separately as corpus_gen) -> full distributed pipeline
-> span-count materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _calibrate() -> dict:
    """Fixed single-thread workloads timed at bench start, shipped in
    the JSON so a reader can normalize for ambient co-tenant load on
    this shared box (timings here swing up to ~6x run-to-run; see
    BENCH/BASELINE.md). cpu_ms: ~1e7 python-int ops; md5_ms: 64 MB of
    hashing (memory-bandwidth-sensitive). Interpret RATIOS between
    runs, not absolutes — observed cpu_ms spans ~490-1000 on this box
    and does not track loadavg monotonically (frequency scaling /
    cgroup quotas)."""

    import hashlib

    t0 = time.monotonic()
    x = 0
    for i in range(10_000_000):
        x += i
    cpu_ms = (time.monotonic() - t0) * 1000
    blk = b"\x00" * (1 << 20)
    t0 = time.monotonic()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blk)
    md5_ms = (time.monotonic() - t0) * 1000
    return {"cpu_ms": round(cpu_ms, 1), "md5_ms": round(md5_ms, 1)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    calibration = _calibrate()

    from pyspark.sql import functions as F

    from pdf_toolkit_spark.corpus import corpus_config
    from pdf_toolkit_spark.ops import all_queries
    from pdf_toolkit_spark.ops.extraction_queries import documents_as_pdfs
    from pdf_toolkit_spark.spark.job import build_pipeline
    from pdf_toolkit_spark.spark.session import get_spark

    spark = get_spark(app_name="pdf-toolkit-spark-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    timings: dict[str, float] = {}

    # --- extraction headline ---
    t0 = time.monotonic()
    raw = documents_as_pdfs(spark, sf_dir).persist()
    stats = raw.agg(
        F.count("*").alias("docs"), F.sum("n_pages").alias("pages")
    ).collect()[0]
    timings["corpus_gen"] = time.monotonic() - t0

    t0 = time.monotonic()
    spans, _ = build_pipeline(spark, raw, corpus_config())
    n_out = spans.count()
    extract_sec = time.monotonic() - t0
    timings["extraction"] = extract_sec
    raw.unpersist()
    assert n_out == stats["docs"], f"extraction lost docs: {n_out} != {stats['docs']}"

    # --- analytic headliners (full materialization via count) ---
    headliners = [
        "rel_pricing_summary",
        "rel_broadcast_join_agg",
        "rel_positional_enum",
        "text_quality_score",
        "text_fingerprint",
        "dedup_exact",
        "dedup_minhash_lsh_pairs",
        "dedup_components",
        "rel_stratified_sample",
        "dedup_simhash_bits",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard_pairs",
        "dedup_embedding_neardup",
        "dedup_embedding_neardup_lsh",
        "sim_knn_brute_force",
        "sim_ann_lsh_topk",
        "sim_ivf_topk",
        "rel_sessionization",
        "html_extract_spans",
        "mm_media_format_histogram",
        # round-4 additions
        "text_trigram_lm_score",
        "text_decontaminate",
        "sketch_hll_distinct",
        "rel_asof_join",
        "rel_funnel",
        "dedup_pagerank",
        "sim_ivf_topk_batch",
        # round-5 additions
        "text_pack_sequences",
        "sketch_bloom_semijoin",
        "sketch_cms_heavy_hitters",
        "dedup_minhash_survivors",
        "dedup_snapshot_diff",
        "text_pii_redact",
        "text_dup_substring_rate",
        "text_dsir_weight",
        "curate_domain_quota",
        "dedup_paragraphs",
        "text_perplexity_buckets",
        # round-6 additions
        "text_perplexity_tier_thresholds",
        "text_classifier_filter",
        "sketch_kmv_set_ops",
        "curate_mixture_weights",
        "curate_weighted_sample",
        "mm_avi_frame_sample",
        "dedup_semantic",
        "sim_hard_negatives",
        "sim_ivf_pq_topk",
        "sim_ivf_pq_rerank",
        "curate_cluster_best",
        "text_bpe_merge_candidates",
        "mm_phash_pairs",
        "curate_shard_layout",
        "text_char_entropy",
    ]
    for name in headliners:
        t0 = time.monotonic()
        queries[name](spark, sf_dir).count()
        timings[name] = time.monotonic() - t0

    # Ops queries persist shared relations (shingles, trigram counts,
    # signatures, fingerprints, buckets, centroids) for cross-branch
    # reuse; release them explicitly so a long-lived session doesn't
    # accumulate cached corpora.
    from pdf_toolkit_spark.ops import common

    common.release_caches()

    total = sum(timings.values())
    out = {
        "metric": "headline_suite_sec (extraction + analytics)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "parallelism": f"local[{cores}]",
        "calibration": calibration,
        "extraction": {
            "docs": int(stats["docs"]),
            "pages": int(stats["pages"]),
            "docs_per_sec": round(stats["docs"] / extract_sec, 2),
            "pages_per_sec": round(stats["pages"] / extract_sec, 2),
        },
    }
    spark.stop()

    # Second extraction reading at local[8]: this sandbox's memory bus
    # collapses beyond ~8 concurrent byte-heavy workers (see
    # BENCH/BASELINE.md), so the local[32] figure measures the bus,
    # not the engine. local[8] is the bus-insensitive headline; a real
    # multi-executor cluster never funnels 32 workers through one bus.
    if cores != 8:
        spark8 = get_spark(app_name="pdf-toolkit-spark-bench-8", cores=8)
        spark8.sparkContext.setLogLevel("ERROR")
        raw8 = documents_as_pdfs(spark8, sf_dir).persist()
        raw8.count()
        t0 = time.monotonic()
        spans8, _ = build_pipeline(spark8, raw8, corpus_config())
        n8 = spans8.count()
        sec8 = time.monotonic() - t0
        raw8.unpersist()
        assert n8 == stats["docs"]
        out["extraction_local8"] = {
            "docs_per_sec": round(stats["docs"] / sec8, 2),
            "pages_per_sec": round(stats["pages"] / sec8, 2),
            "sec": round(sec8, 3),
        }
        spark8.stop()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
