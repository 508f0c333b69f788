"""Physical-plan hygiene: the optimizations we rely on at 100 TB must
actually appear in the plans — pushed filters, pruned scans, broadcast
dim joins, whole-stage codegen, no row-at-a-time Python anywhere."""

from __future__ import annotations

import pytest

from pdf_toolkit_spark.ops import all_queries
from pdf_toolkit_spark.spark.session import explain_str

SF_DIR = "/root/testdata/sf0.001"
QUERIES = all_queries()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        "l_quantity > 10"
    ).select("l_orderkey")
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]" in plan


def test_column_pruning_reads_only_needed_columns(spark):
    df = QUERIES["text_token_count"](spark, SF_DIR)
    plan = explain_str(df)
    # the scan must read doc_id + text only, not lang/source/n_chars
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = explain_str(QUERIES["rel_broadcast_join_agg"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region at least
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2
    # Q9 shape: all three dims broadcast against the fact scan
    plan9 = explain_str(QUERIES["rel_part_supplier_profit"](spark, SF_DIR))
    assert plan9.count("BroadcastHashJoin") >= 3


def test_resume_anti_join_is_broadcast(spark):
    # Small committed set: Catalyst's size estimate (not a hint) picks
    # the broadcast strategy.
    plan = explain_str(QUERIES["rel_resume_anti_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # The broadcast must come from size stats, not a hard-coded hint —
    # at 10^12 committed doc_ids a forced broadcast is a driver OOM.
    extended = explain_str(QUERIES["rel_resume_anti_join"](spark, SF_DIR), "extended")
    assert "ResolvedHint" not in extended and "UnresolvedHint" not in extended


def test_resume_anti_join_degrades_to_sort_merge_when_large(spark):
    """With the broadcast threshold off (standing in for a committed
    set too large to size under it), the SAME anti-join plans as a
    shuffled join — proof there is no hard-coded broadcast hint."""

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(QUERIES["rel_resume_anti_join"](spark, SF_DIR))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" not in plan
    assert "LeftAnti" in plan


def test_no_row_at_a_time_python_in_any_query(spark):
    """No per-row Python UDF, and no pandas stage: every Python stage of
    the ops queries is an Arrow stage (``records.row_stage`` or
    ``records.batch_stage``)."""

    for name, fn in QUERIES.items():
        plan = explain_str(fn(spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
        for node in ("MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name} runs {node}"


def test_relational_queries_use_whole_stage_codegen(spark):
    # AQE wraps the plan and defers codegen until execution, so inspect
    # with AQE off (execution behavior is unchanged; this is plan-shape
    # verification only)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(QUERIES["rel_pricing_summary"](spark, SF_DIR), "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # "*(n)" prefixes mark WholeStageCodegen stages in simple mode
    assert "*(1)" in plan and "*(2)" in plan


def test_embedding_neardup_is_distributed_block_dgemm(spark):
    """The exact embedding near-dup must be a grouped-map plan (block-
    pair dgemm via a grouped applyInArrow) reading straight from the
    parquet scan — no cartesian product, no driver-side collect feeding
    a broadcast variable."""

    plan = explain_str(QUERIES["dedup_embedding_neardup"](spark, SF_DIR), "simple")
    assert "FlatMapGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" in plan


def test_simhash_pairs_joins_on_band_bucket(spark):
    """SimHash candidates come from the banded fingerprint equi-join;
    verification joins move one packed bigint per doc (no 60-row bit
    relation on any edge)."""

    plan = explain_str(QUERIES["dedup_simhash_pairs"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan


def test_lsh_pairs_joins_on_band_bucket(spark):
    """The near-dup candidate join must be an equi-join on the LSH
    bucket key — never a cartesian/broadcast-nested-loop."""

    plan = explain_str(QUERIES["dedup_minhash_lsh_pairs"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_survivors_is_aggregates_not_pairs(spark):
    """The greedy survivor query must be bucket-min + per-doc min
    aggregates joined on the bucket key — no window sorts, no pair
    self-join, no cartesian shapes. A k-doc bucket must collapse to ONE
    bucket-min row, not k^2/2 candidate pairs."""

    plan = explain_str(QUERIES["dedup_minhash_survivors"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1


def test_jaccard_and_lsh_neardup_plans_are_equi_joins(spark):
    """Jaccard's inverted-index self-join and the LSH-pruned embedding
    near-dup must both stay equi-joins (shingle / bucket keys)."""

    for name in ("dedup_ngram_jaccard_pairs", "dedup_embedding_neardup_lsh"):
        plan = explain_str(QUERIES[name](spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Jaccard must not collect shingle sets into arrays anymore
    plan = explain_str(QUERIES["dedup_ngram_jaccard_pairs"](spark, SF_DIR), "simple")
    assert "collect_set" not in plan and "array_intersect" not in plan


def test_ivf_argmax_is_aggregate_not_window(spark):
    """Both IVF argmaxes (k-means assignment, full-corpus cell
    assignment) must be max_by hash aggregates — a row_number window
    would sort the n_vecs x n_cells scored relation at every scale."""

    for name in ("sim_ivf_cell_sizes", "sim_ivf_topk"):
        plan = explain_str(QUERIES[name](spark, SF_DIR), "simple")
        assert "Window" not in plan, name
        assert "max_by" in plan, name


def test_ivf_topk_prunes_cells_before_embeddings_join(spark):
    """ivf_topk must broadcast the probed-cell assignment into the
    embeddings join (no shuffle of the full table: zero sort-merge
    joins in the plan)."""

    plan = explain_str(QUERIES["sim_ivf_topk"](spark, SF_DIR), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_span_branch_has_single_doc_id_exchange(spark):
    """The span branch (strip window + ordering window + assembly agg)
    must ride ONE doc_id exchange after the extraction UDF: hash
    partitioning on doc_id satisfies the strip window's 3-key
    clustering via the subset rule. Under the fixture default
    (chunk_spread="input", round 7: the corpus is bytes-mode, so the
    chunk-spread repartition would move every PDF byte once for
    nothing) that single doc_id shuffle is the ONLY exchange in the
    whole plan; chunk_spread="shuffle" adds exactly one more — the
    explicit (doc_id, chunk_start) UDF spread."""

    import re

    from pdf_toolkit_spark.corpus import corpus_config
    from pdf_toolkit_spark.spark.input import corpus_dataframe
    from pdf_toolkit_spark.spark.job import build_pipeline

    docs = corpus_dataframe(spark, 4, seed=42, mega_every=0)

    spans, _ = build_pipeline(spark, docs, corpus_config())
    plan = explain_str(spans, "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("norm_text" not in k and "doc_id" in k and "chunk_start" not in k
               for k in keys)                             # the fused doc_id shuffle

    spans_sh, _ = build_pipeline(
        spark, docs, dict(corpus_config(), chunk_spread="shuffle")
    )
    plan_sh = explain_str(spans_sh, "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", plan_sh)) == 2
    keys_sh = re.findall(r"hashpartitioning\(([^)]*)\)", plan_sh)
    assert any("chunk_start" in k for k in keys_sh)       # UDF spread
    assert any("norm_text" not in k and "doc_id" in k and "chunk_start" not in k
               for k in keys_sh)


def test_ivf_topk_batch_no_full_table_shuffle(spark):
    """Batch ANN: probe relation broadcasts into the assignment join
    and queries broadcast into the candidate join — no sort-merge join
    (i.e. no full embeddings shuffle) anywhere in the plan."""

    plan = explain_str(QUERIES["sim_ivf_topk_batch"](spark, SF_DIR), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_is_broadcast_equi_join(spark):
    """The benchmark n-gram side is eval-suite-sized: its join against
    the training grams must broadcast (no sort-merge = no full shuffle
    of the gram relation), with zero Python in the plan."""

    plan = explain_str(QUERIES["text_decontaminate"](spark, SF_DIR), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_vocab_oov_broadcasts_vocabulary(spark):
    """The top-K vocabulary is vocabulary-bounded; the scoring join
    must broadcast it rather than shuffle the exploded word relation
    on the word key."""

    plan = explain_str(QUERIES["text_vocab_oov"](spark, SF_DIR), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_asof_and_range_join_have_no_nested_loop(spark):
    """The as-of join is a single user-keyed window (no join at all in
    the plan beyond the union) and the session range join must ride a
    user_id equi-join with the range predicate as a filter — never a
    BroadcastNestedLoopJoin/CartesianProduct over the full tables."""

    for name in ("rel_asof_join", "rel_session_range_join"):
        plan = explain_str(QUERIES[name](spark, SF_DIR), "simple")
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_kmv_min_k_is_take_ordered(spark):
    """KMV's K smallest hashes must come from TakeOrdered (map-side
    per-partition top-K), not a global Sort."""

    plan = explain_str(QUERIES["sketch_kmv_distinct"](spark, SF_DIR), "simple")
    assert "TakeOrdered" in plan


def test_column_pruning_reaches_parquet_scan(spark):
    """Column pruning must reach the scan: token_count touches only
    (doc_id, text) of the 5-column documents table, and the pruned
    ReadSchema is visible on the parquet scan node."""

    plan = explain_str(QUERIES["text_token_count"](spark, SF_DIR), "formatted")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "doc_id:bigint,text:string" in read[0]
    assert "lang" not in read[0] and "source" not in read[0]


def test_predicate_pushdown_reaches_parquet_scan(spark):
    """The pricing-summary date filter must push into the lineitem
    scan as a parquet PushedFilter, not evaluate post-scan only."""

    plan = explain_str(QUERIES["rel_pricing_summary"](spark, SF_DIR), "formatted")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed[0]


def test_prefix_scan_queries_have_no_single_partition_exchange(spark):
    """pack_sequences and the skew-join user_rank rank globally via the
    two-pass prefix scan: range exchange + pid-partitioned window +
    broadcast base join. A global unpartitioned window would show up as
    Exchange SinglePartition — the one-task funnel this formulation
    exists to avoid at 100 TB."""

    for name in ("text_pack_sequences", "rel_skew_salted_join", "curate_shard_layout"):
        plan = explain_str(QUERIES[name](spark, SF_DIR), "formatted")
        assert "SinglePartition" not in plan, (name, plan)
        assert "rangepartitioning" in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_bloom_probe_has_no_fact_shuffle(spark):
    """The Bloom probe must not exchange the fact table: membership is
    BLOOM_K broadcast hash joins on the word index plus bit arithmetic
    — no hash-partition exchange, sort-merge join, or cartesian product
    anywhere in the plan (the only nested-loop joins are the scalar
    1-row aggregate crossJoins)."""

    plan = explain_str(QUERIES["sketch_bloom_semijoin"](spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 3 word joins + truth join


def test_cms_sketch_aggregates_map_side(spark):
    """CMS cells must reach the final shuffle as partial counts (map-
    side combine bounds the exchange at D*W rows per partition), and
    the probe joins must broadcast the tiny cell relation."""

    plan = explain_str(QUERIES["sketch_cms_heavy_hitters"](spark, SF_DIR))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_is_a_pure_projection(spark):
    """PII scan/redact must be shuffle-free: one scan, one codegen'd
    projection, no Exchange anywhere."""

    plan = explain_str(QUERIES["text_pii_redact"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "codegen id" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" not in read_schema and "lang" not in read_schema


def test_dup_substring_rate_plan_shape(spark):
    """The window relation joins back on the hash (equi-join only —
    never a cartesian), and the shared relation is persisted so the
    windows compute once for both the per-hash agg and the join."""

    df = QUERIES["text_dup_substring_rate"](spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # persisted wins relation


def test_dsir_weight_models_broadcast(spark):
    """DSIR scoring: the bucket-bounded model relation (DSIR_D rows)
    must broadcast into the per-doc join, and the shared feature
    relation must be persisted (three plan consumers)."""

    plan = explain_str(QUERIES["text_dsir_weight"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_domain_quota_is_group_limited_single_exchange(spark):
    """Per-domain quota: the final plan windows the PERSISTED
    candidate relation (hash-threshold pre-pass output, O(K) rows per
    domain) through ONE keyed exchange, with Catalyst's
    WindowGroupLimit applying the top-K per group on the map side
    (partial) before the shuffle — the properties that keep a quota
    pass cheap at crawl scale."""

    plan = explain_str(QUERIES["curate_domain_quota"](spark, SF_DIR))
    detail = plan.split("\n\n(1)")[0]  # tree section only
    assert "InMemoryTableScan" in detail  # windows candidates, not the scan
    # exchanges ABOVE the cached candidate relation (the cache's own
    # build plan — count agg + broadcast threshold — sits below it)
    above = detail.split("InMemoryRelation")[0]
    assert above.count("Exchange") == 1
    assert above.count("WindowGroupLimit") >= 2  # Partial + Final
    assert "rangepartitioning" not in plan  # keyed, never a global sort


def test_weighted_sample_is_take_ordered_single_exchange(spark):
    """Weighted sampling by hash replication: the explode feeds a
    map-side-combined aggregate (ONE exchange), and the fixed-size
    cut is TakeOrdered (per-partition top-K + K-row driver merge) —
    never a Window or a global Sort over the corpus."""

    plan = explain_str(QUERIES["curate_weighted_sample"](spark, SF_DIR))
    detail = plan.split("\n\n(1)")[0]  # tree section only
    assert "TakeOrderedAndProject" in detail
    assert "Window" not in detail
    assert detail.count("Exchange") == 1
    assert detail.count("HashAggregate") == 2  # partial + final (combine)
    assert "rangepartitioning" not in plan


def test_domain_quota_mega_domain_is_bounded_and_exact(spark):
    """Mega-domain pre-pass: with one domain holding >50% of the
    corpus, the candidate relation entering the keyed window stays
    O(OVERSAMPLE*K) for that domain — never its full row set — and
    the output still equals the brute-force per-domain top-K rank."""

    from pyspark.sql import functions as F

    from pdf_toolkit_spark.ops.common import hash32
    from pdf_toolkit_spark.ops.curation import (
        QUOTA_OVERSAMPLE,
        QUOTA_PER_DOMAIN,
        _quota_over,
    )

    n_mega, n_small = 20_000, 40
    rows = [(i, "mega.example") for i in range(n_mega)]
    rows += [
        (n_mega + d * n_small + i, f"small{d}.example")
        for d in range(5)
        for i in range(n_small)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    got = _quota_over(docs).toPandas()

    # exactness vs the unfiltered window formulation
    h = hash32(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("h", "doc_id")
    expected = (
        docs.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= QUOTA_PER_DOMAIN)
        .select("doc_id", "source", "rk")
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df[["doc_id", "source", "rk"]].values))  # noqa: E731
    assert key(got) == key(expected)
    assert (got["source"] == "mega.example").sum() == QUOTA_PER_DOMAIN

    # boundedness: reproduce the pre-pass threshold and check the
    # mega domain's candidate count is O(OVERSAMPLE*K), not n_mega
    keep_all = QUOTA_PER_DOMAIN * QUOTA_OVERSAMPLE
    t = -(-(keep_all * (1 << 32)) // n_mega)  # ceil
    n_cand = (
        docs.filter(F.col("source") == "mega.example")
        .withColumn("h", h)
        .filter(F.col("h") < F.lit(float(t)))
        .count()
    )
    assert QUOTA_PER_DOMAIN <= n_cand <= 8 * keep_all, n_cand


def test_paragraph_dedup_is_window_not_self_join(spark):
    """Paragraph dedup: the canonical pick is a keyed window over the
    paragraph hash, NOT an agg + join-back (which would re-run the
    explode — Spark has no cross-branch subplan sharing)."""

    plan = explain_str(QUERIES["dedup_paragraphs"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Generate" in plan  # the posexplode runs exactly once
    assert plan.count("Generate explode") <= 1
    assert plan.count("Generate posexplode") <= 1


def test_perplexity_buckets_has_no_per_doc_window(spark):
    """Tiering must not window over the per-doc score relation: lang
    has a handful of values, so `ntile(3) OVER (PARTITION BY lang)`
    funnels each language's ENTIRE corpus through one reducer at
    scale. The shipped plan collapses scores to a (lang, q6)
    histogram first; the only window functions are the prefix scan's
    pid-partitioned local sums, and tier bounds come back as a
    broadcast join."""

    plan = explain_str(QUERIES["text_perplexity_buckets"](spark, SF_DIR))
    assert "ntile" not in plan
    assert "windowspecdefinition(lang" not in plan
    assert "windowspecdefinition(__pid" in plan  # the two-pass scan
    assert "CartesianProduct" not in plan
    # per-language bounds re-enter via broadcast, never a shuffle join
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_is_cell_keyed(spark):
    """SemDeDup's candidate join must be keyed by the k-means cell
    (sum-of-occupancy² work, never corpus-quadratic): no cartesian
    product anywhere, the pair join an equi-join on `cell`, and every
    nested-loop join a broadcast of the bounded centroid relation
    (BuildRight Cross — the k-means scoring shape the IVF plans pin),
    never two corpus-sized sides."""

    plan = explain_str(QUERIES["dedup_semantic"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin [cell" in plan or "BroadcastHashJoin [cell" in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight, Cross" in ln.strip()


def test_hard_negatives_no_full_table_shuffle(spark):
    """Hard-negative mining is ivf_topk_batch + a label predicate: the
    probe relation broadcasts into the assignment join, anchors
    broadcast into the candidate join, and the label filter rides the
    candidate relation — no sort-merge join (no full embeddings
    shuffle) anywhere."""

    plan = explain_str(QUERIES["sim_hard_negatives"](spark, SF_DIR), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_pq_query_plan_reads_codes_not_embeddings(spark):
    """IVF-PQ query-time shape: the probe list broadcasts into the
    cell-keyed inverted file and the ADC LUT broadcasts into the
    candidate relation — the section of the plan ABOVE the cached
    index relations (the part that runs per query) has no shuffle
    join, no Window, no cartesian, and ends in TakeOrdered. The
    vec_id-keyed shuffle and the per-subspace min_by argmin live
    inside the InMemoryRelation builds: offline index construction,
    paid once."""

    plan = explain_str(QUERIES["sim_ivf_pq_topk"](spark, SF_DIR), "simple")
    query_branch = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in query_branch
    assert "CartesianProduct" not in query_branch
    assert "Window" not in query_branch
    assert "TakeOrderedAndProject" in query_branch
    # probe prune is the cell-keyed broadcast equi-join
    assert "BroadcastHashJoin [cell" in plan
    # the argmin encodes as an aggregate somewhere in the build
    assert "min_by" in plan


def test_cluster_best_argmax_is_aggregate_not_window(spark):
    """The per-cluster quality argmax must be a max_by hash aggregate
    with map-side partial combine — a row_number window would sort a
    mega-cluster's full member list through one reducer."""

    plan = explain_str(QUERIES["curate_cluster_best"](spark, SF_DIR), "simple")
    assert "Window" not in plan
    assert "max_by" in plan


def test_ivf_pq_rerank_recovers_exact_in_probe_topk(spark):
    """ADC quantization fidelity: with the PQ_RERANK-deep shortlist,
    the re-ranked IVF-PQ result must equal sim_ivf_topk (the exact
    rerank over the same probed cells) whenever R covers the probe
    set — quantization then costs nothing. At sf0.001 the probe set is
    < R, so equality is exact."""

    ivf = {r["vec_id"] for r in QUERIES["sim_ivf_topk"](spark, SF_DIR).collect()}
    rr = {r["vec_id"] for r in QUERIES["sim_ivf_pq_rerank"](spark, SF_DIR).collect()}
    assert rr == ivf


def test_ivf_pq_rerank_shortlist_fidelity_at_sf01(spark):
    """At sf0.1 the probed cells hold more candidates than PQ_RERANK,
    so the ADC shortlist genuinely prunes; the re-ranked top-10 must
    still retain >= 8 of the exact-in-probe top-10 (observed: 9 on
    this deterministic corpus — pinned as a floor so codebook-quality
    regressions surface)."""

    sf = "/root/testdata/sf0.1"
    ivf = {r["vec_id"] for r in QUERIES["sim_ivf_topk"](spark, sf).collect()}
    rr = {r["vec_id"] for r in QUERIES["sim_ivf_pq_rerank"](spark, sf).collect()}
    assert len(rr & ivf) >= 8


def test_pq_index_matches_pure_python_reference(spark):
    """Third-engine agreement for the PQ pipeline: a pure-Python
    replication of the codebook training + encoding (seeded sample,
    KM_ITERS Lloyd steps with quantized-exact means, left-fold d2
    sums, HALF_UP 6-dp rounding via decimal — the exact arithmetic the
    Spark expressions perform) must produce the identical
    (vec_id, sub) -> code map. Guards the Spark formulation against
    the DuckDB twin and this reference agreeing on a shared
    misreading."""

    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    from pdf_toolkit_spark.ops.similarity import (
        KM_ITERS,
        KM_SAMPLE_MOD,
        PQ_M,
        _KM_SCALE,
        _pq_index,
        cells_for,
    )

    def r6(x):  # Spark round(col, 6): BigDecimal HALF_UP on the shortest repr
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def d2(a, b):  # F.aggregate left fold over zip_with squares
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return r6(acc)

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {
        int(i): [float(x) for x in e]
        for i, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    }
    n = len(vecs)
    nc = cells_for(n)
    sd = len(next(iter(vecs.values()))) // PQ_M
    sub = lambda v, m: v[m * sd:(m + 1) * sd]
    sample = {i: v for i, v in vecs.items() if i % KM_SAMPLE_MOD == 0}
    books = {
        m: {c: sub(sample[KM_SAMPLE_MOD * c], m) for c in range(nc)
            if KM_SAMPLE_MOD * c in sample}
        for m in range(PQ_M)
    }
    for _ in range(KM_ITERS):
        members = {m: {} for m in range(PQ_M)}
        for i, v in sample.items():
            for m in range(PQ_M):
                best = min(books[m], key=lambda c: (d2(sub(v, m), books[m][c]), c))
                members[m].setdefault(best, []).append(sub(v, m))
        new_books = {m: {} for m in range(PQ_M)}
        for m in range(PQ_M):
            for c, svs in members[m].items():
                cv = []
                for dim in range(sd):
                    s = 0.0
                    for svv in svs:
                        x = svv[dim]
                        q = (1.0 if x >= 0 else -1.0) * float(
                            int(abs(x) * _KM_SCALE + 0.5)
                        )
                        s += q
                    cv.append(r6(s / len(svs) / _KM_SCALE))
                new_books[m][c] = cv
        books = new_books
    expected = {
        (i, m): min(books[m], key=lambda c: (d2(sub(v, m), books[m][c]), c))
        for i, v in vecs.items()
        for m in range(PQ_M)
    }
    got = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in _pq_index(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected


def test_phash_pairs_is_banded_equi_join(spark):
    """The perceptual-hash near-dup candidate join must be the
    (band, band_val) bucket equi-join — never cartesian / broadcast
    nested loop — with the Hamming verify on the packed bigint (one
    row per doc on every edge), mirroring the SimHash plan shape."""

    plan = explain_str(QUERIES["mm_phash_pairs"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan
