"""Deduplication operators over ``documents``: exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Spark-first shapes (all built-in functions, no Python in the hot path):
- exact:     one hash aggregate on md5(text)
- MinHash:   shingle explode -> per-shingle hash32, then ONE wide
             aggregate of H min(hash XOR salt_j) expressions
             (map-side partials, one row per doc shuffled), banded into
             LSH buckets -> bucket equi-join for candidate pairs. At
             100 TB the band join is THE scalable primitive: shuffle
             keys are (band, band_key), so near-dups co-locate and the
             cross-doc comparison never goes quadratic.
- SimHash:   ONE wide aggregate of 60 signed-vote sums packed into a
             single 60-bit bigint fingerprint per doc; candidates via
             banded fingerprint slices, verification via
             bit_count(fp_a ^ fp_b) — one row per doc on every edge.
- Jaccard:   DF-capped inverted-index self-join; intersection sizes
             come from the join's own group-by counts (light shingles)
             plus a candidate-bounded join over the few capped heavy
             shingles — exact Jaccard with no per-doc set arrays.
- embedding: exact all-pairs cosine via block-pair dgemm (a grouped
             applyInArrow numpy stage) — no driver-side collect; the
             approximate path at extreme scale is the LSH bucket join
             in ops/similarity.py.

hash32/hash60 are md5-derived and engine-portable, so every operator
has an exact DuckDB oracle (verified value-for-value in
tests/test_ops.py).

Cache lifecycle: relations that feed several plan branches (shingles,
wide signatures, LSH pairs, fingerprints, component labels) and the
document count are held in the one ops cache registry
(ops/common.py); :func:`release_caches` (bound here from there) drops
them between corpora in a long-lived session.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..spark.records import batch_stage
from .common import (
    MINHASH_SALTS,
    SQL_HASH32,
    SQL_HASH60,
    SQL_NORM,
    cached,
    hash32,
    hash60,
    norm_text,
    replace_cached,
    table,
)
from .common import release_caches  # noqa: F401  (re-exported: the ops-wide release)

N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows
SIM_BITS = 60
NEARDUP_COS = 0.4
NEARDUP_BLOCKS = 8
MAX_DF = 50  # stop-shingle cap for the Jaccard inverted index

def shingle_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) from any (doc_id, text) relation: distinct
    word 3-grams of the normalized text; docs with fewer than 3 tokens
    contribute the whole text. Shared by the batch dedup family and the
    streaming near-dup operator (identical shingling by construction)."""

    # Materialize norm/toks as projected columns FIRST: expressions
    # referenced inside transform() lambdas are re-evaluated per array
    # element, so an inline split() would be recomputed 3x per gram.
    toked = docs.select(
        "doc_id", norm_text(F.col("text")).alias("norm")
    ).select(
        "doc_id", "norm", F.split("norm", " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.when(F.col("norm") == "", 0).otherwise(F.size(toks))
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    shingles = F.when(n >= 3, F.array_distinct(grams)).otherwise(F.array(F.col("norm")))
    return toked.select("doc_id", F.explode(shingles).alias("shingle"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # Repartition ahead of the shingle explode: the testdata table
        # is a single-row-group parquet file, so the whole
        # explode + hash pipeline would otherwise run as ONE task (the
        # documents_as_pdfs CPU-bound-stage guard; a few bytes per doc
        # shuffle vs. a serialized tokenize pass).
        docs = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
            spark.sparkContext.defaultParallelism
        )
        return shingle_relation(docs)

    return cached(("shingles", sf_dir), build)


def signature_wide_relation(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_{H-1}) from a (doc_id, shingle) relation:
    MinHash signatures as ONE hash aggregate with H min() expressions —
    map-side partial aggregation, no H-fold row explosion (an
    explode-then-group formulation would shuffle H x the shingle count;
    this shuffles one row per doc). Shared by the batch dedup family
    and the streaming near-dup operator."""

    sh = shingles.select("doc_id", hash32(F.col("shingle")).alias("h"))
    aggs = [
        F.min(F.col("h").bitwiseXOR(F.lit(MINHASH_SALTS[j]))).alias(f"sig_{j}")
        for j in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _signatures_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return signature_wide_relation(_shingles(spark, sf_dir))

    return cached(("minhash_wide", sf_dir), build)


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h_idx, sig): MinHash signatures, long format (unpivot
    of the wide aggregate via stack)."""

    wide = _signatures_wide(spark, sf_dir)
    pairs = ", ".join(f"{j}, sig_{j}" for j in range(N_HASHES))
    return wide.selectExpr("doc_id", f"stack({N_HASHES}, {pairs}) AS (h_idx, sig)")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + signature-agreement
    estimate. Output: (doc_a, doc_b, sim_est).

    Single-join shape: the band relation carries each doc's FULL
    signature as one array column (16 ints ride the band exchange —
    ~64 bytes x n_bands per doc), so the agreement estimate computes
    INSIDE the band equi-join and a final group-by dedupes pairs that
    collide in several bands. The round-1/2 formulation re-joined the
    distinct pairs against the wide signature relation twice; this one
    is band-join + one aggregate, no rerank joins at all.

    The pair relation feeds THREE consumers (this query, the
    connected-components canonicalization, and PageRank), so it rides
    the module cache like shingles/signatures do — without it the band
    join re-executes per consumer (Spark has no cross-branch subplan
    sharing)."""

    def build() -> DataFrame:
        return _lsh_pairs_plan(spark, sf_dir)

    return cached(("lsh_pairs", sf_dir), build)


def band_relation(wide: DataFrame, with_sigs: bool = False) -> DataFrame:
    """(doc_id[, sigs], band, band_key) from a wide signature relation:
    each doc contributes one row per LSH band, keyed by the md5 of its
    band's signature slice. ``with_sigs`` carries the full signature as
    an array column so agreement estimates can compute inside a band
    join without a rerank join."""

    band_keys = [
        F.md5(
            F.concat_ws(",", *[
                F.col(f"sig_{b * BAND_ROWS + r}").cast("string") for r in range(BAND_ROWS)
            ])
        ).alias(f"bk_{b}")
        for b in range(N_HASHES // BAND_ROWS)
    ]
    carried = ["doc_id"]
    if with_sigs:
        sig_arr = F.array(*[F.col(f"sig_{j}") for j in range(N_HASHES)])
        keyed = wide.select("doc_id", sig_arr.alias("sigs"), *band_keys)
        carried.append("sigs")
    else:
        keyed = wide.select("doc_id", *band_keys)
    stack = ", ".join(f"{b}, bk_{b}" for b in range(N_HASHES // BAND_ROWS))
    return keyed.selectExpr(
        *carried, f"stack({N_HASHES // BAND_ROWS}, {stack}) AS (band, band_key)"
    )


def _lsh_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = band_relation(_signatures_wide(spark, sf_dir), with_sigs=True)
    # The LSH bucket equi-join: candidates co-locate on (band, band_key)
    # — the primitive that keeps near-dup detection non-quadratic at
    # fleet scale.
    matches = F.size(
        F.filter(
            F.zip_with(F.col("a.sigs"), F.col("b.sigs"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    scored = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(matches / N_HASHES, 6).alias("sim_est"),
        )
    )
    return scored.groupBy("doc_a", "doc_b").agg(F.min("sim_est").alias("sim_est"))


def minhash_survivor_relation(bands: DataFrame) -> DataFrame:
    """(doc_id, n_buckets) of documents that survive greedy MinHash
    near-dup suppression: a document survives iff NO smaller doc_id
    shares any LSH band bucket with it.

    Two hash aggregates and one equi-join back — no windows, no pair
    materialization: per-bucket min(doc_id), then per-doc min over its
    buckets; the doc survives iff that global min is itself. At fleet
    scale this is strictly cheaper than the pair query (the bucket-min
    aggregate collapses a k-doc bucket to ONE row instead of k^2/2
    candidate pairs), so it is the right primitive when the caller
    wants the kept set rather than the duplicate graph."""

    bmin = bands.groupBy("band", "band_key").agg(F.min("doc_id").alias("bucket_min"))
    return (
        bands.join(bmin, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.min("bucket_min").alias("m"),
            F.count("*").alias("n_buckets"),
        )
        .filter(F.col("m") == F.col("doc_id"))
        .select("doc_id", "n_buckets")
    )


def minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy near-dup suppression over ``documents`` (see
    :func:`minhash_survivor_relation`). The streaming twin
    (streaming/stream.py stream_neardup_documents) reproduces exactly
    this kept set when the feed arrives in doc_id order."""

    return minhash_survivor_relation(band_relation(_signatures_wide(spark, sf_dir)))


#: Deterministic snapshot-B derivation parameters (test scaffolding —
#: at production scale snapshot B is its own crawl table; deriving it
#: from `documents` keeps the fixture self-contained and the oracle
#: exact with no external data).
SNAP_REMOVED_MOD = 17
SNAP_CHANGED_MOD = 13
SNAP_ADDED_MOD = 19
SNAP_ADD_OFFSET = 10_000_000


def _snapshot_b(docs: DataFrame) -> DataFrame:
    """Derived re-crawl snapshot: drops every 17th doc, revises every
    13th surviving doc's text, and adds a new doc for every 19th."""

    kept = docs.filter(F.col("doc_id") % SNAP_REMOVED_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SNAP_CHANGED_MOD == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")).alias("text"),
    )
    added = docs.filter(F.col("doc_id") % SNAP_ADDED_MOD == 0).select(
        (F.col("doc_id") + SNAP_ADD_OFFSET).alias("doc_id"),
        F.concat(F.lit("new revision of "), F.col("text")).alias("text"),
    )
    return kept.unionByName(added)


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two corpus snapshots (the
    re-crawl primitive: which docs were added, removed, or changed
    since the last crawl — only the delta re-enters the extraction /
    dedup pipeline). Output: (doc_id, status) for the delta rows only;
    unchanged docs (the overwhelming majority at fleet scale) never
    leave the join.

    Scale shape: each side reduces to (doc_id, md5(text)) AT THE SCAN
    — 24 bytes/doc ride the full-outer equi-join on doc_id, document
    bytes never shuffle. Per-snapshot content hashing is embarrassingly
    parallel map work; the join is the only exchange."""

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select("doc_id", F.md5("text").alias("h_a"))
    b = _snapshot_b(docs).select("doc_id", F.md5("text").alias("h_b"))
    status = (
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over shingle sets for pairs sharing any indexable
    shingle. Output: (doc_a, doc_b, jaccard) with jaccard >= 0.2.

    Count-based formulation — no per-doc set arrays:
    |A ∩ B| = (shared light shingles, from the inverted-index join's own
    group-by) + (shared heavy shingles, from a candidate-bounded join
    against the few DF-capped postings). |A ∪ B| = |A| + |B| - |A ∩ B|.
    This keeps every shuffle row narrow (ids + counts) instead of
    carrying collected shingle sets through two joins.
    """

    sh = _shingles(spark, sf_dir)
    # Document-frequency split: shingles in > MAX_DF docs are dropped
    # from the INDEX (the standard guard that keeps the self-join from
    # going quadratic on stop-shingles at corpus scale) but still count
    # toward the exact intersection via the bounded heavy join below.
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    idx = sh.join(dfreq.filter(F.col("df") <= MAX_DF).select("shingle"), "shingle")
    # Candidate pairs AND their light-shingle intersection size in one
    # aggregate over the index self-join.
    inter_light = (
        idx.alias("a")
        .join(idx.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_light"))
    )
    heavy = sh.join(dfreq.filter(F.col("df") > MAX_DF).select("shingle"), "shingle")
    ha = heavy.select(F.col("doc_id").alias("doc_a"), "shingle")
    hb = heavy.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter_heavy = (
        inter_light.select("doc_a", "doc_b")
        .join(ha, "doc_a")
        .join(hb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_heavy"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    n_inter = F.col("n_light") + F.coalesce(F.col("n_heavy"), F.lit(0))
    n_union = F.col("n_a") + F.col("n_b") - n_inter
    return (
        inter_light.join(inter_heavy, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(n_inter / n_union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp): the 60-bit SimHash packed into one bigint.

    Formulation: explode distinct tokens x 60 bit positions, two-stage
    aggregate (votes per (doc, bit), then pack). The explode looks
    wasteful but map-side partial aggregation bounds the shuffle at 60
    rows per doc per partition, and the whole chain stays inside
    whole-stage codegen. The 'one wide aggregate with 60 conditional
    sums' alternative shuffles less on paper but blows past the JVM
    codegen method limit and runs 13x slower (measured at sf0.1:
    12.0 s vs 0.9 s). Distinct tokens vote +/-1 per bit of their 60-bit
    md5-derived hash."""

    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
            spark.sparkContext.defaultParallelism
        )
        norm = norm_text(F.col("text"))
        toks = docs.select(
            "doc_id", F.explode(F.array_distinct(F.split(norm, " "))).alias("tok")
        )
        hashed = toks.select("doc_id", hash60(F.col("tok")).alias("h60"))
        long = hashed.select(
            "doc_id", "h60",
            F.explode(F.sequence(F.lit(0), F.lit(SIM_BITS - 1))).alias("bit_idx"),
        )
        vote = F.when(F.expr("(h60 >> bit_idx) & 1") == 1, 1).otherwise(-1)
        bits = (
            long.groupBy("doc_id", "bit_idx")
            .agg(F.when(F.sum(vote) >= 0, 1).otherwise(0).alias("bit"))
        )
        return bits.groupBy("doc_id").agg(
            F.sum(
                F.expr("bit * shiftleft(CAST(1 AS BIGINT), CAST(bit_idx AS INT))")
            ).cast("bigint").alias("fp")
        )

    return cached(("simhash_fp", sf_dir), build)


def simhash_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash, long format (doc_id, bit_idx, bit) — a cheap
    post-aggregate unpack of the packed fingerprint (60 rows per doc
    materialize AFTER the one-row-per-doc shuffle, not before)."""

    fps = _simhash_fp(spark, sf_dir)
    return fps.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIM_BITS - 1))).alias("bit_idx"),
        "fp",
    ).select(
        "doc_id", "bit_idx", F.expr("CAST((fp >> bit_idx) & 1 AS INT)").alias("bit")
    )


SIM_HAMMING_MAX = 8
SIM_BAND_SMALL, SIM_BAND_LARGE = 20, 30  # divisors of SIM_BITS
SIM_BAND_CUTOVER = 100_000
#: pair-block salt width for the banded join (see simhash_pairs)
SIM_SALT_G = 8


def sim_band_bits_for(n_docs: int) -> int:
    """SimHash band width derived from corpus size: 20-bit bands (3
    bands, ~1/2^20 collision rate per band) below the cutover, 30-bit
    (2 bands) beyond it — at fleet scale the candidate count per band
    is n^2/2^bits, so the band must widen as the corpus grows. The
    DuckDB oracle computes the same CASE over the same count."""

    return SIM_BAND_SMALL if n_docs < SIM_BAND_CUTOVER else SIM_BAND_LARGE


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    return cached(("n_docs", sf_dir), lambda: table(spark, sf_dir, "documents").count())


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any exact band of
    their 60-bit fingerprint (band width corpus-derived, see
    :func:`sim_band_bits_for`), verified by exact Hamming distance
    bit_count(fp_a ^ fp_b). Output: (doc_a, doc_b, hamming) with
    hamming <= SIM_HAMMING_MAX.

    Same LSH-banding shape as MinHash — bucket equi-join, never
    quadratic — and every edge of the plan moves ONE row per doc (the
    packed bigint), not 60 bit rows. Measured at sf0.001: 20-bit bands
    admit 6,105 of 124,750 possible pairs (4.9%) vs 15% for 15-bit
    bands."""

    fps = _simhash_fp(spark, sf_dir)
    band_bits = sim_band_bits_for(_n_docs(spark, sf_dir))
    n_bands = SIM_BITS // band_bits
    mask = (1 << band_bits) - 1
    band_exprs = ", ".join(
        f"{b}, CAST((fp >> {b * band_bits}) & {mask} AS BIGINT)"
        for b in range(n_bands)
    )
    # Same single-pass shape as mm_phash_pairs: every band row carries
    # the packed fingerprint, the Hamming verify computes INSIDE the
    # band equi-join, and a pair colliding in several bands is emitted
    # exactly once — at its FIRST matching band, decided from the two
    # fingerprints on the row (the identical criterion the join keys
    # encode) — so the distinct() shuffle of the candidate relation and
    # both rerank joins are gone. The join is block-salted (G-fold band
    # row replication, G^2-fold split of a hot bucket's n^2 fan-out)
    # because near-dup-rich corpora concentrate fingerprints into few
    # band values and AQE cannot split join-OUTPUT skew.
    G = SIM_SALT_G
    bands = fps.selectExpr(
        "doc_id", "fp", f"stack({n_bands}, {band_exprs}) AS (band, band_val)"
    )
    salt = F.pmod(F.col("doc_id"), F.lit(G)).cast("int")
    rep = F.explode(F.sequence(F.lit(0), F.lit(G - 1)))
    left = bands.select(
        "doc_id", "fp", "band", "band_val", salt.alias("gi"), rep.alias("gj")
    )
    right = bands.select(
        "doc_id", "fp", "band", "band_val", rep.alias("gi"), salt.alias("gj")
    )
    first_match = F.expr(
        "CASE "
        + " ".join(
            f"WHEN ((fp_a >> {b * band_bits}) & {mask})"
            f" = ((fp_b >> {b * band_bits}) & {mask}) THEN {b}"
            for b in range(n_bands)
        )
        + " END"
    )
    return (
        left.alias("a")
        .join(right.alias("b"), ["band", "band_val", "gi", "gj"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("band").alias("band"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .withColumn("hamming", F.expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)"))
        .filter(
            (F.col("hamming") <= SIM_HAMMING_MAX) & (F.col("band") == first_match)
        )
        .select("doc_a", "doc_b", "hamming")
    )


COMPONENT_MIN_SIM = 0.5   # pair-graph edge threshold for clustering
CC_MAX_ITERS = 20


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: every document labeled with the minimum
    doc_id of its connected component in the MinHash-LSH pair graph
    (edges: sim_est >= COMPONENT_MIN_SIM). Output: (doc_id,
    canonical_id) for ALL documents — singletons map to themselves.
    This is the step a real dedup pipeline runs after pair generation:
    keep one canonical doc per cluster, drop the rest.

    Shape: iterative min-label propagation (the standard distributed
    connected-components loop; GraphX/GraphFrames use the same
    primitive) — per iteration one equi-join on the edge list + one
    min-aggregate, each a bounded shuffle on doc_id. Iteration count is
    the graph diameter (near-dup clusters are clique-ish: 2-4 rounds in
    practice); a driver-side convergence check stops the loop and
    raises if CC_MAX_ITERS is hit. The DuckDB oracle computes the same
    fixpoint with a recursive CTE, so the result is exact."""

    edges_ab = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("sim_est") >= COMPONENT_MIN_SIM)
        .select("doc_a", "doc_b")
    )
    edges = (
        edges_ab.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges_ab.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = docs.select("doc_id", F.col("doc_id").alias("canonical_id")).persist()
    try:
        for _ in range(CC_MAX_ITERS):
            neigh = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("src"),
                        F.col("canonical_id").alias("src_label"),
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("src_label").alias("neigh_label"))
            )
            new_labels = (
                labels.join(neigh, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("canonical_id"),
                        F.coalesce(F.col("neigh_label"), F.col("canonical_id")),
                    ).alias("canonical_id"),
                )
                .persist()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.canonical_id") != F.col("o.canonical_id"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                # Hand the converged (materialized) relation to the
                # registry so release_caches() reclaims it; a repeat
                # call replaces the earlier one.
                return replace_cached(("cc_labels", sf_dir), labels)
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} iterations"
        )
    finally:
        edges.unpersist()


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs over ``embeddings`` via block-pair
    dgemm. Output: (vec_a, vec_b, cos_sim) with cos_sim >= 0.4.

    Vectors are assigned to B = NEARDUP_BLOCKS blocks by vec_id; each
    unordered block pair (bi <= bj) becomes one grouped applyInArrow
    task that runs a bucket-local normalized matrix product. Exact
    all-pairs (identical to the brute-force oracle) with NO driver-side
    collect: replication factor B per row, per-task memory 2*(N/B)
    vectors, and B(B+1)/2 independent tasks — the shape survives a 100x
    scale-up by raising B (work stays O(n^2) because exact all-pairs is
    O(n^2); the sub-quadratic approximate path is the LSH bucket join
    in ops/similarity.py)."""

    B = NEARDUP_BLOCKS
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("blk")
    )
    # Replicate each vector to every block pair it participates in:
    # (bi, bj) = sorted (own block, other block) for all other blocks.
    tasks = emb.select(
        "vec_id", "embedding", "blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other"),
    ).select(
        "vec_id", "embedding", "blk",
        F.least("blk", "other").alias("bi"),
        F.greatest("blk", "other").alias("bj"),
    )

    def block_pairs(ids, mat, blk, bi, bj):
        bi, bj = int(bi[0]), int(bj[0])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if bi == bj:
            sims = mat @ mat.T
            sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
            ii, jj = np.nonzero((sims >= NEARDUP_COS) & (ids[:, None] < ids[None, :]))
            return ids[ii], ids[jj], sims[ii, jj]
        lm = blk == bi
        l_ids, r_ids = ids[lm], ids[~lm]
        sims = mat[lm] @ mat[~lm].T
        # HALF_UP rounding to match Spark/DuckDB round() semantics
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        ii, jj = np.nonzero(sims >= NEARDUP_COS)
        la, rb = l_ids[ii], r_ids[jj]
        return np.minimum(la, rb), np.maximum(la, rb), sims[ii, jj]

    schema = T.StructType.fromDDL("vec_a long, vec_b long, cos_sim double")
    stage = batch_stage(block_pairs, schema)
    # One group is one pa.Table; its rows go to the stage as one batch.
    return tasks.groupBy("bi", "bj").applyInArrow(
        lambda group: pa.Table.from_batches(stage(group.combine_chunks().to_batches())),
        schema,
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic embedding near-dup: candidate pairs restricted to
    vectors sharing a random-hyperplane LSH bucket
    (ops/similarity._buckets), exact cosine rerank on candidates only.
    Output: (vec_a, vec_b, cos_sim) with cos_sim >= 0.4.

    This is the 100-TB default — the bucket is the shuffle key, so the
    pair space never goes quadratic; :func:`embedding_neardup_pairs` is
    the exact-recall block-dgemm fallback. Approximate by construction
    (bucket recall < 1), but fully deterministic: the oracle reproduces
    the identical md5-derived buckets, so the check is still exact."""

    from .similarity import _buckets, _cosine, _emb

    b = _buckets(spark, sf_dir)
    pairs = (
        b.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )
    e = _emb(spark, sf_dir)
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b",
                F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEARDUP_COS)
    )


#: PageRank over the near-dup graph: damping, fixed iteration count
#: (unrolled in the oracle), and the 2^-30 quantization grid that makes
#: per-node contribution sums integer-exact in any partition order.
PR_DAMPING = 0.85
PR_ITERS = 3
PR_SCALE = 1 << 30
#: Teleport numerator as the EXACT Python double (1.0-0.85 =
#: 0.15000000000000002, one ulp above 0.15). The oracle interpolates
#: repr() of this value so both engines divide the identical double by
#: n — DuckDB's DECIMAL (1.0 - 0.85) would land on the 0.15 double and
#: diverge by 1 ulp per iteration, outside the 2^-30 quantization.
PR_BASE_NUM = 1.0 - PR_DAMPING


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the MinHash-LSH near-dup graph (the
    "which duplicate is the hub" signal a curation pipeline uses to
    pick canonical docs or spot template farms). Fixed PR_ITERS
    iterations at damping PR_DAMPING over the symmetrized strong-pair
    edges; per-edge contributions are quantized to the 2^-30 grid so
    the per-node sums are exact integers — partition-order-independent
    and engine-exact against the unrolled-CTE DuckDB oracle. Output:
    (doc_id, degree, pagerank) for graph nodes only.

    Scale shape: the classic iterative join+agg (one doc_id-keyed
    shuffle per iteration over the EDGE relation, which is
    near-dup-sized, not corpus-sized); edges persist across
    iterations."""

    edges_ab = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("sim_est") >= COMPONENT_MIN_SIM)
        .select("doc_a", "doc_b")
    )
    edges = (
        edges_ab.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges_ab.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    try:
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        nodes = deg.select(F.col("src").alias("doc_id"), "deg").persist()
        n = nodes.count()  # graph-node count: a tiny driver scalar
        if n == 0:
            return nodes.select(
                "doc_id", F.col("deg").alias("degree"),
                F.lit(0.0).alias("pagerank"),
            )
        base = PR_BASE_NUM / n
        ranks = nodes.select("doc_id", F.lit(1.0 / n).alias("rank"))
        for _ in range(PR_ITERS):
            shares = (
                ranks.join(nodes, "doc_id")
                .select(
                    F.col("doc_id").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("share"),
                )
            )
            terms = edges.join(shares, "src").select(
                "dst", F.floor(F.col("share") * PR_SCALE + 0.5).alias("t")
            )
            sums = terms.groupBy(F.col("dst").alias("doc_id")).agg(
                F.sum("t").alias("ts")
            )
            ranks = (
                nodes.join(sums, "doc_id", "left")
                .select(
                    "doc_id",
                    (F.lit(base)
                     + PR_DAMPING * (F.coalesce("ts", F.lit(0)) / F.lit(float(PR_SCALE)))
                     ).alias("rank"),
                )
            )
        out = (
            nodes.join(ranks, "doc_id")
            .select(
                "doc_id",
                F.col("deg").alias("degree"),
                F.round("rank", 8).alias("pagerank"),
            )
        )
        out = out.localCheckpoint(eager=True)
        nodes.unpersist()
        return out
    finally:
        edges.unpersist()


# dict order = driver visit order; the three entries the r04 harness
# never reached (simhash_pairs, embedding_neardup[_lsh]) lead.
#: paragraph unit for paragraph-level dedup: PARA_WORDS consecutive
#: normalized words (the corpus has no newline structure; fixed word
#: windows give both engines the identical deterministic chunking)
PARA_WORDS = 15

#: (doc_id, pos) pairs pack into one bigint for the cross-engine
#: lexicographic min; pos is bounded by the pack width
_PARA_POS_LIMIT = 4096


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma/RedPajama sub-document
    pass: boilerplate paragraphs repeat across pages even when whole
    documents differ): chunk each doc into PARA_WORDS-word paragraphs
    (tail dropped), hash each, keep the first occurrence corpus-wide
    (min (doc_id, pos)), and report per-doc paragraph accounting.
    Output: (doc_id, n_paras, n_kept) — n_kept < n_paras means the doc
    carries paragraphs already seen elsewhere.

    Scale shape: explode to ~n_words/15 rows per doc, ONE map-side-
    combined hash agg on the 8-byte 60-bit paragraph hash (md5-derived
    so DuckDB agrees; 60 bits keep cross-paragraph collisions
    negligible at fleet scale), then a hash-join back and a per-doc
    agg. Paragraph TEXT never shuffles — only (hash, doc_id, pos)
    triples — and the canonical pick is an aggregate, not a window.
    (doc_id, pos) packs into one bigint so the lexicographic min stays
    a plain MIN in both engines (pos < 4096 by construction: chunking
    caps paragraphs per doc at n_words / PARA_WORDS)."""

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("words")
    )
    nch = F.least(
        F.floor(F.size("words") / PARA_WORDS).cast("int"),
        F.lit(_PARA_POS_LIMIT - 1),
    )
    paras = (
        docs.withColumn("nch", nch)
        .filter(F.col("nch") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("nch") - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice("words", i * PARA_WORDS + 1, PARA_WORDS)
                    ),
                )
            ).alias("pos", "para"),
        )
    )
    occ = paras.select(
        "doc_id", hash60(F.col("para")).alias("h"),
        (F.col("doc_id") * _PARA_POS_LIMIT + F.col("pos")).alias("pk"),
    )
    # canonical pick as a KEYED window over the hash (one exchange on
    # h, no self-join): Spark has no cross-branch subplan sharing, so
    # the agg+join-back formulation would run the explode twice
    first_pk = F.min("pk").over(Window.partitionBy("h"))
    return (
        occ.withColumn("first_pk", first_pk)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum((F.col("pk") == F.col("first_pk")).cast("int")).alias(
                "n_kept"
            ),
        )
    )


QUERIES = {
    "dedup_paragraphs": paragraph_dedup,
    "dedup_simhash_pairs": simhash_pairs,
    "dedup_embedding_neardup": embedding_neardup_pairs,
    "dedup_embedding_neardup_lsh": embedding_neardup_lsh,
    "dedup_simhash_bits": simhash_bits,
    "dedup_pagerank": dedup_pagerank,
    "dedup_exact": exact_dedup,
    "dedup_minhash_signatures": minhash_signatures,
    "dedup_minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_minhash_survivors": minhash_survivors,
    "dedup_snapshot_diff": snapshot_diff,
    "dedup_components": dedup_components,
    "dedup_ngram_jaccard_pairs": ngram_jaccard_pairs,
}

_N = SQL_NORM.format(e="text")

#: Shared oracle CTEs: normalized tokens and shingles.
_SQL_SHINGLES = f"""
    base AS (SELECT doc_id, {_N} AS norm FROM documents),
    toks AS (SELECT doc_id, norm, string_split(norm, ' ') AS t,
                    CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n
             FROM base),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM (SELECT doc_id, t, unnest(generate_series(1, n-2)) AS i FROM toks WHERE n >= 3)
        )
        UNION ALL
        SELECT doc_id, norm AS shingle FROM toks WHERE n < 3
    )
"""

_SALT_VALUES = ", ".join(f"({j}, {MINHASH_SALTS[j]})" for j in range(N_HASHES))

#: Shared simhash CTE body: per-bit votes, then the packed fingerprint.
_SQL_SIMBITS = f"""
    sbase AS (SELECT doc_id, {_N} AS norm FROM documents),
    stoks AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tok FROM sbase),
    shashed AS (SELECT doc_id, {SQL_HASH60.format(e="tok")} AS h60 FROM stoks),
    svotes AS (SELECT doc_id, h60, unnest(generate_series(0, {SIM_BITS - 1})) AS bit_idx
               FROM shashed),
    simbits AS (
        SELECT doc_id, bit_idx,
               CASE WHEN sum(CASE WHEN (h60 >> bit_idx) & 1 = 1 THEN 1 ELSE -1 END) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM svotes GROUP BY doc_id, bit_idx
    ),
    simfps AS (
        SELECT doc_id, CAST(sum(bit * (1::BIGINT << CAST(bit_idx AS INT))) AS BIGINT) AS fp
        FROM simbits GROUP BY doc_id
    )
"""

_SQL_SIGS = f"""
    WITH {_SQL_SHINGLES},
    hv AS (SELECT doc_id, {SQL_HASH32.format(e="shingle")} AS h FROM sh),
    salts(h_idx, salt) AS (VALUES {_SALT_VALUES}),
    sigs AS (
        SELECT doc_id, h_idx, min(xor(h, salt)) AS sig
        FROM hv, salts GROUP BY doc_id, h_idx
    )
"""

ORACLES = {
    "dedup_paragraphs": f"""
        WITH w AS (
            SELECT doc_id, string_split({_N}, ' ') AS words FROM documents
        ),
        nch AS (
            SELECT doc_id, words,
                   least(CAST(floor(len(words) / {PARA_WORDS}) AS INT),
                         {_PARA_POS_LIMIT - 1}) AS n
            FROM w
        ),
        paras AS (
            SELECT doc_id, i AS pos,
                   array_to_string(
                       words[i * {PARA_WORDS} + 1 : (i + 1) * {PARA_WORDS}],
                       ' '
                   ) AS para
            FROM nch, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g
            WHERE n > 0
        ),
        occ AS (
            SELECT doc_id, pos, {SQL_HASH60.format(e="para")} AS h,
                   doc_id * {_PARA_POS_LIMIT} + pos AS pk
            FROM paras
        ),
        canon AS (SELECT h, min(pk) AS first_pk FROM occ GROUP BY h)
        SELECT doc_id, count(*) AS n_paras,
               CAST(sum(CASE WHEN pk = first_pk THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept
        FROM occ JOIN canon USING (h)
        GROUP BY doc_id
    """,
    "dedup_exact": """
        SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_minhash_signatures": _SQL_SIGS + "SELECT doc_id, h_idx, sig FROM sigs",
    "dedup_minhash_lsh_pairs": _SQL_SIGS + f""",
        bands AS (
            SELECT doc_id, CAST(floor(h_idx / {BAND_ROWS}) AS INT) AS band,
                   md5(string_agg(sig::VARCHAR, ',' ORDER BY h_idx)) AS band_key
            FROM sigs GROUP BY doc_id, band
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, band_key)
            WHERE a.doc_id < b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               round(avg(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END), 6) AS sim_est
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.h_idx = sa.h_idx
        GROUP BY p.doc_a, p.doc_b
    """,
    "dedup_minhash_survivors": _SQL_SIGS + f""",
        bands AS (
            SELECT doc_id, CAST(floor(h_idx / {BAND_ROWS}) AS INT) AS band,
                   md5(string_agg(sig::VARCHAR, ',' ORDER BY h_idx)) AS band_key
            FROM sigs GROUP BY doc_id, band
        ),
        bmin AS (
            SELECT band, band_key, min(doc_id) AS bucket_min
            FROM bands GROUP BY band, band_key
        )
        SELECT b.doc_id, count(*) AS n_buckets
        FROM bands b JOIN bmin USING (band, band_key)
        GROUP BY b.doc_id HAVING min(bucket_min) = b.doc_id
    """,
    "dedup_snapshot_diff": f"""
        WITH a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
        kept AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {SNAP_CHANGED_MOD} = 0
                        THEN text || ' [rev2]' ELSE text END AS text
            FROM documents WHERE doc_id % {SNAP_REMOVED_MOD} != 0
        ),
        added AS (
            SELECT doc_id + {SNAP_ADD_OFFSET} AS doc_id,
                   'new revision of ' || text AS text
            FROM documents WHERE doc_id % {SNAP_ADDED_MOD} = 0
        ),
        b AS (SELECT doc_id, md5(text) AS h_b FROM kept
              UNION ALL
              SELECT doc_id, md5(text) AS h_b FROM added)
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN h_a IS NULL THEN 'added'
                    WHEN h_b IS NULL THEN 'removed'
                    WHEN h_a != h_b THEN 'changed' END AS status
        FROM a FULL OUTER JOIN b USING (doc_id)
        WHERE CASE WHEN h_a IS NULL THEN 'added'
                   WHEN h_b IS NULL THEN 'removed'
                   WHEN h_a != h_b THEN 'changed' END IS NOT NULL
    """,
    "dedup_ngram_jaccard_pairs": f"""
        WITH {_SQL_SHINGLES},
        df_ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {MAX_DF}),
        idx AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df_ok USING (shingle)),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM idx a JOIN idx b USING (shingle)
            WHERE a.doc_id < b.doc_id
        ),
        sets AS (SELECT doc_id, list(DISTINCT shingle) AS shs FROM sh GROUP BY doc_id),
        scored AS (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.shs, sb.shs))
                         / (len(sa.shs) + len(sb.shs)
                            - len(list_intersect(sa.shs, sb.shs))), 6) AS jaccard
            FROM cands
            JOIN sets sa ON sa.doc_id = doc_a
            JOIN sets sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.2
    """,
    "dedup_simhash_bits": f"""
        WITH {_SQL_SIMBITS}
        SELECT doc_id, bit_idx, bit FROM simbits
    """,
    "dedup_simhash_pairs": f"""
        WITH {_SQL_SIMBITS},
        dparams AS (
            SELECT CASE WHEN count(*) < {SIM_BAND_CUTOVER}
                        THEN {SIM_BAND_SMALL} ELSE {SIM_BAND_LARGE} END AS bb
            FROM documents
        ),
        bands AS (
            SELECT doc_id, b AS band,
                   (fp >> (b * (SELECT bb FROM dparams)))
                       & ((1::BIGINT << (SELECT bb FROM dparams)) - 1) AS band_val
            FROM simfps,
                 (SELECT unnest(generate_series(0, CAST({SIM_BITS} // bb AS INT) - 1)) AS b
                  FROM dparams)
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, band_val)
            WHERE a.doc_id < b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
        FROM pairs p
        JOIN simfps fa ON fa.doc_id = p.doc_a
        JOIN simfps fb ON fb.doc_id = p.doc_b
        WHERE bit_count(xor(fa.fp, fb.fp)) <= {SIM_HAMMING_MAX}
    """,
    "dedup_embedding_neardup": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                   AS cos_sim
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
              >= {NEARDUP_COS}
    """,
}

# Connected components: the same banded pairs + agreement filter, then
# the transitive closure as a recursive CTE — DuckDB computes the exact
# fixpoint the Spark label-propagation loop converges to.
ORACLES["dedup_components"] = (
    _SQL_SIGS.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
    cbands AS (
        SELECT doc_id, CAST(floor(h_idx / {BAND_ROWS}) AS INT) AS band,
               md5(string_agg(sig::VARCHAR, ',' ORDER BY h_idx)) AS band_key
        FROM sigs GROUP BY doc_id, band
    ),
    cpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cbands a JOIN cbands b USING (band, band_key)
        WHERE a.doc_id < b.doc_id
    ),
    strong AS (
        SELECT p.doc_a, p.doc_b
        FROM cpairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.h_idx = sa.h_idx
        GROUP BY p.doc_a, p.doc_b
        HAVING round(avg(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END), 6)
               >= {COMPONENT_MIN_SIM}
    ),
    cedges AS (
        SELECT doc_a AS s, doc_b AS d FROM strong
        UNION SELECT doc_b, doc_a FROM strong
    ),
    reach(s, d) AS (
        SELECT s, d FROM cedges
        UNION
        SELECT r.s, e.d FROM reach r JOIN cedges e ON r.d = e.s
    ),
    comp AS (SELECT s AS doc_id, min(d) AS min_reach FROM reach GROUP BY s)
    SELECT doc.doc_id,
           CAST(COALESCE(LEAST(c.min_reach, doc.doc_id), doc.doc_id) AS BIGINT)
               AS canonical_id
    FROM documents doc LEFT JOIN comp c ON c.doc_id = doc.doc_id
"""
)

ORACLES["dedup_pagerank"] = (
    _SQL_SIGS
    + f""",
    cbands AS (
        SELECT doc_id, CAST(floor(h_idx / {BAND_ROWS}) AS INT) AS band,
               md5(string_agg(sig::VARCHAR, ',' ORDER BY h_idx)) AS band_key
        FROM sigs GROUP BY doc_id, band
    ),
    cpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cbands a JOIN cbands b USING (band, band_key)
        WHERE a.doc_id < b.doc_id
    ),
    strong AS (
        SELECT p.doc_a, p.doc_b
        FROM cpairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.h_idx = sa.h_idx
        GROUP BY p.doc_a, p.doc_b
        HAVING round(avg(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END), 6)
               >= {COMPONENT_MIN_SIM}
    ),
    cedges AS (
        SELECT doc_a AS s, doc_b AS d FROM strong
        UNION SELECT doc_b, doc_a FROM strong
    ),
    nodes AS (SELECT s AS doc_id, count(*) AS deg FROM cedges GROUP BY s),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT doc_id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    t1 AS (
        SELECT e.d AS doc_id,
               sum(floor(r0.rank / nd.deg * {PR_SCALE} + 0.5)) AS ts
        FROM cedges e
        JOIN r0 ON r0.doc_id = e.s
        JOIN nodes nd ON nd.doc_id = e.s
        GROUP BY e.d
    ),
    r1 AS (
        SELECT n0.doc_id,
               {PR_BASE_NUM!r} / nn.n
               + {PR_DAMPING} * (coalesce(t1.ts, 0) / {PR_SCALE}.0) AS rank
        FROM nodes n0 CROSS JOIN nn LEFT JOIN t1 USING (doc_id)
    ),
    t2 AS (
        SELECT e.d AS doc_id,
               sum(floor(r1.rank / nd.deg * {PR_SCALE} + 0.5)) AS ts
        FROM cedges e
        JOIN r1 ON r1.doc_id = e.s
        JOIN nodes nd ON nd.doc_id = e.s
        GROUP BY e.d
    ),
    r2 AS (
        SELECT n0.doc_id,
               {PR_BASE_NUM!r} / nn.n
               + {PR_DAMPING} * (coalesce(t2.ts, 0) / {PR_SCALE}.0) AS rank
        FROM nodes n0 CROSS JOIN nn LEFT JOIN t2 USING (doc_id)
    ),
    t3 AS (
        SELECT e.d AS doc_id,
               sum(floor(r2.rank / nd.deg * {PR_SCALE} + 0.5)) AS ts
        FROM cedges e
        JOIN r2 ON r2.doc_id = e.s
        JOIN nodes nd ON nd.doc_id = e.s
        GROUP BY e.d
    ),
    r3 AS (
        SELECT n0.doc_id,
               {PR_BASE_NUM!r} / nn.n
               + {PR_DAMPING} * (coalesce(t3.ts, 0) / {PR_SCALE}.0) AS rank
        FROM nodes n0 CROSS JOIN nn LEFT JOIN t3 USING (doc_id)
    )
    SELECT n0.doc_id, n0.deg AS degree, round(r3.rank, 8) AS pagerank
    FROM nodes n0 JOIN r3 USING (doc_id)
"""
)

# The LSH-pruned variant reuses similarity's bucket CTE so the two
# engines derive identical md5 hyperplane buckets.
from .similarity import _SQL_BUCKETS as _SIM_SQL_BUCKETS  # noqa: E402

ORACLES["dedup_embedding_neardup_lsh"] = f"""
    WITH {_SIM_SQL_BUCKETS}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
               AS cos_sim
    FROM buckets a
    JOIN buckets b USING (bucket)
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
          >= {NEARDUP_COS}
"""


#: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) within-cluster
#: cosine threshold. On real sentence embeddings this sits near 0.95;
#: the synthetic corpus' vectors are near-orthogonal (within-cell p99
#: cosine ~0.36), so the fixture threshold is set where the operator
#: is non-trivially exercised (~14% of vectors dropped).
SEMDEDUP_COS = 0.35


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then drop every
    vector that has a smaller-id neighbor in the SAME cluster with
    cosine >= SEMDEDUP_COS (keep-lowest-id per semantic duplicate
    group). Output: (vec_id, cell, keep) for every vector.

    Scale shape — this is the published algorithm's whole point: the
    candidate join is keyed by the k-means cell (reusing the IVF
    coarse quantizer from ops/similarity: broadcast centroids, one
    hash-agg assignment pass), so the pair space is
    sum_c(occupancy_c^2), never corpus-quadratic. Cell count derives
    from corpus size (cells_for); at 100 TB the knob is cells ∝
    n/target_occupancy, which bounds the per-cell work at a constant
    while every stage stays an equi-join/aggregate. The drop rule is
    a cell-keyed anti-join, not a global sort."""

    from .similarity import _cosine, _emb, _ivf_cells

    from .common import register_persist

    cells = _ivf_cells(spark, sf_dir)  # (vec_id, cell) — persisted
    e = _emb(spark, sf_dir)
    # persisted: withv feeds BOTH sides of the cell self-join (no
    # cross-branch subplan sharing in Spark — the embeddings join
    # would otherwise execute twice)
    withv = register_persist(cells.join(e, "vec_id"))
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cell", F.col("v").alias("va")
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), "cell", F.col("v").alias("vb")
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            F.round(_cosine(F.col("va"), F.col("vb")), 6) >= SEMDEDUP_COS
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("dropped").isNull().alias("keep")
    )


QUERIES["dedup_semantic"] = dedup_semantic

from .similarity import _SQL_IVF_CELLS as _SIM_SQL_CELLS  # noqa: E402

ORACLES["dedup_semantic"] = f"""
    WITH {_SIM_SQL_CELLS},
    wv AS (
        SELECT c.vec_id, c.cell, e.embedding::DOUBLE[] AS v
        FROM cells c JOIN embeddings e USING (vec_id)
    ),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM wv a JOIN wv b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {SEMDEDUP_COS}
    )
    SELECT w.vec_id, w.cell, (d.vec_id IS NULL) AS keep
    FROM wv w LEFT JOIN drops d ON d.vec_id = w.vec_id
"""
