"""Similarity search over the ``embeddings`` table.

- knn_brute_force: exact cosine top-k for a query vector (the baseline;
  one scan + one narrow sort, fully JVM-side).
- ann_lsh_buckets / ann_lsh_topk: random-hyperplane LSH. Hyperplane
  component w(p, i) derives from md5 (engine-portable), so bucket
  assignment is reproducible in the DuckDB oracle. At scale the bucket
  column becomes the shuffle/partition key: candidate generation is an
  equi-join on bucket instead of a quadratic cross join, and the exact
  rerank touches only the query's bucket.
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..spark.records import batch_stage
from .common import SQL_HASH32, cached, table
from .common import release_caches  # noqa: F401  (re-exported: the ops-wide release)

TOP_K = 10
QUERY_VEC_ID = 0

#: Capacity parameters are DERIVED from corpus size, not fixed — at
#: 100x the data a fixed bucket/cell count makes every bucket 100x
#: fatter and the bucket-local rerank quadratic-within-bucket. The
#: same formulas run as scalar subqueries in the DuckDB oracles, so
#: the two engines stay in lockstep at every scale factor.
TARGET_BUCKET_OCCUPANCY = 16   # aim ~16 vectors per LSH bucket
MIN_PLANES, MAX_PLANES = 8, 24
MIN_CELLS, MAX_CELLS = 16, 4096


def planes_for(n_vecs: int) -> int:
    """LSH hyperplane count: ceil(log2(n / target occupancy)), clamped.
    Bucket count 2^planes tracks corpus size so expected occupancy
    stays ~TARGET_BUCKET_OCCUPANCY."""

    return min(MAX_PLANES, max(
        MIN_PLANES, math.ceil(math.log2(max(n_vecs, 1) / TARGET_BUCKET_OCCUPANCY))
    ))


def cells_for(n_vecs: int) -> int:
    """IVF cell count: ~sqrt(n) (the standard IVF sizing — cell scan
    cost and probe cost balance), clamped."""

    return min(MAX_CELLS, max(MIN_CELLS, math.ceil(math.sqrt(max(n_vecs, 1)))))


#: SQL twins of the derivations above (scalar params CTE over the same
#: table the Spark side counts).
SQL_EPARAMS = f"""
    eparams AS (
        SELECT LEAST({MAX_PLANES}, GREATEST({MIN_PLANES},
                   CAST(ceil(log2(count(*) / {TARGET_BUCKET_OCCUPANCY}.0)) AS INT))) AS np,
               LEAST({MAX_CELLS}, GREATEST({MIN_CELLS},
                   CAST(ceil(sqrt(count(*))) AS INT))) AS nc
        FROM embeddings
    )
"""


def _n_vecs(spark: SparkSession, sf_dir: str) -> int:
    """Corpus size for parameter derivation — a parquet-metadata count,
    cached per sf_dir (cheap even at fleet scale)."""

    return cached(("n_vecs", sf_dir), lambda: table(spark, sf_dir, "embeddings").count())


def _cosine_scores_np(e: DataFrame, cents_rows: list) -> DataFrame:
    """(vec_id, cell, sim_raw): UNROUNDED cosine of every vector in
    ``e`` against every collected centroid, computed with vectorized
    numpy in one Arrow batch stage (``records.batch_stage``: Spark
    moves the rows, native code does the arithmetic).

    Bit-exactness contract: accumulation loops run over dimensions in
    index order with a 0.0 start, so every partial sum performs the
    IDENTICAL sequence of IEEE-754 double operations as the
    ``aggregate(zip_with(...))`` fold in :func:`_cosine` — numpy
    element-wise ops and np.sqrt are correctly rounded per element,
    so dot, norms, and their quotient are bit-identical to the JVM
    values. Rounding and the argmax tie-break stay in Spark, so no
    new float semantics enter the plan. The centroid relation is
    bounded by MAX_CELLS (4096), so collecting it to the driver is
    O(cells x dim) at any corpus size."""

    schema = T.StructType.fromDDL("vec_id long, cell int, sim_raw double")
    return e.select("vec_id", "v").mapInArrow(
        batch_stage(_cosine_scorer(cents_rows), schema), schema
    )


def _cosine_scorer(cents_rows: list):
    """The numpy body of :func:`_cosine_scores_np`: ``score(ids, V)``
    -> (vec_id, cell, sim_raw) columns."""

    cells = np.array([r["cell"] for r in cents_rows], dtype=np.int32)
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cents_rows])
    dim = C.shape[1]
    ncv = np.zeros(len(cells))
    for d in range(dim):
        ncv += C[:, d] * C[:, d]
    ncv = np.sqrt(ncv)

    def score(ids, V):
        n = len(ids)
        acc = np.zeros((n, len(cells)))
        nv = np.zeros(n)
        for d in range(dim):
            acc += V[:, d : d + 1] * C[None, :, d]
            nv += V[:, d] * V[:, d]
        nv = np.sqrt(nv)
        sim = acc / (nv[:, None] * ncv[None, :])
        return np.repeat(ids, len(cells)), np.tile(cells, n), sim.ravel()

    return score


def _l2_scores_np(parts: DataFrame, book_rows: list) -> DataFrame:
    """(vec_id, sub, code, d2_raw): UNROUNDED squared L2 of every
    subvector in ``parts`` against its subspace's collected codebook —
    the PQ twin of :func:`_cosine_scores_np`, with the same
    bit-exactness contract: the (a_i - b_i)^2 terms accumulate in
    index order from 0.0, reproducing :func:`_l2sq`'s fold exactly;
    rounding and the argmin stay in Spark."""

    books: dict[int, tuple] = {}
    for r in book_rows:
        books.setdefault(int(r["sub"]), []).append(r)
    packed = {
        sub: (
            np.array([r["code"] for r in rows], dtype=np.int32),
            np.stack([np.asarray(r["cv"], dtype=np.float64) for r in rows]),
        )
        for sub, rows in books.items()
    }

    def score(ids, subs, SV_all):
        out = []
        for sub in np.unique(subs):
            codes, CB = packed[int(sub)]
            m = subs == sub
            SV = SV_all[m]
            acc = np.zeros((SV.shape[0], len(codes)))
            for d in range(SV.shape[1]):
                t = SV[:, d : d + 1] - CB[None, :, d]
                acc += t * t
            out.append((
                np.repeat(ids[m], len(codes)),
                np.full(int(m.sum()) * len(codes), sub, dtype=np.int32),
                np.tile(codes, int(m.sum())),
                acc.ravel(),
            ))
        return [np.concatenate(col) for col in zip(*out)]

    schema = T.StructType.fromDDL("vec_id long, sub int, code int, d2_raw double")
    return parts.select("vec_id", "sub", "sv").mapInArrow(
        batch_stage(score, schema), schema
    )


# Relations feeding several plan branches (buckets: candidate join +
# query bucket; centroids: probe list + cell assignment) are held in
# the ops cache registry (ops/common.py ``cached``), as is the vector
# count. Spark has no cross-branch subplan sharing, so without a
# persist the whole subtree (k-means chain / hyperplane aggregation)
# executes once per branch.


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition at the source: the single-row-group testdata parquet
    # would otherwise pin every downstream vector-math stage (k-means
    # scoring, cell assignment, PQ encode) to ONE task; the shuffle is
    # n_vecs narrow rows, orders of magnitude below the compute it
    # unblocks.
    return (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _cosine(va, vb):
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return dot / (na * nb)


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors of QUERY_VEC_ID by cosine (query vector
    itself excluded). Deterministic order: cos desc, vec_id asc."""

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket): sign pattern of N_PLANES md5-derived random
    hyperplanes, packed into an int. Persisted: the ANN queries (and
    the LSH near-dup) reference it from two plan branches."""

    return cached(("buckets", sf_dir), lambda: _buckets_build(spark, sf_dir))


def _buckets_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One vectorized-numpy Arrow batch stage: the n_planes x dim
    hyperplane weights are md5-derived CONSTANTS (the same integers the
    oracle recomputes), computed once per Python worker at the width
    of the vectors it reads instead of being re-hashed once per
    (vector, dim, plane) row — the previous explode shape evaluated
    ~n_vecs * dim * n_planes md5s and shuffled twice; this one
    evaluates n_planes * dim md5s per worker and never shuffles at all.
    Per-plane dot products accumulate in dimension order (0.0 start),
    exactly the order the old (vec_id, p) hash aggregate summed its
    exploded rows, and numpy's element-wise IEEE-754 ops match the
    JVM's, so every dot — and therefore every bucket id (a >= 0 sign
    test either side of a +-0.0 boundary agrees too) — is
    bit-identical."""

    n_planes = planes_for(_n_vecs(spark, sf_dir))
    powers = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def assign(ids, V):
        W = _hyperplanes(n_planes, V.shape[1])
        acc = np.zeros((V.shape[0], n_planes))
        for d in range(V.shape[1]):
            acc += V[:, d : d + 1] * W[None, :, d]
        return ids, ((acc >= 0) @ powers).astype(np.int32)

    schema = T.StructType.fromDDL("vec_id long, bucket int")
    return _emb(spark, sf_dir).mapInArrow(batch_stage(assign, schema), schema)


@functools.cache
def _hyperplanes(n_planes: int, dim: int) -> np.ndarray:
    """(n_planes, dim) LSH weights w(p, i) = md5("p:i")[:8] / 2^31 - 1."""

    return np.array([
        [int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16) / 2147483648.0 - 1.0
         for i in range(dim)]
        for p in range(n_planes)
    ])


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram: (bucket, n_vecs) — shows the pruning factor."""

    return _buckets(spark, sf_dir).groupBy("bucket").agg(F.count("*").alias("n_vecs"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to the query
    vector's LSH bucket."""

    b = _buckets(spark, sf_dir)
    e = _emb(spark, sf_dir).join(b, "vec_id")
    qb = b.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("bucket").alias("qbucket"))
    q = _emb(spark, sf_dir).filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.crossJoin(F.broadcast(qb))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != QUERY_VEC_ID))
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


N_PROBE = 2
KM_ITERS = 2        # unrolled Lloyd iterations (same count in the oracle)
KM_SAMPLE_MOD = 5   # centroids train on the deterministic 1-in-5 sample
_KM_SCALE = float(1 << 20)  # centroid-mean quantization grid (2^-20)


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, cv): spherical k-means centroids.

    Seeds are the first N_CELLS vectors of a deterministic
    1-in-KM_SAMPLE_MOD sample; KM_ITERS Lloyd steps refine them
    (assign by cosine -> per-dimension mean, rounded to 6 dp so Spark
    and DuckDB agree). This is the 100-TB shape: the sample is tiny
    relative to the corpus, every step is a broadcast join + one
    aggregate, and the refreshed centroids broadcast to the assignment
    pass. Replaces the round-1 'first 16 vectors' seeding."""

    return cached(("centroids", sf_dir), lambda: _centroids_build(spark, sf_dir))


def _centroids_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_cells = cells_for(_n_vecs(spark, sf_dir))
    e = _emb(spark, sf_dir)
    sample = e.filter(F.col("vec_id") % KM_SAMPLE_MOD == 0)
    cents = sample.filter(F.col("vec_id") < KM_SAMPLE_MOD * n_cells).select(
        (F.col("vec_id") / KM_SAMPLE_MOD).cast("int").alias("cell"),
        F.col("v").alias("cv"),
    )
    for _ in range(KM_ITERS):
        # Scoring runs as vectorized numpy against the COLLECTED
        # previous-round centroids (bounded by MAX_CELLS; bit-identical
        # doubles — see _cosine_scores_np); collecting also truncates
        # the per-iteration lineage, so round k's plan never re-executes
        # round k-1. Rounding stays in Spark.
        cents_rows = cents.select("cell", "cv").collect()
        scored = _cosine_scores_np(sample, cents_rows).select(
            "vec_id", "cell", F.round(F.col("sim_raw"), 6).alias("sim")
        )
        # argmax by (sim desc, cell asc) as a hash AGGREGATE, not a
        # row_number window: max_by gets map-side partial aggregation
        # and no per-partition sort — at fleet scale the window's full
        # sort of n_vecs x n_cells scored rows is the bottleneck.
        # max(struct) compares fields left-to-right, so (sim, -cell)
        # reproduces the (sim DESC, cell ASC) tie-break exactly.
        # The winning vector re-attaches by vec_id (shuffled-hash: both
        # sides are sample-sized, so neither may broadcast at scale).
        best = (
            scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    "cell", F.struct(F.col("sim"), -F.col("cell"))
                ).alias("cell")
            )
        )
        assigned = best.join(sample.hint("shuffle_hash"), "vec_id").select("cell", "v")
        dims = assigned.select("cell", F.posexplode("v").alias("i", "x"))
        # Deterministic mean: avg(double) sums in partition order, so a
        # value near a 6-dp rounding boundary could flip between runs
        # (and vs DuckDB's sequential avg). Quantize each component to
        # the 2^-20 grid first — integer-valued doubles sum EXACTLY in
        # any order (|sum| << 2^53), so the pre-round mean is
        # bit-identical across partitionings and engines.
        q = F.signum("x") * F.floor(F.abs(F.col("x")) * _KM_SCALE + F.lit(0.5))
        means = dims.groupBy("cell", "i").agg(
            F.round(F.sum(q) / F.count("*") / _KM_SCALE, 6).alias("m")
        )
        cents = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    return cents


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): IVF coarse quantization against the k-means
    centroids. Nearest centroid by cosine, tie-broken by cell id.
    Persisted: the assignment crossJoin is the expensive part and both
    ivf_cell_sizes and ivf_topk consume it."""

    return cached(("ivf_cells", sf_dir), lambda: _ivf_cells_build(spark, sf_dir))


def cell_assign_relation(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment of a (vec_id, v)
    relation against a (cell, cv) centroid relation. Same
    argmax-as-aggregate shape as the k-means assignment: one hash agg
    with map-side combine over the scan, NO shuffle of the scored
    n_vecs x n_cells relation for a sort — this is the full-corpus
    pass, the single most expensive IVF step at scale. Shared by the
    batch IVF build and the streaming ingest twin (identical
    assignment by construction)."""

    cents_rows = cents.select("cell", "cv").collect()
    if cents_rows:
        # The full-corpus assignment is the single most expensive IVF
        # step; its dot products run as vectorized numpy in one
        # Arrow batch stage (bit-identical doubles — see
        # _cosine_scores_np) while the 6-dp rounding and the
        # (sim desc, cell asc) argmax tie-break stay in Spark exactly
        # as before. Collecting the centroid relation is bounded by
        # MAX_CELLS at any corpus size.
        scored = _cosine_scores_np(e, cents_rows).select(
            "vec_id", "cell", F.round(F.col("sim_raw"), 6).alias("sim")
        )
    else:  # degenerate empty-centroid relation: result is empty anyway
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cell", F.round(_cosine(F.col("v"), F.col("cv")), 6).alias("sim")
        )
    return scored.groupBy("vec_id").agg(
        F.max_by("cell", F.struct(F.col("sim"), -F.col("cell"))).alias("cell")
    )


def _ivf_cells_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cell_assign_relation(_emb(spark, sf_dir), _centroids(spark, sf_dir))


def ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_cells(spark, sf_dir).groupBy("cell").agg(F.count("*").alias("n_vecs"))


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: exact rerank restricted to the query's
    N_PROBE nearest cells (the IVF scale path: candidate set shrinks by
    ~N_CELLS/N_PROBE; the probe list is a broadcast)."""

    e = _emb(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    probe = (
        q.crossJoin(F.broadcast(cents))
        .select("cell", F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cell"))
        .limit(N_PROBE)
        .select("cell")
    )
    # Prune the assignment to the probed cells BEFORE touching the
    # embeddings: cells |><| probe is ~N_PROBE/N_CELLS of the corpus,
    # so it broadcasts into the embeddings join and the full relation
    # is never shuffled. (The previous order — e |><| cells first —
    # shuffled every vector twice just to drop 1 - N_PROBE/N_CELLS of
    # them afterwards.)
    probed = _ivf_cells(spark, sf_dir).join(F.broadcast(probe), "cell")
    return (
        e.join(probed, "vec_id")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


#: Batch ANN query-set stride: every vec_id divisible by this is a
#: query, so the set grows with the corpus (5 queries at sf0.01, 20 at
#: sf0.1) the way a production query batch would.
BATCH_QUERY_MOD = 101


def _batch_ivf_joined(spark: SparkSession, sf_dir: str, anchors: DataFrame, e: DataFrame) -> DataFrame:
    """The shared batched-IVF probe pipeline: for an ``anchors``
    relation carrying (qid, qv, ...extras), return each anchor joined
    to every vector of its N_PROBE nearest cells — all of ``e``'s and
    ``anchors``'s columns ride along for the caller's filter. Shape:
    anchors broadcast everywhere; per-anchor probe lists come from a
    window over the TINY (anchors x cells) score relation; the probe
    relation broadcasts into the cell-assignment join, so candidate
    generation touches only probed cells' vectors and the embeddings
    table is never fully shuffled."""

    from pyspark.sql import Window

    cents = _centroids(spark, sf_dir)
    scored = anchors.crossJoin(F.broadcast(cents)).select(
        "qid", "cell", F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("sim")
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cell"))
    probe = (
        scored.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= N_PROBE)
        .select("qid", "cell")
    )
    probed = _ivf_cells(spark, sf_dir).join(F.broadcast(probe), "cell").select(
        "vec_id", "qid"
    )
    return e.join(probed, "vec_id").join(F.broadcast(anchors), "qid")


def _topk_per_qid(cand: DataFrame) -> DataFrame:
    """The standard distributed top-k-per-key cut over a (qid, vec_id,
    cos_sim) candidate relation (bounded by N_PROBE/N_CELLS of the
    corpus per anchor, so the keyed window never sees the corpus)."""

    from pyspark.sql import Window

    wk = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", "vec_id", "cos_sim")
    )


def ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-query IVF ANN: top-k for EVERY query in the set, one pass
    (production ANN answers query SETS, not single vectors). The probe
    / candidate pipeline is :func:`_batch_ivf_joined`; the final cut
    is :func:`_topk_per_qid`."""

    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % BATCH_QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cand = (
        _batch_ivf_joined(spark, sf_dir, queries, e)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    return _topk_per_qid(cand)


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (the batch a contrastive /
    metric-learning trainer consumes: for each anchor, the nearest
    vectors that do NOT share its label): IVF-pruned top-k per anchor
    restricted to candidates whose ``label`` differs from the
    anchor's. Output: (qid, vec_id, cos_sim) — TOP_K rows per anchor,
    cos desc / vec_id asc.

    Scale shape is :func:`ivf_topk_batch`'s shared pipeline
    (:func:`_batch_ivf_joined`) with a label predicate pushed into
    the candidate join: the label filter runs BEFORE the per-anchor
    top-k window so same-label near-dups never occupy candidate
    slots. One extra narrow column (label, 4 B) rides the candidate
    relation — document/vector payloads still never move."""

    el = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    anchors = el.filter(F.col("vec_id") % BATCH_QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    cand = (
        _batch_ivf_joined(spark, sf_dir, anchors, el)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid", "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    return _topk_per_qid(cand)


#: Product-quantization geometry: PQ_M subspaces over the embedding
#: dimension (64 -> 16-dim subvectors); per-subspace codebook size
#: reuses cells_for(n) (~sqrt n, corpus-derived like every other
#: capacity knob here), so code storage is PQ_M bytes-ish per vector
#: at any scale.
PQ_M = 4


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subparts(e: DataFrame) -> DataFrame:
    """(vec_id, sub, sv): the PQ_M contiguous subvectors of each
    vector — slice bounds derive from size(v) so the split tracks the
    embedding dimension."""

    return e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
        "v",
    ).select(
        "vec_id", "sub",
        F.expr(
            f"slice(v, sub * (size(v) div {PQ_M}) + 1, size(v) div {PQ_M})"
        ).alias("sv"),
    )


def _pq_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sub, code, cv): per-subspace L2 k-means codebooks, trained on
    the same deterministic 1-in-KM_SAMPLE_MOD sample as the IVF
    centroids with the same KM_ITERS Lloyd steps and quantized-exact
    means. Persisted: the index build (encoding) and every query's
    LUT both read it."""

    return cached(("pq_books", sf_dir), lambda: _pq_books_build(spark, sf_dir))


def _pq_books_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_codes = cells_for(_n_vecs(spark, sf_dir))
    sample = _subparts(
        _emb(spark, sf_dir).filter(F.col("vec_id") % KM_SAMPLE_MOD == 0)
    )
    books = sample.filter(F.col("vec_id") < KM_SAMPLE_MOD * n_codes).select(
        "sub",
        (F.col("vec_id") / KM_SAMPLE_MOD).cast("int").alias("code"),
        F.col("sv").alias("cv"),
    )
    for _ in range(KM_ITERS):
        # Vectorized numpy scoring against the collected previous-round
        # codebooks (PQ_M x n_codes rows; bit-identical doubles — see
        # _l2_scores_np); rounding stays in Spark.
        book_rows = books.select("sub", "code", "cv").collect()
        scored = _l2_scores_np(sample, book_rows).select(
            "vec_id", "sub", "code", F.round(F.col("d2_raw"), 6).alias("d2")
        )
        # argmin-as-aggregate (d2 asc, code asc): map-side combine, no
        # window sort of the sample x codebook relation — the same
        # shape as the IVF assignment. The winning subvector re-attaches
        # by (vec_id, sub) (shuffled-hash: both sides sample-sized).
        best = (
            scored.groupBy("vec_id", "sub")
            .agg(
                F.min_by(
                    "code", F.struct(F.col("d2"), F.col("code"))
                ).alias("code")
            )
        )
        assigned = best.join(sample.hint("shuffle_hash"), ["vec_id", "sub"]).select(
            "sub", "code", "sv"
        )
        dims = assigned.select("sub", "code", F.posexplode("sv").alias("i", "x"))
        q = F.signum("x") * F.floor(F.abs(F.col("x")) * _KM_SCALE + F.lit(0.5))
        means = dims.groupBy("sub", "code", "i").agg(
            F.round(F.sum(q) / F.count("*") / _KM_SCALE, 6).alias("m")
        )
        books = means.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    return books


def _pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, vec_id, sub, code): the IVFADC inverted file — every
    vector encoded as its per-subspace nearest codeword and keyed by
    its coarse cell (the posting-list layout; on a real cluster this
    relation is written bucketed/partitioned by cell). This is what a
    100-TB ANN store actually persists and scans: PQ_M small ints per
    vector instead of the raw floats (~32x smaller at production
    settings), pre-grouped so a query's probe list prunes it with a
    broadcast equi-join on cell — query time never shuffles the index
    and never touches the embeddings table. The one vec_id-keyed
    shuffle (codes |><| cell assignment) is paid ONCE at (offline)
    index-build time."""

    return cached(("pq_index", sf_dir), lambda: _pq_index_build(spark, sf_dir))


def _pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _subparts(_emb(spark, sf_dir))
    # The full-corpus encode is the expensive IVFADC build step: numpy
    # scoring against the collected codebooks (PQ_M x n_codes rows;
    # bit-identical doubles — _l2_scores_np), argmin and rounding in
    # Spark exactly as before.
    book_rows = _pq_books(spark, sf_dir).select("sub", "code", "cv").collect()
    scored = _l2_scores_np(parts, book_rows).select(
        "vec_id", "sub", "code", F.round(F.col("d2_raw"), 6).alias("d2")
    )
    codes = scored.groupBy("vec_id", "sub").agg(
        F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code")
    )
    return codes.join(_ivf_cells(spark, sf_dir), "vec_id").select(
        "cell", "vec_id", "sub", "code"
    )


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance top-k (the Jegou et al. PQ paper's
    IVFADC, the standard billion-scale ANN layout): candidates come
    from the query's N_PROBE IVF cells, and their distances are
    looked up from a (PQ_M x n_codes)-entry table of exact
    query-subvector-to-codeword squared distances — the scan reads
    ONLY the compact code index, never the raw embeddings. Output:
    (vec_id, adc_dist) — TOP_K by ADC distance asc, vec_id asc.

    Determinism: per-subspace d2 rounds to 6 dp and integerizes to
    micro-units, so the cross-subspace ADC sum is exact integer
    arithmetic in any order and both engines. Scale shape: the LUT is
    PQ_M x n_codes rows -> broadcast; the probe list (N_PROBE rows)
    broadcasts into the cell-keyed inverted file, so query time is a
    map-side prune + LUT lookup + one keyed sum with NO shuffle of
    the index; the final cut is TakeOrdered. The raw embeddings table
    appears nowhere in the query-time plan (only inside the cached
    offline index build)."""

    return (
        _pq_adc_candidates(spark, sf_dir)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _pq_adc_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, adc_dist) for every vector in the query's probed
    cells — the compressed-domain candidate relation shared by the
    pure-ADC top-k and the re-ranked variant."""

    e = _emb(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("vec_id", "v")
    qparts = _subparts(q).select("sub", F.col("sv").alias("qv"))
    lut = _pq_books(spark, sf_dir).join(F.broadcast(qparts), "sub").select(
        "sub", "code",
        F.round(F.round(_l2sq(F.col("qv"), F.col("cv")), 6) * 1e6)
        .cast("bigint")
        .alias("d2q"),
    )
    probe = (
        q.select(F.col("v").alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select("cell", F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cell"))
        .limit(N_PROBE)
        .select("cell")
    )
    cand = (
        _pq_index(spark, sf_dir)
        .join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(lut), ["sub", "code"])
    )
    return (
        cand.groupBy("vec_id")
        .agg(F.sum("d2q").alias("s"))
        .select("vec_id", F.round(F.col("s") / 1e6, 6).alias("adc_dist"))
    )


#: ADC shortlist size for the re-ranked variant: the exact pass reads
#: this many full vectors (by id), everything upstream stays in the
#: compressed domain
PQ_RERANK = 5 * TOP_K


def ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-ranking (the full IVFADC+R pipeline of
    Jegou et al.: ADC shortlist from the compressed index, then exact
    distances for the shortlist only): take the PQ_RERANK best
    candidates by ADC distance, fetch THOSE raw vectors by id, and
    return the exact-cosine TOP_K. Output: (vec_id, cos_sim) —
    directly comparable to sim_ivf_topk; quantization error now only
    costs recall when a true neighbor falls outside the R-deep
    shortlist, not whenever codeword distances reorder the top-k.

    Scale shape: candidate generation is the compressed-domain plan of
    :func:`ivf_pq_topk` unchanged; the exact pass is an equi-join of
    an R-row broadcast shortlist against the embeddings table (R full
    vectors fetched, a point-lookup-shaped read) + one TakeOrdered."""

    shortlist = (
        _pq_adc_candidates(spark, sf_dir)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_RERANK)
        .select("vec_id")
    )
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids + cohesion (the label-quality QA a
    classification corpus gets before training): per label, the
    quantized-exact mean embedding's norm and the mean cosine of the
    label's vectors to that centroid. Output: (label, n_vecs,
    centroid_norm, mean_cos).

    Determinism: per-dimension components quantize to the 2^-20 grid
    BEFORE summation (integer sums are partition-order-exact — the IVF
    centroid trick); per-vector cosines round to 6 dp and sum as
    micro-unit integers, so the label mean is exact too. Scale shape:
    one explode + (label, dim) hash agg (label-count x dim bounded),
    centroids broadcast back for the cohesion pass."""

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).select(
        "label", "dim",
        F.floor(F.col("x") * _KM_SCALE + 0.5).cast("bigint").alias("q"),
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.sum("q").alias("sq"), F.count("*").alias("n"))
        .select(
            "label", "dim",
            (F.col("sq") / F.col("n") / _KM_SCALE).alias("m"),
        )
    )
    cent_arr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(
            "label",
            F.transform("dm", lambda s: s["m"]).alias("cv"),
        )
    )
    cos = F.round(_cosine(F.col("v"), F.col("cv")), 6)
    scored = e.join(F.broadcast(cent_arr), "label").select(
        "label",
        F.round(cos * 1e6).cast("bigint").alias("cq"),
    )
    norm = F.sqrt(
        F.aggregate(F.col("cv"), F.lit(0.0), lambda a, x: a + x * x)
    )
    norms = cent_arr.select("label", F.round(norm, 6).alias("centroid_norm"))
    return (
        scored.groupBy("label")
        .agg(F.count("*").alias("n_vecs"), F.sum("cq").alias("sc"))
        .join(norms, "label")
        .select(
            "label", "n_vecs", "centroid_norm",
            F.round(F.col("sc") / F.col("n_vecs") / 1e6, 6).alias("mean_cos"),
        )
    )


QUERIES = {
    "sim_label_centroids": label_centroids,
    "sim_knn_brute_force": knn_brute_force,
    "sim_ann_lsh_buckets": ann_lsh_buckets,
    "sim_ann_lsh_topk": ann_lsh_topk,
    "sim_ivf_cell_sizes": ivf_cell_sizes,
    "sim_ivf_topk": ivf_topk,
    "sim_ivf_topk_batch": ivf_topk_batch,
    "sim_hard_negatives": hard_negatives,
    "sim_ivf_pq_topk": ivf_pq_topk,
    "sim_ivf_pq_rerank": ivf_pq_rerank,
}

_W = SQL_HASH32.format(e="p::VARCHAR || ':' || i::VARCHAR") + " / 2147483648.0 - 1.0"

_SQL_BUCKETS = f"""
    {SQL_EPARAMS},
    long AS (
        SELECT vec_id, i - 1 AS i, x, p
        FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
             (SELECT unnest(generate_series(0, (SELECT np - 1 FROM eparams))) AS p)
    ),
    dots AS (
        SELECT vec_id, p, sum(x * ({_W})) AS dot
        FROM long GROUP BY vec_id, p
    ),
    buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        FROM dots GROUP BY vec_id
    )
"""

def _sql_kmeans_cells() -> str:
    """Unrolled KM_ITERS-step spherical k-means + final assignment —
    the DuckDB twin of _centroids/_ivf_cells, generated so the two
    engines stay in lockstep on iteration count and rounding."""

    parts = [f"""
    {SQL_EPARAMS},
    emb64 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    samp AS (SELECT vec_id, v FROM emb64 WHERE vec_id % {KM_SAMPLE_MOD} = 0),
    cents0 AS (SELECT CAST(vec_id // {KM_SAMPLE_MOD} AS INT) AS cell, v AS cv
               FROM samp WHERE vec_id < {KM_SAMPLE_MOD} * (SELECT nc FROM eparams))"""]
    for k in range(1, KM_ITERS + 1):
        parts.append(f"""
    scored_km{k} AS (
        SELECT s.vec_id, s.v, c.cell,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                   round(list_cosine_similarity(s.v, c.cv), 6) DESC, c.cell ASC) AS rk
        FROM samp s, cents{k - 1} c),
    asg{k} AS (SELECT vec_id, v, cell FROM scored_km{k} WHERE rk = 1),
    dims{k} AS (SELECT cell, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
                FROM asg{k}),
    means{k} AS (SELECT cell, i,
                        round(sum(sign(x) * floor(abs(x) * {int(_KM_SCALE)} + 0.5))
                              / count(*) / {int(_KM_SCALE)}, 6) AS m
                 FROM dims{k} GROUP BY cell, i),
    cents{k} AS (SELECT cell, list(m ORDER BY i) AS cv FROM means{k} GROUP BY cell)""")
    parts.append(f"""
    cents AS (SELECT cell, cv FROM cents{KM_ITERS}),
    scored AS (
        SELECT e.vec_id, c.cell,
               round(list_cosine_similarity(e.v, c.cv), 6) AS sim,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                   c.cell ASC) AS rk
        FROM emb64 e, cents c),
    cells AS (SELECT vec_id, cell FROM scored WHERE rk = 1)""")
    return ",".join(parts)


_SQL_IVF_CELLS = _sql_kmeans_cells()

#: DuckDB twin of _l2sq: element-wise squared diffs via list_zip
#: (numeric struct indices — DuckDB's zip structs are unnamed), summed
#: in list order like Spark's left fold.
_SQL_L2 = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum')"
)


def _sql_pq_books() -> str:
    """Unrolled per-subspace L2 k-means + full-corpus encoding — the
    DuckDB twin of _pq_books/_pq_codes (expects emb64/eparams from
    _SQL_IVF_CELLS in scope)."""

    l2 = _SQL_L2.format(a="p.sv", b="b.cv")
    parts = [f"""
    parts AS (
        SELECT vec_id,
               s.sub,
               v[(s.sub * (len(v) // {PQ_M}) + 1):((s.sub + 1) * (len(v) // {PQ_M}))] AS sv
        FROM emb64,
             (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s
    ),
    sparts AS (SELECT * FROM parts WHERE vec_id % {KM_SAMPLE_MOD} = 0),
    books0 AS (
        SELECT sub, CAST(vec_id // {KM_SAMPLE_MOD} AS INT) AS code, sv AS cv
        FROM sparts
        WHERE vec_id < {KM_SAMPLE_MOD} * (SELECT nc FROM eparams)
    )"""]
    for k in range(1, KM_ITERS + 1):
        parts.append(f"""
    scored_pq{k} AS (
        SELECT p.vec_id, p.sub, p.sv, b.code,
               row_number() OVER (PARTITION BY p.vec_id, p.sub ORDER BY
                   round({l2}, 6) ASC, b.code ASC) AS rk
        FROM sparts p JOIN books{k - 1} b USING (sub)),
    asgp{k} AS (SELECT sub, code, sv FROM scored_pq{k} WHERE rk = 1),
    dimsp{k} AS (SELECT sub, code, generate_subscripts(sv, 1) - 1 AS i, unnest(sv) AS x
                 FROM asgp{k}),
    meansp{k} AS (SELECT sub, code, i,
                         round(sum(sign(x) * floor(abs(x) * {int(_KM_SCALE)} + 0.5))
                               / count(*) / {int(_KM_SCALE)}, 6) AS m
                  FROM dimsp{k} GROUP BY sub, code, i),
    books{k} AS (SELECT sub, code, list(m ORDER BY i) AS cv FROM meansp{k}
                 GROUP BY sub, code)""")
    parts.append(f"""
    books AS (SELECT sub, code, cv FROM books{KM_ITERS}),
    scored_enc AS (
        SELECT p.vec_id, p.sub, b.code,
               row_number() OVER (PARTITION BY p.vec_id, p.sub ORDER BY
                   round({l2}, 6) ASC, b.code ASC) AS rk
        FROM parts p JOIN books b USING (sub)),
    codes AS (SELECT vec_id, sub, code FROM scored_enc WHERE rk = 1)""")
    return ",".join(parts)


_SQL_PQ = _sql_pq_books()

ORACLES = {
    "sim_label_centroids": f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
        dims AS (
            SELECT label, i - 1 AS dim,
                   CAST(floor(v[CAST(i AS INT)] * {_KM_SCALE} + 0.5) AS BIGINT) AS q
            FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
        ),
        cent AS (
            SELECT label, dim, sum(q) / count(*) / {_KM_SCALE} AS m
            FROM dims GROUP BY label, dim
        ),
        cv AS (SELECT label, list(m ORDER BY dim) AS cv
               FROM cent GROUP BY label),
        norms AS (
            SELECT label,
                   round(sqrt(list_aggregate(
                       list_transform(cv, x -> x * x), 'sum')), 6)
                       AS centroid_norm
            FROM cv
        ),
        sc AS (
            SELECT e.label,
                   CAST(round(round(list_cosine_similarity(e.v, cv.cv), 6)
                              * 1000000.0) AS BIGINT) AS cq
            FROM e JOIN cv USING (label)
        ),
        agg AS (SELECT label, count(*) AS n_vecs, sum(cq) AS sc
                FROM sc GROUP BY label)
        SELECT a.label, a.n_vecs, n.centroid_norm,
               round(a.sc / a.n_vecs / 1000000.0, 6) AS mean_cos
        FROM agg a JOIN norms n USING (label)
    """,

    "sim_ivf_cell_sizes": f"""
        WITH {_SQL_IVF_CELLS}
        SELECT cell, count(*) AS n_vecs FROM cells GROUP BY cell
    """,
    "sim_ivf_topk": f"""
        WITH {_SQL_IVF_CELLS},
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        probe AS (
            SELECT c.cell FROM cents c, q
            ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cell ASC
            LIMIT {N_PROBE}
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probe ON probe.cell = cells.cell
        CROSS JOIN q
        WHERE e.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """,
    "sim_ivf_topk_batch": f"""
        WITH {_SQL_IVF_CELLS},
        qset AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id % {BATCH_QUERY_MOD} = 0),
        probe AS (
            SELECT qid, cell FROM (
                SELECT q.qid, c.cell,
                       row_number() OVER (PARTITION BY q.qid ORDER BY
                           round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                           c.cell ASC) AS rk
                FROM qset q, cents c)
            WHERE rk <= {N_PROBE}),
        cand AS (
            SELECT q.qid, e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                       AS cos_sim
            FROM embeddings e
            JOIN cells ON cells.vec_id = e.vec_id
            JOIN probe ON probe.cell = cells.cell
            JOIN qset q ON q.qid = probe.qid
            WHERE e.vec_id != q.qid)
        SELECT qid, vec_id, cos_sim FROM (
            SELECT qid, vec_id, cos_sim,
                   row_number() OVER (PARTITION BY qid ORDER BY
                       cos_sim DESC, vec_id ASC) AS rk
            FROM cand)
        WHERE rk <= {TOP_K}
    """,
    "sim_hard_negatives": f"""
        WITH {_SQL_IVF_CELLS},
        qset AS (SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id % {BATCH_QUERY_MOD} = 0),
        probe AS (
            SELECT qid, cell FROM (
                SELECT q.qid, c.cell,
                       row_number() OVER (PARTITION BY q.qid ORDER BY
                           round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                           c.cell ASC) AS rk
                FROM qset q, cents c)
            WHERE rk <= {N_PROBE}),
        cand AS (
            SELECT q.qid, e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                       AS cos_sim
            FROM embeddings e
            JOIN cells ON cells.vec_id = e.vec_id
            JOIN probe ON probe.cell = cells.cell
            JOIN qset q ON q.qid = probe.qid
            WHERE e.label != q.qlabel)
        SELECT qid, vec_id, cos_sim FROM (
            SELECT qid, vec_id, cos_sim,
                   row_number() OVER (PARTITION BY qid ORDER BY
                       cos_sim DESC, vec_id ASC) AS rk
            FROM cand)
        WHERE rk <= {TOP_K}
    """,
    "sim_ivf_pq_topk": f"""
        WITH {_SQL_IVF_CELLS},
        {_SQL_PQ},
        qparts AS (SELECT sub, sv AS qv FROM parts WHERE vec_id = {QUERY_VEC_ID}),
        lut AS (
            SELECT b.sub, b.code,
                   CAST(round(round({_SQL_L2.format(a="q.qv", b="b.cv")}, 6)
                              * 1000000.0) AS BIGINT) AS d2q
            FROM books b JOIN qparts q USING (sub)),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = {QUERY_VEC_ID}),
        probe AS (
            SELECT c.cell FROM cents c, q
            ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cell ASC
            LIMIT {N_PROBE}
        ),
        pcand AS (
            SELECT co.vec_id, l.d2q
            FROM codes co
            JOIN cells ce ON ce.vec_id = co.vec_id
            JOIN probe ON probe.cell = ce.cell
            JOIN lut l ON l.sub = co.sub AND l.code = co.code
            WHERE co.vec_id != {QUERY_VEC_ID})
        SELECT vec_id, round(sum(d2q) / 1000000.0, 6) AS adc_dist
        FROM pcand GROUP BY vec_id
        ORDER BY adc_dist ASC, vec_id ASC
        LIMIT {TOP_K}
    """,
    "sim_ivf_pq_rerank": f"""
        WITH {_SQL_IVF_CELLS},
        {_SQL_PQ},
        qparts AS (SELECT sub, sv AS qv FROM parts WHERE vec_id = {QUERY_VEC_ID}),
        lut AS (
            SELECT b.sub, b.code,
                   CAST(round(round({_SQL_L2.format(a="q.qv", b="b.cv")}, 6)
                              * 1000000.0) AS BIGINT) AS d2q
            FROM books b JOIN qparts q USING (sub)),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = {QUERY_VEC_ID}),
        probe AS (
            SELECT c.cell FROM cents c, q
            ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cell ASC
            LIMIT {N_PROBE}
        ),
        adc AS (
            SELECT co.vec_id, round(sum(l.d2q) / 1000000.0, 6) AS adc_dist
            FROM codes co
            JOIN cells ce ON ce.vec_id = co.vec_id
            JOIN probe ON probe.cell = ce.cell
            JOIN lut l ON l.sub = co.sub AND l.code = co.code
            WHERE co.vec_id != {QUERY_VEC_ID}
            GROUP BY co.vec_id),
        shortlist AS (
            SELECT vec_id FROM adc
            ORDER BY adc_dist ASC, vec_id ASC LIMIT {PQ_RERANK})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                   AS cos_sim
        FROM embeddings e
        JOIN shortlist s ON s.vec_id = e.vec_id
        CROSS JOIN q
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """,
    "sim_knn_brute_force": f"""
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                   AS cos_sim
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE e.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """,
    "sim_ann_lsh_buckets": f"""
        WITH {_SQL_BUCKETS}
        SELECT bucket, count(*) AS n_vecs FROM buckets GROUP BY bucket
    """,
    "sim_ann_lsh_topk": f"""
        WITH {_SQL_BUCKETS}
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                   AS cos_sim
        FROM embeddings e
        JOIN buckets be ON be.vec_id = e.vec_id
        JOIN buckets bq ON bq.vec_id = {QUERY_VEC_ID} AND be.bucket = bq.bucket
        JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q ON true
        WHERE e.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """,
}
