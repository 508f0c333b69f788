"""Ops-layer parity: every queries() entry vs its DuckDB oracle_sql()
twin, compared the way the driver does (column names sorted, row
multiset, exact values). Plus rows-only checks for non-SQL ops."""

from __future__ import annotations

import math

import duckdb
import pytest

from pdf_toolkit_spark.ops import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

QUERIES = all_queries()
ORACLES = all_oracles()


def _duck(sql: str, sf_dir: str = SF_DIR, tables=TABLES):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df):
    """Canonical form: columns sorted by name, rows sorted, plain python
    values with floats rounded to 9 dp (queries already round their own
    outputs; this only absorbs representation noise)."""

    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(round(v, 9))
            elif hasattr(v, "item"):  # numpy scalar
                item = v.item()
                vals.append(round(item, 9) if isinstance(item, float) else item)
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return cols, out


def _assert_matches_oracle(spark, name, sf_dir=SF_DIR, tables=TABLES):
    spark_df = QUERIES[name](spark, sf_dir).toPandas()
    duck_df = _duck(ORACLES[name], sf_dir, tables)
    s_cols, s_rows = _canon(spark_df)
    d_cols, d_rows = _canon(duck_df)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)} rows"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark):
    _assert_matches_oracle(spark, name)


#: The vector-math queries (numpy batch stages, folds, grouped dgemm),
#: checked at every scale factor: their capacity parameters (planes,
#: cells, codebook sizes) and batch shapes change with corpus size.
EMBEDDING_QUERIES = sorted(
    n for n in ORACLES if n.startswith("sim_") or n in (
        "dedup_embedding_neardup", "dedup_embedding_neardup_lsh", "dedup_semantic")
)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
@pytest.mark.parametrize("name", EMBEDDING_QUERIES)
def test_embedding_query_matches_oracle_at_scale(name, sf, spark):
    _assert_matches_oracle(spark, name, SF_DIR.replace("sf0.001", sf))


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_non_sql_queries_run_and_return_rows(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() > 0


def test_multimodal_metadata_matches_local_stub(spark):
    """Exactness for the stub decoder: Spark output == local
    re-computation over the same payload bytes."""

    import pandas as pd

    from pdf_toolkit_spark.ops.multimodal import fake_decode_header

    got = (
        QUERIES["mm_media_metadata"](spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").sort_values("doc_id")
    for _, row in got.head(50).iterrows():
        text = docs.loc[docs["doc_id"] == row["doc_id"], "text"].iloc[0]
        meta = fake_decode_header(text.encode("utf-8"))
        assert row["n_bytes"] == len(text.encode("utf-8"))
        for k in ("format", "width", "height", "thumb_ref"):
            assert row[k] == meta[k], (row["doc_id"], k)


def test_capacity_params_scale_with_corpus(spark):
    """LSH/IVF/SimHash capacity constants are corpus-derived, not
    fixed: pins the derivation functions across scales (incl. clamps)
    and checks realized bucket occupancy at the test sf."""

    from pdf_toolkit_spark.ops.dedup import sim_band_bits_for
    from pdf_toolkit_spark.ops.similarity import cells_for, planes_for

    assert planes_for(500) == 8 and cells_for(500) == 23
    assert planes_for(50_000) == 12 and cells_for(50_000) == 224
    assert planes_for(5_000_000) == 19
    assert planes_for(10**12) == 24 and cells_for(10**12) == 4096  # clamps
    assert sim_band_bits_for(500) == 20 and sim_band_bits_for(10**9) == 30
    # realized occupancy: mean bucket load stays within 4x of target
    buckets = QUERIES["sim_ann_lsh_buckets"](spark, SF_DIR).toPandas()
    n = int(buckets["n_vecs"].sum())
    assert n / len(buckets) <= 4 * 16
    # IVF cell count tracks the sqrt(n) derivation (allow empty cells)
    cells = QUERIES["sim_ivf_cell_sizes"](spark, SF_DIR).toPandas()
    assert cells_for(n) // 2 <= len(cells) <= cells_for(n)


def test_every_query_has_unique_aliased_columns(spark):
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        cols = df.columns
        assert len(cols) == len(set(cols)), f"{name}: duplicate columns {cols}"
        assert all("(" not in c for c in cols), f"{name}: unaliased column in {cols}"


def test_curate_job_cli_smoke(spark, tmp_path):
    """The curation CLI writes survivors + per-gate metrics; survivor
    count matches the library query (same session injection pattern as
    the other jobs CLIs)."""

    import importlib.util
    from pathlib import Path as _P

    spec = importlib.util.spec_from_file_location(
        "curate_job", _P(__file__).resolve().parents[1] / "jobs" / "curate_job.py")
    curate_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(curate_job)

    out = str(tmp_path / "cur")
    rc = curate_job.main(
        ["--input", SF_DIR, "--output", out], _spark=spark)
    assert rc == 0
    survivors = spark.read.parquet(f"{out}/survivors")
    assert survivors.count() == QUERIES["curate_survivors"](spark, SF_DIR).count()
    m = spark.read.parquet(f"{out}/metrics").collect()[0].asDict()
    assert m["docs_in"] == 500 and m["survivors"] == survivors.count()
    assert m["survivors"] + m["quality_dropped"] <= m["docs_in"]


def test_sample_quantiles_exact_branch_matches_oracle(spark):
    """The gated include_exact=True branch (accuracy harness only — the
    shipped query is sample-only) still matches its DuckDB twin
    value-for-value, exercising the integer ceil-rank arithmetic on the
    full orders sort."""

    from pdf_toolkit_spark.ops.sketches import (
        SAMPLE_QUANTILES_EXACT_SQL,
        sample_quantiles,
    )

    spark_df = sample_quantiles(spark, SF_DIR, include_exact=True).toPandas()
    duck_df = _duck(SAMPLE_QUANTILES_EXACT_SQL)
    s_cols, s_rows = _canon(spark_df)
    d_cols, d_rows = _canon(duck_df)
    assert s_cols == d_cols and s_rows == d_rows


def test_sample_quantiles_shipped_plan_has_no_full_sort(spark):
    """The shipped sketch scans orders ONCE (the TakeOrdered sample
    path); the exact branch's second scan + global sort of orders is
    the cost the sketch exists to avoid at 100 TB."""

    from pdf_toolkit_spark.ops.sketches import sample_quantiles
    from pdf_toolkit_spark.spark.session import explain_str

    plan = explain_str(QUERIES["sketch_sample_quantiles"](spark, SF_DIR), "formatted")
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "TakeOrdered" in plan
    exact_plan = explain_str(
        sample_quantiles(spark, SF_DIR, include_exact=True), "formatted")
    assert exact_plan.count("Location: InMemoryFileIndex") == 2


def test_dsir_log2_quantization_agrees_across_engines_at_boundaries(spark):
    """The dsir_weight / trigram_lm_score quantization
    ``sign(lr) * floor(abs(lr) * 4096 + 0.5)`` takes log2 of
    engine-identical double arguments; the residual risk (ADVICE r05)
    is a 1-ulp log2 implementation difference flipping a bucket
    EXACTLY at a quantization boundary. Evidence the tolerance: sweep
    integer quadruples (a,b,c,d), keep the ones whose
    ``lr = log2(a/b) - log2(c/d)`` lands closest to a boundary, and
    assert Spark (JVM log), DuckDB, and CPython agree on the
    quantized value for every one of them."""

    import math

    quads = []
    for a in range(1, 120):
        for b in range(1, 40):
            for c, d in ((3, 7), (11, 513), (513, 1024), (1, 512)):
                lr = math.log2(a / b) - math.log2(c / d)
                frac = abs(abs(lr) * 4096 + 0.5) % 1.0
                quads.append((min(frac, 1.0 - frac), a, b, c, d))
    quads.sort()
    rows = [(a, b, c, d) for _, a, b, c, d in quads[:512]]

    def py_q(a, b, c, d):
        lr = math.log2(a / b) - math.log2(c / d)
        return int(math.copysign(math.floor(abs(lr) * 4096 + 0.5), lr))

    expected = {r: py_q(*r) for r in rows}

    sdf = spark.createDataFrame(rows, "a long, b long, c long, d long")
    from pyspark.sql import functions as F

    lr = F.log2(F.col("a") / F.col("b")) - F.log2(F.col("c") / F.col("d"))
    got_spark = {
        (r["a"], r["b"], r["c"], r["d"]): int(r["q"])
        for r in sdf.select(
            "a", "b", "c", "d",
            (F.signum(lr) * F.floor(F.abs(lr) * 4096 + F.lit(0.5)))
            .cast("long").alias("q"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT, c BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    got_duck = {
        (a, b, c, d): int(q)
        for a, b, c, d, q in con.execute(
            """SELECT a, b, c, d,
                      CAST(sign(log2(a/b) - log2(c/d)) *
                           floor(abs(log2(a/b) - log2(c/d)) * 4096 + 0.5)
                           AS BIGINT)
               FROM t"""
        ).fetchall()
    }

    assert got_spark == expected
    assert got_duck == expected


def test_release_caches_forgets_embedding_width(spark, tmp_path):
    """The LSH hyperplanes take their width from each batch of vectors,
    so nothing width-dependent may outlive release_caches(). Rewrite
    one directory from 8-wide to 64-wide embeddings, releasing in
    between: both widths must still hash like the oracle."""

    from pdf_toolkit_spark.ops import similarity

    src, dst = f"{SF_DIR}/embeddings.parquet", tmp_path / "embeddings.parquet"
    con = duckdb.connect()
    for width in (8, 64):
        con.execute(
            f"COPY (SELECT vec_id, embedding[1:{width}] AS embedding, label "
            f"FROM '{src}') TO '{dst}' (FORMAT parquet)"
        )
        _assert_matches_oracle(spark, "sim_ann_lsh_buckets", str(tmp_path), ["embeddings"])
        similarity.release_caches()


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def test_release_caches_leaves_nothing_resident(spark):
    """Every ops cache lives in the one registry in ops/common.py:
    after the queries that fill it (keyed relations, dedup and
    similarity relations, counts, a keyless pin) release_caches()
    leaves the registry empty and the cached storage where it was, and
    the queries still rebuild correctly. Repeat connected-components
    calls hold one labels relation, not one per call."""

    import time

    from pyspark import StorageLevel

    from pdf_toolkit_spark.ops import common, dedup

    common.release_caches()
    before = _storage_bytes(spark)
    for name in ("text_trigram_lm_score", "dedup_minhash_lsh_pairs",
                 "sim_ivf_topk", "mm_phash_pairs"):
        QUERIES[name](spark, SF_DIR).toPandas()
    kinds = {key[0] for key in common._CACHE}
    assert {"lm_doc_tri", "shingles", "centroids", "n_vecs", "pin"} <= kinds, kinds
    deadline = time.monotonic() + 30  # storage figures arrive via the listener bus
    while _storage_bytes(spark) == before and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _storage_bytes(spark) > before

    common.release_caches()
    assert common._CACHE == {}
    assert _storage_bytes(spark) == before
    _assert_matches_oracle(spark, "sim_ivf_topk")

    first = dedup.dedup_components(spark, SF_DIR)
    second = dedup.dedup_components(spark, SF_DIR)
    labels = [key for key in common._CACHE if key[0] == "cc_labels"]
    assert labels == [("cc_labels", SF_DIR)]
    assert common._CACHE[labels[0]] is second
    assert first.storageLevel == StorageLevel.NONE
    common.release_caches()
