"""Analytics workload: a fixed, ordered list of ``ops`` queries in one
session, as a closed loop of passes. Before each pass the ops module
caches are released, so every pass pays its own index builds."""

from __future__ import annotations

import math
import statistics
import time
from pathlib import Path

import duckdb

#: One query per ops family but sketches and curation, each a round-7
#: regression leaf or the owner of a shared index build. A longer list
#: does not fit a run: the 22-query list takes about 36 s per warm pass
#: on 4 cores, and text_perplexity_tier_thresholds, sim_ivf_pq_topk,
#: sketch_kmv_set_ops and curate_domain_quota alone 24 s.
QUERIES = (
    "text_trigram_lm_score",    # builds the trigram counts
    "dedup_minhash_lsh_pairs",  # builds the shingles
    "sim_ivf_topk",             # builds the IVF centroids
    "mm_phash_pairs",
    "rel_sessionization",
)

#: index -> the query whose first call builds it
INDEX_OWNERS = {
    "trigram": "text_trigram_lm_score",
    "shingles": "dedup_minhash_lsh_pairs",
    "ivf_centroids": "sim_ivf_topk",
}

FAMILIES = {
    "text": "text_", "dedup": "dedup_", "similarity": "sim_", "multimodal": "mm_",
    "relational": "rel_",
}


def family_of(query: str) -> str:
    return next(f for f, prefix in FAMILIES.items() if query.startswith(prefix))


def release_caches() -> None:
    from pdf_toolkit_spark.ops import common, dedup, similarity

    common.release_caches()
    dedup.release_caches()
    similarity.release_caches()


def canonical(df) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted, floats rounded to 9 places:
    the comparison the repository's oracle tests make."""

    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 9)
            vals.append(v)
        rows.append(tuple(vals))
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return cols, rows


class Analytics:
    def __init__(self, tables: Path, manifest: dict, checks) -> None:
        from pdf_toolkit_spark.ops import all_oracles, all_queries

        self.tables = str(tables)
        self.manifest = manifest
        self.checks = checks
        self.queries = all_queries()
        oracles = all_oracles()
        con = duckdb.connect()
        for t in manifest["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        # the DuckDB twins, computed once per invocation
        self.expected = {q: canonical(con.execute(oracles[q]).fetchdf()) for q in QUERIES}
        con.close()

    def register(self, spark) -> None:
        for t in self.manifest["tables"]:
            spark.read.parquet(f"{self.tables}/{t}.parquet")

    def run_query(self, spark, name: str) -> float:
        """Time one query to a collected result, then check it."""

        t0 = time.monotonic()
        result = self.queries[name](spark, self.tables).toPandas()
        dt = time.monotonic() - t0
        self.checks.check(f"{name} equals its DuckDB oracle", canonical(result) == self.expected[name])
        return dt

    def one_pass(self, spark) -> dict[str, float]:
        release_caches()
        try:
            return {q: self.run_query(spark, q) for q in QUERIES}
        finally:
            release_caches()

    def warm_up(self, spark) -> None:
        """One whole pass, untimed: the Python workers' imports, the
        JVM's shared query paths and the compiled paths of the
        index-building queries. Without it, the timed pass was the first
        to run the index builders and took 1.5-2 times as long as the
        passes after it, by how busy the host was while they compiled."""

        self.one_pass(spark)

    def loop(self, spark, seconds: float) -> list[dict[str, float]]:
        passes: list[dict[str, float]] = []
        start = time.monotonic()
        while not passes or time.monotonic() - start < seconds:
            passes.append(self.one_pass(spark))
        return passes

    def traced_pass(self, spark) -> dict[str, float]:
        """Each query under its own job group; the owners of shared
        indexes are called twice in a row, and the difference is the
        index build. Storage held by cached relations is read after every
        query."""

        sc = spark.sparkContext
        layers: dict[str, float] = {}
        cache_peak = 0
        release_caches()
        try:
            for q in QUERIES:
                sc.setJobGroup(q, q)
                layers[f"q.{q}_s"] = self.run_query(spark, q)
                infos = sc._jsc.sc().getRDDStorageInfo()
                cache_peak = max(cache_peak, sum(i.memSize() + i.diskSize() for i in infos))
                for index, owner in INDEX_OWNERS.items():
                    if owner == q:
                        sc.setJobGroup("again", "again")
                        layers[f"ops.index_build_s.{index}"] = layers[f"q.{q}_s"] - self.run_query(spark, q)
        finally:
            sc.setJobGroup("", "")
            release_caches()
        layers["ops.cache_bytes_peak"] = cache_peak
        return layers


def summarize(passes: list[dict[str, float]]) -> dict:
    totals = [sum(p.values()) for p in passes]
    per_query = {q: statistics.median(p[q] for p in passes) for q in QUERIES}
    return {
        "analytics_s": statistics.median(totals),
        "query_p50_s": statistics.median(per_query.values()),
        "query_max_s": max(per_query.values()),
        "queries_per_s": statistics.median(len(QUERIES) / t for t in totals),
        "passes": len(passes),
        "per_query_s": per_query,
    }
