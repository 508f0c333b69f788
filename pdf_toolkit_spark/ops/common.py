"""Shared helpers for the ops layer.

The cross-engine hash primitive: hash32(s) = first 8 hex chars of
md5(s) as an unsigned 32-bit integer. md5 is identical everywhere, so
Spark, DuckDB, and Python all derive the same integers — which is what
makes MinHash/SimHash/LSH oracle-checkable across engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: XOR salts for the MinHash family: sig_j = min over shingles of
#: (hash32(shingle) XOR salt_j). One md5 per shingle + J cheap XORs
#: instead of J md5s; salts derive from md5 so Python, Spark, and
#: DuckDB agree on the exact integers.
MINHASH_SALTS = [
    int(hashlib.md5(f"minhash:{j}".encode()).hexdigest()[:8], 16) for j in range(64)
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def hash32(col: Column) -> Column:
    """First 32 bits of md5 as bigint (same as DuckDB
    ``('0x' || substr(md5(x),1,8))::BIGINT``)."""

    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash60(col: Column) -> Column:
    """First 60 bits of md5 as bigint (15 hex chars; stays in int64)."""

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def norm_text(col: Column) -> Column:
    """Canonical text normalization shared by all text ops:
    lowercase, non-alphanumerics collapsed to single spaces, trimmed."""

    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


#: DuckDB spellings of the same primitives (kept adjacent so the pair
#: stays in lockstep when either changes).
SQL_HASH32 = "(('0x' || substr(md5({e}),1,8))::BIGINT)"
SQL_HASH60 = "(('0x' || substr(md5({e}),1,15))::BIGINT)"
SQL_NORM = "trim(regexp_replace(lower({e}), '[^a-z0-9]+', ' ', 'g'))"

#: The ops cache registry, the only one: relations persisted for reuse
#: and memoized scalars (row counts), keyed by
#: (kind, sf_dir), plus keyless per-query pins. Spark has no
#: cross-branch subplan sharing, so a relation feeding N plan branches
#: (or N queries) would otherwise be recomputed N times.
#: :func:`release_caches` drops everything in it.
_CACHE: dict[tuple, object] = {}


def cached(key: tuple, build):
    """Build once per ``key`` and hold the result until
    :func:`release_caches`: a relation is persisted, a scalar is
    stored as-is."""

    if key not in _CACHE:
        value = build()
        _CACHE[key] = value.persist() if isinstance(value, DataFrame) else value
    return _CACHE[key]


def replace_cached(key: tuple, df: DataFrame) -> DataFrame:
    """Hold the already-persisted ``df`` under ``key``, unpersisting the
    relation it replaces (for results a repeat call recomputes)."""

    old = _CACHE.pop(key, None)
    if old is not None:
        old.unpersist()
    _CACHE[key] = df
    return df


def register_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and hold it, keyless, until :func:`release_caches`.

    Release timing caveat: for most relations a late unpersist only
    costs a recompute, but :func:`prefix_scan`'s intermediate is
    NON-recomputable (the range partitioner re-samples boundaries),
    so callers that must release mid-session pass prefix_scan an
    explicit ``pins`` list and unpersist exactly their own pins —
    never the process-global :func:`release_caches`, which would
    yank every other in-flight query's pins too."""

    _CACHE[("pin", id(df))] = df.persist()
    return df


def release_caches() -> None:
    """Unpersist every held relation and forget every memoized scalar.
    Call between corpora (or per bench entry) in a long-lived session."""

    for value in _CACHE.values():
        if isinstance(value, DataFrame):
            value.unpersist()
    _CACHE.clear()


def prefix_scan(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_parts: int = 32,
    pins: list | None = None,
) -> DataFrame:
    """Global EXCLUSIVE prefix sum of ``value_col`` under the total
    order ``order_cols`` — the fleet-scale replacement for a
    ``Window.orderBy(...)`` with no partitionBy (which serializes the
    whole corpus through ONE task).

    Classic two-pass formulation:

    1. range-repartition on the order key (contiguous key ranges per
       partition, so partition id order == key order), then a window
       PARTITIONED by partition id computes local exclusive sums — all
       partitions in parallel, no single-reducer exchange;
    2. per-partition totals (one row per partition) collect to the
       driver for a tiny exclusive scan, broadcast back, and each
       row's offset is ``partition_base + local_sum``.

    The intermediate relation is persisted: the range partitioner
    samples its boundaries, so the pid→base map from pass 2 is only
    valid for the exact partitioning pass 1 produced — a recompute
    could re-sample different boundaries. Persisting pins it (held in
    the ops cache registry; :func:`release_caches` reclaims it).
    """

    from pyspark.sql import Window

    parts = df.repartitionByRange(num_parts, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pinned = parts.withColumn(
        "__local",
        F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("bigint"),
    )
    if pins is None:
        local = register_persist(pinned)
    else:
        # caller-scoped pin: the caller unpersists exactly this
        # relation when ITS consumers are done (see register_persist's
        # release-timing caveat)
        local = pinned.persist()
        pins.append(local)
    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__tot")).collect()
    acc, rows = 0, []
    for r in sorted(totals, key=lambda r: r["__pid"]):
        rows.append((r["__pid"], acc))
        acc += r["__tot"]
    base = df.sparkSession.createDataFrame(rows, schema="__pid int, __base bigint")
    return (
        local.join(F.broadcast(base), "__pid")
        .withColumn(out_col, (F.col("__base") + F.col("__local")).cast("bigint"))
        .drop("__pid", "__local", "__base")
    )
