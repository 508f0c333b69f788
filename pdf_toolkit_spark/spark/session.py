"""SparkSession factory with the engine's default tuning.

Local mode stands in for a multi-executor cluster (the sandbox has no
real one); the knobs below are the ones that matter at fleet scale:
AQE (runtime re-planning + skew-join handling), Arrow batching for the
Python stage boundary, and shuffle partitioning sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_of_ram() -> str:
    """Half of the host's RAM (MemTotal in /proc/meminfo) as a JVM size."""

    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{kib // 2048}m"


def get_spark(
    app_name: str = "pdf-toolkit-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession on local[cores].

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster, drop the ``master`` call and submit with
    ``spark-submit --py-files pdf_toolkit_spark.zip``.
    """

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(32, cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PDF payloads are MBs: keep Arrow batches small so executor
        # Python workers never hold many documents at once.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        # Same reasoning for the vectorized parquet reader and the
        # in-memory cache: the default 4096/10000-row batches mean
        # multi-GB buffers per task on fat binary rows (GC storm that
        # worsens with parallelism).
        .config("spark.sql.parquet.columnarReaderBatchSize", "32")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "32")
        .config("spark.sql.session.timeZone", "UTC")
        # Python workers are NOT reused across tasks: Spark 4.1's
        # single-threaded PythonRunner re-registers a reused worker's
        # socket with a fresh selector on every reacquisition
        # (PythonWorker.refresh), and under many short Python stages we
        # reproduced a permanent wedge — task thread parked in
        # selector.select() while the worker sat blocked in write()
        # with both kernel socket queues full (33 MB recv / 4 MB send),
        # i.e. the select was waiting on a selector that no longer saw
        # the socket's readiness. Fresh workers register exactly once,
        # eliminating the race. The price is a fork from pyspark.daemon
        # per task: about 0.25 s of core time per task, measured on a
        # 4-core host at local[4] over 64 trivial mapInPandas tasks
        # (6.5-9.4 s without reuse against 3.1-3.8 s with it). Most of
        # that is each fresh worker's pandas import (about 0.33 s and
        # 38 MB on the same host); every per-row and vector stage is an
        # Arrow stage that never imports pandas (spark/records.py
        # row_stage and batch_stage), so their tasks pay only the fork.
        # Only the streaming pandas stages still pay that import. The
        # idle watchdog below turns any residual stall into a log line
        # instead of a silent hang.
        .config("spark.python.worker.reuse", "false")
        .config("spark.python.worker.idleTimeoutSeconds", "600")
        # Local mode: the driver JVM IS the executor, so size its heap
        # to the box (guide §9 / §5): the sf1.0 fixture corpus persists
        # ~32 GiB of PDF rows, which overflows a 48g heap's storage
        # pool (0.6 x heap) and silently spills the cache to disk —
        # the extraction arm then re-reads the corpus from spill files.
        # Half of RAM keeps that cache resident on a 128 GiB host and
        # leaves the other half to the Python workers on a small one
        # (a fixed 80g let the heap grow past 10 GB on a 16 GB host
        # without swap); on a real cluster this knob is per-executor
        # memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_of_ram())
        .config("spark.ui.enabled", "false")
    )
    # Local-mode shuffle dir on tmpfs (stand-in for cluster NVMe): the
    # salting repartition moves raw PDF bytes once; don't bottleneck the
    # scaling measurement on a shared sandbox disk.
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = builder.config("spark.local.dir", f"{shm}/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def explain_str(df, mode: str = "formatted") -> str:
    """The physical plan as a string (what DataFrame.explain prints)."""

    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
