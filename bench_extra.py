#!/usr/bin/env python
"""Ad-hoc per-query measurement harness (round 7 optimization work).

The frozen driver bench (bench.py) is the measurement of record; this
tool exists to ISOLATE queries for optimization: per-query wall times
with the same ``.count()`` methodology (or a noop sink), optional
cache release between queries, and ``.explain("formatted")`` capture
for the plans/r07 evidence files.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 \
    python bench_extra.py [--noop] [--isolate] [--repeat N] \
      [--explain plans/r07 --tag before] [query ...]

Special query names: ``corpus_gen`` (documents_as_pdfs + stats agg) and
``extraction`` (full pipeline over the synthesized corpus), mirroring
the frozen bench's extraction headline.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (bench.py headliner names)")
    ap.add_argument("--noop", action="store_true", help="noop sink instead of count()")
    ap.add_argument("--isolate", action="store_true", help="release shared caches between queries")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--tag", default="before", help="suffix for explain files (before/after)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from pdf_toolkit_spark.corpus import corpus_config
    from pdf_toolkit_spark.ops import all_queries, common
    from pdf_toolkit_spark.ops.extraction_queries import documents_as_pdfs
    from pdf_toolkit_spark.spark.job import build_pipeline
    from pdf_toolkit_spark.spark.session import explain_str, get_spark

    spark = get_spark(app_name="pdf-toolkit-spark-bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    timings: dict[str, list[float]] = {}

    def run_one(name: str) -> float:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.monotonic()
        if name == "corpus_gen":
            raw = documents_as_pdfs(spark, sf_dir).persist()
            raw.agg(F.count("*"), F.sum("n_pages")).collect()
            sec = time.monotonic() - t0
            raw.unpersist()
            return sec
        if name == "extraction":
            raw = documents_as_pdfs(spark, sf_dir).persist()
            raw.count()
            t0 = time.monotonic()
            spans, _ = build_pipeline(spark, raw, corpus_config())
            spans.count()
            sec = time.monotonic() - t0
            raw.unpersist()
            return sec
        df = queries[name](spark, sf_dir)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        return time.monotonic() - t0

    for name in args.queries:
        if args.explain and name not in ("corpus_gen", "extraction"):
            out = Path(args.explain)
            out.mkdir(parents=True, exist_ok=True)
            plan = explain_str(queries[name](spark, sf_dir))
            (out / f"{name}_{args.tag}.txt").write_text(plan)
        for _ in range(args.repeat):
            timings.setdefault(name, []).append(round(run_one(name), 3))
        if args.isolate:
            common.release_caches()

    common.release_caches()
    print(json.dumps({"sf_dir": sf_dir, "cores": cores,
                      "noop": args.noop, "isolate": args.isolate,
                      "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
