#!/usr/bin/env python
"""spark-submit entry point for the image-folder jobs — the CLI twins
of the reference's ``page-images`` and ``rotate images`` commands over
a directory of PNGs (reference cli.py:178-307), with the same config
precedence as the extraction job (defaults < YAML < flags).

Cluster:
    spark-submit --py-files pdf_toolkit_spark.zip jobs/images_job.py \
        page-images --input s3://bucket/scans/ --output s3://bucket/prepped/

Local smoke:
    python jobs/images_job.py page-images --input /tmp/pngs --output /tmp/out
    python jobs/images_job.py rotate --input /tmp/pngs --output /tmp/rot --degrees 90
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
import uuid
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main(argv: list[str] | None = None, _spark=None) -> int:
    """``_spark``: inject an existing session (in-process smoke tests —
    a second concurrent SparkSession per JVM is not supported); the
    injected session is left running."""

    ap = argparse.ArgumentParser(description="Distributed image-folder jobs")
    sub = ap.add_subparsers(dest="command", required=True)

    pi = sub.add_parser("page-images", help="kernel pipeline over an image folder")
    pi.add_argument("--input", required=True, help="directory of images")
    pi.add_argument("--output", required=True, help="output root (spans/, lineage/, metrics/)")
    pi.add_argument("--pattern", default="*.png", help="glob filter (default *.png)")
    pi.add_argument("--config", help="YAML config file")
    pi.add_argument("--mode", choices=["auto", "split", "crop"], default=None)
    pi.add_argument("--run-id", default=None)
    pi.add_argument("--cores", type=int, default=None)

    rot = sub.add_parser("rotate", help="rotate every image clockwise")
    rot.add_argument("--input", required=True)
    rot.add_argument("--output", required=True, help="parquet dir for (image_id, png)")
    rot.add_argument("--pattern", default="*.png")
    rot.add_argument("--degrees", type=int, required=True, choices=[90, 180, 270])
    rot.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)

    from pdf_toolkit_spark.config import effective_config, load_yaml
    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.spark.images import (
        extract_image_folder,
        read_image_folder,
        rotate_image_folder,
    )
    from pdf_toolkit_spark.spark.session import get_spark

    command = subprocess.list2cmdline(
        ["images_job.py", *(argv if argv is not None else sys.argv[1:])]
    )
    spark = _spark or get_spark(app_name=f"pdf-toolkit-{args.command}", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    started = time.monotonic()
    try:
        images = read_image_folder(spark, args.input, args.pattern)
        if args.command == "rotate":
            rotated = rotate_image_folder(images, args.degrees)
            rotated.write.mode("overwrite").parquet(args.output)
            n = {r["status"]: r["count"] for r in
                 spark.read.parquet(args.output).groupBy("status").count().collect()}
            metrics = {
                "command": command,
                "images_rotated": n.get("written", 0),
                "images_failed": n.get("error", 0),
                "degrees": args.degrees,
                "elapsed_sec": time.monotonic() - started,
            }
        else:
            overrides = {"mode": args.mode} if args.mode else {}
            yaml_cfg = load_yaml(Path(args.config)) if args.config else None
            cfg = effective_config(yaml_cfg, overrides)
            run_id = args.run_id or f"run-{uuid.uuid4().hex[:8]}"
            spans, records = extract_image_folder(spark, images, cfg)
            records = records.persist()
            try:
                from pyspark.sql import functions as F

                spans.write.mode("overwrite").parquet(f"{args.output}/spans")
                media = (
                    records.filter(F.col("kind") == "media")
                    .groupBy("media_ref")
                    .agg(F.first("media_png").alias("png_bytes"))
                )
                media.write.mode("overwrite").parquet(f"{args.output}/media")
                lineage = records.filter(F.col("lineage_json").isNotNull()).select(
                    F.lit(run_id).alias("run_id"),
                    F.col("doc_id"),
                    "page_no",
                    "status",
                    F.col("lineage_json").alias("detail_json"),
                    F.current_timestamp().alias("recorded_at"),
                )
                lineage.write.mode("overwrite").parquet(f"{args.output}/lineage")
                agg = records.filter(F.col("lineage_json").isNotNull()).agg(
                    F.count("*").alias("images_seen"),
                    F.sum("spreads_split").alias("spreads_split"),
                    F.sum("crop_only").alias("crop_only"),
                ).collect()[0]
                metrics = {
                    "run_id": run_id,
                    "command": command,
                    "images_processed": int(agg["images_seen"] or 0),
                    "spreads_split": int(agg["spreads_split"] or 0),
                    "crop_only": int(agg["crop_only"] or 0),
                    "elapsed_sec": time.monotonic() - started,
                }
            finally:
                records.unpersist()
    except UserError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    finally:
        if _spark is None:
            spark.stop()

    print(json.dumps(metrics, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
