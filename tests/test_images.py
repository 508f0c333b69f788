"""Standalone image-folder source: scan, page-images extraction parity
with the serial kernels, and distributed rotate-images."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import make_synthetic_spread

from pdf_toolkit_spark import kernels as K
from pdf_toolkit_spark.corpus import corpus_config
from pdf_toolkit_spark.extract import extract_page
from pdf_toolkit_spark.pdfio.parser import ParsedPage
from pdf_toolkit_spark.pdfio.png import decode_gray_png, encode_gray_png
from pdf_toolkit_spark.spark.images import (
    extract_image_folder,
    read_image_folder,
    rotate_image_folder,
)

CFG = corpus_config()


@pytest.fixture(scope="module")
def image_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pngs")
    rng = np.random.default_rng(13)
    arrays = {
        "img000.png": make_synthetic_spread(),             # splits
        "img001.png": rng.integers(200, 250, size=(120, 90)).astype(np.uint8),
        "img002.png": rng.integers(200, 250, size=(100, 70)).astype(np.uint8),
    }
    for name, arr in arrays.items():
        (d / name).write_bytes(encode_gray_png(arr))
    (d / "ignored.txt").write_text("not an image")
    return str(d), arrays


def test_read_image_folder_globs_and_ids(spark, image_dir):
    path, arrays = image_dir
    df = read_image_folder(spark, path).orderBy("image_id")
    rows = df.collect()
    assert [r["image_id"] for r in rows] == sorted(arrays)
    for r in rows:
        assert np.array_equal(decode_gray_png(bytes(r["png"])), arrays[r["image_id"]])


def test_extract_image_folder_matches_serial_kernels(spark, image_dir):
    path, arrays = image_dir
    spans_df, records_df = extract_image_folder(spark, read_image_folder(spark, path), CFG)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    assert set(got) == set(arrays)
    for name, arr in arrays.items():
        h, w = arr.shape
        page = ParsedPage(index=0, width=w, height=h, rotate=0, scan=arr, items=[])
        result = extract_page(page, 0, CFG)
        expected = [
            {"kind": c.kind, "text": c.text, "media_ref": c.media_ref, "offset": i}
            for i, c in enumerate(result.candidates)
        ]
        assert got[name] == expected, name
    # the spread image must have gone through the split path (2 spans)
    assert len(got["img000.png"]) == 2
    # media rows carry each region blob
    media = records_df.filter("kind = 'media'").select("media_ref").distinct().count()
    assert media >= 4  # 2 spread halves + 2 crop-only regions


def test_rotate_image_folder_matches_kernel(spark, image_dir):
    path, arrays = image_dir
    out = rotate_image_folder(read_image_folder(spark, path), 90).collect()
    assert len(out) == len(arrays)
    for r in out:
        expected = K.rotate_image_cw(arrays[r["image_id"]], 90)
        assert np.array_equal(decode_gray_png(bytes(r["png"])), expected)


def test_rotate_image_folder_rejects_bad_degrees(spark, image_dir):
    from pdf_toolkit_spark.errors import UserError

    path, _ = image_dir
    with pytest.raises(UserError, match="90, 180, 270"):
        rotate_image_folder(read_image_folder(spark, path), 45)


def test_corrupt_image_is_isolated(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    (d / "ok.png").write_bytes(encode_gray_png(np.full((40, 30), 220, dtype=np.uint8)))
    (d / "broken.png").write_bytes(b"\x89PNG\r\n\x1a\ngarbage")
    spans_df, records_df = extract_image_folder(spark, read_image_folder(spark, str(d)), CFG)
    spans = {r["doc_id"] for r in spans_df.collect()}
    assert spans == {"ok.png"}
    errs = records_df.filter("status = 'error'").select("doc_id").collect()
    assert {r["doc_id"] for r in errs} == {"broken.png"}
    rotated = {r["image_id"]: r for r in
               rotate_image_folder(read_image_folder(spark, str(d)), 90).collect()}
    assert rotated["ok.png"]["status"] == "written" and rotated["ok.png"]["error"] is None
    assert rotated["broken.png"]["status"] == "error"
    assert rotated["broken.png"]["png"] is None and rotated["broken.png"]["error"]


def test_images_plan_shuffles_span_rows_once(spark, image_dir):
    """The span branch rides ONE doc_id exchange after the UDF (shared
    with the PDF pipeline): no separate strip-window exchange."""

    import re

    from pdf_toolkit_spark.spark.session import explain_str

    path, _ = image_dir
    spans_df, _ = extract_image_folder(spark, read_image_folder(spark, path), CFG)
    plan = explain_str(spans_df, "formatted")
    assert plan.count("MapInArrow") >= 1 and "MapInPandas" not in plan
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert sorted(k.split("#")[0] for k in keys) == ["doc_id", "image_id"]


def test_images_job_cli_rotate_and_page_images(spark, image_dir, tmp_path):
    """argv-level twins of the reference's `rotate images` /
    `page-images` commands (reference cli.py:178-307), smoke-tested
    in-process with the shared session."""

    import importlib.util
    import json as _json
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "images_job", Path(__file__).resolve().parents[1] / "jobs" / "images_job.py")
    images_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(images_job)
    path, arrays = image_dir

    rot_out = str(tmp_path / "rot")
    rc = images_job.main(
        ["rotate", "--input", path, "--output", rot_out, "--degrees", "90"],
        _spark=spark)
    assert rc == 0
    rows = {r["image_id"]: bytes(r["png"])
            for r in spark.read.parquet(rot_out).collect()}
    assert set(rows) == set(arrays)
    got = decode_gray_png(rows["img001.png"])
    assert np.array_equal(got, K.rotate_image_cw(arrays["img001.png"], 90))

    pi_out = str(tmp_path / "pi")
    rc = images_job.main(
        ["page-images", "--input", path, "--output", pi_out, "--run-id", "cli1"],
        _spark=spark)
    assert rc == 0
    spans = spark.read.parquet(f"{pi_out}/spans")
    assert spans.count() == len(arrays)
    lineage = spark.read.parquet(f"{pi_out}/lineage")
    assert lineage.filter("run_id = 'cli1'").count() == len(arrays)
    # the spread image really went down the split path
    media = spark.read.parquet(f"{pi_out}/media")
    assert media.count() >= 1
