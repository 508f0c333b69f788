"""Per-document extraction pipeline (pure Python + NumPy; no Spark).

This is the kernel the distributed job wraps in ``mapInArrow`` — and,
run serially over a whole document, the per-doc oracle for the
span-sequence-equality gate (distributed output must match this
byte-for-byte).

Pipeline per page (composing the reference's commands C1-C5, see
SURVEY.md §2.9):

1. parse      — xref walk + content tokenizer (pdfio.parser; the
                reference's ``fitz.open``, render.py:89)
2. normalize  — rotate raster + item coords upright per /Rotate
                ("rotations fixed", rotate.py:110-113)
3. spread     — aspect-ratio detect (page_images.py:118-123); when
                split: gutter argmin scan, split, per-half crop,
                symmetry strategy, conditional recrop
                (page_images.py:764-848); else crop-only with outer
                clamp forced off (page_images.py:891-909)
4. emit       — ordered span candidates: text items in content-stream
                order within their region, then the region's rendered
                scan as an image span (media_ref = content hash)

Doc-level (relational in Spark, local here):

5. boilerplate strip — spans whose normalized text repeats at the same
   height band on >= max(min_pages, ceil(frac*n_pages)) distinct pages,
   plus digit-only spans in the top/bottom band (page numbers). This is
   the north rule's positional-heuristic strip (no reference analog;
   nearest is the outer-black-bar strip, page_images.py:205-261).
6. order — sort by (page_no, region_idx, item_idx), assign offset.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from dataclasses import dataclass, field
from typing import Any, Iterable, Optional

import numpy as np

from . import kernels as K
from .config import DEFAULTS
from .pdfio.parser import ParsedPage, PdfDocument
from .pdfio.png import encode_png

#: item_idx offset that places a region's scan span after its text spans.
REGION_SCAN_ITEM_IDX = 1_000_000

_WS_RE = re.compile(r"\s+")
_DIGIT_RE = re.compile(r"\d")
_DIGIT_ONLY_RE = re.compile(r"\d+")


def normalize_text(text: str) -> str:
    """Boilerplate-matching key: lowercase, collapsed whitespace,
    digits masked to '#' (so 'Page 12' and 'Page 13' collide)."""

    return _DIGIT_RE.sub("#", _WS_RE.sub(" ", text.strip().lower()))


def media_ref_for(arr: np.ndarray) -> str:
    """Content-addressed reference for a raster region — deterministic
    across runs/executors so re-runs are idempotent (SURVEY.md §7)."""

    h, w = arr.shape[:2]
    c = 1 if arr.ndim == 2 else arr.shape[2]
    digest = hashlib.sha256()
    digest.update(f"{h}x{w}x{c}:".encode())
    digest.update(np.ascontiguousarray(arr).tobytes())
    return "sha256:" + digest.hexdigest()[:16]


@dataclass
class SpanCandidate:
    """A pre-strip span with ordering keys and strip metadata."""

    page_no: int
    region_idx: int
    item_idx: int
    kind: str                    # 'text' | 'image'
    text: Optional[str]
    media_ref: Optional[str]
    norm_text: str
    y_band: int
    is_page_number: bool


@dataclass
class PageResult:
    candidates: list[SpanCandidate]
    lineage: dict[str, Any]
    counters: dict[str, int] = field(default_factory=dict)
    #: content-addressed media blobs produced by this page:
    #: media_ref -> PNG bytes (empty when persist_media is off).
    media: dict[str, bytes] = field(default_factory=dict)


def _crop_half(arr: np.ndarray, cfg: dict, is_left: bool) -> tuple[tuple, bool, Optional[str], dict]:
    debug: dict = {}
    bbox, fb, note = K.find_crop_bbox(
        arr,
        crop_threshold=cfg["crop_threshold"],
        pad_px=cfg["pad_px"],
        min_area_frac=cfg["min_area_frac"],
        edge_inset_px=cfg["edge_inset_px"],
        outer_margin_mode=cfg["outer_margin_mode"],
        outer_margin_frac=cfg["outer_margin_frac"],
        outer_margin_auto_max_frac=cfg["outer_margin_auto_max_frac"],
        outer_margin_auto_search_frac=cfg["outer_margin_auto_search_frac"],
        outer_margin_auto_y0_frac=cfg["outer_margin_auto_y0_frac"],
        outer_margin_auto_y1_frac=cfg["outer_margin_auto_y1_frac"],
        outer_margin_dark_threshold=cfg["outer_margin_dark_threshold"],
        outer_margin_dark_frac_cutoff=cfg["outer_margin_dark_frac_cutoff"],
        outer_margin_release_frac=cfg["outer_margin_release_frac"],
        outer_margin_min_run_px=cfg["outer_margin_min_run_px"],
        outer_margin_pad_px=cfg["outer_margin_pad_px"],
        is_left_page=is_left,
        outer_clamp_debug=debug,
    )
    return bbox, fb, note, debug


def _span_for_text(
    text: str, row: float, page_h: int, page_no: int, region_idx: int, item_idx: int
) -> SpanCandidate:
    y_band = max(0, min(9, int(10 * row / max(1, page_h))))
    stripped = text.strip()
    # digit notion matches normalize_text's \d mask (str.isdigit also
    # accepts superscripts etc. that \d does not — keep them consistent)
    is_pagenum = bool(_DIGIT_ONLY_RE.fullmatch(stripped)) and y_band in (0, 9)
    return SpanCandidate(
        page_no=page_no,
        region_idx=region_idx,
        item_idx=item_idx,
        kind="text",
        text=text,
        media_ref=None,
        norm_text=normalize_text(text),
        y_band=y_band,
        is_page_number=is_pagenum,
    )


def extract_page(page: ParsedPage, page_no: int, cfg: dict) -> PageResult:
    """Run the full per-page pipeline; returns span candidates in order
    plus a lineage row and counter increments."""

    counters = {"pages_parsed": 1, "rotations_fixed": 0, "spreads_split": 0, "crop_only": 0}
    notes: list[str] = []
    media: dict[str, bytes] = {}
    persist_media = bool(cfg.get("persist_media", True))
    png_level = int(cfg.get("media_png_level", DEFAULTS["media_png_level"]))

    def _media_ref(arr: np.ndarray) -> str:
        """Content-addressed ref; the PNG bytes ride along so the media
        sink can persist them (the reference saves every output image,
        page_images.py:934-938, render.py:140-142)."""

        ref = media_ref_for(arr)
        if persist_media and ref not in media:
            media[ref] = encode_png(arr, level=png_level)  # gray or RGB
        return ref
    lineage: dict[str, Any] = {
        "page_no": page_no,
        "action": "extract",
        "status": "ok",
        "rotation_from": page.rotate,
        "rotation_to": 0,
        "gutter_x": None,
        "left_bbox": None,
        "right_bbox": None,
        "crop_bbox": None,
        "mode_used": None,
        "detected_spread": False,
    }

    # 2. rotation normalization (the "rotate" command folded in).
    rot = page.rotate % 360
    stored_h, stored_w = page.height, page.width
    if rot != 0:
        counters["rotations_fixed"] = 1
    scan = page.scan
    if scan is not None and rot != 0:
        scan = K.rotate_image_cw(scan, rot)
    up_items: list[tuple] = []  # (kind, payload, row, col) upright coords
    for item in page.items:
        kind = item[0]
        row, col = float(item[2]), float(item[3])
        if rot != 0:
            row, col = K.rotate_point_cw(row, col, stored_h, stored_w, rot)
        if kind == "image" and rot != 0:
            up_items.append((kind, K.rotate_image_cw(item[1], rot), row, col))
        else:
            up_items.append((kind, item[1], row, col))

    if scan is None:
        # Text-only page: no raster to split/crop; emit text + embedded
        # image spans in stream order as one region.
        candidates: list[SpanCandidate] = []
        page_h = stored_w if rot in (90, 270) else stored_h
        for idx, (kind, payload, row, _col) in enumerate(up_items):
            if kind == "text":
                candidates.append(_span_for_text(payload, row, page_h, page_no, 0, idx))
            else:
                candidates.append(
                    SpanCandidate(page_no, 0, idx, "image", None, _media_ref(payload),
                                  "", 0, False)
                )
        lineage["mode_used"] = "crop"
        lineage["notes"] = notes
        lineage["detail_json"] = json.dumps(
            {k: v for k, v in lineage.items() if k != "detail_json"}, sort_keys=True
        )
        counters["crop_only"] = 1
        return PageResult(candidates, lineage, counters, media)

    height, width = scan.shape[:2]  # scan may be gray (h,w) or RGB (h,w,3)
    detected_spread = K.detect_spread(width, height, cfg["split_ratio"])
    mode = cfg["mode"]
    should_split = mode == "split" or (mode == "auto" and detected_spread)
    if mode == "split" and not detected_spread:
        notes.append("Forced split because mode=split.")
    if mode == "crop" and detected_spread:
        notes.append("Forced crop-only because mode=crop.")
    if should_split and width < 2:
        should_split = False
        notes.append("Image too narrow to split; used crop-only.")
    mode_used = "split" if should_split else "crop"
    lineage["detected_spread"] = detected_spread
    lineage["mode_used"] = mode_used

    candidates = []
    if should_split:
        gutter_x, gutter_fallback = K.detect_gutter_x(
            scan, cfg["gutter_search_frac"], cfg["x_step"], cfg["y_step"]
        )
        if gutter_fallback:
            notes.append("Gutter candidate near edge; fell back to center.")
        left_arr, right_arr = K.split_spread_image(scan, gutter_x, cfg["gutter_trim_px"])
        left_bbox, _, lnote, linfo = _crop_half(left_arr, cfg, is_left=True)
        right_bbox, _, rnote, rinfo = _crop_half(right_arr, cfg, is_left=False)
        notes.extend(f"left: {n}" for n in [lnote] if n)
        notes.extend(f"right: {n}" for n in [rnote] if n)

        right_offset_x = width - right_arr.shape[1]
        left_bbox, right_bbox, sym_note = K.apply_split_symmetry(
            left_bbox,
            right_bbox,
            left_image_width=left_arr.shape[1],
            right_image_width=right_arr.shape[1],
            gutter_x=gutter_x,
            right_offset_x=right_offset_x,
            strategy=cfg["symmetry_strategy"],
            gutter_trim_px=cfg["gutter_trim_px"],
            left_outer_clamp_px=int(linfo.get("applied_clamp_px", 0)),
            right_outer_clamp_px=int(rinfo.get("applied_clamp_px", 0)),
        )
        if sym_note:
            notes.append(sym_note)

        lineage.update(gutter_x=gutter_x, left_bbox=left_bbox, right_bbox=right_bbox)
        counters["spreads_split"] = 1
        if cfg.get("debug", False):
            # Debug overlay (reference page_images.py:546-580): gutter
            # line + both bboxes (right shifted into spread coords).
            overlay = K.draw_debug_overlay(
                K.to_gray(scan), gutter_x, left_bbox, right_bbox, right_offset_x
            )
            lineage["debug_ref"] = _media_ref(overlay)

        l, t, r, b = left_bbox
        left_region = left_arr[t:b, l:r]
        l, t, r, b = right_bbox
        right_region = right_arr[t:b, l:r]

        # Assign items to halves by upright column vs the gutter.
        for idx, (kind, payload, row, col) in enumerate(up_items):
            region_idx = 0 if col < gutter_x else 1
            if kind == "text":
                candidates.append(_span_for_text(payload, row, height, page_no, region_idx, idx))
            else:
                candidates.append(
                    SpanCandidate(page_no, region_idx, idx, "image", None,
                                  _media_ref(payload), "", 0, False)
                )
        candidates.append(
            SpanCandidate(page_no, 0, REGION_SCAN_ITEM_IDX, "image", None,
                          _media_ref(left_region), "", 0, False)
        )
        candidates.append(
            SpanCandidate(page_no, 1, REGION_SCAN_ITEM_IDX + 1, "image", None,
                          _media_ref(right_region), "", 0, False)
        )
    else:
        # Crop-only path forces the outer clamp off (page_images.py:891-909).
        crop_cfg = dict(cfg, outer_margin_mode="off", outer_margin_frac=0.0)
        crop_bbox, _, cnote, _cinfo = _crop_half(scan, crop_cfg, is_left=True)
        if cnote:
            notes.append(cnote)
        lineage["crop_bbox"] = crop_bbox
        counters["crop_only"] = 1
        if cfg.get("debug", False):
            lineage["debug_ref"] = _media_ref(K.draw_debug_overlay(K.to_gray(scan), None, crop_bbox))
        l, t, r, b = crop_bbox
        region = scan[t:b, l:r]
        for idx, (kind, payload, row, _col) in enumerate(up_items):
            if kind == "text":
                candidates.append(_span_for_text(payload, row, height, page_no, 0, idx))
            else:
                candidates.append(
                    SpanCandidate(page_no, 0, idx, "image", None, _media_ref(payload),
                                  "", 0, False)
                )
        candidates.append(
            SpanCandidate(page_no, 0, REGION_SCAN_ITEM_IDX, "image", None,
                          _media_ref(region), "", 0, False)
        )

    lineage["notes"] = notes
    # Full action record (manifest analog, page_images.py:967-1047):
    # mode, spread flag, rotation, gutter, bboxes, fallback notes.
    lineage["detail_json"] = json.dumps(
        {k: v for k, v in lineage.items() if k != "detail_json"}, sort_keys=True
    )
    return PageResult(candidates, lineage, counters, media)


def boilerplate_threshold(n_pages: int, cfg: dict) -> int:
    """Distinct-page count at which a repeated (norm_text, y_band) span
    becomes boilerplate."""

    return max(int(cfg["boilerplate_min_pages"]),
               int(math.ceil(cfg["boilerplate_page_frac"] * n_pages)))


def strip_and_order(
    candidates: Iterable[SpanCandidate], n_pages: int, cfg: dict
) -> list[dict[str, Any]]:
    """Doc-level boilerplate strip + global span ordering.

    Mirrors exactly what the Spark job does relationally (window count
    over (norm_text, y_band) + filter + row_number); keep the two in
    lockstep — the equality test enforces it.
    """

    cands = list(candidates)
    threshold = boilerplate_threshold(n_pages, cfg)
    pages_per_key: dict[tuple[str, int], set[int]] = {}
    for c in cands:
        if c.kind == "text":
            pages_per_key.setdefault((c.norm_text, c.y_band), set()).add(c.page_no)
    boiler_keys = {k for k, pages in pages_per_key.items() if len(pages) >= threshold}

    kept = [
        c
        for c in cands
        if not (
            c.kind == "text"
            and (
                (c.norm_text, c.y_band) in boiler_keys
                or (cfg["strip_page_numbers"] and c.is_page_number)
            )
        )
    ]
    kept.sort(key=lambda c: (c.page_no, c.region_idx, c.item_idx))
    return [
        {"kind": c.kind, "text": c.text, "media_ref": c.media_ref, "offset": i}
        for i, c in enumerate(kept)
    ]


def extract_document(
    pdf_bytes: bytes,
    cfg: Optional[dict] = None,
    page_range: Optional[tuple[int, int]] = None,
) -> dict[str, Any]:
    """Serial end-to-end extraction of one document.

    Returns {"spans": [...], "lineage": [...], "counters": {...}}.
    ``page_range`` (zero-based inclusive) limits parsing to a chunk —
    the mega-PDF salting path; note boilerplate strip then needs the
    full doc, so chunked callers collect candidates and apply
    ``strip_and_order`` themselves (as the Spark job does relationally).
    """

    cfg = cfg or DEFAULTS
    doc = PdfDocument(pdf_bytes)
    n_pages = doc.page_count
    lo, hi = page_range if page_range else (0, n_pages - 1)

    all_candidates: list[SpanCandidate] = []
    lineage_rows: list[dict[str, Any]] = []
    media: dict[str, bytes] = {}
    counters = {"pages_parsed": 0, "rotations_fixed": 0, "spreads_split": 0,
                "crop_only": 0, "docs_processed": 1}
    for page_no in range(lo, hi + 1):
        result = extract_page(doc.load_page(page_no), page_no, cfg)
        all_candidates.extend(result.candidates)
        lineage_rows.append(result.lineage)
        media.update(result.media)
        for key, inc in result.counters.items():
            counters[key] = counters.get(key, 0) + inc

    spans = strip_and_order(all_candidates, n_pages, cfg)
    return {"spans": spans, "lineage": lineage_rows, "counters": counters,
            "candidates": all_candidates, "n_pages": n_pages, "media": media}
