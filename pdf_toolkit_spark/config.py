"""Extraction-job configuration: defaults, deep-merge precedence, strict
key/type/range validation.

Semantics mirror the reference's config system (defaults < YAML <
explicit overrides; unknown keys fail fast; strict bools; 20+ range
checks) — see /root/reference/src/pdf-toolkit/config.py:19-118 and
page_images.py:31-115 — but the implementation is table-driven rather
than an if-chain, and the config is a plain dict broadcast to executors
(validated once, driver-side).
"""

from __future__ import annotations

from copy import deepcopy
from pathlib import Path
from typing import Any, Callable

from .errors import UserError

try:  # PyYAML is optional, as in the reference.
    import yaml as _yaml
except ModuleNotFoundError:  # pragma: no cover
    _yaml = None


#: Defaults for the extraction pipeline. The page-image heuristic knobs
#: carry the reference's default values (config.py:19-48); the keys
#: prefixed ``chunk_`` / ``resume`` / ``output_`` are new, Spark-side
#: topology knobs (skew salting, checkpoint resume, bucketing).
DEFAULTS: dict[str, Any] = {
    # --- heuristic kernel knobs (reference parity) ---
    "mode": "auto",                        # auto | split | crop
    "split_ratio": 1.25,
    "gutter_search_frac": 0.35,
    "gutter_trim_px": 0,
    "outer_margin_mode": "off",            # off | fixed | auto
    "outer_margin_frac": 0.0,
    "outer_margin_auto_max_frac": 0.15,
    "outer_margin_auto_search_frac": 0.18,
    "outer_margin_auto_y0_frac": 0.10,
    "outer_margin_auto_y1_frac": 0.90,
    "outer_margin_dark_threshold": 80,
    "outer_margin_dark_frac_cutoff": 0.60,
    "outer_margin_release_frac": 0.35,
    "outer_margin_min_run_px": 12,
    "outer_margin_pad_px": 4,
    "x_step": 2,
    "y_step": 4,
    "crop_threshold": 180,
    "pad_px": 20,
    "edge_inset_px": 0,
    "symmetry_strategy": "independent",    # independent | match_max_width | mirror_from_gutter
    "min_area_frac": 0.25,
    # --- boilerplate strip (north-rule addition; no reference analog) ---
    "boilerplate_min_pages": 3,            # repeated-span threshold floor
    "boilerplate_page_frac": 0.6,          # ...and fraction of doc pages
    "strip_page_numbers": True,            # digit-only spans in top/bottom band
    # --- media sink ---
    "persist_media": True,                 # write region/image PNGs behind media_ref
    "media_png_level": 1,                  # zlib level for media PNGs. Level 1
                                           # shrinks compressible rasters ~50x for
                                           # ~0.02 ms/region, cutting Arrow/shuffle
                                           # byte traffic (the binding resource at
                                           # scale); worst case (noise scans) costs
                                           # ~7 ms/region for 1.7x. 0 = stored
                                           # blocks when blob CPU must be zero.
    "debug": False,                        # also emit per-page debug overlays
    # --- Spark topology ---
    "pages_per_chunk": 64,                 # mega-PDF salting chunk size
    "chunk_spread": "shuffle",             # "shuffle": explicit repartition of
                                           # salted chunks (4 waves/core; required
                                           # for locator-mode megas and badly
                                           # partitioned inputs). "input": trust
                                           # the source partitioning — bytes-mode
                                           # corpora with well-sized input splits
                                           # skip an entire pass of the PDF bytes
                                           # through the shuffle (the binding
                                           # resource for byte-heavy profiles;
                                           # pair with files.maxPartitionBytes
                                           # sized to ~4 waves/core).
    "output_buckets": 32,                  # bucket(doc_id) partition count
    "dry_run": False,
    "overwrite": False,
}

_MODES = {"auto", "split", "crop"}
_OUTER_MODES = {"off", "fixed", "auto"}
_SYMMETRY = {"independent", "match_max_width", "mirror_from_gutter"}


def _between(lo: float, hi: float, lo_open: bool = False, hi_open: bool = False) -> Callable[[Any], bool]:
    def check(v: Any) -> bool:
        if lo_open and not v > lo:
            return False
        if not lo_open and not v >= lo:
            return False
        if hi_open and not v < hi:
            return False
        if not hi_open and not v <= hi:
            return False
        return True

    return check


#: key -> (predicate over the value, human-readable requirement).
#: Range semantics match the reference's _validate_options
#: (page_images.py:31-115) exactly.
_RULES: dict[str, tuple[Callable[[Any], bool], str]] = {
    "mode": (lambda v: v in _MODES, "one of: auto, split, crop"),
    "split_ratio": (lambda v: v > 0, "> 0"),
    "gutter_search_frac": (_between(0, 1, lo_open=True), "in (0, 1]"),
    "gutter_trim_px": (lambda v: v >= 0, ">= 0"),
    "outer_margin_mode": (lambda v: v in _OUTER_MODES, "one of: off, fixed, auto"),
    "outer_margin_frac": (_between(0, 0.25), "in [0, 0.25]"),
    "outer_margin_auto_max_frac": (_between(0, 0.25), "in [0, 0.25]"),
    "outer_margin_auto_search_frac": (_between(0, 0.5, lo_open=True), "in (0, 0.5]"),
    "outer_margin_auto_y0_frac": (_between(0, 1), "in [0, 1]"),
    "outer_margin_auto_y1_frac": (_between(0, 1), "in [0, 1]"),
    "outer_margin_dark_threshold": (_between(0, 255), "in [0, 255]"),
    "outer_margin_dark_frac_cutoff": (_between(0, 1), "in [0, 1]"),
    "outer_margin_release_frac": (_between(0, 1), "in [0, 1]"),
    "outer_margin_min_run_px": (lambda v: v >= 1, ">= 1"),
    "outer_margin_pad_px": (lambda v: v >= 0, ">= 0"),
    "x_step": (lambda v: v > 0, "a positive integer"),
    "y_step": (lambda v: v > 0, "a positive integer"),
    "crop_threshold": (_between(0, 255), "in [0, 255]"),
    "pad_px": (lambda v: v >= 0, ">= 0"),
    "edge_inset_px": (lambda v: v >= 0, ">= 0"),
    "symmetry_strategy": (lambda v: v in _SYMMETRY, "one of: independent, match_max_width, mirror_from_gutter"),
    "min_area_frac": (_between(0, 1, lo_open=True), "in (0, 1]"),
    "boilerplate_min_pages": (lambda v: v >= 2, ">= 2"),
    "boilerplate_page_frac": (_between(0, 1, lo_open=True), "in (0, 1]"),
    "media_png_level": (_between(0, 9), "in [0, 9]"),
    "pages_per_chunk": (lambda v: v >= 1, "a positive integer"),
    "chunk_spread": (lambda v: v in ("shuffle", "input"), "one of: shuffle, input"),
    "output_buckets": (lambda v: v >= 1, "a positive integer"),
}

_BOOL_KEYS = {"dry_run", "overwrite", "strip_page_numbers", "persist_media", "debug"}


def deep_merge(base: dict[str, Any], overlay: dict[str, Any]) -> dict[str, Any]:
    """Recursive dict merge where overlay values win (reference
    semantics, config.py:82-97)."""

    merged = deepcopy(base)
    for key, value in overlay.items():
        if key in merged and isinstance(merged[key], dict) and isinstance(value, dict):
            merged[key] = deep_merge(merged[key], value)
        else:
            merged[key] = deepcopy(value)
    return merged


def validate_keys(cfg: dict[str, Any], allowed: set[str], ctx: str) -> None:
    """Fail fast on unknown keys (reference semantics, config.py:100-111)."""

    unknown = sorted(k for k in cfg if k not in allowed)
    if unknown:
        raise UserError(
            f"Unknown keys in {ctx}: {', '.join(unknown)}. "
            f"Allowed keys: {', '.join(sorted(allowed))}."
        )


def load_yaml(path: Path) -> dict[str, Any]:
    """Load a YAML mapping; empty file -> {} (reference: config.py:62-79)."""

    if _yaml is None:  # pragma: no cover
        raise UserError("YAML support requires PyYAML.")
    path = Path(path)
    if not path.is_file():
        raise UserError(f"Config file not found: {path}")
    try:
        loaded = _yaml.safe_load(path.read_text(encoding="utf-8"))
    except _yaml.YAMLError as exc:
        raise UserError(f"Failed to parse YAML config {path}: {exc}") from exc
    if loaded is None:
        return {}
    if not isinstance(loaded, dict):
        raise UserError(f"Config {path} must contain a YAML mapping at top level.")
    return loaded


def validate_config(cfg: dict[str, Any]) -> dict[str, Any]:
    """Validate a full effective config; returns it unchanged on success.

    Enforces: closed key set, strict booleans, the reference's numeric
    range rules, and the two cross-field constraints
    (y0 < y1 with band >= 0.2; release_frac < dark_frac_cutoff) from
    page_images.py:81-94.
    """

    validate_keys(cfg, set(DEFAULTS), "extraction config")

    for key in _BOOL_KEYS:
        if key in cfg and not isinstance(cfg[key], bool):
            raise UserError(f"Config key '{key}' must be a boolean, got {cfg[key]!r}.")

    for key, (pred, req) in _RULES.items():
        if key not in cfg:
            continue
        value = cfg[key]
        try:
            ok = pred(value)
        except TypeError:
            ok = False
        if not ok:
            raise UserError(f"Config key '{key}' must be {req}, got {value!r}.")

    y0 = cfg.get("outer_margin_auto_y0_frac", DEFAULTS["outer_margin_auto_y0_frac"])
    y1 = cfg.get("outer_margin_auto_y1_frac", DEFAULTS["outer_margin_auto_y1_frac"])
    if y0 >= y1:
        raise UserError("outer_margin_auto_y0_frac must be < outer_margin_auto_y1_frac.")
    if (y1 - y0) < 0.2:
        raise UserError("Auto outer clamp detection band must span at least 20% of page height.")
    release = cfg.get("outer_margin_release_frac", DEFAULTS["outer_margin_release_frac"])
    cutoff = cfg.get("outer_margin_dark_frac_cutoff", DEFAULTS["outer_margin_dark_frac_cutoff"])
    if release >= cutoff:
        raise UserError("outer_margin_release_frac must be < outer_margin_dark_frac_cutoff.")
    return cfg


def effective_config(
    yaml_cfg: dict[str, Any] | None = None,
    overrides: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Build the effective config: DEFAULTS < yaml < explicit overrides
    (the reference's precedence mechanism, cli.py:90-110)."""

    cfg = deep_merge(DEFAULTS, yaml_cfg or {})
    cfg = deep_merge(cfg, overrides or {})
    return validate_config(cfg)
