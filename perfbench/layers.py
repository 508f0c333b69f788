"""Serial per-layer timing of the extraction kernel (traced runs only).

Timing wrappers replace module attributes for the duration of a ``with
LayerTracer().installed():`` block. The parser imports its codecs and
decryptor factories at call time, and ``extract`` reaches kernels through the
``kernels`` module, so swapping the module attribute reaches every call.
Each wrapper records inclusive time and self time (inclusive minus the
wrapped calls made inside it), so nested layers are not counted twice.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Any, Callable


class _TimedZlib:
    """Stands in for the ``zlib`` module inside ``pdfio.parser``: only
    ``decompress`` (FlateDecode inflate) is timed."""

    def __init__(self, real, timed_decompress) -> None:
        self._real = real
        self.decompress = timed_decompress

    def __getattr__(self, name: str) -> Any:
        return getattr(self._real, name)


class LayerTracer:
    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)
        self.self_time: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.png_bytes = 0
        self._children: list[float] = []

    def wrap(self, name: str, fn: Callable) -> Callable:
        def timed(*args, **kwargs):
            self._children.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                inner = self._children.pop()
                self.total[name] += dt
                self.self_time[name] += dt - inner
                self.calls[name] += 1
                if self._children:
                    self._children[-1] += dt
            if name == "png.encode":
                self.png_bytes += len(result)
            return result

        return timed

    @contextmanager
    def installed(self):
        from pdf_toolkit_spark import extract
        from pdf_toolkit_spark import kernels as K
        from pdf_toolkit_spark.pdfio import ccitt, crypt, jbig2, jpeg, jpx, parser, pubsec

        targets = [
            (parser.PdfDocument, "__init__", "parser.open"),
            (parser.PdfDocument, "load_page", "parser.load_page"),
            (crypt, "build_decryptor", "crypt.key"),
            (pubsec, "build_pubsec_decryptor", "crypt.key"),
            (crypt.StandardDecryptor, "decrypt", "crypt.decrypt"),
            (jpeg, "decode_jpeg", "codec.jpeg"),
            (ccitt, "decode_ccitt_pdf", "codec.ccitt"),
            (jbig2, "decode_jbig2_pdf", "codec.jbig2"),
            (jpx, "decode_jpx_pdf", "codec.jpx"),
            (K, "rotate_image_cw", "kernels.rotate"),
            (K, "detect_gutter_x", "kernels.gutter"),
            (K, "find_crop_bbox", "kernels.crop"),
            (K, "split_spread_image", "kernels.split"),
            (extract, "extract_page", "extract.page"),
            (extract, "media_ref_for", "extract.media_ref"),
            (extract, "encode_png", "png.encode"),
        ]
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        real_zlib = parser.zlib
        try:
            for owner, attr, name in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            parser.zlib = _TimedZlib(real_zlib, self.wrap("parser.inflate", real_zlib.decompress))
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
            parser.zlib = real_zlib

    @classmethod
    def merged(cls, tracers: list["LayerTracer"]) -> "LayerTracer":
        out = cls()
        for tr in tracers:
            for name, v in tr.total.items():
                out.total[name] += v
            for name, v in tr.self_time.items():
                out.self_time[name] += v
            out.calls.update(tr.calls)
            out.png_bytes += tr.png_bytes
        return out


def _share(tr: LayerTracer, wall: float, prefixes: tuple[str, ...]) -> float:
    """Percent of ``wall`` spent in the layers named by ``prefixes``
    (self times, so nested layers count once)."""

    return 100.0 * sum(v for k, v in tr.self_time.items() if k.startswith(prefixes)) / wall


def serial_pass(groups: dict[str, list[tuple[str, bytes]]], cfg: dict) -> dict:
    """Run ``extract.extract_document`` over each group of docs with the
    wrappers installed. Returns the per-layer metrics over all groups,
    plus each group's page time and its regime share. Docs that fail to
    parse (the truncated ones) are skipped."""

    from pdf_toolkit_spark.extract import extract_document

    refs: set[str] = set()
    runs = {}
    for group, docs in groups.items():
        tracer, pages = LayerTracer(), 0
        t0 = time.perf_counter()
        with tracer.installed():
            for _, pdf_bytes in docs:
                try:
                    out = extract_document(pdf_bytes, cfg)
                except Exception:  # malformed input: the job's error row
                    continue
                pages += out["n_pages"]
                refs.update(out["media"])
        runs[group] = (tracer, time.perf_counter() - t0, pages)
    n_docs = sum(len(d) for d in groups.values())
    total = LayerTracer.merged([tr for tr, _, _ in runs.values()])
    wall = sum(w for _, w, _ in runs.values())
    metrics = layer_metrics(total, wall, sum(p for _, _, p in runs.values()), n_docs, len(refs))
    tr, w, pages = runs["scan"]
    metrics["serial.scan.page_ms"] = 1000.0 * w / pages
    metrics["serial.scan.png_inflate_pct"] = 100.0 * (
        tr.total["png.encode"] + tr.total["parser.inflate"]) / w
    tr, w, pages = runs["arch"]
    metrics["serial.arch.page_ms"] = 1000.0 * w / pages
    metrics["serial.arch.codec_crypt_pct"] = _share(tr, w, ("codec.", "crypt."))
    return metrics


def layer_metrics(tr: LayerTracer, wall: float, pages: int, docs: int, distinct_refs: int) -> dict:
    per_page = 1000.0 / pages
    per_doc = 1000.0 / docs
    tot, own = tr.total, tr.self_time
    m = {
        "parser.open_ms": tot["parser.open"] * per_doc,
        "parser.load_page_ms": tot["parser.load_page"] * per_page,
        "parser.inflate_ms": tot["parser.inflate"] * per_page,
        "crypt.key_ms": tot["crypt.key"] * per_doc,
        "crypt.decrypt_ms": tot["crypt.decrypt"] * per_page,
    }
    for codec in ("jpeg", "ccitt", "jbig2", "jpx"):
        m[f"codec.{codec}_ms"] = tot[f"codec.{codec}"] * per_page
        m[f"codec.{codec}_calls"] = tr.calls[f"codec.{codec}"]
    for kernel in ("rotate", "gutter", "crop", "split"):
        m[f"kernels.{kernel}_ms"] = tot[f"kernels.{kernel}"] * per_page
    encodes = tr.calls["png.encode"]
    m.update({
        "extract.page_self_ms": own["extract.page"] * per_page,
        "extract.media_ref_ms": tot["extract.media_ref"] * per_page,
        "png.encode_ms": tot["png.encode"] * per_page,
        "png.encode_calls": encodes,
        "png.bytes_out": tr.png_bytes,
        # PNG blobs the sink keeps (one per distinct ref) per blob encoded
        "media.distinct_ref_ratio": distinct_refs / encodes,
        "serial.pages": pages,
        "serial.page_ms": wall * per_page,
        # the wrapped layers' self times against the whole serial loop
        "serial.coverage_pct": _share(tr, wall, ("",)),
    })
    return m
