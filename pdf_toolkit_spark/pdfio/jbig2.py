"""JBIG2 (ITU-T T.88) codec — decode AND encode.

Scope (the scanned-book subset): embedded-organization segment streams
as PDF /JBIG2Decode carries them (segment headers per T.88 §7.2 with
referred-segment lists, page info + region segments + end-of-page),
generic region coding with GB templates 0-3 at the NOMINAL
adaptive-pixel positions (16/13/10/10-bit contexts, per-template
TPGDON pseudo-pixel contexts) and optional typical-prediction rows,
SYMBOL
DICTIONARY segments (T.88 §6.5/§7.4.3: arithmetic-coded height
classes, shared GB contexts across symbol bitmaps, export-run flags)
with /JBIG2Globals threading and SDREFAGG=1 refinement/aggregate
symbols (§6.5.8.2: REFAGGNINST == 1 refines an earlier input/new
symbol via IAAI/IAID/IARDX/IARDY on the shared decoder;
REFAGGNINST > 1 decodes a NESTED TEXT REGION of that many instances
onto the new bitmap with the dictionary's retained context tables,
§6.5.8.2.1 Table 17), TEXT REGION segments (T.88 §6.4/§7.4.4:
strip decoding with the Annex A integer arithmetic procedures IADT /
IAFS / IADS / IAIT / IAEX / IADH / IADW and the IAID symbol-ID tree,
plus per-instance SBREFINE refinement per §6.4.11 — the
lossy-cluster + refine-to-lossless flow, instances re-coded against
their symbol at the centered offset and free to change size)
— the segment mix production scanned-text encoders actually emit —
MMR-coded generic regions (T.88 §6.2.6 delegates verbatim to T.6;
decoded with pdfio/ccitt.py's JDK-cross-validated Group 4 coder),
immediate generic REFINEMENT regions (T.88 §6.3: GR templates 0/1 at
nominal GRAT against the page buffer, with TPGRON typical prediction
— the lossy-base + refine-to-lossless flow), all over the MQ
arithmetic coder of T.88 Annex E (pdfio/mq.py, the one coder JPEG 2000
uses too; it fails closed once a corrupted stream has run out of coded
data). Generic regions accept ARBITRARY adaptive-pixel offsets
(nominal AT rides the fast windowed coder; anything else the general
per-pixel path — bitstream-identical at nominal AT, which is pinned).
HALFTONE regions land too (§6.6/§6.7: pattern
dictionaries decoded as one wide generic bitmap with the A1=(-HDPW,0)
adaptive pixel, gray-coded bitplanes on a shared decoder, grid-vector
pattern stamping; HMMR pattern dictionaries and halftone bitplanes
decode through the same T.6 coder — one decoder across every
bitplane without restart, per §C.5; HENABLESKIP derives the §6.6.5.1
skip bitmap from the grid geometry and the generic coder never codes
the skipped pixels), the INTERMEDIATE region organization (§8.2:
types 4/20/36/40 retained in an auxiliary buffer keyed by segment
number, consumed as the reference of a later refinement region
instead of compositing onto the page), and HUFFMAN-coded symbol
dictionaries and text regions (Annex B assigned-value prefix codes:
SDHUFF height classes with MMR or uncompressed collective bitmaps
per §6.5.9, SBHUFF strip data with runcode-built symbol-ID tables
per §7.4.3.1.7, USER-SUPPLIED code tables via type-53 segments with
the B.2 syntax, plus the spec-mandated Table B.1 for export runs and
BMSIZE; SBREFINE composes — raw RI bits, RDW/RDH/RDX/RDY via tables,
per-instance byte-aligned MQ refinement segments of RSIZE bytes —
and long-form referred-segment lists per §7.2.4 carry the many table
references). ALL PREDEFINED Annex B table selections (B.1-B.15) ship
— transcriptions pinned by exact-tiling + Kraft structural checks
and encoder-forced round-trips — and SDHUFF dictionaries compose
with SDREFAGG=1 (§6.5.8.2.2 with SDHUFF: ID in raw SBSYMCODELEN
bits, RDX/RDY via Table B.15, BMSIZE via Table B.1, byte-aligned
fresh-context MQ refinement segments) INCLUDING multi-instance
aggregates (REFAGGNINST > 1, §6.5.8.2.1 with SDHUFF=1: a nested
Huffman text region read inline from the dictionary bit stream with
the Table 17 fixed parameters — SBSTRIPS=1, TOPLEFT, B.6/B.8/B.11
deltas, B.15/B.1 refinement fields, raw SBSYMCODELEN-bit IDs per
§6.5.8.2.3). No symbol-dictionary coding shape remains fail-closed.

Both directions are implemented from the public spec; correctness
evidence is exhaustive encode->decode round-trips (including MQ-coder
stress with random bit/context sequences, symbol/text round-trips
over glyph-like corpora, and globals-split streams) — no JBIG2
reference codec exists in this container to cross-validate against
(unlike CCITT's JDK ImageIO check), which is disclosed here.
"""

from __future__ import annotations

import struct

import numpy as np

from ..errors import UserError
from .mq import QE, MQDecoder, MQEncoder, decide

# Fail-closed cap for corrupted streams: T.88 imposes no limit on
# header-declared bitmap dimensions, so a flipped byte can ask for a
# terabyte allocation. 2^28 px (256 MB of uint8) exceeds every real
# scanned page by two orders of magnitude.
_MAX_REGION_PIXELS = 1 << 28


def _sane_dims(w: int, h: int, what: str) -> None:
    if w * h > _MAX_REGION_PIXELS:
        raise UserError(f"JBIG2: implausible {what} size {w}x{h}.")


#: TPGDON pseudo-pixel context per GB template (T.88 6.2.5.7)
_TPGD_CX_OF = (0x9B25, 0x0795, 0x00E5, 0x0195)
_TPGD_CX = _TPGD_CX_OF[0]

#: nominal AT pixel positions (T.88 6.2.5.3) as signed byte pairs:
#: template 0 has A1(3,-1) A2(-3,-1) A3(2,-2) A4(-2,-2); templates
#: 1-3 carry only A1 — (3,-1) for template 1, (2,-1) for 2 and 3
_NOMINAL_AT = bytes([3, 0xFF, 0xFD, 0xFF, 2, 0xFE, 0xFE, 0xFE])
_NOMINAL_AT_OF = (
    _NOMINAL_AT,
    bytes([3, 0xFF]),
    bytes([2, 0xFF]),
    bytes([2, 0xFF]),
)

#: context-window geometry per GB template, nominal AT folded in:
#: (a2, b2, a1, b1, c) — row-2 spans [x-a2, x+b2] (an empty span for
#: template 3), row-1 spans [x-a1, x+b1], current row uses pixels
#: [x-c, x-1]. Bit order inside the context: row-2 MSBs (left pixel
#: most significant), then row-1, then the current row.
_TEMPLATE_SPAN = (
    (2, 2, 3, 3, 4),   # template 0: 16-bit context
    (1, 2, 2, 3, 3),   # template 1: 13-bit
    (1, 1, 2, 2, 2),   # template 2: 10-bit
    (0, -1, 3, 2, 4),  # template 3: 10-bit, single reference row
)


# ---------------------------------------------------------------------------
# Annex A integer arithmetic decoding procedures (IADH/IADW/IAEX/IAAI/
# IADT/IAFS/IADS/IAIT and the IAID symbol-ID variant)
# ---------------------------------------------------------------------------

class ArithCtx:
    """One IAx procedure's adaptive context table (512 states for the
    integer procedures; 2^(SBSYMCODELEN+1) for IAID)."""

    __slots__ = ("i", "mps")

    def __init__(self, n: int = 512) -> None:
        self.i = bytearray(n)
        self.mps = bytearray(n)


#: (range-selector prefix length, value-bit count, offset) per Annex
#: A.2's decision tree: 0 -> 2 bits+0, 10 -> 4+4, 110 -> 6+20,
#: 1110 -> 8+84, 11110 -> 12+340, 11111 -> 32+4436
_INT_RANGES = ((2, 0), (4, 4), (6, 20), (8, 84), (12, 340), (32, 4436))


def decode_int(mq: MQDecoder, ctx: ArithCtx) -> "int | None":
    """T.88 Annex A.2 IAx integer decode. Returns None for OOB."""

    prev = 1

    def bit() -> int:
        nonlocal prev
        b = mq.decode(prev, ctx.i, ctx.mps)
        prev = ((prev << 1) | b) if prev < 256 else (
            (((prev << 1) | b) & 511) | 256
        )
        return b

    s = bit()
    sel = 0
    while sel < 5 and bit():
        sel += 1
    nbits, off = _INT_RANGES[sel]
    v = 0
    for _ in range(nbits):
        v = (v << 1) | bit()
    v += off
    if s and v == 0:
        return None  # OOB
    return -v if s else v


def encode_int(mq: MQEncoder, ctx: ArithCtx, value: "int | None") -> None:
    """Annex A.2 inverse: encode ``value`` (None = OOB, coded as
    S=1, V=0 in the first range)."""

    prev = 1

    def bit(b: int) -> None:
        nonlocal prev
        mq.encode(b, prev, ctx.i, ctx.mps)
        prev = ((prev << 1) | b) if prev < 256 else (
            (((prev << 1) | b) & 511) | 256
        )

    if value is None:
        for b in (1, 0, 0, 0):
            bit(b)
        return
    s = 1 if value < 0 else 0
    v = -value if s else value
    bit(s)
    for sel, (nbits, off) in enumerate(_INT_RANGES):
        top = off + (1 << nbits)
        if v < top or sel == 5:
            for _ in range(sel):
                bit(1)
            if sel < 5:
                bit(0)
            rem = v - off
            for i in range(nbits - 1, -1, -1):
                bit((rem >> i) & 1)
            return
    raise UserError("JBIG2: integer out of Annex A range.")  # pragma: no cover


def decode_iaid(mq: MQDecoder, ctx: ArithCtx, symcodelen: int) -> int:
    """Annex A.3 IAID symbol-ID decode (fixed-depth context tree)."""

    prev = 1
    for _ in range(symcodelen):
        prev = (prev << 1) | mq.decode(prev, ctx.i, ctx.mps)
    return prev - (1 << symcodelen)


def encode_iaid(mq: MQEncoder, ctx: ArithCtx, value: int, symcodelen: int) -> None:
    prev = 1
    for i in range(symcodelen - 1, -1, -1):
        b = (value >> i) & 1
        mq.encode(b, prev, ctx.i, ctx.mps)
        prev = (prev << 1) | b


# ---------------------------------------------------------------------------
# Generic region (GB template 0, nominal AT)
# ---------------------------------------------------------------------------

def decode_generic(
    data: bytes, w: int, h: int, tpgdon: bool = False,
    mq: "MQDecoder | None" = None, template: int = 0,
    skip: "np.ndarray | None" = None,
) -> np.ndarray:
    """MQ-coded generic region -> (h, w) uint8 bits (1 = black).
    ``template`` selects the GB context template (0-3, nominal AT;
    the context windows come from _TEMPLATE_SPAN).

    Pass an existing ``mq`` to continue a shared bitstream (symbol
    dictionaries decode every symbol bitmap with ONE decoder whose GB
    contexts persist across symbols — T.88 §6.5.8.2.1). ``skip`` is
    the USESKIP bitmap (§6.2.5.7): pixels where it is 1 are never
    coded and decode as 0 (halftone HENABLESKIP)."""

    if tpgdon and skip is not None:
        raise UserError("JBIG2: TPGDON with a skip bitmap unsupported.")
    _sane_dims(w, h, "generic region")
    if mq is None:
        mq = MQDecoder(data)
    coded, n, cxi, cxm = mq.data, mq.n, mq.cxi, mq.cxm
    a2, b2, a1, b1, nc = _TEMPLATE_SPAN[template]
    n1 = a1 + b1 + 1
    n2 = a2 + b2 + 1
    m0, m1, m2 = (1 << nc) - 1, (1 << n1) - 1, (1 << n2) - 1
    s1, s2 = nc, nc + n1
    tpgd_cx = _TPGD_CX_OF[template]
    j1, j2 = b1 + 1, b2 + 1
    pad = max(j1, j2, 1)
    rows: list[list[int]] = []
    zeros = [0] * (w + pad)
    ltp = 0
    for y in range(h):
        if tpgdon:
            ltp ^= mq.decode(tpgd_cx)
            if ltp:
                rows.append(list(rows[y - 1]) if y > 0 else list(zeros))
                continue
        up1 = rows[y - 1] if y >= 1 else zeros
        up2 = (rows[y - 2] if y >= 2 else zeros) if n2 else zeros
        row = [0] * (w + pad)  # trailing pad so windows never index OOB
        w0 = 0
        w1 = sum(up1[i] << (b1 - i) for i in range(j1))
        w2 = sum(up2[i] << (b2 - i) for i in range(j2))
        if skip is None:
            # mq.decode inlined: registers in locals, MPS fast path here
            bp, c, ct, a = mq.bp, mq.c, mq.ct, mq.a
            for x in range(w):
                cx = (w2 << s2) | (w1 << s1) | w0
                i = cxi[cx]
                qe = QE[i]
                a -= qe
                ch = c >> 16
                if ch >= qe and a & 0x8000:
                    c -= qe << 16
                    bit = cxm[cx]
                else:
                    bit, a, c, ct, bp = decide(
                        coded, n, bp, c, ct, a, qe, i, cx, cxi, cxm, ch)
                row[x] = bit
                w0 = ((w0 << 1) | bit) & m0
                w1 = ((w1 << 1) | up1[x + j1]) & m1
                w2 = ((w2 << 1) | up2[x + j2]) & m2
            mq.bp, mq.c, mq.ct, mq.a = bp, c, ct, a
        else:
            skip_row = skip[y]
            for x in range(w):
                bit = (
                    0 if skip_row[x]
                    else mq.decode((w2 << s2) | (w1 << s1) | w0)
                )
                row[x] = bit
                w0 = ((w0 << 1) | bit) & m0
                w1 = ((w1 << 1) | up1[x + j1]) & m1
                w2 = ((w2 << 1) | up2[x + j2]) & m2
        rows.append(row)
    return np.array([r[:w] for r in rows], dtype=np.uint8)


def encode_generic(
    img: np.ndarray, tpgdon: bool = False,
    mq: "MQEncoder | None" = None, template: int = 0,
    skip: "np.ndarray | None" = None,
) -> "bytes | None":
    """(h, w) 0/1 bits (1 = black) -> MQ-coded generic region data
    under GB ``template`` 0-3 at nominal AT.

    Pass an existing ``mq`` to append into a shared bitstream (symbol
    dictionary coding); the caller flushes, and None is returned.
    ``skip`` pixels are never coded (and forced to 0, matching the
    decoder's §6.2.5.7 semantics)."""

    shared = mq is not None
    if skip is not None:
        if tpgdon:
            raise UserError("JBIG2: TPGDON with a skip bitmap unsupported.")
        img = (img.astype(np.uint8) & (1 - skip.astype(np.uint8)))
    h, w = img.shape
    if mq is None:
        mq = MQEncoder()
    a2, b2, a1, b1, c = _TEMPLATE_SPAN[template]
    n1 = a1 + b1 + 1
    n2 = a2 + b2 + 1
    m0, m1, m2 = (1 << c) - 1, (1 << n1) - 1, (1 << n2) - 1
    s1, s2 = c, c + n1
    tpgd_cx = _TPGD_CX_OF[template]
    j1, j2 = b1 + 1, b2 + 1
    pad_n = max(j1, j2, 1)
    pad = np.zeros((h, pad_n), np.uint8)
    padded = np.concatenate([img, pad], axis=1).tolist()
    zeros = [0] * (w + pad_n)
    ltp = 0
    for y in range(h):
        up1 = padded[y - 1] if y >= 1 else zeros
        row = padded[y]
        if tpgdon:
            typical = y > 0 and row == up1
            mq.encode(1 if (typical != bool(ltp)) else 0, tpgd_cx)
            ltp = 1 if typical else 0
            if typical:
                continue
        up2 = (padded[y - 2] if y >= 2 else zeros) if n2 else zeros
        w0 = 0
        w1 = sum(up1[i] << (b1 - i) for i in range(j1))
        w2 = sum(up2[i] << (b2 - i) for i in range(j2))
        if skip is None:
            for x in range(w):
                bit = row[x]
                mq.encode(bit, (w2 << s2) | (w1 << s1) | w0)
                w0 = ((w0 << 1) | bit) & m0
                w1 = ((w1 << 1) | up1[x + j1]) & m1
                w2 = ((w2 << 1) | up2[x + j2]) & m2
        else:
            skip_row = skip[y]
            for x in range(w):
                bit = row[x]
                if not skip_row[x]:
                    mq.encode(bit, (w2 << s2) | (w1 << s1) | w0)
                w0 = ((w0 << 1) | bit) & m0
                w1 = ((w1 << 1) | up1[x + j1]) & m1
                w2 = ((w2 << 1) | up2[x + j2]) & m2
    return None if shared else mq.flush()


#: GB context layouts with explicit AT slots (T.88 figures 4-7): the
#: fixed template pixels plus 'A1'..'A4' placeholders at the bit
#: positions the figures give them. With the NOMINAL AT values these
#: reduce exactly to the contiguous windows _TEMPLATE_SPAN encodes —
#: pinned by test_jbig2's nominal-vs-general equality test.
_TEMPLATE_OFFSETS = (
    ("A4", (-1, -2), (0, -2), (1, -2), "A3",
     "A2", (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), "A1",
     (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    ((-1, -2), (0, -2), (1, -2), (2, -2),
     (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), "A1",
     (-3, 0), (-2, 0), (-1, 0)),
    ((-1, -2), (0, -2), (1, -2),
     (-2, -1), (-1, -1), (0, -1), (1, -1), "A1",
     (-2, 0), (-1, 0)),
    ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), "A1",
     (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
)


def _at_offsets(template: int, at: bytes) -> list[tuple[int, int]]:
    """Resolve a template's context layout against the AT bytes from
    the segment header (signed (x, y) pairs, A1 first)."""

    pairs = [
        (int.from_bytes(at[i : i + 1], "big", signed=True),
         int.from_bytes(at[i + 1 : i + 2], "big", signed=True))
        for i in range(0, len(at), 2)
    ]
    out = []
    for o in _TEMPLATE_OFFSETS[template]:
        if isinstance(o, str):
            out.append(pairs[int(o[1]) - 1])
        else:
            out.append(o)
    return out


def decode_generic_at(
    data: bytes, w: int, h: int, template: int, at: bytes,
    tpgdon: bool = False,
) -> np.ndarray:
    """General-AT twin of decode_generic: the slow per-pixel path for
    streams whose adaptive pixels are NOT at the nominal positions
    (T.88 §6.2.5.3 allows any offset in [-128, 127]²)."""

    _sane_dims(w, h, "generic region")
    offsets = _at_offsets(template, at)
    mq = MQDecoder(data)
    tpgd_cx = _TPGD_CX_OF[template]
    out = np.zeros((h, w), np.uint8)
    ltp = 0
    for y in range(h):
        if tpgdon:
            ltp ^= mq.decode(tpgd_cx)
            if ltp:
                if y > 0:
                    out[y] = out[y - 1]
                continue
        for x in range(w):
            ctx = 0
            for dx, dy in offsets:
                yy, xx = y + dy, x + dx
                ctx = (ctx << 1) | (
                    int(out[yy, xx]) if 0 <= yy < h and 0 <= xx < w and (
                        yy < y or (yy == y and xx < x)
                    ) else 0
                )
            out[y, x] = mq.decode(ctx)
    return out


def encode_generic_at(
    img: np.ndarray, template: int, at: bytes, tpgdon: bool = False,
) -> bytes:
    """General-AT twin of encode_generic (encoder side of
    decode_generic_at; AT pixels at arbitrary offsets)."""

    offsets = _at_offsets(template, at)
    mq = MQEncoder()
    tpgd_cx = _TPGD_CX_OF[template]
    h, w = img.shape
    ltp = 0
    for y in range(h):
        if tpgdon:
            typical = y > 0 and bool(np.array_equal(img[y], img[y - 1]))
            mq.encode(1 if (typical != bool(ltp)) else 0, tpgd_cx)
            ltp = 1 if typical else 0
            if typical:
                continue
        for x in range(w):
            ctx = 0
            for dx, dy in offsets:
                yy, xx = y + dy, x + dx
                ctx = (ctx << 1) | (
                    int(img[yy, xx]) if 0 <= yy < h and 0 <= xx < w and (
                        yy < y or (yy == y and xx < x)
                    ) else 0
                )
            mq.encode(int(img[y, x]), ctx)
    return mq.flush()


# ---------------------------------------------------------------------------
# Generic refinement region (T.88 §6.3): re-code a region against a
# reference bitmap — the lossy-base + refine-to-lossless flow
# ---------------------------------------------------------------------------

#: GR context templates (T.88 §6.3.5.3 figures 12/14, nominal GRAT):
#: per template, (coding offsets, reference offsets) as (dx, dy) pairs
#: in context bit order (first listed = most significant). Template 0
#: folds the nominal A1(-1,-1) into the coding window and A2(-1,-1)
#: into the reference window; template 1 has no AT pixels.
_GR_TEMPLATES = (
    (
        ((0, -1), (1, -1), (-1, 0), (-1, -1)),
        ((0, -1), (1, -1), (-1, 0), (0, 0), (1, 0), (-1, 1), (0, 1), (1, 1),
         (-1, 1)),
    ),
    (
        ((-1, -1), (0, -1), (1, -1), (-1, 0)),
        ((0, -1), (-1, 0), (0, 0), (1, 0), (0, 1), (1, 1)),
    ),
)

#: nominal GR adaptive pixels: A1(-1,-1) A2(-1,-1) as signed bytes
_NOMINAL_GR_AT = bytes([0xFF, 0xFF, 0xFF, 0xFF])

#: TPGRON pseudo-pixel contexts per GR template (§6.3.5.6 LTP coding) —
#: the figure's context expressed in THIS implementation's bit order
#: (coding window then reference window, first listed = MSB); like the
#: rest of the JBIG2 contexts the value is round-trip pinned (no
#: reference decoder in this container to cross-check the ordering).
_TPGR_CX_OF = (0x0100, 0x0080)


def _gr_forced(ref: np.ndarray, y: int, x: int) -> "int | None":
    """§6.3.5.6 typical-prediction test: if the 3x3 reference window
    around (y, x) is uniform, the pixel is forced to that value when
    the row's LTP flag is set (out-of-bounds reads as 0)."""

    rh, rw = ref.shape
    s = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            yy, xx = y + dy, x + dx
            if 0 <= yy < rh and 0 <= xx < rw:
                s += int(ref[yy, xx])
    if s == 0:
        return 0
    if s == 9:
        return 1
    return None


def decode_refinement(
    data: bytes, w: int, h: int, ref: np.ndarray, template: int = 0,
    tpgron: bool = False, *,
    mq: "MQDecoder | None" = None, grctx: "ArithCtx | None" = None,
    refdx: int = 0, refdy: int = 0,
) -> np.ndarray:
    """MQ-coded generic refinement region -> (h, w) uint8 bits, decoded
    against the reference bitmap ``ref`` at offset
    (GRREFERENCEDX, GRREFERENCEDY) = (``refdx``, ``refdy``) — the
    reference pixel for target (x, y) is ref[y - refdy, x - refdx]
    (§6.3.5.3). ``tpgron`` enables typical prediction: rows flagged
    typical take uniform-reference-neighborhood pixels straight from
    the reference and decode only the rest. Pass an existing ``mq``
    plus an external ``grctx`` context table to continue a shared
    bitstream (symbol dictionaries and text regions interleave GR
    refinements with the Annex A integer procedures on one decoder,
    GR contexts persisting across symbols — §6.5.8.2.2/§6.4.11)."""

    _sane_dims(w, h, "refinement region")
    coding, reference = _GR_TEMPLATES[template]
    if mq is None:
        mq = MQDecoder(data)
        dec = mq.decode
    else:
        dec = lambda c: mq.decode(c, grctx.i, grctx.mps)  # noqa: E731
    out = np.zeros((h, w), np.uint8)
    rh, rw = ref.shape
    ltp = 0
    for y in range(h):
        if tpgron:
            ltp ^= dec(_TPGR_CX_OF[template])
        for x in range(w):
            if ltp:
                forced = _gr_forced(ref, y - refdy, x - refdx)
                if forced is not None:
                    out[y, x] = forced
                    continue
            ctx = 0
            for dx, dy in coding:
                yy, xx = y + dy, x + dx
                ctx = (ctx << 1) | (
                    int(out[yy, xx]) if 0 <= yy < h and 0 <= xx < w else 0
                )
            for dx, dy in reference:
                yy, xx = y + dy - refdy, x + dx - refdx
                ctx = (ctx << 1) | (
                    int(ref[yy, xx]) if 0 <= yy < rh and 0 <= xx < rw else 0
                )
            out[y, x] = dec(ctx)
    return out


def encode_refinement(
    img: np.ndarray, ref: np.ndarray, template: int = 0,
    tpgron: bool = False, *,
    mq: "MQEncoder | None" = None, grctx: "ArithCtx | None" = None,
    refdx: int = 0, refdy: int = 0,
) -> "bytes | None":
    """(h, w) 0/1 target bits + reference bitmap -> MQ-coded generic
    refinement region data (encoder twin of decode_refinement). With
    ``tpgron``, a row is flagged typical when every pixel with a
    uniform 3x3 reference neighborhood already equals that value —
    those pixels are then skipped entirely. Pass ``mq``/``grctx`` to
    append into a shared bitstream (returns None; the caller flushes)."""

    coding, reference = _GR_TEMPLATES[template]
    own = mq is None
    if own:
        mq = MQEncoder()
        enc = mq.encode
    else:
        enc = lambda d, c: mq.encode(d, c, grctx.i, grctx.mps)  # noqa: E731
    h, w = img.shape
    rh, rw = ref.shape
    ltp = 0
    for y in range(h):
        if tpgron:
            typical = True
            for x in range(w):
                forced = _gr_forced(ref, y - refdy, x - refdx)
                if forced is not None and forced != int(img[y, x]):
                    typical = False
                    break
            enc(1 if (typical != bool(ltp)) else 0,
                _TPGR_CX_OF[template])
            ltp = 1 if typical else 0
        for x in range(w):
            if ltp and _gr_forced(ref, y - refdy, x - refdx) is not None:
                continue
            ctx = 0
            for dx, dy in coding:
                yy, xx = y + dy, x + dx
                ctx = (ctx << 1) | (
                    int(img[yy, xx]) if 0 <= yy < h and 0 <= xx < w else 0
                )
            for dx, dy in reference:
                yy, xx = y + dy - refdy, x + dx - refdx
                ctx = (ctx << 1) | (
                    int(ref[yy, xx]) if 0 <= yy < rh and 0 <= xx < rw else 0
                )
            enc(int(img[y, x]), ctx)
    return mq.flush() if own else None


# ---------------------------------------------------------------------------
# Halftone region (T.88 §6.6) + pattern dictionary (§6.7): dithered
# scans — a pattern per gray level, stamped on a grid addressed by a
# gray-coded bitplane image
# ---------------------------------------------------------------------------

def _pattern_dict_at(template: int, hdpw: int) -> bytes:
    """§6.7.5 pattern-dictionary AT: A1 = (-HDPW, 0); A2-A4 nominal
    (template 0 only)."""

    return bytes([(-hdpw) & 0xFF, 0]) + (
        _NOMINAL_AT[2:] if template == 0 else b""
    )


def decode_pattern_dict(payload: bytes) -> "list[np.ndarray]":
    """Pattern dictionary segment (type 16) -> GRAYMAX+1 pattern
    bitmaps, decoded as ONE wide generic bitmap (§6.7.5) and split."""

    flags = payload[0]
    mmr = flags & 0x01
    template = (flags >> 1) & 0x03
    hdpw, hdph = payload[1], payload[2]
    (graymax,) = struct.unpack(">I", payload[3:7])
    if not hdpw or not hdph:
        raise UserError("JBIG2: zero pattern dimensions.")
    n = graymax + 1
    _sane_dims(n * hdpw, hdph, "pattern collective")
    if mmr:
        # §6.7.5 HDMMR: the collective bitmap is one T.6-coded image
        from .ccitt import decode_g4

        big = decode_g4(payload[7:], n * hdpw, hdph)
    else:
        if hdpw > 128:
            # A1 = (-HDPW, 0) must fit a signed byte offset
            raise UserError("JBIG2: pattern width exceeds the AT offset range.")
        big = decode_generic_at(
            payload[7:], n * hdpw, hdph, template,
            _pattern_dict_at(template, hdpw),
        )
    return [big[:, i * hdpw : (i + 1) * hdpw].copy() for i in range(n)]


def encode_pattern_dict(
    patterns: "list[np.ndarray]", template: int = 0, mmr: bool = False,
) -> bytes:
    """Encoder twin of decode_pattern_dict (equal-size patterns)."""

    hdph, hdpw = patterns[0].shape
    big = np.concatenate(patterns, axis=1).astype(np.uint8)
    if mmr:
        from .ccitt import encode_g4

        data = encode_g4(big)
        return (
            bytes([0x01, hdpw, hdph])
            + struct.pack(">I", len(patterns) - 1)
            + data
        )
    return (
        bytes([template << 1, hdpw, hdph])
        + struct.pack(">I", len(patterns) - 1)
        + encode_generic_at(big, template, _pattern_dict_at(template, hdpw))
    )


def _halftone_skip(
    hgw: int, hgh: int, hgx: int, hgy: int, hrx: int, hry: int,
    hdpw: int, hdph: int, rw: int, rh: int,
) -> np.ndarray:
    """§6.6.5.1 HSKIP bitmap: grid cells whose pattern placement falls
    entirely outside the region are never coded."""

    skip = np.zeros((hgh, hgw), np.uint8)
    for mg in range(hgh):
        for ng in range(hgw):
            x = (hgx + mg * hry + ng * hrx) >> 8
            y = (hgy + mg * hrx - ng * hry) >> 8
            if x + hdpw <= 0 or x >= rw or y + hdph <= 0 or y >= rh:
                skip[mg, ng] = 1
    return skip


def decode_halftone_region(
    payload: bytes, patterns: "list[np.ndarray]"
) -> "tuple[np.ndarray, int, int]":
    """Halftone region segment data -> (bitmap, x, y). Gray-coded
    bitplanes decode MSB-first on ONE shared MQ decoder — or, with
    HMMR, on one continuous T.6 stream (§C.5) — then each grid cell
    stamps its pattern (§6.6.5.1 grid-vector addressing, OR
    composition)."""

    rw, rh, rx, ry = struct.unpack(">IIII", payload[:16])
    _sane_dims(rw, rh, "halftone region")
    flags = payload[17]
    mmr = flags & 0x01
    template = (flags >> 1) & 0x03
    enableskip = bool(flags & 0x08)
    if mmr and enableskip:
        raise UserError("JBIG2: HENABLESKIP is illegal with MMR (§6.6.5).")
    combop = (flags >> 4) & 0x07
    if combop != 0:
        raise UserError("JBIG2: only OR halftone composition is supported.")
    defpix = (flags >> 7) & 1
    hgw, hgh, hgx, hgy = struct.unpack(">IIii", payload[18:34])
    _sane_dims(hgw, hgh, "halftone grid")
    hrx, hry = struct.unpack(">HH", payload[34:38])
    if not patterns:
        raise UserError("JBIG2: halftone region with no pattern dictionary.")
    bits_per = max(1, (len(patterns) - 1).bit_length())
    hdph, hdpw = patterns[0].shape
    skip = (
        _halftone_skip(hgw, hgh, hgx, hgy, hrx, hry, hdpw, hdph, rw, rh)
        if enableskip else None
    )
    if mmr:
        # §C.5 with HMMR: ONE T.6 decoder runs across every bitplane
        # without restarting — identical to decoding a single tall
        # image (the reference line rolls over the plane boundary)
        # and slicing it MSB-plane-first
        from .ccitt import decode_g4

        tall = decode_g4(payload[38:], hgw, bits_per * hgh)
        planes = [tall[i * hgh : (i + 1) * hgh] for i in range(bits_per)]
    else:
        mq = MQDecoder(payload[38:])
        planes = [
            decode_generic(b"", hgw, hgh, mq=mq, template=template,
                           skip=skip)
            for _ in range(bits_per)
        ]
    gray = None
    for plane in planes:  # MSB plane first
        if gray is None:
            gray = plane.astype(np.int64)
        else:
            gray = (gray << 1) | (plane ^ (gray & 1))
    if int(gray.max()) >= len(patterns):
        raise UserError("JBIG2: halftone gray value exceeds GRAYMAX.")
    region = np.full((rh, rw), defpix, np.uint8)
    hdph, hdpw = patterns[0].shape
    for mg in range(hgh):
        for ng in range(hgw):
            x = (hgx + mg * hry + ng * hrx) >> 8
            y = (hgy + mg * hrx - ng * hry) >> 8
            pat = patterns[int(gray[mg, ng])]
            ys, xs = max(0, y), max(0, x)
            ye, xe = min(rh, y + hdph), min(rw, x + hdpw)
            if ye > ys and xe > xs:
                region[ys:ye, xs:xe] |= pat[ys - y : ye - y, xs - x : xe - x]
    return region, rx, ry


def encode_jbig2_halftone(
    gray: np.ndarray, patterns: "list[np.ndarray] | None" = None,
    template: int = 0, mmr: bool = False,
    grid: "tuple[int, int, int, int] | None" = None,
    enableskip: bool = False,
) -> bytes:
    """(HGH, HGW) pattern-index grid -> embedded JBIG2 stream: page
    info + pattern dictionary + immediate halftone region + EOP.
    Default patterns are SQUARE 4x4 fills of increasing darkness (the
    grid vectors tile square cells, §6.6.5.1). Returns the stream; the
    decoded page equals the stamped composition."""

    gray = np.asarray(gray)
    if patterns is None:
        n = int(gray.max()) + 1
        if n > 17:
            raise UserError("JBIG2 encoder: default halftone needs <= 17 levels.")
        cells = [(i, j) for i in range(4) for j in range(4)]
        patterns = []
        for k in range(n):
            p = np.zeros((4, 4), np.uint8)
            for i, j in cells[:k]:
                p[i, j] = 1
            patterns.append(p)
    hdph, hdpw = patterns[0].shape
    if hdpw != hdph:
        raise UserError("JBIG2 encoder: halftone patterns must be square.")
    graymax = len(patterns) - 1
    bits_per = max(1, graymax.bit_length())
    hgh, hgw = gray.shape
    rh, rw = hgh * hdph, hgw * hdpw
    hgx, hgy, hrx, hry = grid if grid is not None else (0, 0, hdpw << 8, 0)
    if enableskip and mmr:
        raise UserError("JBIG2 encoder: HENABLESKIP is illegal with MMR.")
    skip = (
        _halftone_skip(hgw, hgh, hgx, hgy, hrx, hry, hdpw, hdph, rw, rh)
        if enableskip else None
    )
    plane_arrays = []
    for j in range(bits_per - 1, -1, -1):  # gray-coded planes, MSB first
        bit = ((gray >> j) & 1).astype(np.uint8)
        if j < bits_per - 1:
            bit = bit ^ ((gray >> (j + 1)) & 1).astype(np.uint8)
        plane_arrays.append(bit)
    if mmr:
        from .ccitt import encode_g4

        data = encode_g4(np.concatenate(plane_arrays, axis=0))
        ht_flags = 0x01
    else:
        mq = MQEncoder()
        for bit in plane_arrays:
            encode_generic(bit, mq=mq, template=template, skip=skip)
        data = mq.flush()
        ht_flags = (template << 1) | (0x08 if enableskip else 0)
    ht_payload = (
        struct.pack(">IIII", rw, rh, 0, 0)
        + b"\x00"  # external combination operator: OR
        + bytes([ht_flags])  # HT flags: MMR bit, skip bit, OR, defpix 0
        + struct.pack(">IIii", hgw, hgh, hgx, hgy)
        + struct.pack(">HH", hrx, hry)
        + data
    )
    page_info = struct.pack(">IIII", rw, rh, 0, 0) + b"\x00" + b"\x00\x00"
    return (
        _segment(0, 48, page_info)
        + _segment(1, 16, encode_pattern_dict(patterns, template, mmr=mmr))
        + _segment(2, 22, ht_payload, refs=(1,))
        + _segment(3, 49, b"")
    )


# ---------------------------------------------------------------------------
# Huffman tables (T.88 Annex B): assigned-value prefix codes for the
# SDHUFF/SBHUFF coding paths. This engine ships ALL predefined Annex
# B tables B.1-B.15 (transcriptions double-checked structurally:
# exact range tiling plus Kraft completeness — every table sums to
# exactly 1 except B.10, whose published code is prefix-free with
# 14/256 of the code space unassigned; that slack is pinned exactly
# in tests so a mistranscribed prefix length still trips) plus
# USER-SUPPLIED tables via code-table segments (type 53, B.2 syntax).
# ---------------------------------------------------------------------------

class _BitReaderH:
    """MSB-first bit reader for the Huffman-coded paths (no byte
    stuffing, unlike the MQ-coder stream)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.bit = 0

    def get(self) -> int:
        if self.pos >= len(self.data):
            raise UserError("JBIG2: truncated Huffman data.")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        if self.bit:
            self.bit = 0
            self.pos += 1
        return self.pos


class _BitWriterH:
    """MSB-first bit writer (encoder twin of _BitReaderH)."""

    __slots__ = ("out", "cur", "nb")

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nb = 0

    def put_bits(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.nb += 1
            if self.nb == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nb = 0

    def align(self) -> None:
        while self.nb:
            self.put_bits(0, 1)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class HuffTable:
    """One Annex B assigned-value table: ``lines`` of (preflen,
    rangelen, rangelow, kind) with kind in normal|lower|upper|oob.
    Canonical codes assign per B.3: lengths ascending, table order
    within a length — identical construction on both ends, so a table
    segment round-trips by definition."""

    def __init__(self, lines: list) -> None:
        self.lines = [ln for ln in lines if ln[0] > 0]
        counts: dict[int, int] = {}
        for pl, _rl, _lo, _k in self.lines:
            counts[pl] = counts.get(pl, 0) + 1
        maxlen = max(counts, default=0)
        nxt: dict[int, int] = {}
        code = 0
        for length in range(1, maxlen + 1):
            code = (code + counts.get(length - 1, 0)) << 1
            nxt[length] = code
        by_len: dict[int, list] = {}
        for idx, (pl, _rl, _lo, _k) in enumerate(self.lines):
            by_len.setdefault(pl, []).append(idx)
        codes: dict[int, tuple] = {}
        for length in sorted(by_len):
            for idx in by_len[length]:
                codes[idx] = (nxt[length], length)
                nxt[length] += 1
        self.codes = [codes[i] for i in range(len(self.lines))]
        #: (preflen, code) -> line index, for decode
        self.dec = {
            (pl, c): i
            for i, ((c, pl)) in enumerate(self.codes)
        }

    def decode(self, br: _BitReaderH) -> "int | None":
        length = 0
        code = 0
        while length <= 32:
            code = (code << 1) | br.get()
            length += 1
            idx = self.dec.get((length, code))
            if idx is not None:
                pl, rl, lo, kind = self.lines[idx]
                if kind == "oob":
                    return None
                if kind == "lower":
                    return lo - br.get_bits(32)
                if kind == "upper":
                    return lo + br.get_bits(32)
                return lo + br.get_bits(rl)
        raise UserError("JBIG2: invalid Huffman code.")

    def encode(self, bw: _BitWriterH, value: "int | None") -> None:
        if value is None:
            for i, (_pl, _rl, _lo, kind) in enumerate(self.lines):
                if kind == "oob":
                    c, pl = self.codes[i]
                    bw.put_bits(c, pl)
                    return
            raise UserError("JBIG2 encoder: table has no OOB code.")
        for i, (_pl, rl, lo, kind) in enumerate(self.lines):
            if kind == "normal" and lo <= value < lo + (1 << rl):
                c, pl = self.codes[i]
                bw.put_bits(c, pl)
                bw.put_bits(value - lo, rl)
                return
        for i, (_pl, _rl, lo, kind) in enumerate(self.lines):
            if kind == "lower" and value <= lo:
                c, pl = self.codes[i]
                bw.put_bits(c, pl)
                bw.put_bits(lo - value, 32)
                return
            if kind == "upper" and value >= lo:
                c, pl = self.codes[i]
                bw.put_bits(c, pl)
                bw.put_bits(value - lo, 32)
                return
        raise UserError("JBIG2 encoder: value outside the table range.")


#: Table B.1 (the spec-mandated default: export runs, BMSIZE):
#: 0..15 in 4 bits, 16..271 in 8, 272..65807 in 16, 65808+ upper.
_TABLE_B1 = HuffTable([
    (1, 4, 0, "normal"),
    (2, 8, 16, "normal"),
    (3, 16, 272, "normal"),
    (3, 32, 65808, "upper"),
])

#: T.88 Annex B predefined tables B.2-B.15 (B.1 above), as (preflen,
#: rangelen, rangelow, kind) in SPEC ROW ORDER — canonical code
#: assignment is lengths-ascending then table order, so the order is
#: part of the definition. Every shipped transcription passes two
#: independent structural checks pinned in tests/test_jbig2.py: the
#: normal ranges tile their span exactly, and the code is
#: Kraft-COMPLETE (sum 2^-len == 1 — a single wrong prefix length
#: breaks it) for every table except B.10, whose published code
#: genuinely leaves 14/256 of the code space unassigned; its exact
#: slack is pinned instead, and both B.7 and B.10 are additionally
#: verified by forcing the encoder onto their selections and
#: round-tripping bit-exact (the same recipe as user tables).
_STD_LINES: "dict[int, list]" = {
    1: _TABLE_B1.lines,
    2: [
        (1, 0, 0, "normal"), (2, 0, 1, "normal"), (3, 0, 2, "normal"),
        (4, 3, 3, "normal"), (5, 6, 11, "normal"),
        (6, 32, 75, "upper"), (6, 0, 0, "oob"),
    ],
    3: [
        (8, 8, -256, "normal"), (1, 0, 0, "normal"), (2, 0, 1, "normal"),
        (3, 0, 2, "normal"), (4, 3, 3, "normal"), (5, 6, 11, "normal"),
        (8, 32, -257, "lower"), (7, 32, 75, "upper"), (6, 0, 0, "oob"),
    ],
    4: [
        (1, 0, 1, "normal"), (2, 0, 2, "normal"), (3, 0, 3, "normal"),
        (4, 3, 4, "normal"), (5, 6, 12, "normal"), (5, 32, 76, "upper"),
    ],
    5: [
        (7, 8, -255, "normal"), (1, 0, 1, "normal"), (2, 0, 2, "normal"),
        (3, 0, 3, "normal"), (4, 3, 4, "normal"), (5, 6, 12, "normal"),
        (7, 32, -256, "lower"), (6, 32, 76, "upper"),
    ],
    6: [
        (5, 10, -2048, "normal"), (4, 9, -1024, "normal"),
        (4, 8, -512, "normal"), (4, 7, -256, "normal"),
        (5, 6, -128, "normal"), (5, 5, -64, "normal"),
        (4, 5, -32, "normal"), (2, 7, 0, "normal"),
        (3, 7, 128, "normal"), (3, 8, 256, "normal"),
        (4, 9, 512, "normal"), (4, 10, 1024, "normal"),
        (6, 32, -2049, "lower"), (6, 32, 2048, "upper"),
    ],
    7: [
        (4, 9, -1024, "normal"), (3, 8, -512, "normal"),
        (4, 7, -256, "normal"), (5, 6, -128, "normal"),
        (5, 5, -64, "normal"), (4, 5, -32, "normal"),
        (4, 5, 0, "normal"), (5, 5, 32, "normal"),
        (5, 6, 64, "normal"), (4, 7, 128, "normal"),
        (3, 8, 256, "normal"), (3, 9, 512, "normal"),
        (3, 10, 1024, "normal"),
        (5, 32, -1025, "lower"), (5, 32, 2048, "upper"),
    ],
    8: [
        (8, 3, -15, "normal"), (9, 1, -7, "normal"), (8, 1, -5, "normal"),
        (9, 0, -3, "normal"), (7, 0, -2, "normal"), (4, 0, -1, "normal"),
        (2, 1, 0, "normal"), (5, 0, 2, "normal"), (6, 0, 3, "normal"),
        (3, 4, 4, "normal"), (6, 1, 20, "normal"), (4, 4, 22, "normal"),
        (4, 5, 38, "normal"), (5, 6, 70, "normal"), (5, 7, 134, "normal"),
        (6, 7, 262, "normal"), (7, 8, 390, "normal"), (6, 10, 646, "normal"),
        (9, 32, -16, "lower"), (9, 32, 1670, "upper"), (2, 0, 0, "oob"),
    ],
    9: [
        (8, 4, -31, "normal"), (9, 2, -15, "normal"), (8, 2, -11, "normal"),
        (9, 1, -7, "normal"), (7, 1, -5, "normal"), (4, 1, -3, "normal"),
        (3, 1, -1, "normal"), (3, 1, 1, "normal"), (5, 1, 3, "normal"),
        (6, 1, 5, "normal"), (3, 5, 7, "normal"), (6, 2, 39, "normal"),
        (4, 5, 43, "normal"), (4, 6, 75, "normal"), (5, 7, 139, "normal"),
        (5, 8, 267, "normal"), (6, 8, 523, "normal"), (7, 9, 779, "normal"),
        (6, 11, 1291, "normal"),
        (9, 32, -32, "lower"), (9, 32, 3339, "upper"), (2, 0, 0, "oob"),
    ],
    10: [
        (7, 4, -21, "normal"), (8, 0, -5, "normal"), (7, 0, -4, "normal"),
        (5, 0, -3, "normal"), (2, 2, -2, "normal"), (5, 0, 2, "normal"),
        (6, 0, 3, "normal"), (7, 0, 4, "normal"), (8, 0, 5, "normal"),
        (2, 6, 6, "normal"), (5, 5, 70, "normal"), (6, 5, 102, "normal"),
        (7, 6, 134, "normal"), (8, 7, 198, "normal"),
        (8, 8, 326, "normal"), (8, 9, 582, "normal"),
        (8, 10, 1094, "normal"), (7, 11, 2118, "normal"),
        (8, 32, -22, "lower"), (8, 32, 4166, "upper"), (2, 0, 0, "oob"),
    ],
    11: [
        (1, 0, 1, "normal"), (2, 1, 2, "normal"), (4, 0, 4, "normal"),
        (4, 1, 5, "normal"), (5, 1, 7, "normal"), (5, 2, 9, "normal"),
        (6, 2, 13, "normal"), (7, 2, 17, "normal"), (7, 3, 21, "normal"),
        (7, 4, 29, "normal"), (7, 5, 45, "normal"), (7, 6, 77, "normal"),
        (7, 32, 141, "upper"),
    ],
    12: [
        (1, 0, 1, "normal"), (2, 0, 2, "normal"), (3, 1, 3, "normal"),
        (5, 0, 5, "normal"), (5, 1, 6, "normal"), (6, 1, 8, "normal"),
        (7, 0, 10, "normal"), (7, 1, 11, "normal"), (7, 2, 13, "normal"),
        (7, 3, 17, "normal"), (7, 4, 25, "normal"), (8, 5, 41, "normal"),
        (8, 32, 73, "upper"),
    ],
    13: [
        (1, 0, 1, "normal"), (3, 0, 2, "normal"), (4, 0, 3, "normal"),
        (5, 0, 4, "normal"), (4, 1, 5, "normal"), (3, 3, 7, "normal"),
        (6, 1, 15, "normal"), (6, 2, 17, "normal"), (6, 3, 21, "normal"),
        (6, 4, 29, "normal"), (6, 5, 45, "normal"), (7, 6, 77, "normal"),
        (7, 32, 141, "upper"),
    ],
    14: [
        (3, 0, -2, "normal"), (3, 0, -1, "normal"), (1, 0, 0, "normal"),
        (3, 0, 1, "normal"), (3, 0, 2, "normal"),
    ],
    15: [
        (7, 4, -24, "normal"), (6, 2, -8, "normal"), (5, 1, -4, "normal"),
        (4, 0, -2, "normal"), (3, 0, -1, "normal"), (1, 0, 0, "normal"),
        (3, 0, 1, "normal"), (4, 0, 2, "normal"), (5, 1, 3, "normal"),
        (6, 2, 5, "normal"), (7, 4, 9, "normal"),
        (7, 32, -25, "lower"), (7, 32, 25, "upper"),
    ],
}

_STD_CACHE: "dict[int, HuffTable]" = {1: _TABLE_B1}


def _std_table(n: int) -> HuffTable:
    """Predefined Annex B table B.n (all fifteen ship; structural
    cross-checks in tests/test_jbig2.py pin exact range tiling and
    the per-table Kraft sums, and the encoder's alternate predefined
    profile round-trips B.3/B.5/B.7/B.10/B.13 end-to-end)."""

    lines = _STD_LINES.get(n)
    if lines is None:
        raise UserError(
            f"JBIG2: predefined Huffman table B.{n} unsupported."
        )
    t = _STD_CACHE.get(n)
    if t is None:
        t = _STD_CACHE[n] = HuffTable(lines)
    return t


def decode_code_table(payload: bytes) -> HuffTable:
    """Code-table segment (type 53) data -> HuffTable (B.2 syntax:
    flags, HTLOW/HTHIGH, then bit-packed (preflen, rangelen) lines
    from HTLOW upward, the lower/upper range preflens, and the OOB
    preflen when HTOOB)."""

    if len(payload) < 9:
        raise UserError("JBIG2: truncated code-table segment.")
    flags = payload[0]
    htoob = flags & 0x01
    htps = ((flags >> 1) & 0x07) + 1
    htrs = ((flags >> 4) & 0x07) + 1
    htlow, hthigh = struct.unpack(">ii", payload[1:9])
    if hthigh <= htlow:
        raise UserError("JBIG2: empty code-table range.")
    br = _BitReaderH(payload, 9)
    lines = []
    cur = htlow
    while cur < hthigh:
        pl = br.get_bits(htps)
        rl = br.get_bits(htrs)
        if rl > 32:
            raise UserError("JBIG2: code-table range length > 32.")
        lines.append((pl, rl, cur, "normal"))
        cur += 1 << rl
    lines.append((br.get_bits(htps), 32, htlow - 1, "lower"))
    lines.append((br.get_bits(htps), 32, hthigh, "upper"))
    if htoob:
        lines.append((br.get_bits(htps), 0, 0, "oob"))
    return HuffTable(lines)


def encode_code_table(
    lines: list, htlow: int, hthigh: int,
    lower_pl: int, upper_pl: int, oob_pl: int = 0,
) -> bytes:
    """Encoder twin of decode_code_table. ``lines`` are (preflen,
    rangelen) pairs tiling [htlow, hthigh) in order."""

    max_pl = max([pl for pl, _ in lines] + [lower_pl, upper_pl, oob_pl])
    max_rl = max(rl for _, rl in lines)
    htps = max(max_pl.bit_length(), 1)
    htrs = max(max_rl.bit_length(), 1)
    if htps > 8 or htrs > 8:
        raise UserError("JBIG2 encoder: code-table field width > 8.")
    flags = (1 if oob_pl else 0) | ((htps - 1) << 1) | ((htrs - 1) << 4)
    bw = _BitWriterH()
    cur = htlow
    for pl, rl in lines:
        bw.put_bits(pl, htps)
        bw.put_bits(rl, htrs)
        cur += 1 << rl
    if cur < hthigh:
        raise UserError("JBIG2 encoder: lines do not tile the range.")
    bw.put_bits(lower_pl, htps)
    bw.put_bits(upper_pl, htps)
    if oob_pl:
        bw.put_bits(oob_pl, htps)
    return bytes([flags]) + struct.pack(">ii", htlow, hthigh) + bw.flush()


def _simple_table(lo: int, hi: int, oob: bool) -> bytes:
    """A compact generic user table: one line covering [lo, hi) at
    preflen 1, lower/upper 32-bit escapes, optional OOB — enough to
    code ANY integer, with the common range cheap."""

    span = max(1, (hi - lo - 1).bit_length() if hi - lo > 1 else 1)
    return encode_code_table(
        [(1, span)], lo, lo + (1 << span),
        lower_pl=2, upper_pl=3, oob_pl=3 if oob else 0,
    )


# ---------------------------------------------------------------------------
# Symbol dictionary (T.88 §6.5 decode / §7.4.3 segment layout)
# ---------------------------------------------------------------------------

def _decode_agg_text_huffman(
    br: "_BitReaderH", payload: bytes, syms: "list[np.ndarray]",
    w: int, h: int, ninst: int, symlen: int, sbrtemplate: int,
) -> np.ndarray:
    """Nested SDHUFF aggregate (§6.5.8.2.1 with SDHUFF=1,
    REFAGGNINST > 1): a text region decoded INLINE from the
    dictionary's bit stream with the Table 17 parameters — SBSTRIPS=1,
    TOPLEFT corner, DSOFFSET=0, SBDEFPIXEL=0, fixed predefined tables
    (FS=B.6, DS=B.8, DT=B.11, RDW/RDH/RDX/RDY=B.15, RSIZE=B.1) and
    symbol IDs in SBSYMCODELEN raw bits (§6.5.8.2.3). SBREFINE=1, so
    each instance carries an RI bit; refined instances ride a
    byte-aligned MQ segment like the standalone Huffman text region.
    The reader advances in place (the dictionary continues after)."""

    fs_tbl, ds_tbl = _std_table(6), _std_table(8)
    dt_tbl, rd_tbl = _std_table(11), _std_table(15)
    region = np.zeros((h, w), np.uint8)
    dt0 = dt_tbl.decode(br)
    if dt0 is None:
        raise UserError("JBIG2: OOB aggregate strip delta.")
    stript = -dt0
    firsts = 0
    n = 0
    while n < ninst:
        dt = dt_tbl.decode(br)
        if dt is None:
            raise UserError("JBIG2: OOB aggregate strip delta.")
        stript += dt
        first = True
        curs = 0
        while n < ninst:
            if first:
                dfs = fs_tbl.decode(br)
                if dfs is None:
                    raise UserError("JBIG2: OOB aggregate first-S delta.")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = ds_tbl.decode(br)
                if ids is None:
                    break  # strip done
                curs += ids  # DSOFFSET = 0
            sid = br.get_bits(symlen)
            if sid >= len(syms):
                raise UserError("JBIG2: aggregate symbol ID out of range.")
            bm = syms[sid]
            hi, wi = bm.shape
            if br.get():  # RI (SBREFINE=1 per Table 17)
                rdw = rd_tbl.decode(br)
                rdh = rd_tbl.decode(br)
                rdx = rd_tbl.decode(br)
                rdy = rd_tbl.decode(br)
                rsize = _TABLE_B1.decode(br)
                if None in (rdw, rdh, rdx, rdy, rsize) or rsize < 0:
                    raise UserError("JBIG2: OOB aggregate refinement field.")
                nw, nh = wi + rdw, hi + rdh
                if not (0 < nw <= 1 << 15 and 0 < nh <= 1 << 15):
                    raise UserError("JBIG2: invalid refined instance size.")
                pos = br.align()
                if pos + rsize > len(payload):
                    raise UserError("JBIG2: truncated refinement segment.")
                bm = decode_refinement(
                    payload[pos : pos + rsize], nw, nh, bm,
                    template=sbrtemplate,
                    refdx=(rdw >> 1) + rdx, refdy=(rdh >> 1) + rdy,
                )
                br.pos = pos + rsize
                br.bit = 0
                hi, wi = bm.shape
            y0, x0 = stript, curs  # TOPLEFT
            ys, xs = max(y0, 0), max(x0, 0)
            ye, xe = min(y0 + hi, h), min(x0 + wi, w)
            if ye > ys and xe > xs:
                region[ys:ye, xs:xe] |= bm[ys - y0 : ye - y0, xs - x0 : xe - x0]
            curs += wi - 1
            n += 1
    return region


def _decode_symbol_dict_huffman(
    payload: bytes, input_syms: "list[np.ndarray]",
    tables: "list[HuffTable]", flags: int,
) -> "list[np.ndarray]":
    """SDHUFF=1 dictionary decode (§6.5.9): height-class deltas and
    width deltas via Huffman tables. With SDREFAGG=0 each height
    class's symbols are sliced out of ONE collective bitmap
    (BMSIZE=0 -> uncompressed byte-aligned rows; else T.6 MMR of
    BMSIZE bytes); with SDREFAGG=1 each symbol is refinement-coded
    against an earlier input/new symbol (§6.5.8.2.2 with SDHUFF: ID
    in SBSYMCODELEN raw bits, RDX/RDY via Table B.15, BMSIZE via
    Table B.1, then a byte-aligned MQ refinement segment with fresh
    contexts) or aggregate-coded as a nested inline Huffman text
    region of REFAGGNINST instances (§6.5.8.2.1,
    _decode_agg_text_huffman). Export runs ride the spec-mandated
    Table B.1."""

    sdrefagg = (flags >> 1) & 0x01
    sdrtemplate = (flags >> 12) & 0x01
    dh_sel = (flags >> 2) & 0x03
    dw_sel = (flags >> 4) & 0x03
    bm_sel = (flags >> 6) & 0x01
    agg_sel = (flags >> 7) & 0x01
    pos0 = 2
    if sdrefagg and sdrtemplate == 0:
        if payload[2:6] != _NOMINAL_GR_AT:
            raise UserError("JBIG2: non-nominal GR AT pixels unsupported.")
        pos0 = 6
    it = iter(tables)

    def _user() -> HuffTable:
        try:
            return next(it)
        except StopIteration:
            raise UserError("JBIG2: missing user code table.") from None

    def _pick(sel: int, std: "tuple[int, ...]") -> HuffTable:
        # §7.4.3.1.1: selection 3 = user table, else predefined B.n
        if sel == 3:
            return _user()
        if sel >= len(std):
            raise UserError("JBIG2: reserved Huffman table selection.")
        return _std_table(std[sel])

    dh_tbl = _pick(dh_sel, (4, 5))
    dw_tbl = _pick(dw_sel, (2, 3))
    bm_tbl = _user() if bm_sel else _TABLE_B1
    agg_tbl = (_user() if agg_sel else _TABLE_B1) if sdrefagg else None
    numex, numnew = struct.unpack(">II", payload[pos0 : pos0 + 8])
    if numnew > 1 << 20 or numex > 1 << 20:
        raise UserError("JBIG2: implausible symbol count.")
    from .ccitt import decode_g4

    br = _BitReaderH(payload, pos0 + 8)
    newsyms: list[np.ndarray] = []
    hcheight = 0
    symlen = _symcodelen(len(input_syms) + numnew) if sdrefagg else 0
    rd_tbl = _std_table(15) if sdrefagg else None
    while len(newsyms) < numnew:
        dh = dh_tbl.decode(br)
        if dh is None:
            raise UserError("JBIG2: OOB height-class delta.")
        hcheight += dh
        symwidth = 0
        widths: list[int] = []
        while True:
            dw = dw_tbl.decode(br)
            if dw is None:
                break
            symwidth += dw
            if not (0 < symwidth <= 1 << 15 and 0 < hcheight <= 1 << 15):
                raise UserError("JBIG2: invalid symbol dimensions.")
            if len(newsyms) + len(widths) >= numnew + (0 if sdrefagg else 1):
                raise UserError("JBIG2: more symbols than declared.")
            if sdrefagg:
                # §6.5.8.2 with SDHUFF=1: the symbol is coded
                # individually right here (no collective bitmap)
                nrefs = agg_tbl.decode(br)
                if nrefs is None or nrefs < 1:
                    raise UserError("JBIG2: bad aggregate instance count.")
                if nrefs > 1 << 16:
                    raise UserError("JBIG2: implausible aggregate count.")
                if nrefs != 1:
                    # §6.5.8.2.1: nested Huffman text region of nrefs
                    # instances, read inline from this bit stream
                    newsyms.append(_decode_agg_text_huffman(
                        br, payload, input_syms + newsyms,
                        symwidth, hcheight, nrefs, symlen, sdrtemplate,
                    ))
                    continue
                sid = br.get_bits(symlen)
                rdx = rd_tbl.decode(br)
                rdy = rd_tbl.decode(br)
                bmsize = _TABLE_B1.decode(br)
                if rdx is None or rdy is None or bmsize is None or \
                        bmsize < 0:
                    raise UserError("JBIG2: OOB refinement field.")
                avail = input_syms + newsyms
                if sid >= len(avail):
                    raise UserError(
                        "JBIG2: refinement symbol ID out of range."
                    )
                pos = br.align()
                if pos + bmsize > len(payload):
                    raise UserError("JBIG2: truncated refinement segment.")
                newsyms.append(decode_refinement(
                    payload[pos : pos + bmsize], symwidth, hcheight,
                    avail[sid], template=sdrtemplate,
                    refdx=rdx, refdy=rdy,
                ))
                br = _BitReaderH(payload, pos + bmsize)
                continue
            widths.append(symwidth)
        if sdrefagg or not widths:
            continue
        bmsize = bm_tbl.decode(br)
        if bmsize is None or bmsize < 0:
            raise UserError("JBIG2: bad collective bitmap size.")
        pos = br.align()
        totw = sum(widths)
        if bmsize == 0:
            # uncompressed: rows padded to byte boundaries (§6.5.9)
            rowbytes = (totw + 7) // 8
            need = rowbytes * hcheight
            if pos + need > len(payload):
                raise UserError("JBIG2: truncated collective bitmap.")
            raw = np.frombuffer(
                payload[pos : pos + need], np.uint8
            ).reshape(hcheight, rowbytes)
            coll = np.unpackbits(raw, axis=1)[:, :totw]
            pos += need
        else:
            if pos + bmsize > len(payload):
                raise UserError("JBIG2: truncated collective bitmap.")
            coll = decode_g4(payload[pos : pos + bmsize], totw, hcheight)
            pos += bmsize
        x = 0
        for wd in widths:
            newsyms.append(coll[:, x : x + wd].copy())
            x += wd
        br = _BitReaderH(payload, pos)

    allsyms = list(input_syms) + newsyms
    exported: list[np.ndarray] = []
    curex, i = 0, 0
    while i < len(allsyms):
        run = _TABLE_B1.decode(br)
        if run is None or run < 0 or i + run > len(allsyms):
            raise UserError("JBIG2: bad export run length.")
        if curex:
            exported.extend(allsyms[i : i + run])
        i += run
        curex ^= 1
    if len(exported) != numex:
        raise UserError("JBIG2: export count mismatch.")
    return exported


def decode_symbol_dict(
    payload: bytes, input_syms: "list[np.ndarray]",
    tables: "list[HuffTable] | None" = None,
) -> "list[np.ndarray]":
    """Symbol dictionary segment data -> exported symbol bitmaps
    (decode order). Arithmetic coding only (SDHUFF=0); new symbols
    are generic-coded (SDREFAGG=0, GB template 0 at nominal AT),
    refinement-coded against an earlier symbol (SDREFAGG=1 with
    REFAGGNINST=1, §6.5.8.2.2 — the refine-a-glyph flow), or
    aggregate-coded as a nested text region of REFAGGNINST instances
    (§6.5.8.2.1 — ligatures built from earlier glyphs); everything
    else fails closed."""

    if len(payload) < 18:
        raise UserError("JBIG2: truncated symbol dictionary.")
    flags = int.from_bytes(payload[0:2], "big")
    if flags & 0x01:
        return _decode_symbol_dict_huffman(
            payload, input_syms, list(tables or []), flags
        )
    sdrefagg = (flags >> 1) & 0x01
    if (flags >> 8) & 0x03:
        raise UserError("JBIG2: retained coding contexts unsupported.")
    if (flags >> 10) & 0x03:
        raise UserError("JBIG2: only GB template 0 symbol bitmaps.")
    sdrtemplate = (flags >> 12) & 0x01
    if payload[2:10] != _NOMINAL_AT:
        raise UserError("JBIG2: non-nominal AT pixels unsupported.")
    at_end = 10
    if sdrefagg and sdrtemplate == 0:
        if payload[10:14] != _NOMINAL_GR_AT:
            raise UserError("JBIG2: non-nominal GR AT pixels unsupported.")
        at_end = 14
    numex, numnew = struct.unpack(">II", payload[at_end : at_end + 8])
    if numnew > 1 << 20 or numex > 1 << 20:
        raise UserError("JBIG2: implausible symbol count.")

    mq = MQDecoder(payload[at_end + 8 :])
    iadh, iadw, iaex = ArithCtx(), ArithCtx(), ArithCtx()
    if sdrefagg:
        iaai = ArithCtx()
        symlen = _symcodelen(len(input_syms) + numnew)
        # §6.5.8.2.1: the text-decode context tables are created once
        # per dictionary and retained across every aggregate symbol
        # (the single-refinement path shares IAID/IARDX/IARDY/GR too)
        tctxs = _text_ctxs(symlen)
    newsyms: list[np.ndarray] = []
    hcheight = 0
    while len(newsyms) < numnew:
        dh = decode_int(mq, iadh)
        if dh is None:
            raise UserError("JBIG2: OOB height-class delta.")
        hcheight += dh
        symwidth = 0
        while True:
            dw = decode_int(mq, iadw)
            if dw is None:
                break  # height class done
            symwidth += dw
            if not (0 < symwidth <= 1 << 15 and 0 < hcheight <= 1 << 15):
                raise UserError("JBIG2: invalid symbol dimensions.")
            if len(newsyms) >= numnew:
                raise UserError("JBIG2: more symbols than declared.")
            if not sdrefagg:
                newsyms.append(decode_generic(b"", symwidth, hcheight, mq=mq))
                continue
            # §6.5.8.2: each new symbol is either ONE refinement of an
            # already-decoded symbol (REFAGGNINST == 1) or a nested
            # text region of REFAGGNINST instances composed onto the
            # new bitmap (§6.5.8.2.1, Table 17 parameters)
            nrefs = decode_int(mq, iaai)
            if nrefs is None or nrefs < 1:
                raise UserError("JBIG2: bad aggregate instance count.")
            avail_syms = input_syms + newsyms
            if nrefs == 1:
                sid = decode_iaid(mq, tctxs["iaid"], symlen)
                rdx = decode_int(mq, tctxs["iardx"])
                rdy = decode_int(mq, tctxs["iardy"])
                if rdx is None or rdy is None:
                    raise UserError("JBIG2: OOB refinement offset.")
                if sid >= len(avail_syms):
                    raise UserError(
                        "JBIG2: refinement symbol ID out of range."
                    )
                newsyms.append(decode_refinement(
                    b"", symwidth, hcheight, avail_syms[sid],
                    template=sdrtemplate,
                    mq=mq, grctx=tctxs["gr"], refdx=rdx, refdy=rdy,
                ))
            else:
                if nrefs > 1 << 16:
                    raise UserError("JBIG2: implausible aggregate count.")
                newsyms.append(_decode_text_bitmap(
                    mq, tctxs, avail_syms, symwidth, hcheight, nrefs,
                    symlen, sbstrips=1, refcorner=1, dsoffset=0,
                    defpixel=0, sbrefine=1, sbrtemplate=sdrtemplate,
                ))

    # export flags: alternating non-export/export run lengths (§6.5.10)
    allsyms = list(input_syms) + newsyms
    exported: list[np.ndarray] = []
    curex, i = 0, 0
    while i < len(allsyms):
        run = decode_int(mq, iaex)
        if run is None or run < 0 or i + run > len(allsyms):
            raise UserError("JBIG2: bad export run length.")
        if curex:
            exported.extend(allsyms[i : i + run])
        i += run
        curex ^= 1
    if len(exported) != numex:
        raise UserError("JBIG2: export count mismatch.")
    return exported


def encode_symbol_dict(
    syms: "list[np.ndarray]",
    refs: "list[int] | None" = None,
    input_syms: "list[np.ndarray] | None" = None,
) -> bytes:
    """Symbol bitmaps (already sorted by (height, width)) -> symbol
    dictionary segment data exporting all of them in order.

    With ``refs`` (parallel to ``syms``) the dictionary is
    SDREFAGG=1: an int entry refinement-codes the symbol against that
    combined-space reference at offset (0, 0); a list entry of
    (y, x, sid) tuples codes the symbol as an AGGREGATE — a nested
    text region of those instances OR-composed onto the new bitmap
    (§6.5.8.2.1; the instance list must reproduce the bitmap
    exactly). ``input_syms`` are the bitmaps arriving from referred
    dictionaries (they shift the IAID space and the export runs; the
    segment layer threads the same list to the decoder)."""

    mq = MQEncoder()
    iadh, iadw, iaex = ArithCtx(), ArithCtx(), ArithCtx()
    n = len(syms)
    n_input = len(input_syms) if input_syms else 0
    if refs is not None:
        iaai = ArithCtx()
        symlen = _symcodelen(n_input + n)
        tctxs = _text_ctxs(symlen)
    hc = 0
    i = 0
    while i < n:
        hgt = syms[i].shape[0]
        encode_int(mq, iadh, hgt - hc)
        hc = hgt
        sw = 0
        while i < n and syms[i].shape[0] == hc:
            wdt = syms[i].shape[1]
            encode_int(mq, iadw, wdt - sw)
            sw = wdt
            if refs is None:
                encode_generic(syms[i], mq=mq)
            elif isinstance(refs[i], (list, tuple)):
                _encode_aggregate(
                    mq, tctxs, iaai, syms, input_syms or [], i,
                    refs[i], symlen,
                )
            else:
                sid = refs[i]
                if not (0 <= sid < n_input + i):
                    raise UserError(
                        "JBIG2 encoder: refinement reference must precede "
                        "the symbol."
                    )
                encode_int(mq, iaai, 1)
                encode_iaid(mq, tctxs["iaid"], sid, symlen)
                encode_int(mq, tctxs["iardx"], 0)
                encode_int(mq, tctxs["iardy"], 0)
                refsym = (
                    input_syms[sid] if sid < n_input
                    else syms[sid - n_input]
                )
                encode_refinement(syms[i], refsym, mq=mq, grctx=tctxs["gr"])
            i += 1
        encode_int(mq, iadw, None)  # OOB closes the height class
    encode_int(mq, iaex, n_input)  # initial non-export run
    encode_int(mq, iaex, n)  # export the new symbols
    flags = 0 if refs is None else 0x02  # SDREFAGG, GR template 0
    return (
        struct.pack(">H", flags)
        + _NOMINAL_AT
        + (_NOMINAL_GR_AT if refs is not None else b"")
        + struct.pack(">II", n, n)
        + mq.flush()
    )


# ---------------------------------------------------------------------------
# Text region (T.88 §6.4 decode / §7.4.4 segment layout)
# ---------------------------------------------------------------------------

def _symcodelen(numsyms: int) -> int:
    """SBSYMCODELEN for arithmetic coding: ceil(log2(SBNUMSYMS)), min
    1 (both ends of this engine agree; a 0-bit ID would also decode
    consistently, but min-1 matches common producers)."""

    return max(1, (max(numsyms, 1) - 1).bit_length())


def _decode_text_region_huffman(
    payload: bytes, syms: "list[np.ndarray]",
    tables: "list[HuffTable]",
) -> "tuple[np.ndarray, int, int]":
    """SBHUFF=1 text region (§6.4 with §7.4.4.1.2-1.7): FS/DS/DT via
    user code tables, symbol IDs via the runcode-built per-region
    Huffman table, strip data bit-packed MSB-first. With SBREFINE,
    each flagged instance carries RDW/RDH/RDX/RDY via tables, RSIZE
    bytes (Table B.1 default) of a byte-aligned MQ refinement
    segment, decoded with fresh GR contexts per instance. Predefined
    table selections fail closed."""

    w, h, x, y = struct.unpack(">IIII", payload[:16])
    tflags = int.from_bytes(payload[17:19], "big")
    sbrefine = (tflags >> 1) & 0x01
    sbrtemplate = (tflags >> 15) & 0x01
    logstrips = (tflags >> 2) & 0x03
    refcorner = (tflags >> 4) & 0x03
    if (tflags >> 6) & 0x01:
        raise UserError("JBIG2: transposed text regions unsupported.")
    if (tflags >> 7) & 0x03:
        raise UserError("JBIG2: only OR text composition supported.")
    defpixel = (tflags >> 9) & 0x01
    dsoffset = (tflags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    hflags = int.from_bytes(payload[19:21], "big")
    it = iter(tables)

    def _user() -> HuffTable:
        try:
            return next(it)
        except StopIteration:
            raise UserError("JBIG2: missing user code table.") from None

    def _pick(sel: int, std: "tuple[int, ...]") -> HuffTable:
        # §7.4.4.1.1: selection 3 = user table, else predefined B.n
        if sel == 3:
            return _user()
        if sel >= len(std):
            raise UserError("JBIG2: reserved Huffman table selection.")
        return _std_table(std[sel])

    fs_tbl = _pick(hflags & 0x03, (6, 7))
    ds_tbl = _pick((hflags >> 2) & 0x03, (8, 9, 10))
    dt_tbl = _pick((hflags >> 4) & 0x03, (11, 12, 13))
    if sbrefine:
        rdw_tbl = _pick((hflags >> 6) & 0x03, (14, 15))
        rdh_tbl = _pick((hflags >> 8) & 0x03, (14, 15))
        rdx_tbl = _pick((hflags >> 10) & 0x03, (14, 15))
        rdy_tbl = _pick((hflags >> 12) & 0x03, (14, 15))
        rsize_tbl = (
            _user() if (hflags >> 14) & 0x01 else _TABLE_B1
        )
    cursor = 21
    if sbrefine and sbrtemplate == 0:
        if payload[cursor : cursor + 4] != _NOMINAL_GR_AT:
            raise UserError("JBIG2: non-nominal GR AT pixels unsupported.")
        cursor += 4
    (numinstances,) = struct.unpack(">I", payload[cursor : cursor + 4])
    cursor += 4
    if w * h > 1 << 28 or numinstances > 1 << 24:
        raise UserError("JBIG2: implausible text region size.")
    sbstrips = 1 << logstrips

    br = _BitReaderH(payload, cursor)
    # symbol-ID code lengths via the 35-entry runcode table
    # (§7.4.3.1.7); the stream byte-aligns after the lengths
    runlines = []
    for i in range(35):
        pl = br.get_bits(5)
        runlines.append((pl, 0, i, "normal"))
    runtbl = HuffTable(runlines)
    lengths: list[int] = []
    prev = 0
    while len(lengths) < len(syms):
        c = runtbl.decode(br)
        if c < 32:
            lengths.append(c)
            prev = c
        elif c == 32:
            lengths.extend([prev] * (3 + br.get_bits(2)))
        elif c == 33:
            lengths.extend([0] * (3 + br.get_bits(3)))
        else:
            lengths.extend([0] * (11 + br.get_bits(7)))
    if len(lengths) != len(syms):
        raise UserError("JBIG2: symbol code-length overrun.")
    br.align()
    id_tbl = HuffTable(
        [(ln, 0, i, "normal") for i, ln in enumerate(lengths) if ln > 0]
    )

    region = np.full((h, w), defpixel, np.uint8)
    dt0 = dt_tbl.decode(br)
    if dt0 is None:
        raise UserError("JBIG2: OOB initial strip delta.")
    stript = -dt0 * sbstrips
    firsts = 0
    ninst = 0
    while ninst < numinstances:
        dt = dt_tbl.decode(br)
        if dt is None:
            raise UserError("JBIG2: OOB strip delta.")
        stript += dt * sbstrips
        first = True
        curs = 0
        while ninst < numinstances:
            if first:
                dfs = fs_tbl.decode(br)
                if dfs is None:
                    raise UserError("JBIG2: OOB first-S delta.")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = ds_tbl.decode(br)
                if ids is None:
                    break  # strip done
                curs += ids + dsoffset
            curt = br.get_bits(logstrips) if sbstrips > 1 else 0
            tcoord = stript + curt
            sid = id_tbl.decode(br)
            if sid is None or sid >= len(syms):
                raise UserError("JBIG2: symbol ID out of range.")
            bm = syms[sid]
            hi, wi = bm.shape
            if sbrefine and br.get():
                # §6.4.11 with SBHUFF: RI is one raw bit; the GR data
                # is a byte-aligned MQ segment of RSIZE bytes with
                # per-instance contexts
                rdw = rdw_tbl.decode(br)
                rdh = rdh_tbl.decode(br)
                rdx = rdx_tbl.decode(br)
                rdy = rdy_tbl.decode(br)
                rsize = rsize_tbl.decode(br)
                if None in (rdw, rdh, rdx, rdy, rsize) or rsize < 0:
                    raise UserError("JBIG2: OOB instance refinement field.")
                nw, nh = wi + rdw, hi + rdh
                if not (0 < nw <= 1 << 15 and 0 < nh <= 1 << 15):
                    raise UserError("JBIG2: invalid refined instance size.")
                pos = br.align()
                if pos + rsize > len(payload):
                    raise UserError("JBIG2: truncated refinement segment.")
                bm = decode_refinement(
                    payload[pos : pos + rsize], nw, nh, bm,
                    template=sbrtemplate,
                    refdx=(rdw >> 1) + rdx, refdy=(rdh >> 1) + rdy,
                )
                br = _BitReaderH(payload, pos + rsize)
                hi, wi = bm.shape
            y0 = tcoord if refcorner in (1, 3) else tcoord - hi + 1
            x0 = curs
            ys, xs = max(y0, 0), max(x0, 0)
            ye, xe = min(y0 + hi, h), min(x0 + wi, w)
            if ye > ys and xe > xs:
                region[ys:ye, xs:xe] |= bm[ys - y0 : ye - y0, xs - x0 : xe - x0]
            curs += wi - 1
            ninst += 1
    return region, x, y


def decode_text_region(
    payload: bytes, syms: "list[np.ndarray]",
    tables: "list[HuffTable] | None" = None,
) -> "tuple[np.ndarray, int, int]":
    """Text region segment data + symbol table -> (bitmap, x, y).
    Arithmetic (with optional per-instance SBREFINE refinement via
    IARI/IARDW/IARDH/IARDX/IARDY per §6.4.11 — the instance is
    re-coded against its symbol at the spec's centered offset and may
    change size) or Huffman (SBHUFF=1, user ``tables``), TRANSPOSED=0,
    OR composition — the production scanned-text profiles; else fails
    closed."""

    if len(payload) < 23:
        raise UserError("JBIG2: truncated text region.")
    w, h, x, y = struct.unpack(">IIII", payload[:16])
    _sane_dims(w, h, "text region")
    tflags = int.from_bytes(payload[17:19], "big")
    if tflags & 0x01:
        return _decode_text_region_huffman(
            payload, syms, list(tables or [])
        )
    sbrefine = (tflags >> 1) & 0x01
    logstrips = (tflags >> 2) & 0x03
    refcorner = (tflags >> 4) & 0x03
    if (tflags >> 6) & 0x01:
        raise UserError("JBIG2: transposed text regions unsupported.")
    if (tflags >> 7) & 0x03:
        raise UserError("JBIG2: only OR text composition supported.")
    defpixel = (tflags >> 9) & 0x01
    dsoffset = (tflags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    sbrtemplate = (tflags >> 15) & 0x01
    cursor = 19
    if sbrefine and sbrtemplate == 0:
        if payload[cursor : cursor + 4] != _NOMINAL_GR_AT:
            raise UserError("JBIG2: non-nominal GR AT pixels unsupported.")
        cursor += 4
    (numinstances,) = struct.unpack(">I", payload[cursor : cursor + 4])
    cursor += 4
    if w * h > 1 << 28 or numinstances > 1 << 24:
        raise UserError("JBIG2: implausible text region size.")

    sbstrips = 1 << logstrips
    symlen = _symcodelen(len(syms))
    mq = MQDecoder(payload[cursor:])
    ctxs = _text_ctxs(symlen)
    region = _decode_text_bitmap(
        mq, ctxs, syms, w, h, numinstances, symlen,
        sbstrips=sbstrips, refcorner=refcorner, dsoffset=dsoffset,
        defpixel=defpixel, sbrefine=sbrefine, sbrtemplate=sbrtemplate,
    )
    return region, x, y


def _text_ctxs(symlen: int) -> dict:
    """One text-region decode's adaptive context tables (also created
    once per SDREFAGG symbol dictionary and retained across its
    aggregate symbols, §6.5.8.2.1)."""

    return {
        "iadt": ArithCtx(), "iafs": ArithCtx(), "iads": ArithCtx(),
        "iait": ArithCtx(), "iaid": ArithCtx(1 << (symlen + 1)),
        "iari": ArithCtx(), "iardw": ArithCtx(), "iardh": ArithCtx(),
        "iardx": ArithCtx(), "iardy": ArithCtx(),
        "gr": ArithCtx(1 << 13),
    }


def _decode_text_bitmap(
    mq: MQDecoder, ctxs: dict, syms: "list[np.ndarray]",
    w: int, h: int, numinstances: int, symlen: int, *,
    sbstrips: int = 1, refcorner: int = 1, dsoffset: int = 0,
    defpixel: int = 0, sbrefine: int = 0, sbrtemplate: int = 0,
) -> np.ndarray:
    """T.88 §6.4 strip decode onto a fresh (h, w) bitmap, reading from
    a shared MQ decoder with the caller's context tables — the common
    core of immediate text regions and §6.5.8.2.1 aggregate symbols.
    Reads EXACTLY the symbols the procedure defines (no trailing strip
    terminator after the final instance), which is what lets it sit
    inside a dictionary's bitstream."""

    region = np.full((h, w), defpixel, np.uint8)
    dt0 = decode_int(mq, ctxs["iadt"])
    if dt0 is None:
        raise UserError("JBIG2: OOB initial strip delta.")
    stript = -dt0 * sbstrips
    firsts = 0
    ninst = 0
    while ninst < numinstances:
        dt = decode_int(mq, ctxs["iadt"])
        if dt is None:
            raise UserError("JBIG2: OOB strip delta.")
        stript += dt * sbstrips
        first = True
        curs = 0
        while ninst < numinstances:
            if first:
                dfs = decode_int(mq, ctxs["iafs"])
                if dfs is None:
                    raise UserError("JBIG2: OOB first-S delta.")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = decode_int(mq, ctxs["iads"])
                if ids is None:
                    break  # strip done
                curs += ids + dsoffset
            curt = decode_int(mq, ctxs["iait"]) if sbstrips > 1 else 0
            if curt is None:
                raise UserError("JBIG2: OOB T offset.")
            tcoord = stript + curt
            sid = decode_iaid(mq, ctxs["iaid"], symlen)
            if sid >= len(syms):
                raise UserError("JBIG2: symbol ID out of range.")
            bm = syms[sid]
            hi, wi = bm.shape
            if sbrefine and decode_int(mq, ctxs["iari"]):
                # §6.4.11: the instance is refinement-coded against
                # its symbol; RDW/RDH resize it, the reference sits at
                # the centered offset (RDW>>1 + RDX, RDH>>1 + RDY)
                rdw = decode_int(mq, ctxs["iardw"])
                rdh = decode_int(mq, ctxs["iardh"])
                rdx = decode_int(mq, ctxs["iardx"])
                rdy = decode_int(mq, ctxs["iardy"])
                if None in (rdw, rdh, rdx, rdy):
                    raise UserError("JBIG2: OOB instance refinement field.")
                nw, nh = wi + rdw, hi + rdh
                if not (0 < nw <= 1 << 15 and 0 < nh <= 1 << 15):
                    raise UserError("JBIG2: invalid refined instance size.")
                bm = decode_refinement(
                    b"", nw, nh, bm, template=sbrtemplate,
                    mq=mq, grctx=ctxs["gr"],
                    refdx=(rdw >> 1) + rdx, refdy=(rdh >> 1) + rdy,
                )
                hi, wi = bm.shape
            # TRANSPOSED=0: the left edge sits at CURS for every
            # REFCORNER; TOP corners anchor T at the top row
            y0 = tcoord if refcorner in (1, 3) else tcoord - hi + 1
            x0 = curs
            ys, xs = max(y0, 0), max(x0, 0)
            ye, xe = min(y0 + hi, h), min(x0 + wi, w)
            if ye > ys and xe > xs:
                region[ys:ye, xs:xe] |= bm[ys - y0 : ye - y0, xs - x0 : xe - x0]
            curs += wi - 1
            ninst += 1
    return region


def _encode_aggregate(
    mq: MQEncoder, tctxs: dict, iaai: ArithCtx,
    syms: "list[np.ndarray]", input_syms: "list[np.ndarray]",
    i: int, instances: "list[tuple[int, int, int]]", symlen: int,
) -> None:
    """Encoder mirror of the §6.5.8.2.1 aggregate path: the new
    symbol ``syms[i]`` is coded as a nested text region of (y, x,
    sid) instances (combined input+new sid space, all preceding
    ``i``), OR-composed at TOPLEFT corners with SBSTRIPS=1 and no
    per-instance refinement. Emits EXACTLY the symbols
    _decode_text_bitmap reads (no trailing strip terminator) and
    verifies the composition reproduces the bitmap."""

    target = syms[i]
    h, w = target.shape
    n_input = len(input_syms)
    check = np.zeros((h, w), np.uint8)
    inst = sorted(instances, key=lambda t: (t[0], t[1], t[2]))
    for y0, x0, sid in inst:
        if not (0 <= sid < n_input + i):
            raise UserError(
                "JBIG2 encoder: aggregate instance must reference a "
                "preceding symbol."
            )
        bm = input_syms[sid] if sid < n_input else syms[sid - n_input]
        hh, ww = bm.shape
        ys, xs = max(y0, 0), max(x0, 0)
        ye, xe = min(y0 + hh, h), min(x0 + ww, w)
        if ye > ys and xe > xs:
            check[ys:ye, xs:xe] |= bm[ys - y0 : ye - y0, xs - x0 : xe - x0]
    if not np.array_equal(check, target):
        raise UserError(
            "JBIG2 encoder: aggregate instances do not reproduce the "
            "symbol."
        )
    encode_int(mq, iaai, len(inst))
    encode_int(mq, tctxs["iadt"], 0)  # STRIPT starts at 0
    stript = 0
    firsts = 0
    j = 0
    n = len(inst)
    while j < n:
        yrow = inst[j][0]
        if j:
            encode_int(mq, tctxs["iads"], None)  # close previous strip
        encode_int(mq, tctxs["iadt"], yrow - stript)
        stript = yrow
        curs = 0
        first = True
        while j < n and inst[j][0] == yrow:
            y0, x0, sid = inst[j]
            if first:
                encode_int(mq, tctxs["iafs"], x0 - firsts)
                firsts = x0
                first = False
            else:
                encode_int(mq, tctxs["iads"], x0 - curs)
            curs = x0
            encode_iaid(mq, tctxs["iaid"], sid, symlen)
            encode_int(mq, tctxs["iari"], 0)  # SBREFINE=1: RI gate
            bm = input_syms[sid] if sid < n_input else syms[sid - n_input]
            curs += bm.shape[1] - 1
            j += 1


def encode_text_region(
    w: int, h: int,
    instances: "list[tuple]",
    syms: "list[np.ndarray]",
) -> bytes:
    """(y, x, symbol_id[, refined_bitmap]) instances -> text region
    segment data at region origin (0,0): one strip per distinct row
    (SBSTRIPS=1), REFCORNER=TOPLEFT, OR composition. An instance
    carrying a 4th element (a 0/1 bitmap) is refinement-coded against
    its symbol per §6.4.11 (SBREFINE=1, RDX=RDY=0; the bitmap may
    differ in size from the symbol)."""

    symlen = _symcodelen(len(syms))
    sbrefine = any(len(t) > 3 and t[3] is not None for t in instances)
    mq = MQEncoder()
    iadt, iafs, iads = ArithCtx(), ArithCtx(), ArithCtx()
    iaid = ArithCtx(1 << (symlen + 1))
    if sbrefine:
        iari, iardw, iardh = ArithCtx(), ArithCtx(), ArithCtx()
        iardx, iardy = ArithCtx(), ArithCtx()
        grctx = ArithCtx(1 << 13)

    inst = sorted(instances, key=lambda t: (t[0], t[1], t[2]))
    encode_int(mq, iadt, 0)  # STRIPT starts at 0
    stript = 0
    firsts = 0
    i = 0
    n = len(inst)
    while i < n:
        yrow = inst[i][0]
        encode_int(mq, iadt, yrow - stript)
        stript = yrow
        curs = 0
        first = True
        while i < n and inst[i][0] == yrow:
            rec = inst[i]
            _, xcol, sid = rec[0], rec[1], rec[2]
            rbm = rec[3] if len(rec) > 3 else None
            if first:
                encode_int(mq, iafs, xcol - firsts)
                firsts = xcol
                first = False
            else:
                encode_int(mq, iads, xcol - curs)
            curs = xcol
            encode_iaid(mq, iaid, sid, symlen)
            placed_w = syms[sid].shape[1]
            if sbrefine:
                encode_int(mq, iari, 0 if rbm is None else 1)
                if rbm is not None:
                    rdw = rbm.shape[1] - syms[sid].shape[1]
                    rdh = rbm.shape[0] - syms[sid].shape[0]
                    encode_int(mq, iardw, rdw)
                    encode_int(mq, iardh, rdh)
                    encode_int(mq, iardx, 0)
                    encode_int(mq, iardy, 0)
                    encode_refinement(
                        rbm, syms[sid], mq=mq, grctx=grctx,
                        refdx=rdw >> 1, refdy=rdh >> 1,
                    )
                    placed_w = rbm.shape[1]
            curs += placed_w - 1
            i += 1
        encode_int(mq, iads, None)  # strip terminator
    tflags = (1 << 4) | ((1 << 1) if sbrefine else 0)
    return (
        struct.pack(">IIII", w, h, 0, 0)
        + b"\x00"  # external combination operator: OR
        + struct.pack(">H", tflags)
        + (_NOMINAL_GR_AT if sbrefine else b"")
        + struct.pack(">I", n)
        + mq.flush()
    )


def _encode_agg_text_huffman(
    bw: "_BitWriterH", syms: "list[np.ndarray]",
    input_syms: "list[np.ndarray]", i: int,
    instances: "list[tuple[int, int, int]]", symlen: int,
) -> None:
    """Encoder mirror of _decode_agg_text_huffman: the new symbol
    ``syms[i]`` rides REFAGGNINST=len(instances) (Table B.1) and a
    nested Huffman text region of (y, x, sid) instances — SBSTRIPS=1
    with the initial STRIPT at -1 (Table B.11 cannot code a zero
    delta), TOPLEFT corners, RI=0, IDs in SBSYMCODELEN raw bits.
    Verifies the composition reproduces the bitmap exactly."""

    target = syms[i]
    h, w = target.shape
    n_input = len(input_syms)
    check = np.zeros((h, w), np.uint8)
    inst = sorted(instances, key=lambda t: (t[0], t[1], t[2]))
    if len(inst) < 2:
        raise UserError(
            "JBIG2 encoder: Huffman aggregates need >= 2 instances."
        )
    for y0, x0, sid in inst:
        if not (0 <= sid < n_input + i):
            raise UserError(
                "JBIG2 encoder: aggregate instance must reference a "
                "preceding symbol."
            )
        bm = input_syms[sid] if sid < n_input else syms[sid - n_input]
        hh, ww = bm.shape
        ys, xs = max(y0, 0), max(x0, 0)
        ye, xe = min(y0 + hh, h), min(x0 + ww, w)
        if ye > ys and xe > xs:
            check[ys:ye, xs:xe] |= bm[ys - y0 : ye - y0, xs - x0 : xe - x0]
    if not np.array_equal(check, target):
        raise UserError(
            "JBIG2 encoder: aggregate instances do not reproduce the "
            "symbol."
        )
    fs_tbl, ds_tbl, dt_tbl = _std_table(6), _std_table(8), _std_table(11)
    _TABLE_B1.encode(bw, len(inst))  # REFAGGNINST
    dt_tbl.encode(bw, 1)  # initial: STRIPT = -1
    stript = -1
    firsts = 0
    j = 0
    ncount = len(inst)
    while j < ncount:
        yrow = inst[j][0]
        if j:
            ds_tbl.encode(bw, None)  # OOB closes the previous strip
        dt_tbl.encode(bw, yrow - stript)
        stript = yrow
        first = True
        curs = 0
        while j < ncount and inst[j][0] == yrow:
            y0, x0, sid = inst[j]
            if first:
                fs_tbl.encode(bw, x0 - firsts)
                firsts = x0
                first = False
            else:
                ds_tbl.encode(bw, x0 - curs)
            curs = x0
            bw.put_bits(sid, symlen)
            bw.put_bits(0, 1)  # RI = 0 (SBREFINE=1 gate)
            bm = input_syms[sid] if sid < n_input else syms[sid - n_input]
            curs += bm.shape[1] - 1
            j += 1


def encode_symbol_dict_huffman(
    syms: "list[np.ndarray]", n_input: int = 0, mmr: bool = True,
    std_tables: "bool | str" = False,
    refs: "list[int] | None" = None,
    input_syms: "list[np.ndarray] | None" = None,
) -> "tuple[list[bytes], bytes]":
    """Symbol bitmaps (sorted by (height, width)) -> ([DH-table
    payload, DW-table payload], SDHUFF=1 dictionary payload). Height
    classes share ONE collective bitmap (MMR-coded, or uncompressed
    byte-aligned rows with mmr=False); BMSIZE and export runs ride
    Table B.1. The caller hosts the tables as type-53 segments
    referred by the dictionary. ``std_tables=True`` selects the
    predefined Annex B tables instead (DH selection 0 = B.4, DW
    selection 0 = B.2 — valid here because the (height, width) sort
    makes every DH >= 1 and every in-class DW >= 0) and returns no
    table payloads — the profile fax-era hardware encoders emit;
    ``std_tables="alt"`` selects the signed companions (DH selection
    1 = B.5, DW selection 1 = B.3) so the other predefined
    dictionary tables round-trip end-to-end too."""

    if std_tables == "alt":
        dh_tbl, dw_tbl = _std_table(5), _std_table(3)
    elif std_tables:
        dh_tbl, dw_tbl = _std_table(4), _std_table(2)
    else:
        t_dh = _simple_table(0, 32, oob=False)
        t_dw = _simple_table(-16, 16, oob=True)
        dh_tbl = decode_code_table(t_dh)
        dw_tbl = decode_code_table(t_dw)
    from .ccitt import encode_g4

    n = len(syms)
    if input_syms:
        n_input = len(input_syms)
    if refs is not None:
        # SDREFAGG=1 twin (§6.5.8.2.2 with SDHUFF): no collective
        # bitmaps — each symbol rides AGGINST=1 (Table B.1), its
        # reference ID in SBSYMCODELEN raw bits, RDX/RDY=0 via Table
        # B.15, then a byte-aligned fresh-context MQ refinement
        # segment sized via Table B.1
        symlen = _symcodelen(n_input + n)
        rd_tbl = _std_table(15)
    bw = _BitWriterH()
    hc = 0
    i = 0
    while i < n:
        hgt = syms[i].shape[0]
        dh_tbl.encode(bw, hgt - hc)
        hc = hgt
        cls = []
        sw = 0
        while i < n and syms[i].shape[0] == hc:
            wdt = syms[i].shape[1]
            dw_tbl.encode(bw, wdt - sw)
            sw = wdt
            if refs is not None and isinstance(refs[i], (list, tuple)):
                _encode_agg_text_huffman(
                    bw, syms, input_syms or [], i, refs[i], symlen,
                )
            elif refs is not None:
                sid = refs[i]
                if not (0 <= sid < n_input + i):
                    raise UserError(
                        "JBIG2 encoder: refinement reference must "
                        "precede the symbol."
                    )
                refsym = (
                    input_syms[sid] if sid < n_input
                    else syms[sid - n_input]
                )
                _TABLE_B1.encode(bw, 1)  # REFAGGNINST
                bw.put_bits(sid, symlen)
                rd_tbl.encode(bw, 0)  # RDX
                rd_tbl.encode(bw, 0)  # RDY
                data = encode_refinement(syms[i], refsym)
                _TABLE_B1.encode(bw, len(data))
                bw.align()
                bw.out += data
            else:
                cls.append(syms[i])
            i += 1
        dw_tbl.encode(bw, None)  # OOB closes the height class
        if refs is not None:
            continue
        coll = np.concatenate(cls, axis=1).astype(np.uint8)
        if mmr:
            data = encode_g4(coll)
            _TABLE_B1.encode(bw, len(data))
            bw.align()
            bw.out += data
        else:
            _TABLE_B1.encode(bw, 0)
            bw.align()
            bw.out += np.packbits(coll, axis=1).tobytes()
    _TABLE_B1.encode(bw, n_input)  # initial non-export run
    _TABLE_B1.encode(bw, n)       # export the new symbols
    # SDHUFF=1; DH/DW selections: 3/3 (user tables), 0/0 (B.4/B.2),
    # or 1/1 (B.5/B.3, "alt"); SDHUFFBMSIZE=0 and SDHUFFAGGINST=0
    # (both B.1) either way; SDREFAGG adds bit 1 + nominal GR AT
    sel = (1 if std_tables == "alt" else 0) if std_tables else 3
    flags = 0x01 | (sel << 2) | (sel << 4)
    if refs is not None:
        flags |= 0x02
    sd = (
        struct.pack(">H", flags)
        + (_NOMINAL_GR_AT if refs is not None else b"")
        + struct.pack(">II", n, n)
        + bw.flush()
    )
    return ([] if std_tables else [t_dh, t_dw]), sd


def encode_text_region_huffman(
    w: int, h: int,
    instances: "list[tuple]",
    syms: "list[np.ndarray]",
    std_tables: "bool | str" = False,
) -> "tuple[list[bytes], bytes]":
    """Encoder twin of _decode_text_region_huffman: ([table
    payloads], SBHUFF=1 text region payload). All symbol IDs get the
    same code length (ceil(log2(n)), min 1), signalled with a
    single-entry runcode table; one strip per row, TOPLEFT corners,
    OR composition. An instance carrying a 4th element (a 0/1
    bitmap) is refinement-coded against its symbol: SBREFINE=1 adds
    RDW/RDH/RDX/RDY user tables and per-instance byte-aligned MQ
    segments sized via Table B.1. The caller hosts the tables as
    type-53 segments."""

    sbrefine = any(len(t) > 3 and t[3] is not None for t in instances)
    if std_tables == "alt":
        # the alternate predefined selections: FS=B.7, DS=B.10,
        # DT=B.13 — B.10's OOB closes strips, its range escapes (and
        # B.7's) cover any value, and B.13 codes 1.. like B.11 so the
        # same STRIPT=-1 seeding below applies
        fs_tbl, ds_tbl, dt_tbl = _std_table(7), _std_table(10), _std_table(13)
        rd_tbl = _std_table(15)
        tbl_payloads: "list[bytes]" = []
    elif std_tables:
        # predefined Annex B selections: FS=B.6, DS=B.8, DT=B.11,
        # RD*=B.15 — each covers any value via its range escapes
        # (B.11 has no value 0, so STRIPT seeds at -1; see below)
        fs_tbl, ds_tbl, dt_tbl = _std_table(6), _std_table(8), _std_table(11)
        rd_tbl = _std_table(15)
        tbl_payloads = []
    else:
        t_fs = _simple_table(0, 64, oob=False)
        t_ds = _simple_table(0, 64, oob=True)
        t_dt = _simple_table(0, 32, oob=False)
        fs_tbl = decode_code_table(t_fs)
        ds_tbl = decode_code_table(t_ds)
        dt_tbl = decode_code_table(t_dt)
        tbl_payloads = [t_fs, t_ds, t_dt]
        if sbrefine:
            t_rd = _simple_table(-8, 8, oob=False)
            rd_tbl = decode_code_table(t_rd)
            # one shared RDW/RDH/RDX/RDY table, referred four times
            tbl_payloads += [t_rd, t_rd, t_rd, t_rd]
    nsyms = len(syms)
    idlen = max(1, (max(nsyms, 1) - 1).bit_length())
    if nsyms == 1:
        idlen = 1
    bw = _BitWriterH()
    # runcode lengths: runcode symbol `idlen` has code length 1, the
    # other 34 are absent -> every symbol's length decodes as one bit
    for i in range(35):
        bw.put_bits(1 if i == idlen else 0, 5)
    runtbl = HuffTable([(1, 0, idlen, "normal")])
    for _ in range(nsyms):
        runtbl.encode(bw, idlen)
    bw.align()
    id_tbl = HuffTable(
        [(idlen, 0, i, "normal") for i in range(nsyms)]
    )

    inst = sorted(instances, key=lambda t: (t[0], t[1], t[2]))
    if std_tables:
        # B.11 codes 1.. only: seed STRIPT at -1 so every strip delta
        # (first one included) is >= 1 for strictly increasing rows
        dt_tbl.encode(bw, 1)
        stript = -1
    else:
        dt_tbl.encode(bw, 0)  # STRIPT starts at 0
        stript = 0
    firsts = 0
    i = 0
    n = len(inst)
    while i < n:
        yrow = inst[i][0]
        if i:
            ds_tbl.encode(bw, None)  # close the previous strip
        dt_tbl.encode(bw, yrow - stript)
        stript = yrow
        curs = 0
        first = True
        while i < n and inst[i][0] == yrow:
            rec = inst[i]
            xcol, sid = rec[1], rec[2]
            rbm = rec[3] if len(rec) > 3 else None
            if first:
                fs_tbl.encode(bw, xcol - firsts)
                firsts = xcol
                first = False
            else:
                ds_tbl.encode(bw, xcol - curs)
            curs = xcol
            id_tbl.encode(bw, sid)
            placed_w = syms[sid].shape[1]
            if sbrefine:
                bw.put_bits(0 if rbm is None else 1, 1)  # raw RI bit
                if rbm is not None:
                    rdw = rbm.shape[1] - syms[sid].shape[1]
                    rdh = rbm.shape[0] - syms[sid].shape[0]
                    rd_tbl.encode(bw, rdw)
                    rd_tbl.encode(bw, rdh)
                    rd_tbl.encode(bw, 0)  # RDX
                    rd_tbl.encode(bw, 0)  # RDY
                    data = encode_refinement(
                        rbm, syms[sid],
                        refdx=rdw >> 1, refdy=rdh >> 1,
                    )
                    _TABLE_B1.encode(bw, len(data))
                    bw.align()
                    bw.out += data
                    placed_w = rbm.shape[1]
            curs += placed_w - 1
            i += 1
    # SBHUFF=1, REFCORNER=TOPLEFT; huffman flags: user tables (3) for
    # FS/DS/DT — or predefined selections 0 (B.6/B.8/B.11) with
    # std_tables, 1/2/2 (B.7/B.10/B.13) with "alt" — and, with
    # refinement, RDW/RDH/RDX/RDY (user, or selection 1 = B.15);
    # RSIZE via B.1 either way
    tflags = 0x01 | (1 << 4) | ((1 << 1) if sbrefine else 0)
    if std_tables == "alt":
        hflags = 1 | (2 << 2) | (2 << 4)
        rsel = 1
    elif std_tables:
        hflags = 0
        rsel = 1
    else:
        hflags = 3 | (3 << 2) | (3 << 4)
        rsel = 3
    if sbrefine:
        hflags |= (rsel << 6) | (rsel << 8) | (rsel << 10) | (rsel << 12)
    payload = (
        struct.pack(">IIII", w, h, 0, 0)
        + b"\x00"  # external combination operator: OR
        + struct.pack(">H", tflags)
        + struct.pack(">H", hflags)
        + (_NOMINAL_GR_AT if sbrefine else b"")
        + struct.pack(">I", n)
        + bw.flush()
    )
    return tbl_payloads, payload


def _connected_components(
    img: np.ndarray,
) -> "list[tuple[int, int, np.ndarray]]":
    """8-connected components of a 0/1 bitmap -> (y0, x0, bitmap)
    per component, scan order. Plain BFS — pages are bounded and this
    runs at fixture-generation time, not in the extraction hot path."""

    h, w = img.shape
    visited = np.zeros((h, w), bool)
    comps: list[tuple[int, int, np.ndarray]] = []
    ys_all, xs_all = np.nonzero(img)
    for sy, sx in zip(ys_all.tolist(), xs_all.tolist()):
        if visited[sy, sx]:
            continue
        stack = [(sy, sx)]
        visited[sy, sx] = True
        pts = []
        while stack:
            cy, cx = stack.pop()
            pts.append((cy, cx))
            for ny in range(max(cy - 1, 0), min(cy + 2, h)):
                for nx in range(max(cx - 1, 0), min(cx + 2, w)):
                    if img[ny, nx] and not visited[ny, nx]:
                        visited[ny, nx] = True
                        stack.append((ny, nx))
        ys = [p[0] for p in pts]
        xs = [p[1] for p in pts]
        y0, y1 = min(ys), max(ys)
        x0, x1 = min(xs), max(xs)
        bm = np.zeros((y1 - y0 + 1, x1 - x0 + 1), np.uint8)
        for py, px in pts:
            bm[py - y0, px - x0] = 1
        comps.append((y0, x0, bm))
    return comps


# ---------------------------------------------------------------------------
# Embedded-organization segment stream (PDF /JBIG2Decode payload)
# ---------------------------------------------------------------------------

def _segment(
    num: int, seg_type: int, payload: bytes, page: int = 1,
    refs: "tuple[int, ...]" = (),
) -> bytes:
    # 1-byte page association; referred segment numbers are 1-byte
    # (this encoder never exceeds segment number 256). Up to 4 refs
    # use the short count form; more use the §7.2.4 long form
    # (0b111 + 29-bit count, then ceil((count+1)/8) retain-bit bytes)
    if any(r > 255 for r in refs):
        raise UserError("JBIG2 encoder: referred-segment number > 255.")
    if len(refs) > 4:
        count = len(refs)
        head = struct.pack(">I", (7 << 29) | count) + bytes(
            (count + 8) // 8
        )
    else:
        head = bytes([len(refs) << 5])
    return (
        struct.pack(">IB", num, seg_type)
        + head
        + bytes(refs)
        + bytes([page])
        + struct.pack(">I", len(payload))
        + payload
    )


def encode_jbig2_embedded(
    img: np.ndarray, tpgdon: bool = False, mmr: bool = False,
    template: int = 0, refine: bool = False, gr_template: int = 0,
    tpgron: bool = False, intermediate: bool = False,
) -> bytes:
    """0/1 bitmap -> embedded JBIG2 stream: page info + immediate
    generic region + end-of-page. ``mmr`` codes the region with T.6
    MMR (T.88 §6.2.6; no AT bytes, flags bit 0 set) instead of the MQ
    coder; ``template`` selects the GB context template (0-3,
    nominal AT). ``refine`` emits the production lossy-base +
    refine-to-lossless shape: the generic region carries a degraded
    base (isolated pixels dropped) and an immediate generic refinement
    region (type 42, GR template ``gr_template``) re-codes the page to
    the exact input against that base. With ``intermediate`` the base
    is an INTERMEDIATE generic region (type 36, §8.2) that never
    touches the page — the refinement refers to it by segment number
    and its output is the page's only content."""

    if intermediate and not refine:
        raise UserError(
            "JBIG2 encoder: intermediate base requires refine=True."
        )
    h, w = img.shape
    img = img.astype(np.uint8)
    page_info = struct.pack(">IIII", w, h, 0, 0) + b"\x00" + b"\x00\x00"
    base = img
    if refine:
        # deterministic lossy base: keep a black pixel only if any
        # 4-neighbor is black too (drops salt noise; refinement
        # restores it)
        n = np.zeros((h, w), np.int32)
        n[1:] += img[:-1]
        n[:-1] += img[1:]
        n[:, 1:] += img[:, :-1]
        n[:, :-1] += img[:, 1:]
        base = (img & (n > 0)).astype(np.uint8)
    if mmr:
        from .ccitt import encode_g4

        body = bytes([0x01]) + encode_g4(base)
    else:
        body = (
            bytes([(template << 1) | (0x08 if tpgdon else 0x00)])
            + _NOMINAL_AT_OF[template]
            + encode_generic(base, tpgdon=tpgdon, template=template)
        )
    region = (
        struct.pack(">IIII", w, h, 0, 0)
        + b"\x00"  # external combination operator: OR
        + body
    )
    out = _segment(0, 48, page_info) + _segment(
        1, 36 if intermediate else 38, region
    )
    if refine:
        gr_body = (
            bytes([gr_template | (0x02 if tpgron else 0)])  # GR flags
            + (_NOMINAL_GR_AT if gr_template == 0 else b"")
            + encode_refinement(img, base, template=gr_template,
                                tpgron=tpgron)
        )
        gr_region = (
            struct.pack(">IIII", w, h, 0, 0)
            + b"\x04"  # external combination operator: REPLACE
            + gr_body
        )
        out += _segment(
            2, 42, gr_region, refs=(1,) if intermediate else ()
        )
        return out + _segment(3, 49, b"")  # end of page
    return out + _segment(2, 49, b"")  # end of page


def encode_jbig2_symbol_text(
    img: np.ndarray, split_globals: bool = False,
    refine_instances: bool = False, refagg_dict: bool = False,
    huffman: bool = False, std_tables: "bool | str" = False,
) -> "bytes | tuple[bytes, bytes]":
    """0/1 bitmap -> embedded JBIG2 stream coded the way production
    scanned-text encoders work: connected components become a symbol
    dictionary (deduplicated, sorted by (height, width) into height
    classes) and ONE immediate text region places every instance.

    ``split_globals=True`` returns (globals_stream, page_stream): the
    symbol dictionary moves to the page-0 globals stream (the PDF
    /JBIG2Globals organization), the page stream's text region refers
    to it across the boundary.

    ``refine_instances=True`` emits the lossy-cluster +
    refine-to-lossless flow (§6.4.11): symbols dedup by shape class
    only, and every instance whose exact bitmap differs from its
    class representative is refinement-coded back to the original —
    the decoded page stays bit-exact. ``refagg_dict=True`` splits the
    dictionary: glyphs past the first become a second SDREFAGG=1
    dictionary whose symbols are refinement-coded against the first
    dictionary's export (§6.5.8.2.2), threaded as a referred
    segment — in the arithmetic organization and, composed with
    ``huffman=True``, in the SDHUFF one (byte-aligned fresh-context
    refinement segments per §6.5.8.2.2-with-SDHUFF).

    ``huffman=True`` emits the SDHUFF/SBHUFF organization instead:
    user code tables ride type-53 segments referred by the dictionary
    and the text region, height classes share MMR collective bitmaps,
    and the strip data is bit-packed — the low-memory hardware-encoder
    profile."""

    img = img.astype(np.uint8)
    h, w = img.shape
    comps = _connected_components(img)
    if not comps:
        # blank page: a generic stream is the degenerate encoding
        empty = encode_jbig2_embedded(img)
        return (b"", empty) if split_globals else empty

    table: dict[tuple, int] = {}
    syms: list[np.ndarray] = []
    inst: list[tuple] = []
    for y0, x0, bm in comps:
        # with refine_instances the dedup key is the shape class only
        # (a lossy cluster); the representative is the first bitmap
        # seen, and differing instances refine back to their original
        key = (
            bm.shape if refine_instances else (bm.shape, bm.tobytes())
        )
        sid = table.get(key)
        if sid is None:
            sid = len(syms)
            table[key] = sid
            syms.append(bm)
        if refine_instances and not np.array_equal(bm, syms[sid]):
            inst.append((y0, x0, sid, bm))
        else:
            inst.append((y0, x0, sid))
    order = sorted(range(len(syms)),
                   key=lambda i: (syms[i].shape[0], syms[i].shape[1]))
    remap = {old: new for new, old in enumerate(order)}
    syms = [syms[i] for i in order]
    inst = [(r[0], r[1], remap[r[2]]) + tuple(r[3:]) for r in inst]

    page_info = struct.pack(">IIII", w, h, 0, 0) + b"\x00" + b"\x00\x00"
    if huffman:
        gpage = 0 if split_globals else 1
        # with refagg_dict the dictionary splits like the arithmetic
        # flow: glyphs past the first become a second SDHUFF+SDREFAGG
        # dictionary refinement-coded against the first's export
        # (§6.5.8.2.2 with SDHUFF), threaded as a referred segment
        if refagg_dict and len(syms) > 1:
            parts = [
                (syms[:1], None, None),
                (syms[1:], [0] * (len(syms) - 1), syms[:1]),
            ]
        else:
            parts = [(syms, None, None)]
        num = 1
        sd_part = b""
        sd_nums: "list[int]" = []
        for part_syms, part_refs, part_in in parts:
            p_tbls, p_sd = encode_symbol_dict_huffman(
                part_syms, std_tables=std_tables,
                refs=part_refs, input_syms=part_in,
            )
            t_nums = []
            for t in p_tbls:
                sd_part += _segment(num, 53, t, page=gpage)
                t_nums.append(num)
                num += 1
            sd_part += _segment(
                num, 0, p_sd, page=gpage,
                refs=tuple(sd_nums[-1:]) + tuple(t_nums),
            )
            sd_nums.append(num)
            num += 1
        tr_tbls, tr = encode_text_region_huffman(
            w, h, inst, syms, std_tables=std_tables
        )
        tr_part = b""
        trt_nums = []
        for t in tr_tbls:
            tr_part += _segment(num, 53, t)
            trt_nums.append(num)
            num += 1
        tr_part += _segment(
            num, 6, tr, refs=tuple(sd_nums) + tuple(trt_nums)
        )
        num += 1
        page_stream = (
            _segment(0, 48, page_info)
            + (b"" if split_globals else sd_part)
            + tr_part
            + _segment(num, 49, b"")
        )
        if split_globals:
            return sd_part, page_stream
        return page_stream
    if refagg_dict and len(syms) > 1:
        # dictionary 1: the first glyph, generic-coded; dictionary 2:
        # every other glyph refinement-coded against it (SDREFAGG=1,
        # §6.5.8.2.2), referred across the dictionary boundary
        d1, d2 = syms[:1], syms[1:]
        sd1 = encode_symbol_dict(d1)
        sd2 = encode_symbol_dict(d2, refs=[0] * len(d2), input_syms=d1)
        tr_payload = encode_text_region(w, h, inst, syms)
        sd1_seg = _segment(1, 0, sd1, page=0 if split_globals else 1)
        sd2_seg = _segment(
            2, 0, sd2, page=0 if split_globals else 1, refs=(1,)
        )
        page_stream = (
            _segment(0, 48, page_info)
            + (b"" if split_globals else sd1_seg + sd2_seg)
            + _segment(3, 6, tr_payload, refs=(1, 2))
            + _segment(4, 49, b"")
        )
        if split_globals:
            return sd1_seg + sd2_seg, page_stream
        return page_stream

    sd_payload = encode_symbol_dict(syms)
    tr_payload = encode_text_region(w, h, inst, syms)
    sd_seg = _segment(1, 0, sd_payload, page=0 if split_globals else 1)
    page_stream = (
        _segment(0, 48, page_info)
        + (b"" if split_globals else sd_seg)
        + _segment(2, 6, tr_payload, refs=(1,))  # immediate text region
        + _segment(3, 49, b"")                   # end of page
    )
    if split_globals:
        return sd_seg, page_stream
    return page_stream


def _walk_segments(
    data: bytes,
    sym_dicts: "dict[int, list[np.ndarray]]",
    pat_dicts: "dict[int, list[np.ndarray]]",
    page: "np.ndarray | None",
    aux: "dict[int, np.ndarray] | None" = None,
    tables: "dict[int, HuffTable] | None" = None,
) -> "np.ndarray | None":
    """Walk one embedded-organization segment stream, updating the
    shared symbol/pattern dictionary tables and compositing onto
    ``page``. INTERMEDIATE region segments (types 4/20/36/40, T.88
    §8.2) land in ``aux`` keyed by segment number instead of the
    page; a later refinement region that refers to one uses it as its
    reference bitmap."""

    if aux is None:
        aux = {}
    if tables is None:
        tables = {}

    pos = 0
    n = len(data)
    while pos + 11 <= n:
        num, flags = struct.unpack(">IB", data[pos : pos + 5])
        pos += 5
        seg_type = flags & 0x3F
        ref_byte = data[pos]
        ref_count = ref_byte >> 5
        if ref_count == 7:
            # §7.2.4 long form: 29-bit count + retain-bit bytes
            (v,) = struct.unpack(">I", data[pos : pos + 4])
            ref_count = v & ((1 << 29) - 1)
            if ref_count > 1 << 16:
                raise UserError("JBIG2: implausible referred-segment count.")
            pos += 4 + (ref_count + 8) // 8
        else:
            pos += 1
        ref_size = 1 if num <= 256 else (2 if num <= 65536 else 4)
        refs = [
            int.from_bytes(data[pos + i * ref_size : pos + (i + 1) * ref_size],
                           "big")
            for i in range(ref_count)
        ]
        pos += ref_count * ref_size
        pos += 4 if flags & 0x40 else 1  # page association
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        pos += 4
        if length == 0xFFFFFFFF:
            raise UserError("JBIG2: unknown segment length unsupported.")
        payload = data[pos : pos + length]
        pos += length
        if seg_type == 48:  # page info
            w, h = struct.unpack(">II", payload[:8])
            if h == 0xFFFFFFFF:
                raise UserError("JBIG2: unknown page height unsupported.")
            _sane_dims(w, h, "page")
            default = (payload[16] >> 2) & 1 if len(payload) > 16 else 0
            page = np.full((h, w), default, np.uint8)
        elif seg_type == 0:  # symbol dictionary
            input_syms: list[np.ndarray] = []
            for r in refs:
                input_syms.extend(sym_dicts.get(r, []))
            custom = [tables[r] for r in refs if r in tables]
            sym_dicts[num] = decode_symbol_dict(
                payload, input_syms, tables=custom
            )
        elif seg_type == 53:  # code table (B.2)
            tables[num] = decode_code_table(payload)
        elif seg_type in (4, 6, 7):  # text region
            syms: list[np.ndarray] = []
            for r in refs:
                syms.extend(sym_dicts.get(r, []))
            if not syms:
                raise UserError("JBIG2: text region with no symbol dictionary.")
            custom = [tables[r] for r in refs if r in tables]
            bits, rx, ry = decode_text_region(payload, syms, tables=custom)
            if seg_type == 4:  # intermediate: retained, not composited
                aux[num] = bits
                continue
            rh, rw = bits.shape
            if page is None:
                page = np.zeros((rh, rw), np.uint8)
            ph, pw = page.shape
            y1, x1 = min(ph, ry + rh), min(pw, rx + rw)
            if y1 > ry and x1 > rx:
                page[ry:y1, rx:x1] |= bits[: y1 - ry, : x1 - rx]
        elif seg_type in (36, 38, 39):  # generic region
            rw, rh, rx, ry = struct.unpack(">IIII", payload[:16])
            genflags = payload[17]
            if genflags & 0x01:
                # MMR=1: the region data is T.6 MMR (T.88 §6.2.6 points
                # at T.6 verbatim) and no AT bytes are present — decode
                # with the engine's Group 4 coder (itself JDK
                # cross-validated in test_ccitt.py)
                from .ccitt import decode_g4

                bits = decode_g4(payload[18:], rw, rh)
            else:
                template = (genflags >> 1) & 0x03
                tpgdon = bool(genflags & 0x08)
                # T0 carries 4 AT pairs, T1-3 a single A1 pair
                nat = 8 if template == 0 else 2
                at = payload[18 : 18 + nat]
                if at == _NOMINAL_AT_OF[template]:
                    bits = decode_generic(
                        payload[18 + nat :], rw, rh,
                        tpgdon=tpgdon, template=template,
                    )
                else:
                    # arbitrary AT offsets: the general per-pixel path
                    bits = decode_generic_at(
                        payload[18 + nat :], rw, rh, template, at,
                        tpgdon=tpgdon,
                    )
            if seg_type == 36:  # intermediate: retained, not composited
                aux[num] = bits
                continue
            if page is None:
                page = np.zeros((rh, rw), np.uint8)
            ph, pw = page.shape
            y1, x1 = min(ph, ry + rh), min(pw, rx + rw)
            if y1 > ry and x1 > rx:
                page[ry:y1, rx:x1] |= bits[: y1 - ry, : x1 - rx]
        elif seg_type in (40, 42, 43):  # generic refinement region
            rw, rh, rx, ry = struct.unpack(">IIII", payload[:16])
            grflags = payload[17]
            template = grflags & 0x01
            tpgron = bool(grflags & 0x02)
            at_len = 4 if template == 0 else 0
            if template == 0 and payload[18:22] != _NOMINAL_GR_AT:
                raise UserError("JBIG2: non-nominal GR AT pixels unsupported.")
            # reference: a referred INTERMEDIATE region if one exists
            # (§6.3.2), else the page buffer under the region bbox
            ref = next((aux[r] for r in refs if r in aux), None)
            if ref is not None:
                if ref.shape != (rh, rw):
                    raise UserError(
                        "JBIG2: refinement reference size mismatch."
                    )
            else:
                if seg_type == 40:
                    raise UserError(
                        "JBIG2: intermediate refinement needs an "
                        "intermediate reference."
                    )
                if page is None:
                    raise UserError("JBIG2: refinement region before page info.")
                ph, pw = page.shape
                if ry + rh > ph or rx + rw > pw:
                    raise UserError("JBIG2: refinement region outside the page.")
                ref = page[ry : ry + rh, rx : rx + rw]
            bits = decode_refinement(
                payload[18 + at_len :], rw, rh, ref,
                template=template, tpgron=tpgron,
            )
            if seg_type == 40:  # intermediate: retained
                aux[num] = bits
                continue
            if page is None:
                raise UserError("JBIG2: refinement region before page info.")
            ph, pw = page.shape
            if ry + rh > ph or rx + rw > pw:
                raise UserError("JBIG2: refinement region outside the page.")
            page[ry : ry + rh, rx : rx + rw] = bits
        elif seg_type == 16:  # pattern dictionary
            pat_dicts[num] = decode_pattern_dict(payload)
        elif seg_type in (20, 22, 23):  # halftone region
            pats: list[np.ndarray] = []
            for r in refs:
                pats.extend(pat_dicts.get(r, []))
            bits, rx, ry = decode_halftone_region(payload, pats)
            if seg_type == 20:  # intermediate: retained
                aux[num] = bits
                continue
            rh, rw = bits.shape
            if page is None:
                page = np.zeros((rh, rw), np.uint8)
            ph, pw = page.shape
            y1, x1 = min(ph, ry + rh), min(pw, rx + rw)
            if y1 > ry and x1 > rx:
                page[ry:y1, rx:x1] |= bits[: y1 - ry, : x1 - rx]
        # 49/50/51/62: end-of-page/stripe/file, extension — skip
    return page


def decode_jbig2_embedded(
    data: bytes, globals_data: bytes = b""
) -> np.ndarray:
    """Embedded JBIG2 stream -> (h, w) uint8 bits (1 = black).

    Supports generic / text / halftone / refinement regions (immediate
    AND intermediate organizations) and symbol dictionaries;
    ``globals_data`` is the /JBIG2Globals stream whose segments are
    walked first and shared.

    Fail-closed boundary: ANY structural surprise in a corrupted
    stream — not just the validated paths — surfaces as UserError
    (missing raster upstream), never a raw slice/unpack exception."""

    try:
        return _decode_jbig2_embedded_impl(data, globals_data)
    except UserError:
        raise
    except (IndexError, ValueError, KeyError, OverflowError,
            ZeroDivisionError, struct.error) as ex:
        raise UserError(
            f"JBIG2: malformed stream ({type(ex).__name__})."
        ) from ex


def _decode_jbig2_embedded_impl(
    data: bytes, globals_data: bytes = b""
) -> np.ndarray:

    sym_dicts: dict[int, list[np.ndarray]] = {}
    pat_dicts: dict[int, list[np.ndarray]] = {}
    aux: dict[int, np.ndarray] = {}
    tables: dict[int, HuffTable] = {}
    page = (
        _walk_segments(globals_data, sym_dicts, pat_dicts, None, aux, tables)
        if globals_data else None
    )
    page = _walk_segments(data, sym_dicts, pat_dicts, page, aux, tables)
    if page is None:
        raise UserError("JBIG2: no page in stream.")
    return page


def decode_jbig2_pdf(data: bytes, parms: dict) -> np.ndarray:
    """PDF /JBIG2Decode -> (h, w) uint8 GRAY (0/255). JBIG2 1 bits are
    black by definition -> gray 0. /JBIG2Globals (the parser threads
    the referenced stream's BYTES here) carries page-0 symbol
    dictionaries shared by the page stream's text regions."""

    g = parms.get("JBIG2Globals")
    if g is not None and not isinstance(g, (bytes, bytearray)):
        raise UserError("JBIG2: /JBIG2Globals must be a stream.")
    bits = decode_jbig2_embedded(data, globals_data=bytes(g) if g else b"")
    return np.where(bits == 1, 0, 255).astype(np.uint8)
