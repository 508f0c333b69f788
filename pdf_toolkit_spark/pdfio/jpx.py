"""JPEG 2000 (ISO/IEC 15444-1 / ITU-T T.800) codec — decode AND encode.

Scope (the scan subset a PDF /JPXDecode consumer meets): raw
codestreams (and JP2 boxed files, unwrapped to the ``jp2c`` box) with
single- OR multi-tile grids at the origin (tile dims a multiple of
2^levels, the production 256/512/1024 shapes; tile-parts concatenate
per tile), one or many quality layers (all five Annex B.12 progression orders
LRCP/RLCP/RPCL/PCRL/CPRL, the position-major orders sorting packets
on projected precinct anchors; per-block inclusion, Lblock and
segment state persist across layers), EXPLICIT PRECINCT partitions
(B.6: per-resolution PPx/PPy signalled in Scod/SPcod, per-precinct
inclusion and zero-bitplane tag trees, code-blocks clamped to the
precinct per B.7 — the layout production archival encoders emit)
as well as the default whole-subband maximal precincts, code-blocks
at any legal geometry (square or rectangular, exponents 2..10 with
xcb+ycb <= 12), FULL per-component COC overrides per A.6.2 —
code-block geometry, decomposition depth, precinct partition,
code-block style and wavelet may each differ per component (each
component walks its own band/resolution/precinct state and packet
enumeration; a wavelet split requires MCT off, since the component
transform binds components 0-2 to one domain) —
BOTH wavelet paths — the
reversible 5/3 (Annex F lifting, no-quantization QCD) and the
irreversible 9/7 (Annex F.4 float lifting, Annex E scalar
quantization, derived and expounded QCD styles — the path real-world
lossy JPEG 2000 scans use), with per-component QCC quantization
overrides (T.800 A.6.5 — the luma/chroma split signalling production
color encoders emit) — at 0-5 decomposition levels, Tier-2
packet headers with tag trees and bit stuffing (Annex B), and the
full Tier-1 EBCOT bitplane coder (Annex D: significance-propagation,
magnitude-refinement and cleanup passes with the run-length shortcut),
PPM/PPT packed packet headers (B.10.4/B.10.5: headers in the main
or tile-part header, bodies in the bitstream — the error-resilience
layout), and RGN maxshift regions of interest (Annex H: ROI
coefficients upshifted past every background magnitude, undone by the
decoder's per-coefficient magnitude test)
driven by the MQ arithmetic coder shared with the JBIG2 codec
(pdfio/mq.py — T.88 Annex E and T.800 Annex C publish the
identical coder). Grayscale and RGB 8-bit (3 components with the
reversible RCT or irreversible ICT of Annex G, or none; 4:2:0 and
4:2:2 chroma subsampling on both wavelet paths — SIZ XRsiz/YRsiz of
2, encoder box-averages and the decoder replicates back to the luma
grid, the photographic shapes), SOP/EPH
resegmentation markers (A.8: SOP sequence numbers enforced as the
resync check they are, EPH header terminators — in the packed-header
stream when PPM/PPT host the headers), and POC progression-order
changes (A.6.6: per-volume packet re-enumeration with already-sent
packets skipped; a POC leaving packets uncovered fails closed), plus
the code-block style modes (Table A.19): segmentation symbols (D.5:
every cleanup pass closes with 1010 in the UNIFORM context, verified
on decode), selective arithmetic bypass (D.6: raw SPP/MRP from the
11th pass with bit stuffing), per-pass context reset, per-pass
termination, and vertically causal contexts — the multi-segment
B.10.7 packet layout those modes force is carried on both ends — and
predictable termination (0x10: the D.4.2.2 MQ flush and alternating
raw spacer pad on encode; decode is layout-neutral, without the
optional corruption check). One Tier-1 pair codes every style:
``t1_encode``/``t1_decode`` take the block's style as an input and
handle the modes at pass boundaries, so style 0 keeps its inlined
loop. Both ends refuse blocks past 31 magnitude bitplanes (the
coefficients are int32).
Chroma subsampling composes with explicit precincts, position-major
progressions (anchors project through the sampling factors) and ROI.
Tile-part-header coding overrides decode too: COD/COC/QCD/QCC/RGN/POC
inside a first-tile-part (TPsot=0) header re-resolve that tile's
parameter bundle under the A.6 precedence — COC(tile) > COD(tile) >
COC(main) > COD(main), QCC(tile) > QCD(tile) > QCC(main) > QCD(main),
per-component RGN override, tile POC replacing the main POC — while
other tiles keep the main-header state (the encoder emits main-header
signalling only; the override decode path is pinned by spliced
two-encoder streams in tests). Fail-closed remainder: subsampling
patterns beyond 4:2:0/4:2:2 and non-maxshift RGN styles (Srgn != 0 is
RESERVED in 15444-1 — no conforming Part-1 stream carries one) raise
UserError (missing raster upstream, never wrong pixels).

Both directions are implemented from the public spec; correctness
evidence is exhaustive encode->decode round-trips (bit-exact on the
reversible path; quantization-bounded error on the 9/7 path) across
sizes, level counts and content classes — no JPEG 2000 reference
codec exists in this container to cross-validate against (same
disclosure as JBIG2; the shared MQ coder itself is stress-tested in
test_jbig2.py, and golden bytes in test_codec_golden.py pin the
encoders' output).

Reference parity: the reference pipeline inherits JPX support from
PyMuPDF (reference render.py:89 ``fitz.open``); this engine owns the
codec, same as its DCT/CCITT/JBIG2 siblings.
"""

from __future__ import annotations

import math
import struct
from itertools import chain, repeat
from typing import Iterator

import numpy as np

from ..errors import UserError
from .mq import QE, MQDecoder, MQEncoder, decide

# ---------------------------------------------------------------------------
# Tier-1 context assignment (T.800 Annex D)
# ---------------------------------------------------------------------------

#: context indices: 0-8 zero coding, 9-13 sign coding, 14-16 magnitude
#: refinement, 17 run-length, 18 uniform
_CX_RUN = 17
_CX_UNI = 18

#: T.800 Table D.7 initial MQ state per Tier-1 context: UNIFORM=46,
#: RUN=3, ZC(0)=4, the rest 0
_T1_STATES = bytes([4] + [0] * 16 + [3, 46])

#: band orientations
_LL, _HL, _LH, _HH = 0, 1, 2, 3

#: subband log2 nominal gain for the reversible path (T.800 E.1.1)
_GAIN = {_LL: 0, _HL: 1, _LH: 1, _HH: 2}

_GUARD_BITS = 2
_CB_EXP = 6  # default 64x64 code-blocks
#: Tier-1 codes at most 31 magnitude bitplanes: the decoded
#: coefficients are int32
_MAX_BITPLANES = 31


def _zc_ctx(orient: int, h: int, v: int, d: int) -> int:
    """T.800 Table D.1: zero-coding context from clamped neighbor
    significance counts (h, v in 0..2; d in 0..4)."""

    if orient == _HL:  # vertically low-pass: swap H and V roles
        h, v = v, h
    if orient != _HH:
        if h == 2:
            return 8
        if h == 1:
            return 7 if v >= 1 else (6 if d >= 1 else 5)
        if v == 2:
            return 4
        if v == 1:
            return 3
        return 2 if d >= 2 else d
    if d >= 3:
        return 8
    hv = h + v
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else hv


#: T.800 Table D.2: (clamped H, clamped V) -> (sign context, XOR bit)
_SC_TABLE = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}


#: flat zero-coding LUTs per orientation: index h*15 + v*5 + d
_ZC_LUTS = [
    bytes(
        _zc_ctx(orient, hh, vv, dd)
        for hh in range(3) for vv in range(3) for dd in range(5)
    )
    for orient in range(4)
]

#: flat sign-coding LUTs: index (hc+1)*3 + (vc+1)
_SC_CTXL = [0] * 9
_SC_XORL = [0] * 9
for (_hc, _vc), (_cx, _xr) in _SC_TABLE.items():
    _SC_CTXL[(_hc + 1) * 3 + (_vc + 1)] = _cx
    _SC_XORL[(_hc + 1) * 3 + (_vc + 1)] = _xr


def _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride, neg) -> None:
    """Mark coefficient at padded index j significant and bump the
    8-neighborhood significance counters (incremental eligibility).

    ``sigb``/``sgnb`` are what a coefficient reads from the row below
    it. They are ``sig``/``sgn`` themselves except in vertically causal
    mode, where they are copies in which the first row of every stripe
    never turns significant, and that row bumps no counter of the
    stripe above: the last row of a stripe sees nothing below it."""

    s = -1 if neg else 1
    sig[j] = 1
    sgn[j] = s
    nbr[j - 1] += 1
    nbr[j + 1] += 1
    nbr[j + stride - 1] += 1
    nbr[j + stride] += 1
    nbr[j + stride + 1] += 1
    if sigb is not sig:
        if (j // stride) & 3 == 1:  # padded row y + 1: y % 4 == 0
            return
        sigb[j] = 1
        sgnb[j] = s
    nbr[j - stride - 1] += 1
    nbr[j - stride] += 1
    nbr[j - stride + 1] += 1


def _sc(sgn, sgnb, j, stride) -> int:
    """Flat sign-context LUT index from the four axial neighbors."""

    hc = sgn[j - 1] + sgn[j + 1]
    hc = -1 if hc < -1 else (1 if hc > 1 else hc)
    vc = sgn[j - stride] + sgnb[j + stride]
    vc = -1 if vc < -1 else (1 if vc > 1 else vc)
    return (hc + 1) * 3 + (vc + 1)


# --- Tier-1 entry points -------------------------------------------------

def t1_encode(
    coeffs: np.ndarray, orient: int, style: int = 0, segsym: bool = False,
    return_marks: bool = False,
):
    """EBCOT Tier-1 encode of one codeblock (signed int coefficients)
    -> (codeword segments, number of coding passes, numbps). numbps == 0
    means an all-zero block (caller signals it as not included); more
    than 31 bitplanes raise UserError.

    ``style`` is the block's code-block style (Table A.19 bits 0x01-
    0x10). At style 0 the block is one segment, returned as bytes and
    ended with the ``FF AC`` flush; otherwise a list with one bytes
    object per terminated segment (Tier-2 signals a length per segment,
    B.10.7), each ended by MQEncoder.terminate or the raw-bit flush.
    ``segsym`` appends the segmentation symbol 1010 (UNIFORM context)
    to every cleanup pass (D.5 — the error-detection mode).

    With ``return_marks`` the segments come back concatenated into one
    bytes object, with a fourth element: per coding pass, the byte
    length that no later pass changes (the segment end at a terminated
    pass, MQEncoder.settled inside an MQ segment), so that Tier-2 can
    cut the stream at pass boundaries for quality layers and segments.

    The coding-pass walk is a pure state machine producing a (context,
    decision) stream (flat bytearray state, incremental neighbor
    counters; raw passes push bare bits); the MQ coder consumes that
    stream in one tight loop — the encoder needs no feedback from the
    arithmetic coder, unlike the decoder below."""

    h, w = coeffs.shape
    maxmag = int(np.abs(coeffs).max(initial=0))
    if maxmag == 0:
        return (b"", 0, 0, []) if return_marks else (b"", 0, 0)
    numbps = maxmag.bit_length()
    if numbps > _MAX_BITPLANES:
        raise UserError("JPX encoder: magnitude needs more than 31 bitplanes.")
    stride = w + 2
    size = (h + 2) * stride
    sig = bytearray(size)
    sgn = [0] * size
    nbr = bytearray(size)
    sigb, sgnb = sig, sgn
    if style & _CB_CAUSAL:
        sigb, sgnb = bytearray(size), [0] * size
    refined = bytearray(h * w)
    tmag = np.abs(coeffs).ravel().tolist()
    tneg = (coeffs < 0).ravel().tolist()
    zlut = _ZC_LUTS[orient]
    dec: list[int] = []
    push = dec.append
    npasses = 0
    pass_marks: list[int] = []
    for bp_i in range(numbps - 1, -1, -1):
        bit = 1 << bp_i
        visited = bytearray(h * w)
        first = bp_i == numbps - 1
        if not first:
            # significance propagation
            raw = _is_raw_pass(style, npasses)
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    i0 = y0 * w + x
                    j0 = (y0 + 1) * stride + x + 1
                    for y in range(y0, y1):
                        j = j0 + (y - y0) * stride
                        if sig[j] or not nbr[j]:
                            continue
                        i = i0 + (y - y0) * w
                        visited[i] = 1
                        d = 1 if tmag[i] & bit else 0
                        if raw:
                            push(d)
                            if d:
                                push(1 if tneg[i] else 0)
                                _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride,
                                         tneg[i])
                            continue
                        hn = sig[j - 1] + sig[j + 1]
                        vn = sig[j - stride] + sigb[j + stride]
                        dn = nbr[j] - hn - vn
                        push(zlut[hn * 15 + vn * 5 + dn] | (d << 8))
                        if d:
                            k = _sc(sgn, sgnb, j, stride)
                            push(_SC_CTXL[k] | ((tneg[i] ^ _SC_XORL[k]) << 8))
                            _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride,
                                     tneg[i])
            npasses += 1
            pass_marks.append(len(dec))
            # magnitude refinement
            raw = _is_raw_pass(style, npasses)
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    i0 = y0 * w + x
                    j0 = (y0 + 1) * stride + x + 1
                    for y in range(y0, y1):
                        j = j0 + (y - y0) * stride
                        i = i0 + (y - y0) * w
                        if not sig[j] or visited[i]:
                            continue
                        if refined[i]:
                            cx = 16
                        else:
                            cx = 15 if nbr[j] else 14
                            refined[i] = 1
                        d = 1 if tmag[i] & bit else 0
                        push(d if raw else cx | (d << 8))
            npasses += 1
            pass_marks.append(len(dec))
        # cleanup
        for y0 in range(0, h, 4):
            for x in range(w):
                i0 = y0 * w + x
                j0 = (y0 + 1) * stride + x + 1
                y = y0
                nrows = min(4, h - y0)
                if nrows == 4:
                    run_ok = True
                    for k in range(4):
                        j = j0 + k * stride
                        if sig[j] or nbr[j] or visited[i0 + k * w]:
                            run_ok = False
                            break
                    if run_ok:
                        r = -1
                        for k in range(4):
                            if tmag[i0 + k * w] & bit:
                                r = k
                                break
                        if r < 0:
                            push(_CX_RUN)  # d=0
                            continue
                        push(_CX_RUN | (1 << 8))
                        push(_CX_UNI | (((r >> 1) & 1) << 8))
                        push(_CX_UNI | ((r & 1) << 8))
                        i = i0 + r * w
                        j = j0 + r * stride
                        k = _sc(sgn, sgnb, j, stride)
                        push(_SC_CTXL[k] | ((tneg[i] ^ _SC_XORL[k]) << 8))
                        _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride, tneg[i])
                        y = y0 + r + 1
                for yy in range(y, y0 + nrows):
                    j = j0 + (yy - y0) * stride
                    i = i0 + (yy - y0) * w
                    if sig[j] or visited[i]:
                        continue
                    hn = sig[j - 1] + sig[j + 1]
                    vn = sig[j - stride] + sigb[j + stride]
                    dn = nbr[j] - hn - vn
                    d = 1 if tmag[i] & bit else 0
                    push(zlut[hn * 15 + vn * 5 + dn] | (d << 8))
                    if d:
                        k = _sc(sgn, sgnb, j, stride)
                        push(_SC_CTXL[k] | ((tneg[i] ^ _SC_XORL[k]) << 8))
                        _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride, tneg[i])
        if segsym:
            for b in (1, 0, 1, 0):
                push(_CX_UNI | (b << 8))
        npasses += 1
        pass_marks.append(len(dec))
    enc = MQEncoder(_T1_STATES)
    rawbuf = _RawWriter()
    segs: list[bytes] = []
    wm: list[int] = []
    base, lo = 0, 0  # bytes in finished segments, decisions coded
    for i, hi in enumerate(pass_marks):
        raw = _is_raw_pass(style, i)
        if raw:
            for b in dec[lo:hi]:
                rawbuf.put(b)
        else:
            enc.encode_many(dec[lo:hi])
        lo = hi
        if style and (_term_after(style, i) or i == npasses - 1):
            if raw:
                segs.append(rawbuf.flush(pterm=bool(style & _CB_PREDTERM)))
                rawbuf = _RawWriter()
            else:
                segs.append(enc.terminate())
            base += len(segs[-1])
            wm.append(base)
        elif hi == len(dec):
            # a pass that ends the decision stream settles at the full
            # length
            wm.append(-1)
        else:
            wm.append(base + (0 if raw else enc.settled()))
        if style & _CB_RESET:
            enc.reset_contexts()
    if not style:
        segs.append(enc.flush())
    if not return_marks:
        return (segs if style else segs[0]), npasses, numbps
    seg = b"".join(segs)
    return seg, npasses, numbps, [len(seg) if m < 0 else m for m in wm]


def t1_decode(
    segs, h: int, w: int, orient: int, numbps: int, npasses: int,
    style: int = 0, segsym: bool = False,
) -> np.ndarray:
    """EBCOT Tier-1 decode of one code-block's codeword segments (a
    list, or one bytes object when there is one segment) -> signed
    int32 coefficients. ``style`` is the block's code-block style as
    the COD/COC signals it; more than 31 bitplanes raise UserError.

    MQ decode is inlined on the fast path (MPS without renormalisation);
    everything else goes through mq.decide. The style modes act at pass
    boundaries: after a terminated pass the next segment starts (MQ
    INITDEC with the contexts kept, or a raw bit list), and reset mode
    re-initialises the contexts after every pass. Inside a pass, bypass
    costs one flag test per coded coefficient and causal mode none (it
    lives in the ``sigb``/``sgnb`` views, see _set_sig). ``segsym``
    verifies the 1010 segmentation symbol closing every cleanup pass
    (D.5) and fails closed on mismatch."""

    if numbps > _MAX_BITPLANES:
        raise UserError("JPX: more than 31 magnitude bitplanes.")
    if isinstance(segs, (bytes, bytearray)):
        segs = [segs]
    stride = w + 2
    size = (h + 2) * stride
    sig = bytearray(size)
    sgn = [0] * size
    nbr = bytearray(size)
    sigb, sgnb = sig, sgn
    if style & _CB_CAUSAL:
        sigb, sgnb = bytearray(size), [0] * size
    refined = bytearray(h * w)
    mag = [0] * (h * w)
    zlut = _ZC_LUTS[orient]
    mq = MQDecoder(b"", _T1_STATES)
    cxi, cxm = mq.cxi, mq.cxm
    qeq = QE
    nxt = next
    seg_i = 0
    need_seg = True

    done = 0
    plane = numbps - 1
    passes = ("cup",)
    while done < npasses and plane >= 0:
        bit = 1 << plane
        visited = bytearray(h * w)
        for which in passes:
            if done >= npasses:
                break
            raw = _is_raw_pass(style, done)
            if need_seg:
                if seg_i >= len(segs):
                    raise UserError("JPX: missing codeword segment.")
                seg = bytes(segs[seg_i])
                seg_i += 1
                if raw:
                    rbits = _raw_bits(seg)
                else:
                    mq.start(seg)
                    data, n, bp_ = mq.data, mq.n, mq.bp
                    c, ct, a = mq.c, mq.ct, mq.a
                need_seg = False
            if which == "spp":
                for y0 in range(0, h, 4):
                    y1 = min(y0 + 4, h)
                    for x in range(w):
                        i0 = y0 * w + x
                        j0 = (y0 + 1) * stride + x + 1
                        for y in range(y0, y1):
                            j = j0 + (y - y0) * stride
                            if sig[j] or not nbr[j]:
                                continue
                            i = i0 + (y - y0) * w
                            visited[i] = 1
                            if raw:
                                if nxt(rbits):
                                    _set_sig(sig, sgn, sigb, sgnb, nbr, j,
                                             stride, nxt(rbits))
                                    mag[i] = bit
                                continue
                            hn = sig[j - 1] + sig[j + 1]
                            vn = sig[j - stride] + sigb[j + stride]
                            dn = nbr[j] - hn - vn
                            cx = zlut[hn * 15 + vn * 5 + dn]
                            ii = cxi[cx]
                            qe = qeq[ii]
                            a -= qe
                            ch = (c >> 16) & 0xFFFF
                            if ch >= qe and a & 0x8000:
                                c -= qe << 16
                                d = cxm[cx]
                            else:
                                d, a, c, ct, bp_ = decide(
                                    data, n, bp_, c, ct, a, qe, ii, cx,
                                    cxi, cxm, ch)
                            if d:
                                k = _sc(sgn, sgnb, j, stride)
                                cx = _SC_CTXL[k]
                                ii = cxi[cx]
                                qe = qeq[ii]
                                a -= qe
                                ch = (c >> 16) & 0xFFFF
                                if ch >= qe and a & 0x8000:
                                    c -= qe << 16
                                    sb = cxm[cx]
                                else:
                                    sb, a, c, ct, bp_ = decide(
                                        data, n, bp_, c, ct, a, qe, ii, cx,
                                        cxi, cxm, ch)
                                _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride,
                                         sb ^ _SC_XORL[k])
                                mag[i] = bit
            elif which == "mrp":
                for y0 in range(0, h, 4):
                    y1 = min(y0 + 4, h)
                    for x in range(w):
                        i0 = y0 * w + x
                        j0 = (y0 + 1) * stride + x + 1
                        for y in range(y0, y1):
                            j = j0 + (y - y0) * stride
                            i = i0 + (y - y0) * w
                            if not sig[j] or visited[i]:
                                continue
                            if refined[i]:
                                cx = 16
                            else:
                                cx = 15 if nbr[j] else 14
                                refined[i] = 1
                            if raw:
                                d = nxt(rbits)
                            else:
                                ii = cxi[cx]
                                qe = qeq[ii]
                                a -= qe
                                ch = (c >> 16) & 0xFFFF
                                if ch >= qe and a & 0x8000:
                                    c -= qe << 16
                                    d = cxm[cx]
                                else:
                                    d, a, c, ct, bp_ = decide(
                                        data, n, bp_, c, ct, a, qe, ii, cx,
                                        cxi, cxm, ch)
                            if d:
                                mag[i] |= bit
            else:  # cleanup
                for y0 in range(0, h, 4):
                    for x in range(w):
                        i0 = y0 * w + x
                        j0 = (y0 + 1) * stride + x + 1
                        y = y0
                        nrows = min(4, h - y0)
                        if nrows == 4:
                            run_ok = True
                            for k in range(4):
                                j = j0 + k * stride
                                if sig[j] or nbr[j] or visited[i0 + k * w]:
                                    run_ok = False
                                    break
                            if run_ok:
                                cx = _CX_RUN
                                ii = cxi[cx]
                                qe = qeq[ii]
                                a -= qe
                                ch = (c >> 16) & 0xFFFF
                                if ch >= qe and a & 0x8000:
                                    c -= qe << 16
                                    d = cxm[cx]
                                else:
                                    d, a, c, ct, bp_ = decide(
                                        data, n, bp_, c, ct, a, qe, ii, cx,
                                        cxi, cxm, ch)
                                if not d:
                                    continue
                                r = 0
                                for _two in range(2):
                                    cx = _CX_UNI
                                    ii = cxi[cx]
                                    qe = qeq[ii]
                                    a -= qe
                                    ch = (c >> 16) & 0xFFFF
                                    if ch >= qe and a & 0x8000:
                                        c -= qe << 16
                                        d = cxm[cx]
                                    else:
                                        d, a, c, ct, bp_ = decide(
                                            data, n, bp_, c, ct, a, qe, ii,
                                            cx, cxi, cxm, ch)
                                    r = (r << 1) | d
                                i = i0 + r * w
                                j = j0 + r * stride
                                k = _sc(sgn, sgnb, j, stride)
                                cx = _SC_CTXL[k]
                                ii = cxi[cx]
                                qe = qeq[ii]
                                a -= qe
                                ch = (c >> 16) & 0xFFFF
                                if ch >= qe and a & 0x8000:
                                    c -= qe << 16
                                    sb = cxm[cx]
                                else:
                                    sb, a, c, ct, bp_ = decide(
                                        data, n, bp_, c, ct, a, qe, ii, cx,
                                        cxi, cxm, ch)
                                _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride,
                                         sb ^ _SC_XORL[k])
                                mag[i] = bit
                                y = y0 + r + 1
                        for yy in range(y, y0 + nrows):
                            j = j0 + (yy - y0) * stride
                            i = i0 + (yy - y0) * w
                            if sig[j] or visited[i]:
                                continue
                            hn = sig[j - 1] + sig[j + 1]
                            vn = sig[j - stride] + sigb[j + stride]
                            dn = nbr[j] - hn - vn
                            cx = zlut[hn * 15 + vn * 5 + dn]
                            ii = cxi[cx]
                            qe = qeq[ii]
                            a -= qe
                            ch = (c >> 16) & 0xFFFF
                            if ch >= qe and a & 0x8000:
                                c -= qe << 16
                                d = cxm[cx]
                            else:
                                d, a, c, ct, bp_ = decide(
                                    data, n, bp_, c, ct, a, qe, ii, cx,
                                    cxi, cxm, ch)
                            if d:
                                k = _sc(sgn, sgnb, j, stride)
                                cx = _SC_CTXL[k]
                                ii = cxi[cx]
                                qe = qeq[ii]
                                a -= qe
                                ch = (c >> 16) & 0xFFFF
                                if ch >= qe and a & 0x8000:
                                    c -= qe << 16
                                    sb = cxm[cx]
                                else:
                                    sb, a, c, ct, bp_ = decide(
                                        data, n, bp_, c, ct, a, qe, ii, cx,
                                        cxi, cxm, ch)
                                _set_sig(sig, sgn, sigb, sgnb, nbr, j, stride,
                                         sb ^ _SC_XORL[k])
                                mag[i] = bit
                if segsym:
                    sym = 0
                    for _four in range(4):
                        cx = _CX_UNI
                        ii = cxi[cx]
                        qe = qeq[ii]
                        a -= qe
                        ch = (c >> 16) & 0xFFFF
                        if ch >= qe and a & 0x8000:
                            c -= qe << 16
                            d = cxm[cx]
                        else:
                            d, a, c, ct, bp_ = decide(
                                data, n, bp_, c, ct, a, qe, ii, cx,
                                cxi, cxm, ch)
                        sym = (sym << 1) | d
                    if sym != 0b1010:
                        raise UserError("JPX: segmentation symbol mismatch.")
            if style & _CB_RESET:
                mq.reset_contexts()
                cxi, cxm = mq.cxi, mq.cxm
            need_seg = _term_after(style, done)
            done += 1
        plane -= 1
        passes = ("spp", "mrp", "cup")
    out = np.array(mag, np.int64).reshape(h, w)
    signs = np.array(
        [sgn[(y + 1) * stride + 1 : (y + 1) * stride + 1 + w] for y in range(h)],
        np.int64,
    )
    return (out * np.where(signs == 0, 1, signs)).astype(np.int32)


# ---------------------------------------------------------------------------
# Code-block style modes (T.800 Table A.19): selective arithmetic
# bypass, per-pass context reset, per-pass termination, vertically
# causal contexts. Bypass and termination change the codeword-segment
# layout (several segments per block, raw bit runs); both Tier-1 ends
# handle them at pass boundaries, so the per-coefficient loops stay the
# style-0 ones. Predictable termination (0x10) only pins the spacer
# bits each termination emits (D.4.2.2 for MQ segments, the alternating
# raw pad), so decode reads it like any terminated stream.
# ---------------------------------------------------------------------------

_CB_BYPASS, _CB_RESET, _CB_TERMALL, _CB_CAUSAL = 0x01, 0x02, 0x04, 0x08
_CB_PREDTERM, _CB_SEGSYM = 0x10, 0x20
#: the modes that change the codeword-segment layout / contexts
_CB_STYLED = _CB_BYPASS | _CB_RESET | _CB_TERMALL | _CB_CAUSAL

def _pass_kind(i: int) -> int:
    """Coding-pass type by absolute index: 0=SPP, 1=MRP, 2=CUP (the
    block's first pass is the MSB plane's cleanup)."""

    return 2 if i == 0 else (i - 1) % 3


def _is_raw_pass(style: int, i: int) -> bool:
    """D.6 selective bypass: SPP and MRP passes from the 11th coding
    pass on are raw-coded; cleanup passes stay MQ."""

    return bool(style & _CB_BYPASS) and i >= 10 and _pass_kind(i) != 2


def _term_after(style: int, i: int) -> bool:
    """Does a codeword-segment termination follow pass i? TERMALL
    terminates every pass; bypass terminates before entering each raw
    run (the cleanup closing pass 10 onward) and after each raw
    SPP+MRP pair — the boundaries B.10.7 signals per-segment lengths
    for."""

    if style & _CB_TERMALL:
        return True
    if style & _CB_BYPASS:
        k = _pass_kind(i)
        if i >= 9 and k == 2:
            return True
        if i >= 10 and k == 1:
            return True
    return False


def _seg_partition(style: int, base: int, n: int) -> "list[tuple[int, bool]]":
    """Split a packet contribution of ``n`` passes starting at
    absolute pass ``base`` into codeword segments: (pass count,
    ends-with-termination) per segment, in order."""

    parts: list[tuple[int, bool]] = []
    cnt = 0
    for i in range(base, base + n):
        cnt += 1
        if _term_after(style, i):
            parts.append((cnt, True))
            cnt = 0
    if cnt:
        parts.append((cnt, False))
    return parts


class _RawWriter:
    """D.6 raw (bypass) bit packer: MSB-first with bit stuffing — the
    byte after an 0xFF carries only 7 data bits (MSB forced 0). The
    flush pads with zeros and never leaves a trailing 0xFF."""

    __slots__ = ("out", "cur", "nb")

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nb = 0

    def _limit(self) -> int:
        return 7 if self.out and self.out[-1] == 0xFF else 8

    def put(self, bit: int) -> None:
        self.cur = (self.cur << 1) | bit
        self.nb += 1
        if self.nb == self._limit():
            self.out.append(self.cur)
            self.cur = 0
            self.nb = 0

    def flush(self, pterm: bool = False) -> bytes:
        if self.nb:
            pad = self._limit() - self.nb
            filler = 0
            if pterm:
                # predictable termination pads raw segments with the
                # alternating 0,1,0,1... spacer sequence (D.4.2) so a
                # decoder can detect corruption; plain termination
                # zero-pads (either way the reader consumes exact
                # bit counts, so decode is identical)
                for k in range(pad):
                    if k & 1:
                        filler |= 1 << (pad - 1 - k)
            self.out.append((self.cur << pad) | filler)
            self.cur = 0
            self.nb = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x2A if pterm else 0)
        return bytes(self.out)


#: MSB-first bits of every byte value
_BYTE_BITS = [
    tuple((v >> k) & 1 for k in range(7, -1, -1)) for v in range(256)
]


#: Zero bits a raw (bypass) segment may supply past its last byte
#: before the decoder gives up on it as truncated or corrupted. None
#: of the 4,491 raw segments of the codec tests, the tier-1 corpora and
#: the benchmark's archive corpus reads a bit past its end; a stream
#: with its bypass flag flipped on reads up to 139.
RAW_FILL_BITS = 0


def _raw_bits(seg: bytes) -> "Iterator[int]":
    """Data bits of one raw (bypass) segment, the decoder side of
    _RawWriter: MSB first, the stuffed MSB of every byte after an 0xFF
    dropped, then RAW_FILL_BITS zero bits; one bit more raises
    UserError."""

    bits: list[int] = []
    prev = 0
    for b in seg:
        bits.extend(_BYTE_BITS[b][1:] if prev == 0xFF else _BYTE_BITS[b])
        prev = b
    return chain(bits, repeat(0, RAW_FILL_BITS), _raw_exhausted())


def _raw_exhausted() -> "Iterator[int]":
    raise UserError("JPX: raw segment exhausted (corrupted or truncated stream).")
    yield 0


# ---------------------------------------------------------------------------
# 5/3 reversible DWT (T.800 Annex F lifting)
# ---------------------------------------------------------------------------

def _fwd_lift(x: np.ndarray) -> np.ndarray:
    """1D forward 5/3 along the last axis, in place interleaved
    (even = low, odd = high), symmetric extension at both ends."""

    L = x.shape[-1]
    if L == 1:
        return x
    even = x[..., 0::2]
    odd = x[..., 1::2]
    ne, no = even.shape[-1], odd.shape[-1]
    er = even[..., np.minimum(np.arange(no) + 1, ne - 1)]
    odd -= (even[..., :no] + er) >> 1
    ol = odd[..., np.maximum(np.arange(ne) - 1, 0)]
    orr = odd[..., np.minimum(np.arange(ne), no - 1)]
    even += (ol + orr + 2) >> 2
    return x


def _inv_lift(x: np.ndarray) -> np.ndarray:
    """1D inverse 5/3 along the last axis (interleaved input)."""

    L = x.shape[-1]
    if L == 1:
        return x
    even = x[..., 0::2]
    odd = x[..., 1::2]
    ne, no = even.shape[-1], odd.shape[-1]
    ol = odd[..., np.maximum(np.arange(ne) - 1, 0)]
    orr = odd[..., np.minimum(np.arange(ne), no - 1)]
    even -= (ol + orr + 2) >> 2
    er = even[..., np.minimum(np.arange(no) + 1, ne - 1)]
    odd += (even[..., :no] + er) >> 1
    return x


def dwt53_forward(tile: np.ndarray, levels: int):
    """(H, W) int array -> (LL_levels, [(HL, LH, HH) per level from
    deepest to level 1]). Column transform first, then rows (the
    inverse mirrors T.800 F.3.4: interleave, HOR_SR, VER_SR)."""

    cur = tile.astype(np.int64)
    bands = []
    for _ in range(levels):
        cur = np.ascontiguousarray(_fwd_lift(np.ascontiguousarray(cur.T)).T)
        cur = _fwd_lift(np.ascontiguousarray(cur))
        ll = cur[0::2, 0::2]
        hl = cur[0::2, 1::2]
        lh = cur[1::2, 0::2]
        hh = cur[1::2, 1::2]
        bands.append((hl.copy(), lh.copy(), hh.copy()))
        cur = ll.copy()
    bands.reverse()  # deepest level first
    return cur, bands


def dwt53_inverse(ll: np.ndarray, bands) -> np.ndarray:
    """Inverse of dwt53_forward: bands ordered deepest level first."""

    cur = ll.astype(np.int64)
    for hl, lh, hh in bands:
        h = cur.shape[0] + lh.shape[0]
        w = cur.shape[1] + hl.shape[1]
        full = np.zeros((h, w), np.int64)
        full[0::2, 0::2] = cur
        full[0::2, 1::2] = hl
        full[1::2, 0::2] = lh
        full[1::2, 1::2] = hh
        full = _inv_lift(full)
        full = np.ascontiguousarray(_inv_lift(np.ascontiguousarray(full.T)).T)
        cur = full
    return cur


# ---------------------------------------------------------------------------
# 9/7 irreversible DWT (T.800 Annex F.4, Table F.4 constants) and
# scalar quantization (Annex E)
# ---------------------------------------------------------------------------

#: T.800 Table F.4 lifting constants for the CDF 9/7 filter
_ALPHA = -1.586134342059924
_BETA = -0.052980118572961
_GAMMA = 0.882911075530934
_DELTA = 0.443506852043971
_K97 = 1.230174104914001


def _fwd_lift97(x: np.ndarray) -> np.ndarray:
    """1D forward 9/7 along the last axis, in place interleaved
    (even = low, odd = high), whole-sample symmetric extension — the
    float twin of _fwd_lift. Final scaling low*(1/K), high*K yields
    the Table E.1 nominal gains (DC gain 1 on the low band, Nyquist
    gain 2 per high-pass), so the reversible Mb bookkeeping applies
    unchanged."""

    L = x.shape[-1]
    if L == 1:
        return x
    even = x[..., 0::2]
    odd = x[..., 1::2]
    ne, no = even.shape[-1], odd.shape[-1]
    e_r = np.minimum(np.arange(no) + 1, ne - 1)
    o_l = np.maximum(np.arange(ne) - 1, 0)
    o_r = np.minimum(np.arange(ne), no - 1)
    odd += _ALPHA * (even[..., :no] + even[..., e_r])
    even += _BETA * (odd[..., o_l] + odd[..., o_r])
    odd += _GAMMA * (even[..., :no] + even[..., e_r])
    even += _DELTA * (odd[..., o_l] + odd[..., o_r])
    even *= 1.0 / _K97
    odd *= _K97
    return x


def _inv_lift97(x: np.ndarray) -> np.ndarray:
    """1D inverse 9/7 along the last axis (interleaved input) — exact
    mirror of _fwd_lift97."""

    L = x.shape[-1]
    if L == 1:
        return x
    even = x[..., 0::2]
    odd = x[..., 1::2]
    ne, no = even.shape[-1], odd.shape[-1]
    e_r = np.minimum(np.arange(no) + 1, ne - 1)
    o_l = np.maximum(np.arange(ne) - 1, 0)
    o_r = np.minimum(np.arange(ne), no - 1)
    even *= _K97
    odd *= 1.0 / _K97
    even -= _DELTA * (odd[..., o_l] + odd[..., o_r])
    odd -= _GAMMA * (even[..., :no] + even[..., e_r])
    even -= _BETA * (odd[..., o_l] + odd[..., o_r])
    odd -= _ALPHA * (even[..., :no] + even[..., e_r])
    return x


def dwt97_forward(tile: np.ndarray, levels: int):
    """Float twin of dwt53_forward (columns first, then rows)."""

    cur = tile.astype(np.float64)
    bands = []
    for _ in range(levels):
        cur = np.ascontiguousarray(_fwd_lift97(np.ascontiguousarray(cur.T)).T)
        cur = _fwd_lift97(np.ascontiguousarray(cur))
        bands.append(
            (cur[0::2, 1::2].copy(), cur[1::2, 0::2].copy(),
             cur[1::2, 1::2].copy())
        )
        cur = cur[0::2, 0::2].copy()
    bands.reverse()
    return cur, bands


def dwt97_inverse(ll: np.ndarray, bands) -> np.ndarray:
    """Inverse of dwt97_forward: bands ordered deepest level first."""

    cur = ll.astype(np.float64)
    for hl, lh, hh in bands:
        h = cur.shape[0] + lh.shape[0]
        w = cur.shape[1] + hl.shape[1]
        full = np.zeros((h, w), np.float64)
        full[0::2, 0::2] = cur
        full[0::2, 1::2] = hl
        full[1::2, 0::2] = lh
        full[1::2, 1::2] = hh
        full = _inv_lift97(full)
        full = np.ascontiguousarray(_inv_lift97(np.ascontiguousarray(full.T)).T)
        cur = full
    return cur


def _ict_forward(shifted: np.ndarray) -> list:
    """Irreversible color transform (T.800 G.3, the float YCbCr pair of
    _rct_forward) on level-shifted RGB."""

    r = shifted[..., 0].astype(np.float64)
    g = shifted[..., 1].astype(np.float64)
    b = shifted[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    return [y, cb, cr]


def _ict_inverse(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _step_to_eps_mu(step: float, rb: int) -> tuple[int, int]:
    """Invert T.800 E-3: the (exponent, mantissa) pair whose signalled
    step size 2^(rb-eps) * (1 + mu/2^11) best matches ``step`` for a
    band of nominal dynamic range ``rb`` bits."""

    eps = rb - math.floor(math.log2(step))
    if not (0 <= eps <= 31):
        raise UserError("JPX encoder: quantization step out of range.")
    mu = round((step / 2.0 ** (rb - eps) - 1.0) * 2048)
    return eps, min(max(mu, 0), 2047)


def _eps_mu_to_step(eps: int, mu: int, rb: int) -> float:
    """T.800 Equation E-3."""

    return 2.0 ** (rb - eps) * (1.0 + mu / 2048.0)


def _parse_quant(body: bytes) -> tuple[int, int, list[int], list[tuple[int, int]]]:
    """Shared QCD/QCC body parse (T.800 A.6.4/A.6.5: Sqcd/Sqcc +
    SPqcd/SPqcc) -> (style, guard_bits, exponents, (eps, mu) pairs)."""

    style = body[0] & 0x1F
    guard = body[0] >> 5
    if style == 0:  # no quantization: 8-bit exponents
        return style, guard, [b_ >> 3 for b_ in body[1:]], []
    if style in (1, 2):  # scalar derived / expounded: 16-bit pairs
        n16 = (len(body) - 1) // 2
        vals = struct.unpack(f">{n16}H", body[1 : 1 + 2 * n16])
        return style, guard, [], [(v >> 11, v & 0x7FF) for v in vals]
    raise UserError("JPX: unknown quantization style.")


def _band_dims(size: int, nb: int, offset: int) -> int:
    """T.800 B.5 band extent for a tile at the origin: number of band
    samples along one dimension at decomposition level nb with band
    offset 0 (low) or 1 (high)."""

    if nb == 0:  # no decomposition: the LL band IS the tile
        return size
    num = size - offset * (1 << (nb - 1))
    if num <= 0:
        return 0
    step = 1 << nb
    return (num + step - 1) // step


# ---------------------------------------------------------------------------
# Tier-2: bit-stuffed header I/O and tag trees (T.800 Annex B)
# ---------------------------------------------------------------------------

class _BitWriter:
    """MSB-first writer with 0xFF bit stuffing: a byte following 0xFF
    carries only 7 bits (MSB forced 0)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.cur = 0
        self.nb = 0
        self.limit = 8

    def put(self, bit: int) -> None:
        self.cur = (self.cur << 1) | (bit & 1)
        self.nb += 1
        if self.nb == self.limit:
            self._emit()

    def put_bits(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((value >> i) & 1)

    def _emit(self) -> None:
        self.buf.append(self.cur)
        self.limit = 7 if self.cur == 0xFF else 8
        self.cur = 0
        self.nb = 0

    def flush(self) -> bytes:
        if self.nb:
            self.cur <<= self.limit - self.nb
            self._emit()
        if self.limit == 7:  # trailing 0xFF needs a stuffing byte
            self._emit()
        return bytes(self.buf)


class _BitReader:
    """Mirror of _BitWriter over a memoryview, tracking consumption so
    the packet body can resume at the aligned position."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nb = 0
        self.limit = 8
        self.last = 0

    def get(self) -> int:
        if self.nb == 0:
            if self.pos >= len(self.data):
                raise UserError("JPX: truncated packet header.")
            self.limit = 7 if self.last == 0xFF else 8
            self.cur = self.data[self.pos]
            self.last = self.cur
            self.pos += 1
            self.nb = self.limit
        self.nb -= 1
        return (self.cur >> self.nb) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        """Drop partial bits, skip a stuffing byte after a trailing
        0xFF, return the byte position where the body starts."""

        self.nb = 0
        if self.last == 0xFF:
            self.pos += 1
            self.last = 0
        return self.pos


class _TagTree:
    """T.800 B.10.2 tag tree over a w x h leaf grid."""

    def __init__(self, w: int, h: int) -> None:
        self.w, self.h = w, h
        self.levels = []
        while True:
            self.levels.append((w, h))
            if w <= 1 and h <= 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        # per level: value, low, known arrays
        self.value = [np.full((lh, lw), 1 << 30, np.int64)
                      for lw, lh in self.levels]
        self.low = [np.zeros((lh, lw), np.int64) for lw, lh in self.levels]
        self.known = [np.zeros((lh, lw), bool) for lw, lh in self.levels]

    def set_values(self, vals: np.ndarray) -> None:
        """Encoder side: leaf values -> min-rollup internal nodes."""

        self.value[0][:, :] = vals
        for lvl in range(1, len(self.levels)):
            prev = self.value[lvl - 1]
            lw, lh = self.levels[lvl]
            cur = np.full((lh, lw), 1 << 30, np.int64)
            ph, pw = prev.shape
            for yy in range(lh):
                for xx in range(lw):
                    blk = prev[2 * yy : min(2 * yy + 2, ph),
                               2 * xx : min(2 * xx + 2, pw)]
                    cur[yy, xx] = blk.min()
            self.value[lvl] = cur

    def _path(self, x: int, y: int):
        out = []
        for lvl in range(len(self.levels) - 1, -1, -1):
            out.append((lvl, y >> lvl, x >> lvl))
        return out

    def encode(self, bw: _BitWriter, x: int, y: int, threshold: int) -> None:
        low = 0
        for lvl, yy, xx in self._path(x, y):
            if low > self.low[lvl][yy, xx]:
                self.low[lvl][yy, xx] = low
            else:
                low = int(self.low[lvl][yy, xx])
            v = int(self.value[lvl][yy, xx])
            while low < threshold:
                if low >= v:
                    if not self.known[lvl][yy, xx]:
                        bw.put(1)
                        self.known[lvl][yy, xx] = True
                    break
                bw.put(0)
                low += 1
            self.low[lvl][yy, xx] = low

    def decode(self, br: _BitReader, x: int, y: int, threshold: int) -> bool:
        """Returns leaf value < threshold, consuming bits as needed."""

        low = 0
        for lvl, yy, xx in self._path(x, y):
            if low > self.low[lvl][yy, xx]:
                self.low[lvl][yy, xx] = low
            else:
                low = int(self.low[lvl][yy, xx])
            while low < threshold:
                if low >= self.value[lvl][yy, xx]:
                    break
                if br.get():
                    self.value[lvl][yy, xx] = low
                else:
                    low += 1
            self.low[lvl][yy, xx] = low
        return bool(self.value[0][y, x] < threshold)


def _encode_npasses(bw: _BitWriter, n: int) -> None:
    """T.800 Table B.4."""

    if n == 1:
        bw.put(0)
    elif n == 2:
        bw.put_bits(0b10, 2)
    elif n <= 5:
        # the 2-bit branch covers 3..5 only: n=6 belongs to the
        # '1111'+5-bit branch (value n-6=0) per Table B.4 — encoding it
        # as '11'+'11' would desync _decode_npasses
        bw.put_bits(0b11, 2)
        bw.put_bits(n - 3, 2)
    elif n <= 36:
        bw.put_bits(0b1111, 4)
        bw.put_bits(n - 6, 5)
    else:
        bw.put_bits(0b1111, 4)
        bw.put_bits(0b11111, 5)
        bw.put_bits(n - 37, 7)


def _decode_npasses(br: _BitReader) -> int:
    if not br.get():
        return 1
    if not br.get():
        return 2
    v = br.get_bits(2)
    if v < 3:
        return 3 + v
    v = br.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.get_bits(7)


# ---------------------------------------------------------------------------
# Codestream assembly / parse
# ---------------------------------------------------------------------------

def _resolution_bands(levels: int):
    """Packet band list per resolution r: r=0 -> LL at the deepest
    level; r>=1 -> HL, LH, HH at level (levels - r + 1)."""

    out = [[(_LL, levels)]] if levels else [[(_LL, 0)]]
    for r in range(1, levels + 1):
        nb = levels - r + 1
        out.append([(_HL, nb), (_LH, nb), (_HH, nb)])
    return out


def _precinct_layout(
    th: int, tw: int, levels: int, pps: list, xcb: int, ycb: int,
    scale: tuple = (1, 1),
):
    """Precinct partition of an origin-0 tile (T.800 B.6), per
    resolution r=0..levels.

    ``pps`` lists (PPx, PPy) exponents on each RESOLUTION grid.
    Code-blocks are clamped to the precinct (B.7: effective exponent
    min(xcb, PPx - 1) for r > 0, min(xcb, PPx) at r = 0) and anchored
    at the band origin, so precinct boundaries never split a block.
    ``scale`` is the component's (YRsiz, XRsiz) sampling factor:
    position anchors project through it to the REFERENCE grid so the
    position-major progressions (B.12) interleave subsampled
    components at their true image coordinates.

    Returns a list over r of dicts:
      n     -- precinct count npx * npy (raster order on the res grid)
      pos   -- per precinct, the projected reference-grid anchor
               (y, x) used by the position-major progressions (B.12)
      bands -- {(orient, nb): per-precinct list of code-block cell
               rects (y0, x0, ch, cw, by, bx) in raster order, where
               (by, bx) is the cell on the band's global block grid}
      grid  -- {(orient, nb): per-precinct (nx, ny) block-grid dims}
    """

    sy, sx = scale
    out = []
    for r, bands in enumerate(_resolution_bands(levels)):
        ppx, ppy = pps[r]
        res_w = -(-tw // (1 << (levels - r)))
        res_h = -(-th // (1 << (levels - r)))
        npx = -(-res_w // (1 << ppx))
        npy = -(-res_h // (1 << ppy))
        n = npx * npy
        shift = 0 if r == 0 else 1
        cbx = min(xcb, ppx - shift)
        cby = min(ycb, ppy - shift)
        pos = [
            ((py << (ppy + levels - r)) * sy, (px << (ppx + levels - r)) * sx)
            for py in range(npy) for px in range(npx)
        ]
        entry = {"n": n, "pos": pos, "bands": {}, "grid": {}}
        for orient, nb in bands:
            bh = _band_dims(th, nb, 0 if orient in (_LL, _HL) else 1)
            bw_ = _band_dims(tw, nb, 0 if orient in (_LL, _LH) else 1)
            bpw = 1 << (ppx - shift)  # precinct extent on the band grid
            bph = 1 << (ppy - shift)
            cells, grids = [], []
            for py in range(npy):
                for px in range(npx):
                    x0p, x1p = px * bpw, min((px + 1) * bpw, bw_)
                    y0p, y1p = py * bph, min((py + 1) * bph, bh)
                    if x1p <= x0p or y1p <= y0p:
                        cells.append([])
                        grids.append((0, 0))
                        continue
                    bx0 = x0p >> cbx
                    by0 = y0p >> cby
                    bx1 = (x1p + (1 << cbx) - 1) >> cbx
                    by1 = (y1p + (1 << cby) - 1) >> cby
                    blocks = []
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            y0, x0 = by << cby, bx << cbx
                            blocks.append((
                                y0, x0,
                                min(1 << cby, bh - y0),
                                min(1 << cbx, bw_ - x0),
                                by, bx,
                            ))
                    cells.append(blocks)
                    grids.append((bx1 - bx0, by1 - by0))
            entry["bands"][(orient, nb)] = cells
            entry["grid"][(orient, nb)] = grids
        out.append(entry)
    return out


def _prog_sort(pk: list, prog_code: int) -> None:
    """In-place sort of (l, r, ci, p, y, x) packet tuples per a B.12
    progression; position-major orders use the projected anchors."""

    if prog_code == 0:  # LRCP
        pk.sort(key=lambda t: (t[0], t[1], t[2], t[3]))
    elif prog_code == 1:  # RLCP
        pk.sort(key=lambda t: (t[1], t[0], t[2], t[3]))
    elif prog_code == 2:  # RPCL
        pk.sort(key=lambda t: (t[1], t[4], t[5], t[2], t[0]))
    elif prog_code == 3:  # PCRL
        pk.sort(key=lambda t: (t[4], t[5], t[2], t[1], t[0]))
    else:  # CPRL
        pk.sort(key=lambda t: (t[2], t[4], t[5], t[1], t[0]))


def _packet_order(prog_code: int, layers: int, layouts: dict):
    """Packet visit order for one tile under a B.12 progression:
    tuples (layer, r, ci, p). ``layouts`` maps each component to its
    own precinct layout (per-component decomposition depths, precinct
    partitions and sampling factors enumerate independently; a
    component contributes packets only at the resolutions it has)."""

    pk = []
    for ci in sorted(layouts):
        for r, entry in enumerate(layouts[ci]):
            for p in range(entry["n"]):
                y, x = entry["pos"][p]
                for l in range(layers):
                    pk.append((l, r, ci, p, y, x))
    _prog_sort(pk, prog_code)
    return [(l, r, ci, p) for l, r, ci, p, _y, _x in pk]


def _poc_order(entries: list, layers: int, layouts: dict):
    """Packet visit order under POC progression-order changes (T.800
    A.6.6 / B.12): each volume (RSpoc, CSpoc, LYEpoc, REpoc, CEpoc,
    Ppoc) enumerates its progression over layers < LYEpoc, RSpoc <=
    r < REpoc, CSpoc <= c < CEpoc, emitting packets not yet emitted.
    For any precinct, each volume contributes an ascending layer
    range, so per-band Tier-2 state stays consistent. A POC that
    leaves packets uncovered fails closed."""

    seen: set = set()
    out = []
    ncomp = len(layouts)
    for rs, cs, lye, re_, ce, pcode in entries:
        sub = []
        for ci in range(cs, min(ce, ncomp)):
            layout = layouts[ci]
            for r in range(rs, min(re_, len(layout))):
                entry = layout[r]
                for p in range(entry["n"]):
                    y, x = entry["pos"][p]
                    for l in range(min(lye, layers)):
                        sub.append((l, r, ci, p, y, x))
        _prog_sort(sub, pcode)
        for t in sub:
            k = t[:4]
            if k not in seen:
                seen.add(k)
                out.append(k)
    total = layers * sum(
        e["n"] for lay in layouts.values() for e in lay
    )
    if len(out) != total:
        raise UserError("JPX: POC leaves packets uncovered.")
    return out


def _rct_forward(shifted: np.ndarray) -> list:
    """Reversible color transform (T.800 G.2) on level-shifted RGB:
    Y = floor((R + 2G + B)/4), U = B - G, V = R - G."""

    r = shifted[..., 0]
    g = shifted[..., 1]
    b = shifted[..., 2]
    return [(r + 2 * g + b) >> 2, b - g, r - g]


def _rct_inverse(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    g = y - ((u + v) >> 2)
    return np.stack([v + g, g, u + g], axis=-1)


def encode_jpx(
    img: np.ndarray,
    levels: int = 2,
    *,
    irreversible: bool = False,
    qstep: float = 1.0 / 64,
    qcd_style: str = "expounded",
    tile_size: int | None = None,
    layers: int = 1,
    chroma_qstep: float | None = None,
    qcc: bool = False,
    ppt: bool = False,
    ppm: bool = False,
    roi: bool = False,
    cb_exp: "int | tuple[int, int]" = _CB_EXP,
    prog: str = "lrcp",
    coc_cb: "dict[int, int | tuple[int, int]] | None" = None,
    precincts: "int | tuple[int, int] | list | None" = None,
    sop: bool = False,
    eph: bool = False,
    poc: "list | None" = None,
    segsym: bool = False,
    subsample: str = "444",
    cblk_style: int = 0,
    coc: "dict[int, dict] | None" = None,
    no_mct: bool = False,
    tile_overrides: "dict[int, dict] | None" = None,
) -> bytes:
    """8-bit gray (H, W) or RGB (H, W, 3) -> JPEG 2000 codestream.
    Defaults: one layer, 64x64 code-blocks (``cb_exp`` sets other
    T.800-legal geometries, int or (xcb, ycb); ``coc_cb`` overrides
    per component via COC marker segments), LRCP packet order
    (``prog`` picks any of the five B.12 progressions). Default is
    the lossless path (5/3 reversible, RCT for RGB, no quantization);
    ``irreversible=True`` emits the lossy 9/7 path (ICT for RGB,
    scalar-expounded QCD with a uniform base step ``qstep`` — Annex E
    deadzone quantizer, reconstruction bounded by the step size).
    ``tile_size`` partitions the image into an independent tile grid
    (one SOT/SOD per tile, raster order) — the production shape for
    large scans; must be a multiple of 2^levels so every tile's band
    extents reduce to the origin-0 formula. ``layers`` emits that many
    LRCP quality layers: each code-block's coding passes spread evenly
    across layers, byte-split at MQ settled watermarks, so the
    concatenated segments equal the single-layer stream.
    ``chroma_qstep`` quantizes components 1-2 with their own step
    (irreversible RGB only) and signals it with per-component QCC
    marker segments (T.800 A.6.5); ``qcc=True`` emits QCC even when
    the steps agree — on the reversible RGB path that tightens the
    signalled dynamic range to the true per-component RCT spans (Y 8
    bits, Cb/Cr 9) instead of a single widest-component QCD."""

    if img.dtype != np.uint8 or img.ndim not in (2, 3) or (
        img.ndim == 3 and img.shape[2] != 3
    ):
        raise UserError("JPX encoder: 8-bit gray or RGB input required.")
    if not (0 <= levels <= 5):
        raise UserError("JPX encoder: 0-5 decomposition levels.")
    h, w = img.shape[:2]
    if tile_size is not None and tile_size <= 0:
        raise UserError("JPX encoder: tile_size must be positive.")
    if not (1 <= layers <= 255):
        raise UserError("JPX encoder: 1-255 quality layers.")
    if cblk_style & ~(_CB_STYLED | _CB_PREDTERM):
        raise UserError("JPX encoder: unsupported code-block style bits.")
    xcb, ycb = (cb_exp, cb_exp) if isinstance(cb_exp, int) else cb_exp
    if not (2 <= xcb <= 10 and 2 <= ycb <= 10 and xcb + ycb <= 12):
        raise UserError(
            "JPX encoder: code-block exponents in 2..10, xcb+ycb <= 12."
        )
    _PROGS = {"lrcp": 0, "rlcp": 1, "rpcl": 2, "pcrl": 3, "cprl": 4}
    if prog not in _PROGS:
        raise UserError("JPX encoder: prog lrcp|rlcp|rpcl|pcrl|cprl.")
    prog_code = _PROGS[prog]
    # POC progression volumes: (rs, cs, lye, re, ce, prog_name)
    poc_entries = []
    for rs, cs, lye, re_, ce, pname in poc or []:
        if pname not in _PROGS:
            raise UserError("JPX encoder: unknown POC progression.")
        if not (0 <= rs < re_ and 0 <= cs < ce and lye >= 1):
            raise UserError("JPX encoder: invalid POC volume bounds.")
        poc_entries.append((rs, cs, lye, re_, ce, _PROGS[pname]))
    # explicit precinct partition (B.6): int / (PPx, PPy) applied to
    # every resolution, or a per-resolution list (r=0 first); None
    # keeps the maximal whole-band precincts and omits the signalling
    def _parse_prec(pv_in, lv: int) -> list:
        if isinstance(pv_in, (int, tuple)):
            plist = [pv_in] * (lv + 1)
        else:
            plist = list(pv_in)
        if len(plist) != lv + 1:
            raise UserError(
                "JPX encoder: precincts needs one entry per resolution."
            )
        ps = []
        for r, pv in enumerate(plist):
            px_, py_ = (pv, pv) if isinstance(pv, int) else pv
            if not (0 <= px_ <= 15 and 0 <= py_ <= 15) or (
                r > 0 and (px_ < 1 or py_ < 1)
            ):
                raise UserError(
                    "JPX encoder: precinct exponents in 0..15 "
                    "(1..15 above r=0)."
                )
            ps.append((px_, py_))
        return ps

    use_prec = precincts is not None
    pps = (
        _parse_prec(precincts, levels) if use_prec
        else [(15, 15)] * (levels + 1)
    )
    ncomp_early = 1 if img.ndim == 2 else 3
    # per-component coding parameters: the COD defaults, overridden
    # per component by ``coc`` ({ci: {levels/cb/style/reversible/
    # precincts}}) and the legacy ``coc_cb`` geometry shorthand —
    # every overridden component gets a COC marker segment (A.6.2)
    base_rev = not irreversible
    cb_of = {ci: (xcb, ycb) for ci in range(ncomp_early)}
    lev_of = {ci: levels for ci in range(ncomp_early)}
    rev_of = {ci: base_rev for ci in range(ncomp_early)}
    style_of = {ci: cblk_style for ci in range(ncomp_early)}
    pps_of = {ci: pps for ci in range(ncomp_early)}
    use_prec_of = {ci: use_prec for ci in range(ncomp_early)}
    coc_all: dict[int, dict] = {}
    for ci, ov in (coc_cb or {}).items():
        coc_all.setdefault(ci, {})["cb"] = ov
    for ci, ov in (coc or {}).items():
        coc_all.setdefault(ci, {}).update(ov)
    for ci, ov in coc_all.items():
        if not (0 <= ci < ncomp_early):
            raise UserError("JPX encoder: coc component out of range.")
        if unknown := set(ov) - {
            "cb", "levels", "style", "reversible", "precincts"
        }:
            raise UserError(
                f"JPX encoder: unknown coc keys {sorted(unknown)}."
            )
        if "cb" in ov:
            v = ov["cb"]
            xo, yo = (v, v) if isinstance(v, int) else v
            if not (2 <= xo <= 10 and 2 <= yo <= 10 and xo + yo <= 12):
                raise UserError(
                    "JPX encoder: coc_cb exponents in 2..10, sum <= 12."
                )
            cb_of[ci] = (xo, yo)
        if "levels" in ov:
            if not (0 <= ov["levels"] <= 5):
                raise UserError("JPX encoder: 0-5 decomposition levels.")
            lev_of[ci] = ov["levels"]
        if "style" in ov:
            if ov["style"] & ~(_CB_STYLED | _CB_PREDTERM):
                raise UserError(
                    "JPX encoder: unsupported code-block style bits."
                )
            style_of[ci] = ov["style"]
        if "reversible" in ov:
            rev_of[ci] = bool(ov["reversible"])
        if "precincts" in ov:
            if ov["precincts"] is None:
                pps_of[ci] = [(15, 15)] * (lev_of[ci] + 1)
                use_prec_of[ci] = False
            else:
                pps_of[ci] = _parse_prec(ov["precincts"], lev_of[ci])
                use_prec_of[ci] = True
        elif lev_of[ci] != levels:
            # the inherited partition must cover this depth
            pps_of[ci] = (
                _parse_prec(precincts, lev_of[ci]) if use_prec
                else [(15, 15)] * (lev_of[ci] + 1)
            )
    max_lev = max(lev_of.values())
    if any(style_of.values()) and layers != 1:
        # multi-segment contributions + layer cuts compound; the
        # production profiles pair the speed modes with single-layer
        raise UserError("JPX encoder: styled code-blocks require layers=1.")
    if tile_size is not None and tile_size % (1 << max_lev):
        raise UserError("JPX encoder: tile_size must be a multiple of 2^levels.")
    mixed_rev = len(set(rev_of.values())) > 1
    if mixed_rev and not no_mct:
        raise UserError(
            "JPX encoder: mixed per-component wavelets require no_mct."
        )
    xt = yt = tile_size if tile_size else max(w, h)
    gray = img.ndim == 2
    if chroma_qstep is not None and (gray or rev_of[1] or rev_of[2]):
        raise UserError("JPX encoder: chroma_qstep needs irreversible RGB.")
    if qcc and gray:
        raise UserError("JPX encoder: qcc needs a 3-component image.")
    if roi and tile_size:
        raise UserError("JPX encoder: roi requires a single tile.")
    if subsample not in ("444", "420", "422"):
        raise UserError("JPX encoder: subsample 444|420|422.")
    use_sub = subsample != "444"
    sub_x = 2 if use_sub else 1
    sub_y = 2 if subsample == "420" else 1
    if use_sub:
        if gray:
            raise UserError("JPX encoder: subsampling needs RGB.")
        if tile_size is not None and tile_size % (1 << (max_lev + 1)):
            raise UserError(
                "JPX encoder: subsampled tiles need a multiple of 2^(levels+1)."
            )
    #: per-component maxshift values, filled by the tile coder and
    #: signalled as main-header RGN segments
    roi_s: dict[int, int] = {}
    mct = 0 if (gray or no_mct) else 1
    ncomp = 1 if gray else 3
    # any per-component divergence in wavelet or depth changes the
    # quantization body, so those components must signal a QCC
    emit_qcc = qcc or chroma_qstep is not None or any(
        rev_of[ci] != rev_of[0] or lev_of[ci] != lev_of[0]
        for ci in range(ncomp)
    )
    # nominal per-component dynamic range Rb (E.1): 8-bit samples,
    # expanded by the RCT difference channels; ICT and untransformed
    # components stay at the sample depth
    if gray or mct == 0:
        eps_base_of = [8] * ncomp
    elif not base_rev:
        eps_base_of = [8] * ncomp  # ICT keeps the 8-bit nominal range
    elif emit_qcc:
        eps_base_of = [8, 9, 9]
    else:
        # a single QCD must cover the widest component (Cb/Cr: 9 bits)
        eps_base_of = [9, 9, 9]
    if qcd_style not in ("derived", "expounded"):
        raise UserError("JPX encoder: qcd_style derived|expounded.")
    step_c = [qstep] * ncomp
    if chroma_qstep is not None:
        step_c[1] = step_c[2] = chroma_qstep
    #: per-band (eps, mu, step) keyed (component, orient, nb) for the
    #: quantized (9/7) components: rb = Rb + gain. The signalled step
    #: is the QUANTIZER's step too, so encoder and decoder
    #: divide/multiply the identical double.
    def _build_quant(steps: list) -> dict:
        q: dict = {}
        for ci in range(ncomp):
            if rev_of[ci]:
                continue
            band_keys = [
                k for bands in _resolution_bands(lev_of[ci]) for k in bands
            ]
            if qcd_style == "derived":
                # style 1 (E-5): one signalled pair for the LL band;
                # every band at level nb derives eps0 - levels + nb
                eps0, mu0 = _step_to_eps_mu(steps[ci], eps_base_of[ci])
                if eps0 - lev_of[ci] < 1:
                    raise UserError(
                        "JPX encoder: derived QCD step too coarse for levels."
                    )
                for orient, nb in band_keys:
                    rb = eps_base_of[ci] + _GAIN[orient]
                    eps = eps0 - lev_of[ci] + nb if lev_of[ci] else eps0
                    q[(ci, orient, nb)] = (
                        eps, mu0, _eps_mu_to_step(eps, mu0, rb)
                    )
            else:
                for orient, nb in band_keys:
                    rb = eps_base_of[ci] + _GAIN[orient]
                    eps, mu = _step_to_eps_mu(steps[ci], rb)
                    q[(ci, orient, nb)] = (
                        eps, mu, _eps_mu_to_step(eps, mu, rb)
                    )
        return q

    quant_of = _build_quant(step_c)
    # per-tile quantization overrides ({ti: {"qstep": s}}): the tile
    # codes against its own quant table and signals it with a QCD in
    # its first-tile-part header (the decoder's A.6 precedence gives
    # the tile QCD priority; a tile QCD displaces main QCCs, so the
    # knob excludes the per-component quant modes)
    tile_quant: dict[int, dict] = {}
    if tile_overrides:
        if not irreversible or tile_size is None:
            raise UserError(
                "JPX encoder: tile_overrides need the irreversible "
                "multi-tile path."
            )
        if emit_qcc:
            raise UserError(
                "JPX encoder: tile_overrides exclude QCC signalling."
            )
        n_tiles = (-(-w // xt)) * (-(-h // yt))
        for ti, ov in tile_overrides.items():
            if not (0 <= ti < n_tiles):
                raise UserError(
                    "JPX encoder: tile_overrides tile index out of range."
                )
            if set(ov) != {"qstep"}:
                raise UserError(
                    "JPX encoder: tile_overrides support qstep only."
                )
            tile_quant[ti] = _build_quant([ov["qstep"]] * ncomp)

    def _tile_stream(tile_img: np.ndarray, quant_of: dict = quant_of) -> bytes:
        """One tile's concatenated packet bytes (LRCP with 1 layer and
        whole-band precincts: resolution-major, one packet per
        component within each resolution)."""

        shifted = tile_img.astype(np.int64) - 128  # DC level shift (B.1.1)
        if gray:
            comps = [
                shifted.astype(np.float64) if not rev_of[0] else shifted
            ]
        elif mct == 0:
            # untransformed planes: each component in its own wavelet
            # domain (float for 9/7, integer for 5/3)
            comps = [
                shifted[..., ci].astype(np.float64)
                if not rev_of[ci] else shifted[..., ci]
                for ci in range(3)
            ]
        elif not base_rev:
            comps = _ict_forward(shifted)
        else:
            comps = _rct_forward(shifted)
        if use_sub:
            # chroma decimation: edge-pad to the sampling grid, box
            # average over sub_y x sub_x (the decoder replicates
            # back); integer components use a rounded integer mean so
            # the 5/3 path stays integral
            for ci_ in (1, 2):
                c = comps[ci_]
                ph, pw = -c.shape[0] % sub_y, -c.shape[1] % sub_x
                if ph or pw:
                    c = np.pad(c, ((0, ph), (0, pw)), mode="edge")
                blocks = [
                    c[dy::sub_y, dx::sub_x]
                    for dy in range(sub_y)
                    for dx in range(sub_x)
                ]
                total = blocks[0].copy()
                for b_ in blocks[1:]:
                    total += b_
                if not rev_of[ci_]:
                    comps[ci_] = total / float(len(blocks))
                else:
                    comps[ci_] = (total + len(blocks) // 2) // len(blocks)
        decomposed = [
            (dwt53_forward if rev_of[ci] else dwt97_forward)(
                c, lev_of[ci]
            )
            for ci, c in enumerate(comps)
        ]

        def band_array(ci: int, orient: int, nb: int) -> np.ndarray:
            ll, lev_bands = decomposed[ci]
            if orient == _LL:
                arr = ll
            else:
                hl, lh, hh = lev_bands[len(lev_bands) - nb]
                arr = (hl, lh, hh)[orient - 1]
            if rev_of[ci]:
                return arr
            step = quant_of[(ci, orient, nb)][2]
            return (np.sign(arr) * np.floor(np.abs(arr) / step)).astype(np.int64)

        # ROI maxshift (Annex H): materialize every band, pick s per
        # component so 2^s exceeds every background magnitude, upshift
        # the ROI (the upper-left image quadrant, mapped per band —
        # the mask is an encoder choice, never signalled)
        roi_arrays = None
        if roi:
            roi_arrays = {}
            for ci_ in range(ncomp):
                for bands_ in _resolution_bands(lev_of[ci_]):
                    for orient_, nb_ in bands_:
                        roi_arrays[(ci_, orient_, nb_)] = band_array(
                            ci_, orient_, nb_
                        )
            for ci_ in range(ncomp):
                mx = 0
                for (c2, _o, _n), a in roi_arrays.items():
                    if c2 != ci_ or a.size == 0:
                        continue
                    m = np.ones(a.shape, bool)
                    m[: (a.shape[0] + 1) // 2, : (a.shape[1] + 1) // 2] = False
                    if m.any():
                        mx = max(mx, int(np.abs(a[m]).max()))
                s = int(mx).bit_length()
                roi_s[ci_] = s
                if s:
                    for (c2, _o, _n), a in roi_arrays.items():
                        if c2 == ci_ and a.size:
                            a[: (a.shape[0] + 1) // 2,
                              : (a.shape[1] + 1) // 2] <<= s

        # Tier-1 encode every code-block once (each block belongs to
        # exactly one precinct), splitting the codeword segment across
        # quality layers at coding-pass watermarks (passes spread
        # evenly: layer l gets passes up to round((l+1)*npasses/
        # layers); the byte split sits at the MQ coder's settled
        # watermark, so the concatenation across layers is the
        # identical single-layer stream). Tag trees live per precinct
        # per band (B.10.2).
        th_t, tw_t = tile_img.shape[:2]

        def _enc_cdims(ci: int) -> tuple[int, int]:
            if use_sub and ci > 0:
                return -(-th_t // sub_y), -(-tw_t // sub_x)
            return th_t, tw_t

        def _enc_scale(ci: int) -> tuple:
            if use_sub and ci > 0:
                return (sub_y, sub_x)
            return (1, 1)

        layouts = {
            ci: _precinct_layout(
                *_enc_cdims(ci), lev_of[ci], pps_of[ci], *cb_of[ci],
                scale=_enc_scale(ci),
            )
            for ci in range(ncomp)
        }
        prec_state = {}  # (ci, orient, nb, p) -> dict
        for ci in range(ncomp):
            for r, bands in enumerate(_resolution_bands(lev_of[ci])):
                lay = layouts[ci][r]
                for orient, nb in bands:
                    arr = (
                        roi_arrays[(ci, orient, nb)]
                        if roi_arrays is not None
                        else band_array(ci, orient, nb)
                    )
                    if not rev_of[ci]:
                        mb = _GUARD_BITS + quant_of[(ci, orient, nb)][0] - 1
                    else:
                        mb = _GUARD_BITS + (eps_base_of[ci] + _GAIN[orient]) - 1
                    mb += roi_s.get(ci, 0)
                    for p, blocks in enumerate(lay["bands"][(orient, nb)]):
                        nxp, nyp = lay["grid"][(orient, nb)][p]
                        coded = []
                        first_layer = np.full((nyp, nxp), layers, np.int64)
                        zbp_vals = np.zeros((nyp, nxp), np.int64)
                        for bi, (y0, x0, ch, cw, _by, _bx) in enumerate(
                            blocks
                        ):
                            seg, npasses, numbps, wm = t1_encode(
                                arr[y0 : y0 + ch, x0 : x0 + cw], orient,
                                style_of[ci], segsym, return_marks=True,
                            )
                            if numbps > mb:
                                raise UserError(
                                    "JPX encoder: magnitude exceeds Mb."
                                )
                            # passes per layer: cumulative cuts, first
                            # contributing layer = first l with a cut > 0
                            cuts = [
                                (l + 1) * npasses // layers
                                for l in range(layers)
                            ]
                            fl = layers
                            for l in range(layers):
                                if cuts[l] > 0:
                                    fl = l
                                    break
                            ly, lx = bi // nxp, bi % nxp
                            if numbps:
                                first_layer[ly, lx] = fl
                                zbp_vals[ly, lx] = mb - numbps
                            coded.append(
                                {"seg": seg, "npasses": npasses,
                                 "numbps": numbps, "cuts": cuts,
                                 # byte offset at each pass boundary
                                 "marks": [0, *wm],
                                 "lblock": 3, "included": False}
                            )
                        st = {"nx": nxp, "ny": nyp, "coded": coded, "mb": mb}
                        if nxp and nyp:
                            st["incl"] = _TagTree(nxp, nyp)
                            st["zbp"] = _TagTree(nxp, nyp)
                            st["incl"].set_values(first_layer)
                            st["zbp"].set_values(zbp_vals)
                        prec_state[(ci, orient, nb, p)] = st

        packets = []
        res_list_of = {
            ci: _resolution_bands(lev_of[ci]) for ci in range(ncomp)
        }
        pkt_order = (
            _poc_order(poc_entries, layers, layouts)
            if poc_entries
            else _packet_order(prog_code, layers, layouts)
        )
        for layer, _ri, ci, p in pkt_order:
            bands = res_list_of[ci][_ri]
            bw = _BitWriter()
            body = bytearray()
            if not any(
                blk["numbps"]
                and blk["cuts"][layer] > (blk["cuts"][layer - 1] if layer else 0)
                for orient, nb in bands
                for blk in prec_state[(ci, orient, nb, p)]["coded"]
            ):
                bw.put(0)  # empty packet: no tag-tree advance
                packets.append((bw.flush(), b""))
                continue
            bw.put(1)
            for orient, nb in bands:
                st = prec_state[(ci, orient, nb, p)]
                nx, ny, coded = st["nx"], st["ny"], st["coded"]
                if not coded:
                    continue
                for yy in range(ny):
                    for xx in range(nx):
                        blk = coded[yy * nx + xx]
                        prev = blk["cuts"][layer - 1] if layer else 0
                        cut = blk["cuts"][layer]
                        np_l = cut - prev
                        if not blk["included"]:
                            st["incl"].encode(bw, xx, yy, layer + 1)
                            if not blk["numbps"] or np_l == 0:
                                continue
                            # first inclusion: zero-bitplane
                            # tag tree, coded to full depth
                            t = 1
                            while True:
                                st["zbp"].encode(bw, xx, yy, t)
                                if st["mb"] - blk["numbps"] < t:
                                    break
                                t += 1
                            blk["included"] = True
                        else:
                            bw.put(1 if np_l else 0)
                            if np_l == 0:
                                continue
                        _encode_npasses(bw, np_l)
                        # one length per codeword segment (B.10.7), all
                        # read with this block's shared Lblock; style 0
                        # is one segment, cut at the pass marks
                        marks = blk["marks"]
                        parts, end = [], prev
                        for cnt, _t in _seg_partition(style_of[ci], prev, np_l):
                            lg = cnt.bit_length() - 1
                            parts.append((marks[end + cnt] - marks[end], lg))
                            end += cnt
                        while any(
                            max(1, ln).bit_length() > blk["lblock"] + lg
                            for ln, lg in parts
                        ):
                            bw.put(1)
                            blk["lblock"] += 1
                        bw.put(0)
                        for ln, lg in parts:
                            bw.put_bits(ln, blk["lblock"] + lg)
                        body += blk["seg"][marks[prev] : marks[cut]]
            packets.append((bw.flush(), bytes(body)))
        # SOP before each packet (body side), EPH after each header
        # (A.8; with packed headers the EPH lives in the PPM/PPT
        # stream and the SOP stays with the bodies)
        def _sop(i: int) -> bytes:
            return (
                b"\xff\x91\x00\x04" + struct.pack(">H", i % 65536)
                if sop else b""
            )

        _eph = b"\xff\x92" if eph else b""
        if ppt or ppm:
            # packed packet headers: headers and bodies separate (the
            # caller hosts headers in a PPT or PPM segment)
            return (
                b"".join(hd + _eph for hd, _ in packets),
                b"".join(
                    _sop(i) + bo for i, (_, bo) in enumerate(packets)
                ),
            )
        return b"".join(
            _sop(i) + hd + _eph + bo for i, (hd, bo) in enumerate(packets)
        )


    # --- markers ---
    out = bytearray()
    out += b"\xff\x4f"  # SOC
    comp_siz = (
        bytes([7, 1, 1]) + bytes([7, sub_x, sub_y]) * 2 if use_sub
        else bytes([7, 1, 1]) * ncomp
    )
    siz = struct.pack(
        ">HHIIIIIIIIH",
        38 + 3 * ncomp, 0, w, h, 0, 0, xt, yt, 0, 0, ncomp,
    ) + comp_siz
    out += b"\xff\x51" + siz
    spcod = bytes([levels, xcb - 2, ycb - 2, (0x20 if segsym else 0) | cblk_style,
                   0 if irreversible else 1])
    prec_bytes = (
        bytes((py_ << 4) | px_ for px_, py_ in pps) if use_prec else b""
    )
    scod = (1 if use_prec else 0) | (2 if sop else 0) | (4 if eph else 0)
    cod = struct.pack(
        ">HBBHB", 12 + len(prec_bytes), scod,
        prog_code, layers, mct,
    ) + spcod + prec_bytes
    out += b"\xff\x52" + cod
    if poc_entries:
        # POC (A.6.6): 7-byte volumes for Csiz < 257
        body = b"".join(
            struct.pack(">BBHBBB", rs, cs, lye, re_, ce, pp)
            for rs, cs, lye, re_, ce, pp in poc_entries
        )
        out += b"\xff\x5f" + struct.pack(">H", 2 + len(body)) + body
    for ci in sorted(coc_all):
        # COC (A.6.2): Ccoc 1 byte (Csiz < 257), Scoc carries the
        # component's own precinct flag, SPcoc mirrors SPcod with the
        # component's geometry / depth / style / wavelet / partition
        xo, yo = cb_of[ci]
        cprec_bytes = (
            bytes((py_ << 4) | px_ for px_, py_ in pps_of[ci])
            if use_prec_of[ci] else b""
        )
        out += b"\xff\x53" + struct.pack(
            ">HBB", 9 + len(cprec_bytes), ci, 1 if use_prec_of[ci] else 0
        ) + bytes(
            [lev_of[ci], xo - 2, yo - 2,
             (0x20 if segsym else 0) | style_of[ci],
             1 if rev_of[ci] else 0]
        ) + cprec_bytes

    def _band_keys_enc(lv: int) -> list:
        bo = [(_LL, lv if lv else 0)]
        for r in range(1, lv + 1):
            nb = lv - r + 1
            bo += [(_HL, nb), (_LH, nb), (_HH, nb)]
        return bo

    def _quant_body(ci: int, quant_of: dict = quant_of) -> bytearray:
        """Sqcd/Sqcc + SPqcd/SPqcc for one component (shared layout,
        T.800 A.6.4/A.6.5), over that component's own band list —
        against the given quant table (a tile's for tile QCDs)."""

        order = _band_keys_enc(lev_of[ci])
        if not rev_of[ci] and qcd_style == "derived":
            # scalar derived (style 1), 2 guard bits; the single
            # signalled pair is the LL band's (exponent << 11 | mantissa)
            eps, mu, _step = quant_of[
                (ci, _LL, lev_of[ci] if lev_of[ci] else 0)
            ]
            body = bytearray([(_GUARD_BITS << 5) | 0x01])
            body += struct.pack(">H", (eps << 11) | mu)
        elif not rev_of[ci]:
            # scalar expounded (style 2), 2 guard bits; 16-bit
            # (exponent << 11 | mantissa) per band
            body = bytearray([(_GUARD_BITS << 5) | 0x02])
            for orient, nb in order:
                eps, mu, _step = quant_of[(ci, orient, nb)]
                body += struct.pack(">H", (eps << 11) | mu)
        else:
            body = bytearray([0x40])  # no quantization, 2 guard bits
            for orient, _nb in order:
                body.append((eps_base_of[ci] + _GAIN[orient]) << 3)
        return body

    qcd_body = _quant_body(0)
    out += b"\xff\x5c" + struct.pack(">H", 2 + len(qcd_body)) + bytes(qcd_body)
    if emit_qcc:
        # QCC per remaining component: Lqcc, Cqcc (1 byte, Csiz < 257),
        # then the same body layout as QCD
        for ci in range(1, ncomp):
            body = _quant_body(ci)
            out += (
                b"\xff\x5d"
                + struct.pack(">H", 3 + len(body))
                + bytes([ci])
                + bytes(body)
            )
    ntx = -(-w // xt)
    nty = -(-h // yt)
    if ppt and ppm:
        raise UserError("JPX encoder: ppt and ppm are exclusive.")
    tiles = []
    for ti in range(ntx * nty):
        ty0 = (ti // ntx) * yt
        tx0 = (ti % ntx) * xt
        tiles.append(_tile_stream(
            img[ty0 : min(ty0 + yt, h), tx0 : min(tx0 + xt, w)],
            quant_of=tile_quant.get(ti, quant_of),
        ))
    if roi:
        # RGN per component (Srgn=0 maxshift), in the main header
        for ci_ in range(ncomp):
            s = roi_s.get(ci_, 0)
            if s:
                out += b"\xff\x5e" + struct.pack(">H", 5) + bytes([ci_, 0, s])
    if ppm:
        # one main-header PPM segment: (Nppm, headers) per tile-part
        ppm_data = bytearray()
        for heads, _ in tiles:
            ppm_data += struct.pack(">I", len(heads)) + heads
        if len(ppm_data) > 0xFFFF - 3:
            raise UserError("JPX encoder: PPM segment too large.")
        out += (
            b"\xff\x60" + struct.pack(">H", 3 + len(ppm_data))
            + b"\x00" + bytes(ppm_data)  # Zppm = 0
        )
    for ti, ts in enumerate(tiles):
        if ppm:
            _heads, bodies = ts
            psot = 12 + 2 + len(bodies)
            out += b"\xff\x90" + struct.pack(">HHIBB", 10, ti, psot, 0, 1)
            out += b"\xff\x93" + bodies
        elif ppt:
            heads, bodies = ts
            if len(heads) > 0xFFFF - 3:
                raise UserError("JPX encoder: PPT segment too large.")
            ppt_seg = (
                b"\xff\x61" + struct.pack(">H", 3 + len(heads))
                + b"\x00" + heads  # Zppt = 0: one PPT per tile-part
            )
            psot = 12 + len(ppt_seg) + 2 + len(bodies)
            out += b"\xff\x90" + struct.pack(">HHIBB", 10, ti, psot, 0, 1)
            out += ppt_seg
            out += b"\xff\x93" + bodies
        else:
            # tile quant override: a QCD in the first-tile-part
            # header signals this tile's table (A.6 precedence)
            hdr = b""
            if ti in tile_quant:
                tb = _quant_body(0, quant_of=tile_quant[ti])
                hdr = b"\xff\x5c" + struct.pack(">H", 2 + len(tb)) + bytes(tb)
            psot = 12 + len(hdr) + 2 + len(ts)  # SOT seg + hdr + SOD + data
            out += b"\xff\x90" + struct.pack(">HHIBB", 10, ti, psot, 0, 1)
            out += hdr + b"\xff\x93" + ts
    out += b"\xff\xd9"  # EOC
    return bytes(out)


def _parse_cod_seg(seg: bytes) -> dict:
    """COD marker segment body (A.6.1) -> coding-style state dict —
    shared by the main header and tile-part headers (a tile-part COD
    replaces the main one for that tile)."""

    if len(seg) < 10:
        raise UserError("JPX: truncated COD segment.")
    scod = seg[0]
    if scod & ~0x07:
        raise UserError("JPX: unknown Scod flags.")
    prog, layers, mct = seg[1], struct.unpack(">H", seg[2:4])[0], seg[4]
    if not layers:
        raise UserError("JPX: zero quality layers.")
    # T.800 B.12 progression orders: all five; the position-major
    # ones sort on projected precinct anchors
    if prog > 4:
        raise UserError("JPX: unsupported progression order.")
    if mct not in (0, 1):
        raise UserError("JPX: unknown component transform.")
    levels = seg[5]
    if levels > 5:
        raise UserError("JPX: more than 5 decomposition levels.")
    xcb, ycb = seg[6] + 2, seg[7] + 2
    if not (2 <= xcb <= 10 and 2 <= ycb <= 10 and xcb + ycb <= 12):
        raise UserError("JPX: code-block exponents out of range.")
    # Scb (Table A.19): segmentation symbols, selective bypass,
    # per-pass context reset, per-pass termination, vertically causal
    # contexts (the styled Tier-1 twin) and predictable termination
    # (layout-neutral: segment bounds come from explicit Tier-2
    # lengths, so the plain MQ/raw readers decode PTERM streams
    # bit-exactly; the optional spacer-bit check is not performed)
    if seg[8] & ~(_CB_STYLED | _CB_SEGSYM | _CB_PREDTERM):
        raise UserError("JPX: code-block style modes unsupported.")
    if seg[9] not in (0, 1):
        raise UserError("JPX: unknown wavelet transform.")
    if scod & 0x01:  # explicit precincts (B.6): one byte per
        # resolution, low nibble PPx, high nibble PPy, r=0 up
        pb = seg[10 : 10 + levels + 1]
        if len(pb) != levels + 1:
            raise UserError("JPX: truncated COD precinct sizes.")
        pps = []
        for r, b in enumerate(pb):
            px_, py_ = b & 0x0F, b >> 4
            if r and (px_ < 1 or py_ < 1):
                raise UserError(
                    "JPX: precinct exponent 0 only legal at r=0."
                )
            pps.append((px_, py_))
    else:
        pps = [(15, 15)] * (levels + 1)  # maximal: whole band
    return {
        "use_sop": bool(scod & 0x02), "use_eph": bool(scod & 0x04),
        "prog": prog, "layers": layers, "mct": mct, "levels": levels,
        "xcb": xcb, "ycb": ycb,
        "cb_style": seg[8] & (_CB_STYLED | _CB_PREDTERM),
        "segsym": bool(seg[8] & _CB_SEGSYM),
        "reversible": seg[9] == 1, "pps": pps,
    }


def _parse_poc_seg(seg: bytes) -> list:
    """POC marker segment body (A.6.6) -> progression volumes; 7-byte
    entries for Csiz < 257: RSpoc, CSpoc, LYEpoc(2), REpoc, CEpoc,
    Ppoc."""

    if len(seg) % 7 or not seg:
        raise UserError("JPX: malformed POC segment.")
    out = []
    for k in range(0, len(seg), 7):
        rs, cs = seg[k], seg[k + 1]
        (lye,) = struct.unpack(">H", seg[k + 2 : k + 4])
        re_, ce, pp = seg[k + 4], seg[k + 5], seg[k + 6]
        if pp > 4 or rs >= re_ or cs >= ce or lye == 0:
            raise UserError("JPX: invalid POC entry.")
        out.append((rs, cs, lye, re_, ce, pp))
    return out


def decode_jpx(data: bytes) -> np.ndarray:
    """Lossless or 9/7 JPEG 2000 codestream -> (H, W) uint8 gray or
    (H, W, 3) uint8 RGB (3 components; inverse RCT/ICT when the COD
    multiple-component-transform flag is set). Single- or multi-tile
    grids at the origin; tile dimensions must be multiples of
    2^levels (true of production encoders' 256/512/1024 tiles), so
    every tile's band extents reduce to the origin-0 formula and the
    tiles decode independently.

    Fail-closed boundary: ANY structural surprise in a corrupted
    stream — not just the validated paths — surfaces as UserError
    (missing raster upstream), never a raw slice/unpack exception."""

    try:
        return _decode_jpx_impl(data)
    except UserError:
        raise
    except (IndexError, ValueError, KeyError, OverflowError,
            ZeroDivisionError, struct.error) as ex:
        raise UserError(
            f"JPX: malformed codestream ({type(ex).__name__})."
        ) from ex


def _decode_jpx_impl(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\x4f":
        raise UserError("JPX: missing SOC marker.")
    pos = 2
    w = h = None
    xt = yt = None
    ncomp = None
    cod_main: "dict | None" = None
    subsampled = False
    csub_x = csub_y = 1
    poc_entries: list = []
    qcd_tbl: tuple | None = None
    qcc_tbl: dict[int, tuple] = {}
    tile_parts: dict[int, bytearray] = {}
    tile_ppt: dict[int, bytearray] = {}
    ppm_buf = bytearray()
    ppm_present = False
    sot_order: list[int] = []
    srgn_of: dict[int, int] = {}
    coc_raw: dict[int, bytes] = {}
    # first-tile-part (TPsot=0) header coding/quant overrides, raw:
    # {isot: [(marker, seg body), ...]} — resolved per tile below
    tile_ovr: dict[int, list] = {}
    while pos + 2 <= len(data):
        marker = data[pos : pos + 2]
        pos += 2
        if marker == b"\xff\xd9":  # EOC
            break
        if marker == b"\xff\x93":
            raise UserError("JPX: SOD before SOT.")
        if pos + 2 > len(data):
            raise UserError("JPX: truncated marker segment.")
        (ln,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + ln]
        if marker == b"\xff\x51":  # SIZ
            (_rsiz, xs, ys, xo, yo, xt, yt, xto, yto, ncomp) = struct.unpack(
                ">HIIIIIIIIH", seg[:36]
            )
            if ncomp not in (1, 3):
                raise UserError("JPX: only 1- or 3-component streams.")
            subs = []
            for ci in range(ncomp):
                ssiz, xr, yr = seg[36 + 3 * ci : 39 + 3 * ci]
                if ssiz != 7:
                    raise UserError("JPX: only 8-bit unsigned components.")
                subs.append((xr, yr))
            # full resolution, or the photographic chroma shapes:
            # 4:2:0 (both chroma 2,2) / 4:2:2 (both chroma 2,1)
            if subs != [(1, 1)] * ncomp and subs not in (
                [(1, 1), (2, 2), (2, 2)],
                [(1, 1), (2, 1), (2, 1)],
            ):
                raise UserError("JPX: unsupported subsampling pattern.")
            subsampled = subs[-1] != (1, 1)
            csub_x, csub_y = subs[-1]
            if xo or yo or xto or yto:
                raise UserError("JPX: image/tile grids must sit at the origin.")
            if not xt or not yt:
                raise UserError("JPX: zero tile dimension.")
            if xs * ys > 1 << 28:
                raise UserError("JPX: implausible image size.")
            w, h = xs, ys
            pos += ln
        elif marker == b"\xff\x52":  # COD
            cod_main = _parse_cod_seg(seg)
            pos += ln
        elif marker == b"\xff\x53":  # COC: per-component coding style
            if ncomp is None:
                raise UserError("JPX: COC before SIZ.")
            if seg[0] >= ncomp:
                raise UserError("JPX: COC component index out of range.")
            # deferred validation against COD (main-header marker
            # segments may arrive in any order after SIZ)
            coc_raw[seg[0]] = seg[1:]
            pos += ln
        elif marker == b"\xff\x5c":  # QCD
            qcd_tbl = _parse_quant(seg)
            pos += ln
        elif marker == b"\xff\x5d":  # QCC: per-component quant override
            if ncomp is None:
                raise UserError("JPX: QCC before SIZ.")
            # Cqcc is 1 byte for Csiz < 257 (always true in scope)
            if seg[0] >= ncomp:
                raise UserError("JPX: QCC component index out of range.")
            qcc_tbl[seg[0]] = _parse_quant(seg[1:])
            pos += ln
        elif marker == b"\xff\x5f":  # POC: progression order changes
            poc_entries.extend(_parse_poc_seg(seg))
            pos += ln
        elif marker == b"\xff\x60":  # PPM: packed headers (main header)
            ppm_present = True
            ppm_buf.extend(seg[1:])  # skip Zppm index byte
            pos += ln
        elif marker == b"\xff\x90":  # SOT
            isot, psot, tpsot, _tnsot = struct.unpack(">HIBB", seg[:8])
            sot_order.append(isot)
            pos += ln
            # tile-part header segments before SOD: PPT collects packed
            # packet headers (B.10.5, Zppt encounter order); PLT/COM
            # are informational; COD/COC/QCD/QCC/RGN/POC override the
            # main header for this tile (A.6: legal in the FIRST
            # tile-part only; resolved with the spec's precedence
            # after the walk)
            hdr_len = 0
            while data[pos : pos + 2] != b"\xff\x93":
                m2 = data[pos : pos + 2]
                if pos + 4 > len(data):
                    raise UserError("JPX: truncated tile-part header.")
                (ln2,) = struct.unpack(">H", data[pos + 2 : pos + 4])
                if m2 == b"\xff\x61":  # PPT: skip Zppt index byte
                    tile_ppt.setdefault(isot, bytearray()).extend(
                        data[pos + 5 : pos + 2 + ln2]
                    )
                elif m2 in (b"\xff\x58", b"\xff\x64"):  # PLT / COM
                    pass
                elif m2 in (
                    b"\xff\x52", b"\xff\x53", b"\xff\x5c", b"\xff\x5d",
                    b"\xff\x5e", b"\xff\x5f",
                ):
                    if tpsot != 0:
                        raise UserError(
                            "JPX: coding override in a non-first "
                            "tile-part."
                        )
                    tile_ovr.setdefault(isot, []).append(
                        (m2, data[pos + 4 : pos + 2 + ln2])
                    )
                else:
                    raise UserError(
                        f"JPX: unsupported tile-part header segment "
                        f"0x{m2.hex()}."
                    )
                pos += 2 + ln2
                hdr_len += 2 + ln2
            pos += 2
            end = pos + (psot - 12 - hdr_len - 2) if psot else len(data) - 2
            # tile-parts concatenate in encounter (TPsot) order; for
            # the single-layer LRCP scope parts split at packet
            # boundaries, so the joined stream parses identically
            tile_parts.setdefault(isot, bytearray()).extend(data[pos:end])
            pos = end
        elif marker == b"\xff\x5e":  # RGN: ROI shift (Annex H maxshift)
            if ncomp is None:
                raise UserError("JPX: RGN before SIZ.")
            if seg[0] >= ncomp:
                raise UserError("JPX: RGN component index out of range.")
            if seg[1] != 0:
                raise UserError("JPX: only the maxshift ROI style (Srgn=0).")
            srgn_of[seg[0]] = seg[2]
            pos += ln
        else:
            pos += ln  # COM/TLM/PLM/PLT/CRG: informational, skip
    if w is None or cod_main is None or not tile_parts:
        raise UserError("JPX: missing SIZ/COD/tile data.")
    if ppm_present:
        # PPM (B.10.4): (Nppm, headers) chunks, one per tile-part in
        # codestream encounter order. A present-but-truncated PPM
        # fails closed below (headers are NOT inline once PPM is set).
        if tile_ppt:
            raise UserError("JPX: both PPM and PPT present.")
        p = 0
        for isot in sot_order:
            if p + 4 > len(ppm_buf):
                raise UserError("JPX: truncated PPM data.")
            (nppm,) = struct.unpack(">I", bytes(ppm_buf[p : p + 4]))
            p += 4
            tile_ppt.setdefault(isot, bytearray()).extend(
                ppm_buf[p : p + nppm]
            )
            p += nppm
    def _band_keys(lv: int) -> list:
        bo = [(_LL, lv if lv else 0)]
        for r_ in range(1, lv + 1):
            nb_ = lv - r_ + 1
            bo += [(_HL, nb_), (_LH, nb_), (_HH, nb_)]
        return bo

    def _resolve_params(
        cod: dict, coc_in: dict, qcd_in: "tuple | None", qcc_in: dict,
        srgn_in: dict, poc_in: list,
    ) -> dict:
        """One coding state (main header, or a tile's after the A.6
        precedence merge) -> the resolved per-component parameter
        bundle: COC overrides validated against the COD (A.6.2 —
        every SPcod field may differ per component; each component
        carries its own band/resolution state and enumerates its own
        packets), per-band Mb and quantizer steps (each component
        uses its QCC when present, the QCD otherwise; Annex E steps
        for the quantized styles), and ROI bitplane shifts."""

        if cod["mct"] and ncomp != 3:
            raise UserError(
                "JPX: component transform requires 3 components."
            )
        cb_comp = {ci: (cod["xcb"], cod["ycb"]) for ci in range(ncomp)}
        lev_of = {ci: cod["levels"] for ci in range(ncomp)}
        rev_of = {ci: cod["reversible"] for ci in range(ncomp)}
        style_of = {ci: cod["cb_style"] for ci in range(ncomp)}
        segsym_of = {ci: cod["segsym"] for ci in range(ncomp)}
        pps_of = {ci: cod["pps"] for ci in range(ncomp)}
        for ci, sp in coc_in.items():
            if len(sp) < 6:
                raise UserError("JPX: truncated COC segment.")
            if sp[0] not in (0, 1):
                raise UserError("JPX: unknown COC style flags.")
            lv = sp[1]
            if lv > 5:
                raise UserError("JPX: more than 5 decomposition levels.")
            xo, yo = sp[2] + 2, sp[3] + 2
            if not (2 <= xo <= 10 and 2 <= yo <= 10 and xo + yo <= 12):
                raise UserError(
                    "JPX: COC code-block exponents out of range."
                )
            if sp[4] & ~(_CB_STYLED | _CB_SEGSYM | _CB_PREDTERM):
                raise UserError("JPX: code-block style modes unsupported.")
            if sp[5] not in (0, 1):
                raise UserError("JPX: unknown wavelet transform.")
            if sp[0]:
                pb = sp[6 : 6 + lv + 1]
                if len(pb) != lv + 1:
                    raise UserError("JPX: truncated COC precinct sizes.")
                cpps = []
                for r, b in enumerate(pb):
                    px_, py_ = b & 0x0F, b >> 4
                    if r and (px_ < 1 or py_ < 1):
                        raise UserError(
                            "JPX: precinct exponent 0 only legal at r=0."
                        )
                    cpps.append((px_, py_))
            else:
                cpps = [(15, 15)] * (lv + 1)
            cb_comp[ci] = (xo, yo)
            lev_of[ci] = lv
            rev_of[ci] = sp[5] == 1
            style_of[ci] = sp[4] & (_CB_STYLED | _CB_PREDTERM)
            segsym_of[ci] = bool(sp[4] & _CB_SEGSYM)
            pps_of[ci] = cpps
        if cod["mct"] and len(set(rev_of.values())) > 1:
            # the component transform binds components 0-2 to one
            # domain (RCT integer / ICT float); a per-component
            # wavelet split under MCT has no coherent inverse
            raise UserError("JPX: MCT with mixed per-component wavelets.")
        if qcd_in is None:
            raise UserError("JPX: missing QCD.")
        step_of: dict[tuple[int, int, int], float] = {}
        mb_of: dict[tuple[int, int, int], int] = {}
        for ci in range(ncomp):
            band_order = _band_keys(lev_of[ci])
            style, guard, exps, pairs = qcc_in.get(ci, qcd_in)
            if style == 0:
                if not rev_of[ci]:
                    raise UserError(
                        "JPX: 9/7 stream without quantization signalling."
                    )
                if len(exps) < len(band_order):
                    raise UserError("JPX: QCD/QCC exponent list too short.")
                for i, key in enumerate(band_order):
                    mb_of[(ci,) + key] = guard + exps[i] - 1
                continue
            if rev_of[ci]:
                raise UserError(
                    "JPX: quantized QCD/QCC with the reversible 5/3."
                )
            if style == 1:  # derived: one pair, exponents scale by level
                if not pairs:
                    raise UserError("JPX: empty derived QCD/QCC.")
                eps0, mu0 = pairs[0]
                pair_of = {
                    (orient, nb): (eps0 - lev_of[ci] + nb, mu0)
                    for orient, nb in band_order
                }
            else:  # expounded: one pair per band
                if len(pairs) < len(band_order):
                    raise UserError("JPX: QCD/QCC step list too short.")
                pair_of = dict(zip(band_order, pairs))
            for key, (eps, mu) in pair_of.items():
                if eps < 1:
                    raise UserError("JPX: invalid derived QCD/QCC exponent.")
                mb_of[(ci,) + key] = guard + eps - 1
                step_of[(ci,) + key] = _eps_mu_to_step(
                    eps, mu, 8 + _GAIN[key[0]]
                )
        # RGN maxshift (Annex H): ROI coefficients were scaled up by
        # SPrgn at the encoder, so every band of that component
        # carries SPrgn extra magnitude bitplanes
        for ci, s in srgn_in.items():
            for key in _band_keys(lev_of[ci]):
                mb_of[(ci,) + key] += s
        return {
            "lev_of": lev_of, "rev_of": rev_of, "style_of": style_of,
            "segsym_of": segsym_of, "pps_of": pps_of, "cb_comp": cb_comp,
            "mb_of": mb_of, "step_of": step_of, "srgn": dict(srgn_in),
            "max_lev": max(lev_of.values()), "mct": cod["mct"],
            "prog": cod["prog"], "layers": cod["layers"],
            "use_sop": cod["use_sop"], "use_eph": cod["use_eph"],
            "poc": list(poc_in),
        }

    ntx = -(-w // xt)
    nty = -(-h // yt)
    if sorted(tile_parts) != list(range(ntx * nty)):
        raise UserError("JPX: missing or out-of-range tile indices.")
    # per-tile parameter bundles: tiles with first-tile-part header
    # overrides resolve their own state under the A.6 precedence —
    # COC(tile) > COD(tile) > COC(main) > COD(main), QCC(tile) >
    # QCD(tile) > QCC(main) > QCD(main), RGN(tile) > RGN(main) per
    # component, a tile POC replacing the main POC wholesale
    P_of: dict[int, dict] = {}
    for ti, segs in tile_ovr.items():
        cod_segs = [s for m, s in segs if m == b"\xff\x52"]
        qcd_segs = [s for m, s in segs if m == b"\xff\x5c"]
        if len(cod_segs) > 1 or len(qcd_segs) > 1:
            raise UserError("JPX: duplicate tile-part COD/QCD.")
        cod_t = _parse_cod_seg(cod_segs[0]) if cod_segs else cod_main
        coc_t = {} if cod_segs else dict(coc_raw)
        qcd_t = _parse_quant(qcd_segs[0]) if qcd_segs else qcd_tbl
        qcc_t = {} if qcd_segs else dict(qcc_tbl)
        srgn_t = dict(srgn_of)
        poc_t: "list | None" = None
        for m, sg in segs:
            if m == b"\xff\x53":
                if sg[0] >= ncomp:
                    raise UserError("JPX: COC component index out of range.")
                coc_t[sg[0]] = sg[1:]
            elif m == b"\xff\x5d":
                if sg[0] >= ncomp:
                    raise UserError("JPX: QCC component index out of range.")
                qcc_t[sg[0]] = _parse_quant(sg[1:])
            elif m == b"\xff\x5e":
                if sg[0] >= ncomp:
                    raise UserError("JPX: RGN component index out of range.")
                if sg[1] != 0:
                    raise UserError(
                        "JPX: only the maxshift ROI style (Srgn=0)."
                    )
                srgn_t[sg[0]] = sg[2]
            elif m == b"\xff\x5f":
                poc_t = (poc_t or []) + _parse_poc_seg(sg)
        P_of[ti] = _resolve_params(
            cod_t, coc_t, qcd_t, qcc_t, srgn_t,
            poc_t if poc_t is not None else poc_entries,
        )
    # the main bundle covers every tile without its own overrides;
    # a stream whose tiles all carry their own QCD may omit the main
    # one, so resolve lazily
    P_main: "dict | None" = None
    if any(ti not in P_of for ti in range(ntx * nty)):
        P_main = _resolve_params(
            cod_main, coc_raw, qcd_tbl, qcc_tbl, srgn_of, poc_entries
        )
    max_lev = max(
        [p["max_lev"] for p in P_of.values()]
        + ([P_main["max_lev"]] if P_main is not None else [])
    )
    if ntx * nty > 1 and (xt % (1 << max_lev) or yt % (1 << max_lev)):
        raise UserError("JPX: tile size must be a multiple of 2^levels.")
    if subsampled and ntx * nty > 1 and (
        xt % (1 << (max_lev + 1)) or yt % (1 << (max_lev + 1))
    ):
        raise UserError(
            "JPX: subsampled tiles need dims a multiple of 2^(levels+1)."
        )

    def _tile_pixels(
        tile_data: bytes, th: int, tw: int, P: dict,
        ppt: "bytes | None" = None,
    ) -> np.ndarray:
        """One tile's packets -> composed (th, tw[, 3]) pixel array
        (float, DC-shifted domain) under the tile's resolved
        parameter bundle ``P``. Band extents use the origin-0
        formula, exact because tile origins are multiples of
        2^levels (validated above)."""

        lev_of, rev_of = P["lev_of"], P["rev_of"]
        style_of, segsym_of = P["style_of"], P["segsym_of"]
        pps_of, cb_comp = P["pps_of"], P["cb_comp"]
        mb_of, step_of, srgn_of = P["mb_of"], P["step_of"], P["srgn"]
        prog, layers, poc_entries = P["prog"], P["layers"], P["poc"]
        use_sop, use_eph, mct = P["use_sop"], P["use_eph"], P["mct"]
        # band containers, keyed (component, orient, level)
        band_arrays: dict[tuple[int, int, int], np.ndarray] = {}
        res_bands_of = {ci: _resolution_bands(lev_of[ci]) for ci in range(ncomp)}
        # per-component tile dims (subsampled chroma at reduced
        # resolution per the SIZ XRsiz/YRsiz factors)
        def _cdims(ci: int) -> tuple[int, int]:
            if subsampled and ci > 0:
                return -(-th // csub_y), -(-tw // csub_x)
            return th, tw
        # precinct layouts per component: each component enumerates
        # its own precinct grid (subsampled chroma on its reduced
        # tile, anchors projected to the reference grid via the
        # sampling factors so position-major progressions interleave)
        def _scale(ci: int) -> tuple:
            if subsampled and ci > 0:
                return (csub_y, csub_x)
            return (1, 1)
        layouts = {
            ci: _precinct_layout(
                *_cdims(ci), lev_of[ci], pps_of[ci], *cb_comp[ci],
                scale=_scale(ci),
            )
            for ci in range(ncomp)
        }
        # per-precinct persistent Tier-2 state (tag trees advance
        # across layers; per-block inclusion/lblock/segment
        # accumulation), keyed (component, orient, level, precinct)
        prec_state: dict[tuple[int, int, int, int], dict] = {}

        def _ensure(ci: int, orient: int, nb: int, r: int, p: int) -> dict:
            key = (ci, orient, nb, p)
            st = prec_state.get(key)
            if st is not None:
                return st
            akey = (ci, orient, nb)
            if akey not in band_arrays:
                th_c, tw_c = _cdims(ci)
                bh = _band_dims(th_c, nb, 0 if orient in (_LL, _HL) else 1)
                bw_ = _band_dims(tw_c, nb, 0 if orient in (_LL, _LH) else 1)
                band_arrays[akey] = np.zeros((bh, bw_), np.int64)
            lay = layouts[ci][r]
            blocks = lay["bands"][(orient, nb)][p]
            nxp, nyp = lay["grid"][(orient, nb)][p]
            st = {
                "nx": nxp, "ny": nyp, "blocks": blocks,
                "mb": mb_of[(ci, orient, nb)],
                "blk": [
                    {"included": False, "numbps": 0, "lblock": 3,
                     "npasses": 0, "segs": [bytearray()], "open": True}
                    for _ in blocks
                ],
            }
            if nxp and nyp:
                st["incl"] = _TagTree(nxp, nyp)
                st["zbp"] = _TagTree(nxp, nyp)
            prec_state[key] = st
            return st

        order = (
            _poc_order(poc_entries, layers, layouts)
            if poc_entries
            else _packet_order(prog, layers, layouts)
        )

        pos = 0
        # with PPT, packet headers read from the packed stream (each
        # header byte-aligned, B.10.5) and tile_data carries bodies only
        hbr = _BitReader(ppt, 0) if ppt is not None else None
        nsop = 0
        for layer, r, ci, p in order:
            bands = res_bands_of[ci][r]
            for orient, nb in bands:
                _ensure(ci, orient, nb, r, p)
            if use_sop:
                # SOP (A.8.1): FF91, Lsop=4, Nsop = packet index mod
                # 2^16 — a genuine resync check, enforced
                if tile_data[pos : pos + 2] != b"\xff\x91" or \
                        tile_data[pos + 2 : pos + 4] != b"\x00\x04":
                    raise UserError("JPX: missing SOP marker.")
                got_n = struct.unpack(">H", tile_data[pos + 4 : pos + 6])[0]
                if got_n != nsop % 65536:
                    raise UserError("JPX: SOP sequence number mismatch.")
                pos += 6
            nsop += 1
            br = hbr if hbr is not None else _BitReader(tile_data, pos)
            empty = not br.get()  # leading 0: no tag-tree advance
            contribs = []
            for orient, nb in bands if not empty else []:
                st = _ensure(ci, orient, nb, r, p)
                for yy in range(st["ny"]):
                    for xx in range(st["nx"]):
                        blk = st["blk"][yy * st["nx"] + xx]
                        if not blk["included"]:
                            if not st["incl"].decode(br, xx, yy, layer + 1):
                                continue
                            t = 1
                            while not st["zbp"].decode(br, xx, yy, t):
                                t += 1
                            numbps = st["mb"] - (t - 1)
                            if numbps <= 0:
                                raise UserError(
                                    "JPX: invalid zero-bitplane count."
                                )
                            blk["numbps"] = numbps
                            blk["included"] = True
                        elif not br.get():  # no contribution this layer
                            continue
                        np_l = _decode_npasses(br)
                        while br.get():
                            blk["lblock"] += 1
                        # one length per codeword segment (B.10.7);
                        # style 0 partitions to a single open segment,
                        # reproducing the classic single-length read
                        lens = []
                        for cnt, term in _seg_partition(
                            style_of[ci], blk["npasses"], np_l
                        ):
                            nbits = blk["lblock"] + int(
                                math.floor(math.log2(cnt))
                            )
                            lens.append((br.get_bits(nbits), term))
                        contribs.append((blk, np_l, lens))
            if hbr is None:
                pos = br.align()
            else:
                br.align()
            if use_eph:
                # EPH (A.8.2): FF92 terminates every packet header,
                # in the packed-header stream when PPM/PPT host them
                if hbr is None:
                    if tile_data[pos : pos + 2] != b"\xff\x92":
                        raise UserError("JPX: missing EPH marker.")
                    pos += 2
                else:
                    if hbr.data[hbr.pos : hbr.pos + 2] != b"\xff\x92":
                        raise UserError("JPX: missing EPH marker.")
                    hbr.pos += 2
            for blk, np_l, lens in contribs:
                for seg_len, term in lens:
                    if blk["open"]:
                        blk["segs"][-1] += tile_data[pos : pos + seg_len]
                    else:
                        blk["segs"].append(
                            bytearray(tile_data[pos : pos + seg_len])
                        )
                    blk["open"] = not term
                    pos += seg_len
                blk["npasses"] += np_l

        for (ci, orient, nb, _p), st in prec_state.items():
            arr = band_arrays[(ci, orient, nb)]
            for (y0, x0, ch, cw, _by, _bx), blk in zip(
                st["blocks"], st["blk"]
            ):
                if not blk["npasses"]:
                    continue
                arr[y0 : y0 + ch, x0 : x0 + cw] = t1_decode(
                    blk["segs"], ch, cw, orient, blk["numbps"],
                    blk["npasses"], style_of[ci], segsym_of[ci],
                )

        def band(ci: int, orient: int, nb: int) -> np.ndarray:
            q = band_arrays[(ci, orient, nb)]
            s = srgn_of.get(ci, 0)
            if s:
                # maxshift decision (H.2): magnitude >= 2^s means ROI —
                # undo the encoder's upshift; backgrounds pass through
                mag = np.abs(q)
                q = np.where(mag >= (1 << s), np.sign(q) * (mag >> s), q)
            if rev_of[ci]:
                return q
            # Annex E dequantization with the midpoint reconstruction
            # parameter r=0.5 (the floor quantizer's expectation)
            step = step_of[(ci, orient, nb)]
            return np.where(
                q == 0, 0.0, np.sign(q) * (np.abs(q) + 0.5) * step
            )

        planes = []
        for ci in range(ncomp):
            lv = lev_of[ci]
            ll = band(ci, _LL, lv if lv else 0)
            lev_bands = []
            for nb in range(lv, 0, -1):
                lev_bands.append(
                    (band(ci, _HL, nb), band(ci, _LH, nb), band(ci, _HH, nb))
                )
            tile = (dwt53_inverse if rev_of[ci] else dwt97_inverse)(
                ll, lev_bands
            )
            if tile.shape != _cdims(ci):
                raise UserError("JPX: reconstructed tile shape mismatch.")
            if subsampled and ci > 0:
                # chroma upsampling by sample replication, cropped to
                # the luma grid (the encoder box-averages the blocks)
                tile = np.repeat(
                    np.repeat(tile, csub_y, axis=0), csub_x, axis=1
                )
                tile = tile[:th, :tw]
            planes.append(tile)
        if ncomp == 1:
            return np.rint(planes[0]) if not rev_of[0] else planes[0]
        if mct:
            # MCT forbids mixed wavelets (validated above): one domain
            comp = (_rct_inverse if rev_of[0] else _ict_inverse)(*planes)
            return np.rint(comp) if not rev_of[0] else comp
        # untransformed components round independently: a 9/7 plane
        # reconstructs to floats, a 5/3 plane is already integral
        planes = [
            np.rint(p_) if not rev_of[ci] else p_
            for ci, p_ in enumerate(planes)
        ]
        return np.stack(planes, axis=-1)

    shape = (h, w) if ncomp == 1 else (h, w, 3)
    out = np.zeros(shape, np.float64)
    for ti in range(ntx * nty):
        ty0 = (ti // ntx) * yt
        tx0 = (ti % ntx) * xt
        th = min(yt, h - ty0)
        tw = min(xt, w - tx0)
        out[ty0 : ty0 + th, tx0 : tx0 + tw] = _tile_pixels(
            bytes(tile_parts[ti]), th, tw, P_of.get(ti, P_main),
            ppt=bytes(tile_ppt[ti]) if ti in tile_ppt else None,
        )
    return np.clip(out + 128, 0, 255).astype(np.uint8)


def decode_jpx_pdf(data: bytes) -> np.ndarray:
    """PDF /JPXDecode payload -> (H, W) gray or (H, W, 3) RGB uint8.
    Accepts a raw
    codestream or a JP2 box container (unwraps the ``jp2c`` box, PDF
    32000-1 7.4.9 allows either)."""

    if data[:2] == b"\xff\x4f":
        return decode_jpx(data)
    if data[4:8] == b"jP  ":
        pos = 0
        while pos + 8 <= len(data):
            (ln,) = struct.unpack(">I", data[pos : pos + 4])
            btype = data[pos + 4 : pos + 8]
            off = 8
            if ln == 1:
                (ln,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                off = 16
            if btype == b"jp2c":
                end = len(data) if ln == 0 else pos + ln
                return decode_jpx(data[pos + off : end])
            if ln == 0:
                break
            pos += ln
        raise UserError("JPX: JP2 container without a jp2c box.")
    raise UserError("JPX: neither a raw codestream nor a JP2 container.")
