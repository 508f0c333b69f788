"""The MQ arithmetic coder (ITU-T T.88 Annex E, identical to T.800
Annex C): the one entropy coder under both the JBIG2 and the JPEG 2000
codecs.

Decoding: ``decide`` is the slow half of a decision step (the
exchanges and RENORMD with BYTEIN) on plain registers, so a hot loop
keeps ``a``/``c``/``ct``/``bp`` in locals, inlines the MPS fast path
and calls ``decide`` for everything else. ``MQDecoder.decode`` is that
pattern; ``jpx.t1_decode`` and ``jbig2.decode_generic`` inline it on
an ``MQDecoder``'s registers. ``MQDecoder.start`` (INITDEC) restarts
on a new codeword segment with the contexts kept; ``reset_contexts``
resets them. ``jpx.t1_decode`` calls both at coding-pass boundaries
and reloads its local registers and context tables after each.

Encoding: ``MQEncoder`` codes one decision at a time (``encode``) or a
packed ``cx | d << 8`` batch (``encode_many``); ``settled`` is the
output length no later decision can change (a safe split point for
quality layers), ``flush`` ends the stream with the ``FF AC`` marker
and ``terminate`` ends a codeword segment (D.4.2.2) and restarts the
registers for the next one.

Fail-closed: past the end of its data, and at a marker (0xFF followed
by a byte above 0x8F), BYTEIN feeds 1-bits for ever, so a corrupted
header that declares a huge region would be decoded pixel by pixel
from nothing. The decoder counts those fill bytes and raises
``UserError`` once they pass ``FILL_BUDGET``; a legitimate stream ends
a few fill bytes past its last byte.
"""

from __future__ import annotations

from ..errors import UserError

#: T.88 Table E.1 (= T.800 Table C.2) by state index: Qe, the next
#: state after an MPS and after an LPS, and the MPS switch flag
QE = [
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601,
]
NMPS = [
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 36,
    37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46,
]
NLPS = [
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14, 15, 16,
    17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46,
]
SWITCH = [1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1] + [0] * 32

#: Fill bytes (1-bits fed past the end of the data or at a marker) a
#: decoder may consume before it gives up on the stream as corrupted.
#: Every legitimate JBIG2 and JPEG 2000 stream of the test and
#: benchmark corpora needs at most 3 (terminated JPX segments, whose
#: trailing 0xFF bytes are dropped). One fill byte can carry up to
#: 2^18 decisions (8 renormalisations of a context at Qe = 1), so the
#: budget also bounds the work a corrupted stream can cause.
FILL_BUDGET = 16

#: JBIG2's context table: 2^16 contexts, all at state 0 with MPS 0
GB_STATES = bytes(1 << 16)


def _bytein(data: bytes, n: int, bp: int, c: int) -> "tuple[int, int, int]":
    """BYTEIN (T.88 E.3.4) -> (bp, c, ct). At a marker or past the end
    the coder is fed 0xFF; ``bp`` then parks past the end (the marker
    state never changes again, so moving it is invisible to decoding)
    and ``bp - n + 1`` counts the fill bytes supplied so far."""

    b = data[bp] if bp < n else 0xFF
    if b == 0xFF:
        if (data[bp + 1] if bp + 1 < n else 0xFF) > 0x8F:
            bp = (bp if bp >= n else n - 1) + 1
            if bp - n >= FILL_BUDGET:
                raise UserError(
                    "MQ: coded data exhausted (corrupted or truncated stream)."
                )
            return bp, c + 0xFF00, 8
        bp += 1
        return bp, c + (data[bp] << 9), 7
    bp += 1
    return bp, c + ((data[bp] if bp < n else 0xFF) << 8), 8


def _contexts(states: bytes) -> "tuple[list | bytearray, list | bytearray]":
    """Fresh (state index, MPS) tables. A list indexes fastest in the
    hot loops, but JBIG2's 2^16 contexts allocate about 90 times faster
    as a bytearray (4 us against 380 us), and most JBIG2 decoders code
    only a small region."""

    n = len(states)
    if n <= 256:
        return list(states), [0] * n
    return bytearray(states), bytearray(n)


def decide(data, n, bp, c, ct, a, qe, i, cx, cxi, cxm, ch):
    """Slow half of a decision step: the caller has subtracted ``qe``
    (state ``i`` of context ``cx``) from ``a`` and found that the MPS
    fast path (``ch >= qe and a & 0x8000`` with ``ch = c >> 16``) does
    not apply. Does the LPS/MPS exchange and RENORMD and returns
    (decision, a, c, ct, bp)."""

    if ch < qe:
        if a < qe:  # LPS exchange: MPS decision
            d = cxm[cx]
            cxi[cx] = NMPS[i]
        else:
            d = 1 - cxm[cx]
            if SWITCH[i]:
                cxm[cx] = d
            cxi[cx] = NLPS[i]
        a = qe
    else:
        c -= qe << 16
        if a < qe:  # MPS exchange: LPS decision
            d = 1 - cxm[cx]
            if SWITCH[i]:
                cxm[cx] = d
            cxi[cx] = NLPS[i]
        else:
            d = cxm[cx]
            cxi[cx] = NMPS[i]
    while True:  # RENORMD
        if ct == 0:
            bp, c, ct = _bytein(data, n, bp, c)
        a = (a << 1) & 0xFFFF
        c = (c << 1) & 0xFFFFFFFF
        ct -= 1
        if a & 0x8000:
            return d, a, c, ct, bp


class MQDecoder:
    """MQ decoder over one codeword segment at a time. ``states`` gives
    each context's initial state index (MPS 0); ``decode`` uses the
    decoder's own context table unless a caller passes its own
    (``cxi``, ``cxm``) pair — JBIG2's Annex A integer procedures each
    keep one, interleaved with the generic-region contexts on the same
    bitstream."""

    __slots__ = ("data", "n", "bp", "c", "ct", "a", "states", "cxi", "cxm")

    def __init__(self, data: bytes = b"", states: bytes = GB_STATES) -> None:
        self.states = states
        self.reset_contexts()
        self.start(data)

    def start(self, data: bytes) -> None:
        """INITDEC (T.88 E.3.5) on a new codeword segment; the contexts
        are kept."""

        self.data = data
        self.n = n = len(data)
        self.bp, c, ct = _bytein(data, n, 0, (data[0] if n else 0xFF) << 16)
        self.c, self.ct, self.a = (c << 7) & 0xFFFFFFFF, ct - 7, 0x8000

    def reset_contexts(self) -> None:
        self.cxi, self.cxm = _contexts(self.states)

    def decode(self, cx: int, cxi=None, cxm=None) -> int:
        if cxi is None:
            cxi, cxm = self.cxi, self.cxm
        i = cxi[cx]
        qe = QE[i]
        a = self.a - qe
        c = self.c
        ch = c >> 16
        if ch >= qe and a & 0x8000:
            self.a = a
            self.c = c - (qe << 16)
            return cxm[cx]
        d, self.a, self.c, self.ct, self.bp = decide(
            self.data, self.n, self.bp, c, self.ct, a, qe, i, cx, cxi, cxm, ch,
        )
        return d


class MQEncoder:
    """MQ encoder (T.88 E.2). The output starts with a dummy byte that
    absorbs the BPST-1 convention and is dropped when a segment ends;
    the registers keep the integer window at bits 19-26 and the carry
    at bit 27."""

    __slots__ = ("a", "c", "ct", "out", "states", "cxi", "cxm")

    def __init__(self, states: bytes = GB_STATES) -> None:
        self.states = states
        self.reset_contexts()
        self._restart()

    def _restart(self) -> None:
        self.a, self.c, self.ct = 0x8000, 0, 12
        self.out = bytearray(1)

    def reset_contexts(self) -> None:
        self.cxi, self.cxm = _contexts(self.states)

    def _byteout(self) -> None:
        out = self.out
        if out[-1] != 0xFF and self.c & 0x8000000:
            out[-1] += 1  # carry
            self.c &= 0x7FFFFFF
        if out[-1] == 0xFF:
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        else:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8

    def encode(self, d: int, cx: int, cxi=None, cxm=None) -> None:
        if cxi is None:
            cxi, cxm = self.cxi, self.cxm
        i = cxi[cx]
        qe = QE[i]
        a = self.a - qe
        c = self.c
        if d == cxm[cx]:  # CODEMPS
            if a & 0x8000:
                self.a, self.c = a, c + qe
                return
            if a < qe:
                a = qe
            else:
                c += qe
            cxi[cx] = NMPS[i]
        else:  # CODELPS
            if a < qe:
                c += qe
            else:
                a = qe
            if SWITCH[i]:
                cxm[cx] = 1 - cxm[cx]
            cxi[cx] = NLPS[i]
        ct = self.ct
        while True:  # RENORME
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if ct == 0:
                self.c = c
                self._byteout()
                c, ct = self.c, self.ct
            if a & 0x8000:
                self.a, self.c, self.ct = a, c, ct
                return

    def encode_many(self, decisions) -> None:
        """Encode a batch of packed ``cx | d << 8`` decisions (contexts
        below 256) with the encoder's own contexts."""

        cxi, cxm = self.cxi, self.cxm
        a, c = self.a, self.c
        for v in decisions:
            cx = v & 0xFF
            qe = QE[cxi[cx]]
            if (v >> 8) == cxm[cx] and (a - qe) & 0x8000:
                a -= qe
                c += qe
                continue
            self.a, self.c = a, c
            self.encode(v >> 8, cx)
            a, c = self.a, self.c
        self.a, self.c = a, c

    def settled(self) -> int:
        """Output bytes so far that no later decision can change (a
        carry only reaches the newest byte): a segment may be split
        there and a decoder of the concatenated parts sees one stream."""

        return max(0, len(self.out) - 2)

    def _setbits_out(self) -> bytes:
        """FLUSH (T.88 E.2.9): SETBITS and two BYTEOUTs; the coded bytes
        without the dummy byte."""

        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        for _ in range(2):
            self.c = (self.c << self.ct) & 0xFFFFFFFF
            self._byteout()
        return bytes(self.out[1:])

    def flush(self) -> bytes:
        """End the stream with the ``FF AC`` terminator (T.88 E.2.9)."""

        return self._setbits_out() + b"\xff\xac"

    def terminate(self) -> bytes:
        """End one codeword segment (T.800 D.4.2.2: the same FLUSH, which
        is also what predictable termination mandates) with any trailing
        0xFF dropped (it would form a marker with the next byte; BYTEIN
        feeds 1-bits there anyway), then restart the registers for the
        next segment. The contexts are kept."""

        seg = self._setbits_out().rstrip(b"\xff")
        self._restart()
        return seg
