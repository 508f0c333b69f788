"""AES-128/256 (FIPS-197) in CBC mode, pure Python, word-level.

Callers: the standard security handler (crypt.py) for /AESV2
(AES-128, per-object keys) and /AESV3 (AES-256, one file key) crypt
filters, which use the PDF wire format of PDF 32000-1 §7.6.2 (a random
16-byte IV prepended to the ciphertext, PKCS#7-style padding); the
R6 password hash (crypt.hash_r6), which runs CBC without padding over
2-5 KB per iteration; and the PubSec CMS envelope (pubsec.py).

The cipher is the 32-bit table formulation of FIPS-197: the state is
four big-endian column words, and four encryption tables fold SubBytes,
ShiftRows and MixColumns into one word lookup per state byte (four
decryption tables do the same for the inverse steps). Decryption is
the equivalent inverse cipher (FIPS-197 §5.3.5), so it runs on round
keys passed through InvMixColumns (:func:`decrypt_schedule`). Each CBC
call unpacks its input to words once with ``struct`` and packs its
output once. Built from the public FIPS-197 specification.
"""

from __future__ import annotations

import struct

from ..errors import UserError

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(sorted(range(256), key=_SBOX.__getitem__))

_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _gmul(a: int, b: int) -> int:
    """GF(2^8) product modulo the AES polynomial x^8+x^4+x^3+x+1."""

    r = 0
    while b:
        if b & 1:
            r ^= a
        a = (a << 1) ^ 0x11B if a & 0x80 else a << 1
        b >>= 1
    return r


def _rotations(col) -> tuple[list[int], ...]:
    """The four tables T0..T3 for a MixColumns column (c0, c1, c2, c3):
    T0[x] is the word (c0·x, c1·x, c2·x, c3·x) and each next table is
    the previous one rotated right by one byte."""

    t0 = [(a << 24) | (b << 16) | (c << 8) | d for a, b, c, d in col]
    t1 = [(w >> 8) | ((w & 0xFF) << 24) for w in t0]
    t2 = [(w >> 8) | ((w & 0xFF) << 24) for w in t1]
    t3 = [(w >> 8) | ((w & 0xFF) << 24) for w in t2]
    return t0, t1, t2, t3


#: Encryption tables: SubBytes then the MixColumns column (2, 1, 1, 3).
_TE = _rotations(
    (_gmul(s, 2), s, s, _gmul(s, 3)) for s in _SBOX
)
#: Decryption tables: InvSubBytes then the InvMixColumns column (14, 9, 13, 11).
_TD = _rotations(
    (_gmul(s, 14), _gmul(s, 9), _gmul(s, 13), _gmul(s, 11)) for s in _INV_SBOX
)
#: Final-round S-box bytes pre-shifted into byte lanes 0..3 of a word.
_SE = tuple([s << n for s in _SBOX] for n in (24, 16, 8, 0))
_SD = tuple([s << n for s in _INV_SBOX] for n in (24, 16, 8, 0))


def expand_key(key: bytes) -> tuple[tuple[int, int, int, int], ...]:
    """AES key schedule for 128- or 256-bit keys: 11 or 15 round keys,
    each four column words."""

    if len(key) not in (16, 32):
        raise UserError(f"AES requires a 16- or 32-byte key, got {len(key)}.")
    nk = len(key) // 4
    nr = nk + 6
    s3, s2, s1, s0 = _SE
    w = list(struct.unpack(f">{nk}I", key))
    for i in range(nk, 4 * (nr + 1)):
        t = w[-1]
        if i % nk == 0:
            # SubWord(RotWord(t)) ^ Rcon
            t = (s3[(t >> 16) & 0xFF] | s2[(t >> 8) & 0xFF] | s1[t & 0xFF]
                 | s0[t >> 24]) ^ (_RCON[i // nk - 1] << 24)
        elif nk == 8 and i % nk == 4:
            t = s3[t >> 24] | s2[(t >> 16) & 0xFF] | s1[(t >> 8) & 0xFF] | s0[t & 0xFF]
        w.append(w[i - nk] ^ t)
    return tuple(tuple(w[j:j + 4]) for j in range(0, len(w), 4))


def decrypt_schedule(key: bytes) -> tuple[tuple[int, int, int, int], ...]:
    """Round keys of the equivalent inverse cipher for ``key``."""

    return _invert(expand_key(key))


def _invert(rks):
    """An :func:`expand_key` schedule in reverse order, its inner round
    keys passed through InvMixColumns."""

    td0, td1, td2, td3 = _TD
    sb = _SBOX
    # Td[i][S[x]] is InvMixColumns of byte x alone in lane i.
    inner = tuple(
        tuple(
            td0[sb[k >> 24]] ^ td1[sb[(k >> 16) & 0xFF]]
            ^ td2[sb[(k >> 8) & 0xFF]] ^ td3[sb[k & 0xFF]]
            for k in rk
        )
        for rk in reversed(rks[1:-1])
    )
    return (rks[-1],) + inner + (rks[0],)


def _cbc_encrypt(rks, iv: bytes, data: bytes) -> bytes:
    """CBC over block-aligned ``data`` with the schedule ``rks``."""

    te0, te1, te2, te3 = _TE
    s3, s2, s1, s0 = _SE
    (k0, k1, k2, k3), *rounds, (f0, f1, f2, f3) = rks
    p0, p1, p2, p3 = struct.unpack(">4I", iv)
    n = len(data) // 4
    words = iter(struct.unpack(f">{n}I", data))
    out = []
    for x0, x1, x2, x3 in zip(words, words, words, words):
        a0 = x0 ^ p0 ^ k0
        a1 = x1 ^ p1 ^ k1
        a2 = x2 ^ p2 ^ k2
        a3 = x3 ^ p3 ^ k3
        for r0, r1, r2, r3 in rounds:
            a0, a1, a2, a3 = (
                te0[a0 >> 24] ^ te1[(a1 >> 16) & 0xFF] ^ te2[(a2 >> 8) & 0xFF] ^ te3[a3 & 0xFF] ^ r0,
                te0[a1 >> 24] ^ te1[(a2 >> 16) & 0xFF] ^ te2[(a3 >> 8) & 0xFF] ^ te3[a0 & 0xFF] ^ r1,
                te0[a2 >> 24] ^ te1[(a3 >> 16) & 0xFF] ^ te2[(a0 >> 8) & 0xFF] ^ te3[a1 & 0xFF] ^ r2,
                te0[a3 >> 24] ^ te1[(a0 >> 16) & 0xFF] ^ te2[(a1 >> 8) & 0xFF] ^ te3[a2 & 0xFF] ^ r3,
            )
        p0 = (s3[a0 >> 24] | s2[(a1 >> 16) & 0xFF] | s1[(a2 >> 8) & 0xFF] | s0[a3 & 0xFF]) ^ f0
        p1 = (s3[a1 >> 24] | s2[(a2 >> 16) & 0xFF] | s1[(a3 >> 8) & 0xFF] | s0[a0 & 0xFF]) ^ f1
        p2 = (s3[a2 >> 24] | s2[(a3 >> 16) & 0xFF] | s1[(a0 >> 8) & 0xFF] | s0[a1 & 0xFF]) ^ f2
        p3 = (s3[a3 >> 24] | s2[(a0 >> 16) & 0xFF] | s1[(a1 >> 8) & 0xFF] | s0[a2 & 0xFF]) ^ f3
        out += (p0, p1, p2, p3)
    return struct.pack(f">{n}I", *out)


def _cbc_decrypt(dks, iv: bytes, data: bytes) -> bytes:
    """Inverse of :func:`_cbc_encrypt`; ``dks`` is a decrypt_schedule."""

    td0, td1, td2, td3 = _TD
    s3, s2, s1, s0 = _SD
    (k0, k1, k2, k3), *rounds, (f0, f1, f2, f3) = dks
    p0, p1, p2, p3 = struct.unpack(">4I", iv)
    n = len(data) // 4
    words = iter(struct.unpack(f">{n}I", data))
    out = []
    for x0, x1, x2, x3 in zip(words, words, words, words):
        a0 = x0 ^ k0
        a1 = x1 ^ k1
        a2 = x2 ^ k2
        a3 = x3 ^ k3
        for r0, r1, r2, r3 in rounds:
            a0, a1, a2, a3 = (
                td0[a0 >> 24] ^ td1[(a3 >> 16) & 0xFF] ^ td2[(a2 >> 8) & 0xFF] ^ td3[a1 & 0xFF] ^ r0,
                td0[a1 >> 24] ^ td1[(a0 >> 16) & 0xFF] ^ td2[(a3 >> 8) & 0xFF] ^ td3[a2 & 0xFF] ^ r1,
                td0[a2 >> 24] ^ td1[(a1 >> 16) & 0xFF] ^ td2[(a0 >> 8) & 0xFF] ^ td3[a3 & 0xFF] ^ r2,
                td0[a3 >> 24] ^ td1[(a2 >> 16) & 0xFF] ^ td2[(a1 >> 8) & 0xFF] ^ td3[a0 & 0xFF] ^ r3,
            )
        out += (
            (s3[a0 >> 24] | s2[(a3 >> 16) & 0xFF] | s1[(a2 >> 8) & 0xFF] | s0[a1 & 0xFF]) ^ f0 ^ p0,
            (s3[a1 >> 24] | s2[(a0 >> 16) & 0xFF] | s1[(a3 >> 8) & 0xFF] | s0[a2 & 0xFF]) ^ f1 ^ p1,
            (s3[a2 >> 24] | s2[(a1 >> 16) & 0xFF] | s1[(a0 >> 8) & 0xFF] | s0[a3 & 0xFF]) ^ f2 ^ p2,
            (s3[a3 >> 24] | s2[(a2 >> 16) & 0xFF] | s1[(a1 >> 8) & 0xFF] | s0[a0 & 0xFF]) ^ f3 ^ p3,
        )
        p0, p1, p2, p3 = x0, x1, x2, x3
    return struct.pack(f">{n}I", *out)


_ZERO_IV = bytes(16)


def _encrypt_block(block: bytes, rks) -> bytes:
    """One-block ECB encryption with an :func:`expand_key` schedule."""

    return _cbc_encrypt(rks, _ZERO_IV, block)


def _decrypt_block(block: bytes, rks) -> bytes:
    """One-block ECB decryption with an :func:`expand_key` schedule."""

    return _cbc_decrypt(_invert(rks), _ZERO_IV, block)


def cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-CBC with PKCS#7 padding; returns iv || ciphertext (the
    PDF wire format for AESV2/AESV3 strings and streams)."""

    pad = 16 - (len(plaintext) % 16)
    return iv + _cbc_encrypt(expand_key(key), iv, plaintext + bytes([pad]) * pad)


def cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC without padding or IV prefix (data must be block-aligned) —
    the shape the AES-256 password KDF and /UE //OE wrapping use."""

    if len(data) % 16:
        raise UserError("CBC-nopad requires block-aligned data.")
    return _cbc_encrypt(expand_key(key), iv, data)


def cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise UserError("CBC-nopad requires block-aligned data.")
    return _cbc_decrypt(decrypt_schedule(key), iv, data)


def cbc_decrypt(key: bytes | tuple, data: bytes) -> bytes:
    """Inverse of cbc_encrypt: data = iv || ciphertext, strips padding.
    ``key`` is the raw key or, when one key decrypts many objects, its
    :func:`decrypt_schedule`."""

    if len(data) < 32 or len(data) % 16:
        raise UserError("AES stream is not a whole number of blocks.")
    dks = key if isinstance(key, tuple) else decrypt_schedule(key)
    out = _cbc_decrypt(dks, data[:16], data[16:])
    pad = out[-1]
    if not (1 <= pad <= 16):
        raise UserError("Bad AES padding (wrong key or corrupt stream).")
    return out[:-pad]
