"""Public-key (certificate) security handler: /Adobe.PubSec with
/SubFilter /adbe.pkcs7.s5 (PDF 32000-1 §7.6.5).

The reference opens such documents through PyMuPDF
(reference render.py:89 `fitz.open`); here the whole lineage is
engine-owned, built from the public specs:

- PKCS#7 / CMS EnvelopedData (RFC 2315 §10) carrying, per recipient, an
  RSA-encrypted content-encryption key (KeyTransRecipientInfo,
  RSAES-PKCS1-v1_5 per RFC 8017 §7.2) and an AES-128-CBC encrypted
  24-byte message: 20-byte random seed || 4-byte permissions
  (most significant byte first, §7.6.5.4).
- The file encryption key is SHA-1(seed || Recipients[0] || ... ||
  Recipients[n-1] [|| 0xFFFFFFFF when /EncryptMetadata false]) truncated
  to /Length/8 bytes (§7.6.5.3 Algorithm 3); object keys then derive
  exactly as for the standard handler (§7.6.2 Algorithm 1), so the
  existing :class:`~.crypt.StandardDecryptor` finishes the job.
- DER is encoded/decoded with a minimal TLV layer (X.690): only the
  universal types CMS actually uses (SEQUENCE, SET, INTEGER, OID,
  OCTET STRING, NULL, PrintableString, context tags).

RSA keys are deterministic fixtures (Miller-Rabin primes from a seeded
PRNG; the default key is stored as constants): there is no certificate
store, so the engine owns both ends — the writer envelopes for the
fixture public key and the parser opens with the fixture private key
unless the caller supplies one.
PKCS#1 v1.5 padding bytes are likewise derived deterministically from
the message (fixtures must be byte-stable across runs); a production
encryptor would draw them from a CSPRNG.
"""

from __future__ import annotations

import hashlib
import random
import struct
from typing import Optional

from ..errors import UserError

# ---------------------------------------------------------------------------
# Minimal DER (X.690)
# ---------------------------------------------------------------------------

SEQUENCE, SET, INTEGER, OCTETS, NULL, OID, PRINTABLE = (
    0x30, 0x31, 0x02, 0x04, 0x05, 0x06, 0x13,
)

OID_ENVELOPED = "1.2.840.113549.1.7.3"
OID_DATA = "1.2.840.113549.1.7.1"
OID_RSA = "1.2.840.113549.1.1.1"
OID_AES128_CBC = "2.16.840.1.101.3.4.1.2"
OID_CN = "2.5.4.3"


def der(tag: int, payload: bytes) -> bytes:
    n = len(payload)
    if n < 0x80:
        return bytes([tag, n]) + payload
    lb = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([tag, 0x80 | len(lb)]) + lb + payload


def der_int(v: int) -> bytes:
    if v == 0:
        return der(INTEGER, b"\x00")
    b = v.to_bytes((v.bit_length() + 8) // 8, "big")  # keeps sign bit 0
    return der(INTEGER, b.lstrip(b"\x00") if b[0] == 0 and b[1] < 0x80 else b)


def der_oid(dotted: str) -> bytes:
    parts = [int(p) for p in dotted.split(".")]
    body = bytearray([40 * parts[0] + parts[1]])
    for p in parts[2:]:
        enc = bytearray([p & 0x7F])
        p >>= 7
        while p:
            enc.insert(0, 0x80 | (p & 0x7F))
            p >>= 7
        body += enc
    return der(OID, bytes(body))


def der_read(data: bytes, pos: int = 0) -> tuple[int, bytes, int]:
    """One TLV: returns (tag, content, next_pos)."""

    if pos + 2 > len(data):
        raise UserError("Truncated DER element.")
    tag = data[pos]
    n = data[pos + 1]
    pos += 2
    if n & 0x80:
        k = n & 0x7F
        if k == 0 or k > 4 or pos + k > len(data):
            raise UserError("Bad DER length.")
        n = int.from_bytes(data[pos : pos + k], "big")
        pos += k
    if pos + n > len(data):
        raise UserError("Truncated DER content.")
    return tag, data[pos : pos + n], pos + n


def der_children(content: bytes) -> list[tuple[int, bytes]]:
    out = []
    pos = 0
    while pos < len(content):
        tag, body, pos = der_read(content, pos)
        out.append((tag, body))
    return out


def oid_str(body: bytes) -> str:
    if not body:
        return ""
    parts = [body[0] // 40, body[0] % 40]
    v = 0
    for b in body[1:]:
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            parts.append(v)
            v = 0
    return ".".join(str(p) for p in parts)


# ---------------------------------------------------------------------------
# RSA (RFC 8017): deterministic fixture keypair + PKCS#1 v1.5 transport
# ---------------------------------------------------------------------------

def _is_probable_prime(n: int, rng: random.Random, rounds: int = 40) -> bool:
    if n < 4:
        return n in (2, 3)
    if n % 2 == 0:
        return False
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for _ in range(rounds):
        a = rng.randrange(2, n - 2)
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _gen_prime(bits: int, rng: random.Random) -> int:
    while True:
        p = rng.getrandbits(bits) | (1 << (bits - 1)) | 1
        if _is_probable_prime(p, rng):
            return p


def rsa_keypair(seed: int = 0x50DF, bits: int = 1024) -> "tuple[int, int, int]":
    """(n, e, d) — deterministic from seed (fixture provisioning)."""

    rng = random.Random(seed)
    e = 65537
    while True:
        p = _gen_prime(bits // 2, rng)
        q = _gen_prime(bits // 2, rng)
        if p == q:
            continue
        phi = (p - 1) * (q - 1)
        if phi % e:
            d = pow(e, -1, phi)
            return p * q, e, d


#: The fixture keypair (n, e, d): ``rsa_keypair()`` with its defaults,
#: stored so that no process repeats the prime search (about 0.45 s) to
#: open a PubSec document.
_FIXTURE_KEY = (
    int("a63db3be9fe5605a36ccfbdc92749a3f9faac8966a48278b3368dfdc45ee0a86"
        "9c5ff35be531751f542dbf23b5cb5bc0ea4e359adeeb70273660f1d09ac90f17"
        "104a45322f1ae4dca815576d646a63f8589edb811f7ce92266c4a4ddf86f36dd"
        "e2274fded3d6ab32dae5d208261acbff6a21db160539a7ea91d8ef38cd5c80bf", 16),
    65537,
    int("24e46c8f514cc6253f241e80c4bfbbbb82e393c04db5d590bec7f7661adec8d7"
        "36bcd47500580975fa686c92b03581173ee83c5d323b6d9846291d80fdd8c0d0"
        "316570557e276527b56b616fef7a61c9db5e782d65e293592e6ec4f047d67b27"
        "cf211b49d87b914698ec53a17ffae6296f88ec21ef88e45be7553472b30d2481", 16),
)


def fixture_keypair() -> "tuple[int, int, int]":
    return _FIXTURE_KEY


def _ps_stream(msg: bytes, n_bytes: int) -> bytes:
    """Deterministic NONZERO padding bytes for RSAES-PKCS1-v1_5 (see
    module docstring: fixture determinism over CSPRNG)."""

    out = bytearray()
    ctr = 0
    while len(out) < n_bytes:
        blk = hashlib.sha256(b"ps" + struct.pack(">I", ctr) + msg).digest()
        out += bytes(b if b else 1 for b in blk)
        ctr += 1
    return bytes(out[:n_bytes])


def rsa_encrypt_v15(pub_n: int, pub_e: int, msg: bytes) -> bytes:
    k = (pub_n.bit_length() + 7) // 8
    if len(msg) > k - 11:
        raise UserError("RSAES-PKCS1-v1_5: message too long.")
    em = b"\x00\x02" + _ps_stream(msg, k - 3 - len(msg)) + b"\x00" + msg
    return pow(int.from_bytes(em, "big"), pub_e, pub_n).to_bytes(k, "big")


def rsa_decrypt_v15(n: int, d: int, ct: bytes) -> Optional[bytes]:
    k = (n.bit_length() + 7) // 8
    if len(ct) != k:
        return None
    em = pow(int.from_bytes(ct, "big"), d, n).to_bytes(k, "big")
    if not em.startswith(b"\x00\x02"):
        return None
    sep = em.find(b"\x00", 2)
    if sep < 10:
        return None
    return em[sep + 1 :]


# ---------------------------------------------------------------------------
# CMS EnvelopedData (RFC 2315 §10)
# ---------------------------------------------------------------------------

def _issuer_and_serial(cn: str, serial: int) -> bytes:
    rdn = der(
        SEQUENCE,
        der(SET, der(SEQUENCE, der_oid(OID_CN) + der(PRINTABLE, cn.encode()))),
    )
    return der(SEQUENCE, rdn + der_int(serial))


def make_recipient_blob(
    pub_n: int, pub_e: int, seed: bytes, perms: int, entropy: bytes
) -> bytes:
    """ContentInfo(EnvelopedData) DER for one recipient.

    ``seed`` is the 20-byte file-key seed; ``perms`` the 4-byte
    permission flags; ``entropy`` deterministically derives the CEK and
    IV (fixture stability — see module docstring)."""

    if len(seed) != 20:
        raise UserError("PubSec seed must be 20 bytes.")
    from .aes import cbc_encrypt

    mat = hashlib.sha256(b"cek-iv" + entropy).digest()
    cek, iv = mat[:16], mat[16:32]
    content = seed + struct.pack(">I", perms & 0xFFFFFFFF)
    ct = cbc_encrypt(cek, iv, content)[16:]  # CMS keeps IV in AlgId params
    rinfo = der(
        SEQUENCE,
        der_int(0)
        + _issuer_and_serial("pdf-toolkit-spark fixture", 1)
        + der(SEQUENCE, der_oid(OID_RSA) + der(NULL, b""))
        + der(OCTETS, rsa_encrypt_v15(pub_n, pub_e, cek)),
    )
    eci = der(
        SEQUENCE,
        der_oid(OID_DATA)
        + der(SEQUENCE, der_oid(OID_AES128_CBC) + der(OCTETS, iv))
        + der(0x80, ct),  # [0] IMPLICIT encryptedContent
    )
    enveloped = der(SEQUENCE, der_int(0) + der(SET, rinfo) + eci)
    return der(SEQUENCE, der_oid(OID_ENVELOPED) + der(0xA0, enveloped))


def open_recipient_blob(blob: bytes, n: int, d: int) -> Optional[bytes]:
    """Decrypt one Recipients entry with an RSA private key; returns the
    24-byte seed||perms message, or None when this key is not a
    recipient (the caller tries the next blob)."""

    from .aes import cbc_decrypt

    try:
        tag, body, _ = der_read(blob)
        if tag != SEQUENCE:
            return None
        kids = der_children(body)
        if len(kids) != 2 or oid_str(kids[0][1]) != OID_ENVELOPED:
            return None
        tag, env, _ = der_read(kids[1][1])  # [0] EXPLICIT EnvelopedData
        parts = der_children(env)
        # version, recipientInfos SET, encryptedContentInfo
        if len(parts) < 3:
            return None
        for _, rinfo in der_children(parts[1][1]):
            rkids = der_children(rinfo)
            if len(rkids) != 4 or oid_str(der_children(rkids[2][1])[0][1]) != OID_RSA:
                continue
            cek = rsa_decrypt_v15(n, d, rkids[3][1])
            if cek is None or len(cek) != 16:
                continue
            ekids = der_children(parts[2][1])
            if oid_str(ekids[0][1]) != OID_DATA:
                return None
            alg = der_children(ekids[1][1])
            if oid_str(alg[0][1]) != OID_AES128_CBC:
                return None
            iv = alg[1][1]
            ct = ekids[2][1]
            msg = cbc_decrypt(cek, iv + ct)
            if len(msg) != 24:
                return None
            return msg
    except (UserError, IndexError, ValueError):
        return None
    return None


# ---------------------------------------------------------------------------
# File-key derivation + decryptor (§7.6.5.3)
# ---------------------------------------------------------------------------

def pubsec_file_key(
    seed: bytes, recipients: list[bytes], key_len: int,
    encrypt_metadata: bool = True,
) -> bytes:
    md = hashlib.sha1(seed)
    for blob in recipients:
        md.update(blob)
    if not encrypt_metadata:
        md.update(b"\xff\xff\xff\xff")
    return md.digest()[:key_len]


def build_pubsec_decryptor(
    enc: dict, rsa_key: "Optional[tuple[int, int, int]]" = None
):
    """Decryptor for an /Adobe.PubSec /Encrypt dictionary (resolved to
    direct values). ``rsa_key`` is (n, e, d); defaults to the engine
    fixture keypair."""

    from .crypt import StandardDecryptor

    sub = str(enc.get("SubFilter", ""))
    if sub != "adbe.pkcs7.s5":
        raise UserError(f"Unsupported PubSec SubFilter: {sub or '(none)'}.")
    cf = enc.get("CF") or {}
    name = str(enc.get("StmF", "DefaultCryptFilter"))
    if str(enc.get("StrF", name)) != name:
        raise UserError("PubSec: split StmF/StrF mappings unsupported.")
    filt = cf.get(name) or {}
    cfm = str(filt.get("CFM", ""))
    if cfm != "AESV2":
        raise UserError(f"Unsupported PubSec crypt filter method {cfm or '(none)'}.")
    recipients = filt.get("Recipients") or enc.get("Recipients")
    if isinstance(recipients, bytes):
        recipients = [recipients]
    if not (isinstance(recipients, list) and recipients
            and all(isinstance(r, bytes) for r in recipients)):
        raise UserError("PubSec: missing /Recipients blobs.")
    n, e, d = rsa_key if rsa_key is not None else fixture_keypair()
    msg = None
    for blob in recipients:
        msg = open_recipient_blob(blob, n, d)
        if msg is not None:
            break
    if msg is None:
        raise UserError(
            "Encrypted PDF: no /Recipients entry matches the supplied key."
        )
    em = bool(filt.get("EncryptMetadata", enc.get("EncryptMetadata", True)))
    key = pubsec_file_key(msg[:20], recipients, 16, em)
    return StandardDecryptor(key, aes=True)
