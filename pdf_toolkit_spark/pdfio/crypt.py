"""Standard security handler (PDF 32000-1 §7.6.3, ISO 32000-2 §7.6.4):
RC4, AES-128 and AES-256.

The reference opens encrypted PDFs through PyMuPDF; here the engine
implements the public-spec algorithms directly. Scope: encryption
dictionary V 1/2 (RC4-40/128, R 2/3), V 4 / R 4 crypt filters with
/CFM V2 (RC4) or AESV2 (AES-128-CBC), and V 5 / R 6 with /CFM AESV3
(AES-256-CBC, file key unwrapped from /UE or /OE after the Algorithm
2.B password hash); empty-or-known user password, /EncryptMetadata
both ways. The AES cipher is pdfio/aes.py. Other handlers and filter
layouts raise UserError, so such docs take the per-document
error-lineage path.
"""

from __future__ import annotations

import hashlib
import struct

from ..errors import UserError

#: §7.6.3.3 padding string (Algorithm 2 step a).
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric: encrypt == decrypt)."""

    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = ch ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def compute_key(
    user_pw: bytes, o_entry: bytes, p: int, id0: bytes, r: int, key_len: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key."""

    md = hashlib.md5()
    md.update(_pad_password(user_pw))
    md.update(o_entry[:32])
    md.update(struct.pack("<i", p if p < 2**31 else p - 2**32))
    md.update(id0)
    if r >= 4 and not encrypt_metadata:
        md.update(b"\xff\xff\xff\xff")
    digest = md.digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_len]).digest()
    return digest[:key_len]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, key_len: int) -> bytes:
    """Algorithm 3: the /O entry."""

    digest = hashlib.md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:key_len]
    out = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R3): the /U entry."""

    if r == 2:
        return rc4(key, PAD)
    digest = hashlib.md5(PAD + id0).digest()
    out = rc4(key, digest)
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16


def verify_user_password(
    user_pw: bytes, o_entry: bytes, u_entry: bytes, p: int, id0: bytes,
    r: int, key_len: int, encrypt_metadata: bool = True,
) -> bytes | None:
    """Algorithm 6: returns the file key when the password opens the
    document, else None."""

    key = compute_key(user_pw, o_entry, p, id0, r, key_len, encrypt_metadata)
    expect = compute_u(key, id0, r)
    ok = expect[:16] == u_entry[:16] if r >= 3 else expect == u_entry[:32]
    return key if ok else None


def recover_user_password(
    owner_pw: bytes, o_entry: bytes, r: int, key_len: int
) -> bytes:
    """Algorithm 7 (decryption half): the /O entry decrypted with the
    owner-password key yields the PADDED user password."""

    digest = hashlib.md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:key_len]
    data = o_entry[:32]
    if r >= 3:
        for i in range(19, 0, -1):
            data = rc4(bytes(b ^ i for b in key), data)
        data = rc4(key, data)
    else:
        data = rc4(key, data)
    return data


def object_key(file_key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """§7.6.2 Algorithm 1: the per-object key (AES appends the fixed
    'sAlT' bytes to the digest input)."""

    md = hashlib.md5()
    md.update(file_key)
    md.update(struct.pack("<I", num)[:3])
    md.update(struct.pack("<I", gen)[:2])
    if aes:
        md.update(b"sAlT")
    return md.digest()[: min(len(file_key) + 5, 16)]


def hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: the iterated SHA-2 / AES-CBC password
    hash used by the R6 (AES-256) security handler."""

    from .aes import cbc_encrypt_nopad

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt_nopad(k[:16], k[16:32], k1)
        digest = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3]
        k = digest(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def make_r6_entries(
    user_pw: bytes, owner_pw: bytes, file_key: bytes, p: int,
    salt_seed: bytes = b"pdf_toolkit_spark r6 salts",
) -> dict[str, bytes]:
    """Generate /U /UE /O /OE /Perms for an AES-256 file (Algorithms
    8-10). Salts derive deterministically from salt_seed (fixtures)."""

    from .aes import _encrypt_block, cbc_encrypt_nopad, expand_key

    sl = hashlib.sha256(salt_seed).digest()
    vs_u, ks_u, vs_o, ks_o = sl[0:8], sl[8:16], sl[16:24], sl[24:32]
    u = hash_r6(user_pw, vs_u) + vs_u + ks_u
    ue = cbc_encrypt_nopad(hash_r6(user_pw, ks_u), b"\x00" * 16, file_key)
    o = hash_r6(owner_pw, vs_o, u[:48]) + vs_o + ks_o
    oe = cbc_encrypt_nopad(hash_r6(owner_pw, ks_o, u[:48]), b"\x00" * 16, file_key)
    block = (
        struct.pack("<i", p if p < 2**31 else p - 2**32) + b"\xff\xff\xff\xff"
        + b"T" + b"adb" + b"seed"
    )
    perms = _encrypt_block(block, expand_key(file_key))
    return {"U": u, "UE": ue, "O": o, "OE": oe, "Perms": perms}


def verify_r6_password(
    pw: bytes, o: bytes, u: bytes, ue: bytes, oe: bytes
) -> bytes | None:
    """Algorithm 2.A password check: returns the 32-byte file key for a
    matching user or owner password, else None."""

    from .aes import cbc_decrypt_nopad

    if len(u) < 48 or len(o) < 48:
        return None
    if hash_r6(pw, u[32:40]) == u[:32]:
        return cbc_decrypt_nopad(hash_r6(pw, u[40:48]), b"\x00" * 16, ue)
    if hash_r6(pw, o[32:40], u[:48]) == o[:32]:
        return cbc_decrypt_nopad(hash_r6(pw, o[40:48], u[:48]), b"\x00" * 16, oe)
    return None


class StandardDecryptor:
    """Holds the verified file key; decrypts strings/streams per object
    (aes=True -> AESV2: CBC, IV-prefixed, padded; aes256=True -> AESV3,
    the same wire format under the file key; else RC4)."""

    def __init__(self, file_key: bytes, aes: bool = False,
                 aes256: bool = False) -> None:
        self.file_key = file_key
        self.aes = aes
        self.aes256 = aes256
        if aes256:
            # V5: the FILE key encrypts every object directly (no
            # per-object derivation, §7.6.3.3 in ISO 32000-2), so its
            # key schedule is expanded once per document.
            from .aes import decrypt_schedule

            self._schedule = decrypt_schedule(file_key)

    def decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        if self.aes256:
            from .aes import cbc_decrypt

            return cbc_decrypt(self._schedule, data)
        key = object_key(self.file_key, num, gen, aes=self.aes)
        if self.aes:
            from .aes import cbc_decrypt

            return cbc_decrypt(key, data)
        return rc4(key, data)


def build_decryptor(enc: dict, id0: bytes, user_pw: bytes = b"") -> StandardDecryptor:
    """Validate an /Encrypt dictionary (resolved to direct values) and
    return a decryptor, or raise UserError."""

    if str(enc.get("Filter")) != "Standard":
        raise UserError(f"Unsupported security handler: {enc.get('Filter')}.")
    v = int(enc.get("V", 0))
    r = int(enc.get("R", 2))
    aes = False
    if v == 5 and r == 6:
        cf = enc.get("CF") or {}
        cfm = str((cf.get("StdCF") or {}).get("CFM", ""))
        stmf, strf = str(enc.get("StmF", "Identity")), str(enc.get("StrF", "Identity"))
        if stmf != "StdCF" or strf != "StdCF" or cfm != "AESV3":
            raise UserError(
                f"Unsupported V5 crypt filters (CFM={cfm or '(none)'} "
                f"StmF={stmf} StrF={strf})."
            )
        o5, u5 = enc.get("O"), enc.get("U")
        ue, oe = enc.get("UE"), enc.get("OE")
        if not all(isinstance(x, bytes) for x in (o5, u5, ue, oe)):
            raise UserError("AES-256 encryption dictionary missing O/U/OE/UE.")
        key = verify_r6_password(user_pw, o5, u5, ue, oe)
        if key is None:
            raise UserError("Encrypted PDF: password required (user password rejected).")
        return StandardDecryptor(key, aes256=True)
    if v == 4 and r == 4:
        # Crypt filters: require the standard /StdCF applied to both
        # streams and strings (the layout every mainstream producer
        # emits); /CFM selects RC4 (V2) or AES-128 (AESV2).
        cf = enc.get("CF") or {}
        stdcf = cf.get("StdCF") or {}
        cfm = str(stdcf.get("CFM", ""))
        stmf, strf = str(enc.get("StmF", "Identity")), str(enc.get("StrF", "Identity"))
        if stmf != "StdCF" or strf != "StdCF":
            raise UserError(
                f"Unsupported crypt-filter mapping StmF={stmf} StrF={strf}."
            )
        if cfm == "AESV2":
            aes = True
        elif cfm != "V2":
            raise UserError(f"Unsupported crypt filter method {cfm or '(none)'}.")
    elif v not in (1, 2) or r not in (2, 3):
        raise UserError(
            f"Unsupported encryption V={v} R={r} (RC4 V1/V2/V4 and AESV2 only)."
        )
    key_len = 5 if v == 1 else int(enc.get("Length", 40)) // 8
    if v == 4:
        cf_len = (enc.get("CF") or {}).get("StdCF", {}).get("Length")
        if cf_len is not None:
            n = int(cf_len)
            key_len = n // 8 if n > 16 else n  # producers write bytes OR bits
    if aes:
        key_len = 16  # AESV2 is AES-128 by definition
    if not (5 <= key_len <= 16):
        raise UserError(f"Bad encryption key length {key_len * 8}.")
    o_entry = enc.get("O")
    u_entry = enc.get("U")
    if not isinstance(o_entry, bytes) or not isinstance(u_entry, bytes):
        raise UserError("Encryption dictionary missing /O or /U.")
    p = int(enc.get("P", -1)) & 0xFFFFFFFF
    em = bool(enc.get("EncryptMetadata", True))
    key = verify_user_password(user_pw, o_entry, u_entry, p, id0, r, key_len, em)
    if key is None:
        # Algorithm 7: maybe the supplied password is the OWNER one —
        # recover the padded user password from /O and retry.
        recovered = recover_user_password(user_pw, o_entry, r, key_len)
        key = verify_user_password(recovered, o_entry, u_entry, p, id0, r, key_len, em)
    if key is None:
        raise UserError("Encrypted PDF: password required (user password rejected).")
    return StandardDecryptor(key, aes=aes)
