"""Standard-security-handler coverage (pdfio/crypt.py + parser/writer
integration): RC4 round trips, password rejection, AES rejection, and
the job-level guarantee that encrypted-but-unreadable docs become
error lineage rows instead of stage failures."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_toolkit_spark.corpus import corpus_config
from pdf_toolkit_spark.errors import UserError
from pdf_toolkit_spark.extract import extract_document
from pdf_toolkit_spark.pdfio.crypt import (
    build_decryptor,
    compute_key,
    compute_o,
    compute_u,
    object_key,
    rc4,
    verify_user_password,
)
from pdf_toolkit_spark.pdfio.parser import PdfDocument
from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf


def _pages() -> list[PageSpec]:
    rng = np.random.default_rng(9)
    raster = rng.integers(235, 252, size=(120, 90)).astype(np.uint8)
    emb = rng.integers(90, 170, size=(24, 30)).astype(np.uint8)
    return [
        PageSpec(raster=raster, items=[
            ("text", "secret page one", 20, 8),
            ("image", emb, 48, 12),
            ("text", "tail line", 100, 8),
        ]),
        PageSpec(raster=raster.T.copy(), rotate=90,
                 items=[("text", "page two", 30, 10)]),
    ]


def test_rc4_is_symmetric_and_matches_known_vector():
    # Public RFC 6229-style vector: key 'Key', plaintext 'Plaintext'
    out = rc4(b"Key", b"Plaintext")
    assert out.hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", out) == b"Plaintext"


def test_r2_and_r3_entries_self_verify():
    id0 = b"\x01" * 16
    for r, key_len in ((2, 5), (3, 16)):
        o = compute_o(b"owner", b"", r, key_len)
        key = compute_key(b"", o, 0xFFFFFFFF, id0, r, key_len)
        u = compute_u(key, id0, r)
        assert verify_user_password(b"", o, u, 0xFFFFFFFF, id0, r, key_len) == key
        assert verify_user_password(b"wrong", o, u, 0xFFFFFFFF, id0, r, key_len) is None


def test_object_key_truncation():
    assert len(object_key(b"\x00" * 5, 1, 0)) == 10
    assert len(object_key(b"\x00" * 16, 1, 0)) == 16


def test_owner_password_opens_rc4_documents():
    """Algorithm 7: the owner password recovers the padded user
    password from /O, so either password opens the document."""

    import hashlib

    from pdf_toolkit_spark.pdfio.crypt import (
        _pad_password,
        recover_user_password,
    )

    for r, key_len in ((2, 5), (3, 16)):
        o = compute_o(b"ownerpw", b"userpw", r=r, key_len=key_len)
        assert recover_user_password(b"ownerpw", o, r, key_len) == _pad_password(b"userpw")
    id0 = hashlib.md5(b"x").digest()
    o = compute_o(b"ownerpw", b"userpw", r=3, key_len=16)
    key = compute_key(b"userpw", o, 0xFFFFFFFF, id0, 3, 16)
    u = compute_u(key, id0, 3)
    enc = {"Filter": "Standard", "V": 2, "R": 3, "Length": 128, "P": -1, "O": o, "U": u}
    assert build_decryptor(enc, id0, b"userpw").file_key == \
        build_decryptor(enc, id0, b"ownerpw").file_key
    with pytest.raises(UserError, match="password"):
        build_decryptor(enc, id0, b"wrong")


def test_build_decryptor_rejects_unknown_variants():
    base = {"Filter": "Standard", "O": b"x" * 32, "U": b"y" * 32, "P": -1}
    with pytest.raises(UserError, match="V5 crypt filters"):
        build_decryptor(dict(base, V=5, R=6), b"")  # no /CF AESV3 mapping
    with pytest.raises(UserError, match="V=5 R=5"):
        build_decryptor(dict(base, V=5, R=5), b"")  # deprecated R5
    with pytest.raises(UserError, match="crypt filter method"):
        build_decryptor(
            dict(base, V=4, R=4, CF={"StdCF": {"CFM": "AESV3"}},
                 StmF="StdCF", StrF="StdCF"),
            b"",
        )
    with pytest.raises(UserError, match="crypt-filter mapping"):
        build_decryptor(
            dict(base, V=4, R=4, CF={"StdCF": {"CFM": "AESV2"}}, StmF="Identity"),
            b"",
        )
    with pytest.raises(UserError, match="security handler"):
        build_decryptor({"Filter": "FancyCustom"}, b"")


def test_aes128_matches_fips197_vector():
    from pdf_toolkit_spark.pdfio.aes import (
        _decrypt_block,
        _encrypt_block,
        cbc_decrypt,
        cbc_encrypt,
        expand_key,
    )

    key = bytes(range(16))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rks = expand_key(key)
    ct = _encrypt_block(pt, rks)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"  # FIPS-197 C.1
    assert _decrypt_block(ct, rks) == pt
    for msg in (b"", b"short", b"x" * 16, b"y" * 1000):
        assert cbc_decrypt(key, cbc_encrypt(key, b"\x07" * 16, msg)) == msg


def test_aes256_matches_fips197_vector():
    from pdf_toolkit_spark.pdfio.aes import _decrypt_block, _encrypt_block, expand_key

    rks = expand_key(bytes(range(32)))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = _encrypt_block(pt, rks)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"  # FIPS-197 C.3
    assert _decrypt_block(ct, rks) == pt


#: SP 800-38A F.2 CBC example: IV and the four plaintext blocks.
_SP800_38A_IV = bytes(range(16))
_SP800_38A_PT = bytes.fromhex(
    "6bc1bee22e409f96e93d7e117393172a" "ae2d8a571e03ac9c9eb76fac45af8e51"
    "30c81c46a35ce411e5fbc1191a0a52ef" "f69f2445df4f9b17ad2b417be66c3710"
)


@pytest.mark.parametrize("key_hex, ct_hex", [
    # F.2.1 CBC-AES128.Encrypt
    ("2b7e151628aed2a6abf7158809cf4f3c",
     "7649abac8119b246cee98e9b12e9197d" "5086cb9b507219ee95db113a917678b2"
     "73bed6b8e3c1743b7116e69e22229516" "3ff1caa1681fac09120eca307586e1a7"),
    # F.2.5 CBC-AES256.Encrypt
    ("603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4",
     "f58c4c04d6e5f1ba779eabfb5f7bfbd6" "9cfc4e967edb808d679f777bc6702c7d"
     "39f23369a9d9bacfa530e26304231461" "b2eb05e2c39be9fcda6c19078c6a9d1b"),
])
def test_aes_cbc_matches_sp800_38a_vectors(key_hex, ct_hex):
    from pdf_toolkit_spark.pdfio.aes import (
        cbc_decrypt,
        cbc_decrypt_nopad,
        cbc_encrypt,
        cbc_encrypt_nopad,
        decrypt_schedule,
    )

    key, ct = bytes.fromhex(key_hex), bytes.fromhex(ct_hex)
    assert cbc_encrypt_nopad(key, _SP800_38A_IV, _SP800_38A_PT) == ct
    assert cbc_decrypt_nopad(key, _SP800_38A_IV, ct) == _SP800_38A_PT
    # The padded wire format adds one block of padding after the same
    # ciphertext, and a precomputed schedule decrypts like the raw key.
    wire = cbc_encrypt(key, _SP800_38A_IV, _SP800_38A_PT)
    assert wire[:16 + len(ct)] == _SP800_38A_IV + ct and len(wire) == 16 + len(ct) + 16
    assert cbc_decrypt(key, wire) == _SP800_38A_PT
    assert cbc_decrypt(decrypt_schedule(key), wire) == _SP800_38A_PT


def test_aes_cbc_decrypt_rejects_malformed_input():
    from pdf_toolkit_spark.pdfio.aes import cbc_decrypt, cbc_encrypt_nopad

    key = bytes(range(16))
    with pytest.raises(UserError, match="whole number of blocks"):
        cbc_decrypt(key, bytes(40))  # not block-aligned
    with pytest.raises(UserError, match="whole number of blocks"):
        cbc_decrypt(key, bytes(16))  # IV only, shorter than 32 bytes
    # A last plaintext byte of 0 or above 16 is not PKCS#7 padding.
    for last in (0, 17, 255):
        ct = cbc_encrypt_nopad(key, bytes(16), bytes(15) + bytes([last]))
        with pytest.raises(UserError, match="Bad AES padding"):
            cbc_decrypt(key, bytes(16) + ct)


def test_aes_object_key_appends_salt():
    plain = object_key(b"\x00" * 16, 3, 0)
    salted = object_key(b"\x00" * 16, 3, 0, aes=True)
    assert plain != salted and len(salted) == 16


def test_aesv2_pdf_roundtrip_matches_plaintext_spans():
    """V4/R4 AESV2 twin of the RC4 gate: IV-prefixed CBC streams with
    rewritten /Length must decrypt to byte-identical spans."""

    cfg = corpus_config()
    plain = write_pdf(_pages())
    enc = write_pdf(_pages(), encrypt="aes")
    assert b"/AESV2" in enc and b"secret page one" not in enc
    assert extract_document(enc, cfg)["spans"] == extract_document(plain, cfg)["spans"]


def test_r6_entries_self_verify_and_roundtrip():
    """AES-256 (V5/R6): Algorithm 2.B KDF + entry generation + both
    password paths, then full span equality vs plaintext twins in
    BOTH container layouts."""

    import hashlib

    from pdf_toolkit_spark.pdfio.crypt import (
        hash_r6,
        make_r6_entries,
        verify_r6_password,
    )

    fk = hashlib.sha256(b"k").digest()
    e = make_r6_entries(b"user", b"owner", fk, 0xFFFFFFFF)
    assert verify_r6_password(b"user", e["O"], e["U"], e["UE"], e["OE"]) == fk
    assert verify_r6_password(b"owner", e["O"], e["U"], e["UE"], e["OE"]) == fk
    assert verify_r6_password(b"bad", e["O"], e["U"], e["UE"], e["OE"]) is None
    # KDF is deterministic and salt-sensitive
    assert hash_r6(b"pw", b"12345678") == hash_r6(b"pw", b"12345678")
    assert hash_r6(b"pw", b"12345678") != hash_r6(b"pw", b"87654321")

    cfg = corpus_config()
    for pdf15 in (False, True):
        plain = write_pdf(_pages(), pdf15=pdf15)
        enc = write_pdf(_pages(), pdf15=pdf15, encrypt="aes256")
        assert b"/AESV3" in enc and b"secret page one" not in enc
        assert extract_document(enc, cfg)["spans"] == extract_document(plain, cfg)["spans"]
        locked = write_pdf(_pages(), pdf15=pdf15, encrypt="aes256", user_password="pw")
        with pytest.raises(UserError, match="password"):
            PdfDocument(locked)
        assert PdfDocument(locked, password="pw").page_count == 2


def test_encrypted_pdf15_container_roundtrips():
    """Encryption + the 1.5 layout (the modern norm): top-level stream
    payloads and the ObjStm encrypt per object, packed objects are not
    double-encrypted, /Encrypt stays direct and plaintext in the XRef
    stream dict. Both ciphers must extract spans equal to plaintext."""

    cfg = corpus_config()
    plain = write_pdf(_pages(), pdf15=True)
    for mode in (True, "aes"):
        enc = write_pdf(_pages(), pdf15=True, encrypt=mode)
        assert b"/ObjStm" in enc and b"/Encrypt" in enc
        assert b"secret page one" not in enc
        assert extract_document(enc, cfg)["spans"] == extract_document(plain, cfg)["spans"]
        locked = write_pdf(_pages(), pdf15=True, encrypt=mode, user_password="pw")
        with pytest.raises(UserError, match="password"):
            PdfDocument(locked)
        assert PdfDocument(locked, password="pw").page_count == 2


def test_aesv2_password_protection():
    enc = write_pdf(_pages(), encrypt="aes", user_password="hunter2")
    with pytest.raises(UserError, match="password"):
        PdfDocument(enc)
    doc = PdfDocument(enc, password="hunter2")
    assert doc.page_count == 2
    page = doc.load_page(0)
    assert any(it[0] == "text" and it[1] == "secret page one" for it in page.items)


def test_encrypted_pdf_roundtrip_matches_plaintext_spans():
    """The gate: an RC4-40 empty-user-password PDF must extract spans
    identical to its unencrypted twin (strings, streams, and image
    XObjects all decrypt)."""

    cfg = corpus_config()
    plain = write_pdf(_pages())
    enc = write_pdf(_pages(), encrypt=True)
    assert plain != enc and b"/Encrypt" in enc
    # content streams really are ciphertext (plaintext marker absent)
    assert b"secret page one" not in enc

    spans_plain = extract_document(plain, cfg)["spans"]
    spans_enc = extract_document(enc, cfg)["spans"]
    assert spans_enc == spans_plain
    assert any(s["kind"] == "text" for s in spans_enc)
    assert any(s["kind"] == "image" for s in spans_enc)


def test_password_protected_pdf_rejected_without_password():
    enc = write_pdf(_pages(), encrypt=True, user_password="hunter2")
    with pytest.raises(UserError, match="password"):
        PdfDocument(enc)
    # and opens WITH the password
    doc = PdfDocument(enc, password="hunter2")
    assert doc.page_count == 2
    page = doc.load_page(0)
    assert any(it[0] == "text" and it[1] == "secret page one" for it in page.items)


def test_encrypted_doc_is_error_lineage_row_not_stage_failure(spark):
    from pdf_toolkit_spark.corpus import make_document
    from pdf_toolkit_spark.spark.job import build_pipeline
    from pdf_toolkit_spark.spark.schema import DOCUMENTS_RAW_SCHEMA

    cfg = corpus_config()
    good = make_document(0, seed=42, mega_every=0)
    locked = write_pdf(_pages(), encrypt=True, user_password="nope")
    open_enc = write_pdf(_pages(), encrypt=True)  # empty user pw: readable
    rows = [
        ("ok", bytearray(good["pdf_bytes"]), good["n_pages"]),
        ("locked", bytearray(locked), 2),
        ("open-enc", bytearray(open_enc), 2),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_RAW_SCHEMA)
    spans_df, records_df = build_pipeline(spark, df, cfg)
    spans = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in spans_df.collect()}
    assert set(spans) == {"ok", "open-enc"}
    assert spans["open-enc"] == extract_document(open_enc, cfg)["spans"]
    errors = records_df.filter("status = 'error'").collect()
    assert {r["doc_id"] for r in errors} == {"locked"}
    assert "password" in errors[0]["lineage_json"]
