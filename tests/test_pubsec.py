"""Public-key security handler (pdfio/pubsec.py): DER/RSA/CMS unit
coverage plus the end-to-end invariant that an /Adobe.PubSec document
yields the same spans as its unencrypted twin, in both containers.

Reference parity: the reference opens certificate-encrypted PDFs via
PyMuPDF (reference render.py:89); here the CMS EnvelopedData lineage is
engine-owned per RFC 2315 / RFC 8017 / PDF 32000-1 §7.6.5.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_toolkit_spark.errors import UserError
from pdf_toolkit_spark.extract import extract_document
from pdf_toolkit_spark.pdfio.parser import PdfDocument
from pdf_toolkit_spark.pdfio.pubsec import (
    build_pubsec_decryptor,
    der_children,
    der_int,
    der_oid,
    der_read,
    fixture_keypair,
    make_recipient_blob,
    oid_str,
    open_recipient_blob,
    pubsec_file_key,
    rsa_decrypt_v15,
    rsa_encrypt_v15,
    rsa_keypair,
)
from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf


def _pages() -> list[PageSpec]:
    rng = np.random.default_rng(11)
    raster = rng.integers(235, 252, size=(120, 90)).astype(np.uint8)
    return [
        PageSpec(raster=raster, items=[
            ("text", "certificate secret", 20, 8),
            ("text", "second line", 60, 8),
        ]),
    ]


# ---------------------------------------------------------------------------
# DER layer
# ---------------------------------------------------------------------------

def test_der_int_edge_encodings():
    # X.690: minimal two's-complement, leading 0x00 only to clear sign
    assert der_int(0) == b"\x02\x01\x00"
    assert der_int(127) == b"\x02\x01\x7f"
    assert der_int(128) == b"\x02\x02\x00\x80"
    assert der_int(256) == b"\x02\x02\x01\x00"


def test_der_oid_roundtrip():
    for dotted in ("1.2.840.113549.1.7.3", "2.16.840.1.101.3.4.1.2", "2.5.4.3"):
        enc = der_oid(dotted)
        tag, body, _ = der_read(enc)
        assert tag == 0x06 and oid_str(body) == dotted


def test_der_long_form_length():
    payload = b"x" * 300
    from pdf_toolkit_spark.pdfio.pubsec import der

    enc = der(0x04, payload)
    tag, body, end = der_read(enc)
    assert tag == 0x04 and body == payload and end == len(enc)


def test_der_read_rejects_truncation():
    with pytest.raises(UserError):
        der_read(b"\x30\x05\x00")


# ---------------------------------------------------------------------------
# RSA
# ---------------------------------------------------------------------------

def test_rsa_keypair_is_deterministic_and_valid():
    n1, e1, d1 = rsa_keypair(seed=7, bits=512)
    n2, e2, d2 = rsa_keypair(seed=7, bits=512)
    assert (n1, e1, d1) == (n2, e2, d2)
    m = 0xDEADBEEF
    assert pow(pow(m, e1, n1), d1, n1) == m


def test_fixture_keypair_constants_are_the_default_derivation():
    """The stored fixture key is exactly what rsa_keypair() derives
    with its defaults (seed 0x50DF, 1024 bits)."""

    assert fixture_keypair() == rsa_keypair()
    n, e, d = fixture_keypair()
    assert n.bit_length() == 1024 and e == 65537
    assert pow(pow(0xC0FFEE, e, n), d, n) == 0xC0FFEE


def test_rsa_v15_roundtrip_and_wrong_key():
    n, e, d = rsa_keypair(seed=3, bits=512)
    msg = b"\x01\x02" + bytes(range(14))
    ct = rsa_encrypt_v15(n, e, msg)
    assert rsa_decrypt_v15(n, d, ct) == msg
    n2, _, d2 = rsa_keypair(seed=4, bits=512)
    assert rsa_decrypt_v15(n2, d2, ct) != msg  # wrong key never recovers
    # deterministic padding: same message -> same ciphertext (fixtures)
    assert rsa_encrypt_v15(n, e, msg) == ct


def test_rsa_v15_rejects_oversized_message():
    n, e, _ = rsa_keypair(seed=3, bits=512)
    with pytest.raises(UserError):
        rsa_encrypt_v15(n, e, b"x" * 64)


# ---------------------------------------------------------------------------
# CMS envelope
# ---------------------------------------------------------------------------

def test_recipient_blob_roundtrip():
    n, e, d = fixture_keypair()
    seed = bytes(range(20))
    blob = make_recipient_blob(n, e, seed, 0xFFFFFFFC, entropy=b"t1")
    msg = open_recipient_blob(blob, n, d)
    assert msg is not None
    assert msg[:20] == seed
    assert msg[20:] == b"\xff\xff\xff\xfc"


def test_recipient_blob_wrong_key_returns_none():
    n, e, _ = fixture_keypair()
    blob = make_recipient_blob(n, e, bytes(20), 0, entropy=b"t2")
    n2, _, d2 = rsa_keypair(seed=99, bits=1024)
    assert open_recipient_blob(blob, n2, d2) is None
    assert open_recipient_blob(b"\x30\x03\x02\x01\x00", n, 1) is None


def test_file_key_hashes_seed_and_blobs_in_order():
    import hashlib

    seed = bytes(20)
    blobs = [b"aaa", b"bbb"]
    want = hashlib.sha1(seed + b"aaabbb").digest()[:16]
    assert pubsec_file_key(seed, blobs, 16) == want
    nometa = hashlib.sha1(seed + b"aaabbb" + b"\xff" * 4).digest()[:16]
    assert pubsec_file_key(seed, blobs, 16, encrypt_metadata=False) == nometa


def test_build_pubsec_decryptor_validates_dict():
    with pytest.raises(UserError):
        build_pubsec_decryptor({"SubFilter": "adbe.pkcs7.s3"})
    with pytest.raises(UserError):
        build_pubsec_decryptor({
            "SubFilter": "adbe.pkcs7.s5",
            "StmF": "DefaultCryptFilter",
            "CF": {"DefaultCryptFilter": {"CFM": "V2", "Recipients": [b"x"]}},
        })


# ---------------------------------------------------------------------------
# End-to-end through writer + parser + extractor
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("pdf15", [False, True])
def test_pubkey_pdf_roundtrips_spans(pdf15):
    pages = _pages()
    plain = extract_document(write_pdf(pages, pdf15=pdf15))["spans"]
    enc_pdf = write_pdf(pages, pdf15=pdf15, encrypt="pubkey")
    assert b"Adobe.PubSec" in enc_pdf
    assert b"certificate secret" not in enc_pdf
    got = extract_document(enc_pdf)["spans"]
    assert [(s["kind"], s["text"], s["offset"]) for s in got] == [
        (s["kind"], s["text"], s["offset"]) for s in plain
    ]


def test_pubkey_pdf_without_matching_key_is_clean_error(monkeypatch):
    import pdf_toolkit_spark.pdfio.pubsec as pubsec

    enc_pdf = write_pdf(_pages(), encrypt="pubkey")
    other = rsa_keypair(seed=1234, bits=1024)
    monkeypatch.setattr(pubsec, "_FIXTURE_KEY", other)
    with pytest.raises(UserError, match="no /Recipients entry"):
        PdfDocument(enc_pdf)
