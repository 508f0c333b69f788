"""JPEG 2000 (T.800) codec: DWT reversibility (5/3 exact, 9/7
numeric), Tier-1 / Tier-2 / codestream round-trips across content
classes, sizes and level counts (lossless bit-exact; lossy 9/7
bounded by the quantization step, both derived and expounded QCD),
the JP2 container unwrap, the /JPXDecode XObject path end-to-end
under the serial extractor, and graceful rejection of the remaining
unsupported corners (multi-component N!=1,3, inconsistent
transform/QCD signalling)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pdf_toolkit_spark.errors import UserError
from pdf_toolkit_spark.pdfio.jpx import (
    decode_jpx,
    decode_jpx_pdf,
    dwt53_forward,
    dwt53_inverse,
    encode_jpx,
    t1_decode,
    t1_encode,
)
from pdf_toolkit_spark.pdfio.parser import PdfDocument

RNG = np.random.default_rng(7)


def _cases() -> dict[str, np.ndarray]:
    grad = (np.add.outer(np.arange(40), np.arange(33)) % 256).astype(np.uint8)
    page = np.full((90, 120), 235, np.uint8)
    page[10:14, 8:100] = 20
    page[30:80:4, 15:105] = 35
    page[70:85, 90:115] = 0
    return {
        "flat": np.full((16, 16), 200, np.uint8),
        "gradient": grad,
        "noise": RNG.integers(0, 256, (70, 65), dtype=np.uint8),
        "text_page": page,
        "bilevel": (RNG.random((100, 140)) > 0.5).astype(np.uint8) * 255,
        "tiny": RNG.integers(0, 256, (3, 5), dtype=np.uint8),
        "one_px": RNG.integers(0, 256, (1, 1), dtype=np.uint8),
        "multi_block": RNG.integers(0, 256, (130, 200), dtype=np.uint8),
        "wide": RNG.integers(0, 256, (5, 300), dtype=np.uint8),
        "tall": RNG.integers(0, 256, (300, 5), dtype=np.uint8),
    }


@pytest.mark.parametrize("levels", [0, 1, 2, 3])
def test_dwt53_reversible(levels):
    for name, img in _cases().items():
        x = img.astype(np.int64) - 128
        lv = min(levels, 5)
        ll, bands = dwt53_forward(x, lv)
        back = dwt53_inverse(ll, bands)
        assert np.array_equal(back, x), (name, levels)


def test_dwt53_band_shapes():
    """Band extents follow the ceil/floor halving of T.800 B.5."""

    ll, bands = dwt53_forward(np.zeros((97, 131), np.int64), 2)
    (hl2, lh2, hh2), (hl1, lh1, hh1) = bands
    assert hl1.shape == (49, 65) and lh1.shape == (48, 66)
    assert hh1.shape == (48, 65)
    assert ll.shape == (25, 33) and hl2.shape == (25, 33)
    assert lh2.shape == (24, 33) and hh2.shape == (24, 33)


#: (code-block style, segsym) pairs: each Table A.19 mode alone, all
#: of them together, with and without segmentation symbols
_T1_MODES = [
    (style, segsym)
    for style in (0, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F)
    for segsym in (False, True)
]


@pytest.mark.parametrize(
    "orient,style,segsym",
    [
        pytest.param(
            orient, style, segsym,
            id=str(orient) if (style, segsym) == (0, False)
            else f"{orient}-{style:#04x}" + ("-segsym" if segsym else ""),
        )
        for orient in range(4)
        for style, segsym in _T1_MODES
    ],
)
def test_tier1_roundtrip(orient, style, segsym):
    """Heights 5, 7 and 10 end in a partial stripe (causal mode); the
    +-500 magnitudes give over 10 passes, so bypass reaches raw ones."""

    rng = np.random.default_rng(13 + orient)
    for shape in ((4, 4), (7, 3), (64, 64), (10, 64), (1, 1), (5, 1)):
        coeffs = rng.integers(-500, 501, shape).astype(np.int32)
        seg, npasses, numbps = t1_encode(coeffs, orient, style, segsym)
        out = t1_decode(seg, *shape, orient, numbps, npasses, style, segsym)
        assert np.array_equal(out, coeffs), (orient, shape)


def test_tier1_all_zero_block():
    seg, npasses, numbps = t1_encode(np.zeros((8, 8), np.int32), 0)
    assert seg == b"" and npasses == 0 and numbps == 0


def test_tier1_sparse_block():
    """One hot coefficient exercises the run-length interrupt path."""

    coeffs = np.zeros((64, 64), np.int32)
    coeffs[37, 22] = -9
    seg, npasses, numbps = t1_encode(coeffs, 3)
    assert np.array_equal(t1_decode(seg, 64, 64, 3, numbps, npasses), coeffs)


def test_tier1_missing_segment_fails_closed():
    """A TERMALL block is one codeword segment per pass; one fewer
    than its passes need raises instead of decoding from nothing."""

    coeffs = np.random.default_rng(3).integers(-500, 501, (16, 16))
    segs, npasses, numbps = t1_encode(coeffs.astype(np.int32), 0, 0x04)
    assert len(segs) == npasses
    with pytest.raises(UserError, match="missing codeword segment"):
        t1_decode(segs[:-1], 16, 16, 0, numbps, npasses, 0x04)


def test_tier1_truncated_raw_segment_fails_closed():
    """In bypass mode (style 0x01) the first raw segment follows the
    first MQ segment. Cut to half its bytes, it runs out of bits long
    before its passes end: the decoder raises instead of reading
    0-bits past the end."""

    coeffs = np.random.default_rng(7).integers(-500, 501, (32, 32))
    segs, npasses, numbps = t1_encode(coeffs.astype(np.int32), 0, 0x01)
    assert np.array_equal(t1_decode(segs, 32, 32, 0, numbps, npasses, 0x01), coeffs)
    cut = [segs[0], segs[1][: len(segs[1]) // 2], *segs[2:]]
    with pytest.raises(UserError, match="raw segment exhausted"):
        t1_decode(cut, 32, 32, 0, numbps, npasses, 0x01)


def test_tier1_segsym_mismatch_fails_closed():
    coeffs = np.random.default_rng(0).integers(-500, 501, (16, 16))
    seg, npasses, numbps = t1_encode(coeffs.astype(np.int32), 0)
    with pytest.raises(UserError, match="segmentation symbol mismatch"):
        t1_decode(seg, 16, 16, 0, numbps, npasses, segsym=True)


def _gray48() -> np.ndarray:
    return np.random.default_rng(5).integers(0, 256, (48, 48), dtype=np.uint8)


def test_encoder_more_than_31_bitplanes_fails_closed():
    """Coefficients are int32: the ROI upshift of qstep=1/256 band
    values needs more than 31 magnitude bitplanes, which is refused
    instead of wrapping to wrong pixels."""

    with pytest.raises(UserError, match="31 bitplanes"):
        encode_jpx(_gray48(), 2, irreversible=True, qstep=1 / 256, roi=True)


def test_decoder_more_than_31_bitplanes_fails_closed():
    """An RGN maxshift of 40 (Crgn=0, Srgn=0) declares 40 more
    bitplanes than the blocks carry: refused, not decoded to int32
    garbage."""

    cs = encode_jpx(_gray48(), 1)
    at = cs.find(b"\xff\x90")  # first SOT ends the main header
    rgn = b"\xff\x5e\x00\x05\x00\x00\x28"
    with pytest.raises(UserError, match="31 magnitude bitplanes"):
        decode_jpx(cs[:at] + rgn + cs[at:])


@pytest.mark.parametrize("levels", [0, 1, 2])
def test_codestream_roundtrip(levels):
    for name, img in _cases().items():
        cs = encode_jpx(img, levels=levels)
        assert cs[:2] == b"\xff\x4f" and cs[-2:] == b"\xff\xd9"
        out = decode_jpx(cs)
        assert out.dtype == np.uint8 and np.array_equal(out, img), (name, levels)


@pytest.mark.parametrize("levels", [3, 5])
def test_codestream_roundtrip_deep_levels(levels):
    for name in ("gradient", "wide", "tall"):
        img = _cases()[name]
        out = decode_jpx(encode_jpx(img, levels=levels))
        assert np.array_equal(out, img), (name, levels)


def test_codestream_compresses_structure():
    """Lossless, but still a codec: structured pages shrink."""

    img = _cases()["text_page"]
    assert len(encode_jpx(img, levels=2)) < img.size // 2


def test_jp2_container_unwrap():
    img = _cases()["gradient"]
    cs = encode_jpx(img, levels=1)
    boxes = (
        struct.pack(">I4s", 12, b"jP  ") + b"\r\n\x87\n"
        + struct.pack(">I4s", 8 + 4, b"ftyp") + b"jp2 "
        + struct.pack(">I4s", 8 + len(cs), b"jp2c") + cs
    )
    assert np.array_equal(decode_jpx_pdf(boxes), img)
    assert np.array_equal(decode_jpx_pdf(cs), img)  # raw codestream too
    with pytest.raises(UserError):
        decode_jpx_pdf(b"\x00\x00\x00\x0cjP  \r\n\x87\n")  # no jp2c


def test_unsupported_profiles_raise():
    cs = bytearray(encode_jpx(_cases()["flat"], levels=1))
    # patch Csiz (2 components) inside SIZ: SOC(2) + marker(2)+len(2)
    # + 34 bytes to Csiz
    multi = bytes(cs[: 2 + 4 + 34]) + b"\x00\x02" + bytes(cs[2 + 4 + 36 :])
    with pytest.raises(UserError):
        decode_jpx(multi)
    cod_at = bytes(cs).find(b"\xff\x52")
    irrev = bytearray(cs)
    irrev[cod_at + 2 + 2 + 9] = 0  # SPcod transform byte -> 9/7
    with pytest.raises(UserError):
        decode_jpx(bytes(irrev))
    with pytest.raises(UserError):
        decode_jpx(b"\x00\x00")  # no SOC
    with pytest.raises(UserError):
        decode_jpx_pdf(b"not a codestream at all")


def test_jpx_xobject_extracts_end_to_end():
    """A jpx-codec corpus doc decodes through the full parser path
    bit-exact (the 5/3 transform is reversible, so unlike DCT the
    decoded raster must EQUAL the page raster)."""

    from pdf_toolkit_spark.corpus import make_document
    from pdf_toolkit_spark.extract import extract_document

    doc = make_document(9, seed=42, mega_every=0, jpeg_every=3)  # k=3 -> jpx
    assert b"JPXDecode" in doc["pdf_bytes"]
    spans = extract_document(doc["pdf_bytes"])["spans"]
    assert len(spans) > 0

    page = PdfDocument(doc["pdf_bytes"]).load_page(0)
    assert page.scan is not None, "jpx raster did not decode"


def test_jpx_raster_bit_exact_through_parser():
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = _cases()["text_page"]
    page = PageSpec(raster=raster, codec="jpx")
    pdf_bytes = write_pdf([page])
    assert b"JPXDecode" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert parsed.scan is not None
    assert np.array_equal(parsed.scan, raster)


RGB_RNG = np.random.default_rng(21)


@pytest.mark.parametrize("levels", [0, 1, 2])
def test_rgb_roundtrip_with_rct(levels):
    cases = {
        "noise": RGB_RNG.integers(0, 256, (50, 60, 3), dtype=np.uint8),
        "flat": np.full((16, 16, 3), (10, 200, 90), np.uint8),
        "tiny": RGB_RNG.integers(0, 256, (2, 3, 3), dtype=np.uint8),
    }
    for name, rgb in cases.items():
        cs = encode_jpx(rgb, levels=levels)
        out = decode_jpx(cs)
        assert out.shape == rgb.shape and np.array_equal(out, rgb), (name, levels)


def test_rgb_and_gray_streams_coexist():
    """Adding RGB support must not change gray bitstreams: Mb now
    derives from the PARSED QCD exponents, same values as before."""

    img = _cases()["gradient"]
    cs = encode_jpx(img, levels=2)
    assert decode_jpx(cs).ndim == 2
    rgb = np.stack([img] * 3, axis=-1)
    assert decode_jpx(encode_jpx(rgb, levels=2)).shape == rgb.shape


def test_rgb_jpx_xobject_through_parser():
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = RGB_RNG.integers(0, 256, (40, 55, 3), dtype=np.uint8)
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpx")])
    assert b"JPXDecode" in pdf_bytes and b"DeviceRGB" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert parsed.scan is not None and parsed.scan.ndim == 3
    assert np.array_equal(parsed.scan, raster)  # RCT is reversible
    # and the jpx page parses identically to its lossless flate twin
    flate = PdfDocument(
        write_pdf([PageSpec(raster=raster, codec="flate")])
    ).load_page(0)
    assert np.array_equal(parsed.scan, flate.scan)


def test_corrupt_streams_fail_closed():
    """Truncation/garbage must raise UserError (missing raster), never
    crash, hang, or return wrong pixels."""

    img = _cases()["gradient"]
    cs = encode_jpx(img, levels=2)
    for cut in (3, 10, len(cs) // 2, len(cs) - 3):
        try:
            out = decode_jpx(cs[:cut])
            # a truncated MQ stream can still decode structurally (the
            # coder pads with 0xFF) — if it does, shape must be right
            assert out.shape == img.shape
        except (UserError, Exception) as e:
            assert not isinstance(e, (MemoryError, RecursionError))
    flipped = bytearray(cs)
    flipped[len(cs) // 3] ^= 0xFF
    try:
        decode_jpx(bytes(flipped))
    except Exception as e:
        assert not isinstance(e, (MemoryError, RecursionError))


@pytest.mark.parametrize("levels", [0, 1, 2, 3])
def test_dwt97_numerically_invertible(levels):
    from pdf_toolkit_spark.pdfio.jpx import dwt97_forward, dwt97_inverse

    for name, img in _cases().items():
        x = img.astype(np.float64) - 128
        ll, bands = dwt97_forward(x, levels)
        back = dwt97_inverse(ll, bands)
        assert np.abs(back - x).max() < 1e-9, (name, levels)


@pytest.mark.parametrize("style", ["expounded", "derived"])
@pytest.mark.parametrize("levels", [0, 1, 2, 3])
def test_97_codestream_roundtrip_bounded(style, levels):
    """Lossy 9/7 path: reconstruction error is bounded by the
    quantization step (Annex E midpoint reconstruction; the wavelet
    itself contributes <1e-9). At qstep=1/64 the coarsest band step is
    2^(8-14)*... ~ a few LSBs of headroom -> pixel error <= 2."""

    for name in ("flat", "gradient", "text_page", "noise", "tiny",
                 "one_px", "wide", "tall"):
        img = _cases()[name]
        cs = encode_jpx(img, levels=levels, irreversible=True,
                        qstep=1.0 / 64, qcd_style=style)
        out = decode_jpx(cs)
        assert out.shape == img.shape and out.dtype == np.uint8
        err = np.abs(out.astype(int) - img.astype(int)).max()
        assert err <= 2, (name, levels, style, err)


@pytest.mark.parametrize("style", ["expounded", "derived"])
def test_97_rgb_roundtrip_with_ict(style):
    rgb = RGB_RNG.integers(0, 256, (50, 60, 3), dtype=np.uint8)
    cs = encode_jpx(rgb, levels=2, irreversible=True,
                    qstep=1.0 / 64, qcd_style=style)
    out = decode_jpx(cs)
    assert out.shape == rgb.shape
    # ICT is float and the chroma quantization spreads across channels
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 3, style


def test_97_coarser_step_degrades_gracefully():
    """A coarser step still reconstructs within its own bound and
    produces a smaller codestream than the fine step."""

    img = _cases()["noise"]
    fine = encode_jpx(img, levels=2, irreversible=True, qstep=1.0 / 64)
    coarse = encode_jpx(img, levels=2, irreversible=True, qstep=1.0 / 4)
    assert len(coarse) < len(fine)
    out = decode_jpx(coarse)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 32


def test_97_inconsistent_signalling_raises():
    """9/7 with a no-quantization QCD (and 5/3 with a quantized QCD)
    are inconsistent codestreams: fail closed, never wrong pixels."""

    img = _cases()["flat"]
    lossless = bytearray(encode_jpx(img, levels=1))
    cod_at = bytes(lossless).find(b"\xff\x52")
    lossless[cod_at + 2 + 2 + 9] = 0  # transform byte -> 9/7
    with pytest.raises(UserError):
        decode_jpx(bytes(lossless))
    lossy = bytearray(encode_jpx(img, levels=1, irreversible=True))
    cod_at = bytes(lossy).find(b"\xff\x52")
    lossy[cod_at + 2 + 2 + 9] = 1  # transform byte -> 5/3
    with pytest.raises(UserError):
        decode_jpx(bytes(lossy))


def test_jpx97_raster_through_parser_bounded():
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = _cases()["text_page"]
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpx97")])
    assert b"JPXDecode" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert parsed.scan is not None
    assert np.abs(parsed.scan.astype(int) - raster.astype(int)).max() <= 4


def test_jpx97_corpus_doc_extracts_end_to_end():
    """A lossy-9/7 corpus doc (codec-cycle slot 4) runs the whole
    serial pipeline; the decoded raster drives the same kernels."""

    from pdf_toolkit_spark.corpus import make_document
    from pdf_toolkit_spark.extract import extract_document

    doc = make_document(12, seed=42, mega_every=0, jpeg_every=3)
    assert b"JPXDecode" in doc["pdf_bytes"]
    spans = extract_document(doc["pdf_bytes"])["spans"]
    assert len(spans) > 0
    page = PdfDocument(doc["pdf_bytes"]).load_page(0)
    assert page.scan is not None, "lossy jpx raster did not decode"


def test_npasses_codec_roundtrip_all_branches():
    """T.800 Table B.4 pass-count codec: every value 1..80 round-trips
    through encode/decode — in particular n=6, which belongs to the
    '1111'+5-bit branch, not the 2-bit one (a '11'+'11' encoding would
    desync the packet header if pass layering ever changes)."""

    from pdf_toolkit_spark.pdfio.jpx import (
        _BitReader,
        _BitWriter,
        _decode_npasses,
        _encode_npasses,
    )

    for n in range(1, 81):
        bw = _BitWriter()
        _encode_npasses(bw, n)
        bw.put_bits(0, 16)
        assert _decode_npasses(_BitReader(bytes(bw.buf))) == n


# ---------------------------------------------------------------------------
# Multi-tile grids (T.800 B.3: tiles in raster order, one SOT/SOD each)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("shape", [(96, 160), (100, 130), (64, 64), (130, 67)])
def test_multitile_lossless_bit_exact(shape):
    """Tiled 5/3 codestreams (incl. partial edge tiles) reconstruct
    bit-exactly — each tile decodes independently and composes into
    the canvas at its raster-order grid position."""

    img = RNG.integers(0, 256, shape, dtype=np.uint8)
    enc = encode_jpx(img, 2, tile_size=64)
    assert enc.count(b"\xff\x90") == -(-shape[0] // 64) * -(-shape[1] // 64)
    assert np.array_equal(decode_jpx(enc), img)


def test_multitile_rgb_and_lossy_bounded():
    img = RNG.integers(0, 256, (100, 130, 3), dtype=np.uint8)
    assert np.array_equal(decode_jpx(encode_jpx(img, 2, tile_size=64)), img)
    dec = decode_jpx(
        encode_jpx(img, 2, tile_size=64, irreversible=True, qstep=1.0 / 16)
    )
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4


def test_multitile_matches_single_tile_pixels():
    """Lossless tiling is a pure container change: tiled and untiled
    streams of the same image decode to identical pixels."""

    img = (np.add.outer(np.arange(96), np.arange(128)) % 251).astype(np.uint8)
    assert np.array_equal(
        decode_jpx(encode_jpx(img, 3, tile_size=32)),
        decode_jpx(encode_jpx(img, 3)),
    )


def test_multitile_validation():
    img = RNG.integers(0, 256, (64, 64), dtype=np.uint8)
    with pytest.raises(UserError):  # 20 is not a multiple of 2^3
        encode_jpx(img, 3, tile_size=20)
    # decoder rejects a grid whose tile size breaks 2^levels alignment
    enc = bytearray(encode_jpx(img, 2, tile_size=32))
    sizpos = enc.find(b"\xff\x51")
    # XTsiz sits at +22 from the marker (Lsiz Rsiz Xsiz Ysiz XOsiz YOsiz)
    assert struct.unpack(">I", enc[sizpos + 22 : sizpos + 26])[0] == 32
    enc[sizpos + 22 : sizpos + 26] = struct.pack(">I", 30)
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))
    # zero tile dimension fails closed, not ZeroDivisionError
    enc[sizpos + 22 : sizpos + 26] = struct.pack(">I", 0)
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))


def test_multitile_missing_tile_fails_closed():
    img = RNG.integers(0, 256, (96, 96), dtype=np.uint8)
    enc = encode_jpx(img, 2, tile_size=64)
    # truncate after the first tile: drop everything from the 2nd SOT
    second_sot = enc.find(b"\xff\x90", enc.find(b"\xff\x90") + 2)
    with pytest.raises(UserError):
        decode_jpx(enc[:second_sot] + b"\xff\xd9")


def test_tiled_jpx_xobject_through_parser():
    """A tiled lossless /JPXDecode image round-trips bit-exactly
    through the writer + parser (the writer tiles rasters > 64 px)."""

    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = RNG.integers(0, 256, (90, 120), dtype=np.uint8)
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpx")])
    assert b"JPXDecode" in pdf_bytes
    page = PdfDocument(pdf_bytes).load_page(0)
    assert page.scan is not None
    assert np.array_equal(page.scan, raster)


def test_semantic_marker_segments_fail_closed():
    """COC/QCC/RGN/POC/PPM change how packets decode; silently skipping
    them would emit wrong pixels. They must raise. Informational
    segments (COM, TLM) still skip cleanly."""

    img = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    base = encode_jpx(img, 2)
    sot = base.find(b"\xff\x90")
    for marker, body in [
        (b"\xff\x53", b"\x00\x01\x00"),          # COC
        (b"\xff\x5d", b"\x00\x40"),              # QCC: truncated exps
        (b"\xff\x5e", b"\x00\x01\x00"),          # RGN: non-maxshift style
        (b"\xff\x5f", b"\x00\x00\x00\x00\x00\x00\x00"),  # POC
        (b"\xff\x60", b"\x00"),                  # PPM: empty/truncated
    ]:
        seg = marker + struct.pack(">H", 2 + len(body)) + body
        with pytest.raises(UserError):
            decode_jpx(base[:sot] + seg + base[sot:])
    # COM (comment) and TLM (tile lengths) are informational: skipped
    com = b"\xff\x64" + struct.pack(">H", 2 + 2 + 5) + b"\x00\x01hello"
    tlm = b"\xff\x55" + struct.pack(">H", 2 + 4) + b"\x00\x60\x00\x00"
    assert np.array_equal(
        decode_jpx(base[:sot] + com + tlm + base[sot:]), img
    )


# ---------------------------------------------------------------------------
# Quality layers (T.800 B.8/B.10: per-layer packets, persistent Tier-2 state)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("layers", [2, 3, 5, 8])
def test_multilayer_lossless_bit_exact(layers):
    """Coding passes split across LRCP layers at MQ settled watermarks
    concatenate back to the single-layer stream — pixels identical."""

    img = RNG.integers(0, 256, (70, 90), dtype=np.uint8)
    img[:30] = 210
    assert np.array_equal(decode_jpx(encode_jpx(img, 2, layers=layers)), img)


def test_multilayer_rgb_lossy_and_tiled():
    img = RNG.integers(0, 256, (60, 70, 3), dtype=np.uint8)
    assert np.array_equal(decode_jpx(encode_jpx(img, 2, layers=3)), img)
    g = RNG.integers(0, 256, (70, 90), dtype=np.uint8)
    lossy = decode_jpx(encode_jpx(g, 2, layers=4, irreversible=True, qstep=1 / 16))
    lossy1 = decode_jpx(encode_jpx(g, 2, layers=1, irreversible=True, qstep=1 / 16))
    assert np.array_equal(lossy, lossy1)  # layering never changes pixels
    assert np.array_equal(decode_jpx(encode_jpx(g, 2, layers=3, tile_size=32)), g)


def test_multilayer_late_first_inclusion():
    """Blocks with fewer passes than layers first contribute in a late
    layer: the inclusion tag tree must keep signalling 'not yet' until
    then, and empty packets must not advance it."""

    img = np.full((40, 40), 200, np.uint8)
    img[5, 7] = 201
    img[30, 33] = 199
    assert np.array_equal(decode_jpx(encode_jpx(img, 2, layers=8)), img)
    flat = np.full((33, 17), 128, np.uint8)
    assert np.array_equal(decode_jpx(encode_jpx(flat, 2, layers=4)), flat)


def test_progression_orders():
    """Single-component single-layer streams decode identically under
    all five progressions (packet order coincides, so the SGcod byte
    can be flipped in place); unknown progression codes fail closed."""

    g = RNG.integers(0, 256, (30, 40), dtype=np.uint8)
    enc = bytearray(encode_jpx(g, 2))
    cod_at = bytes(enc).find(b"\xff\x52")
    assert enc[cod_at + 5] == 0  # SGcod progression byte
    for prog in (1, 2, 3, 4):
        enc[cod_at + 5] = prog
        assert np.array_equal(decode_jpx(bytes(enc)), g), prog
    rgb = bytearray(encode_jpx(RNG.integers(0, 256, (20, 20, 3), dtype=np.uint8), 1))
    c = bytes(rgb).find(b"\xff\x52")
    rgb[c + 5] = 5
    with pytest.raises(UserError):
        decode_jpx(bytes(rgb))


def test_component_major_progressions_multicomponent():
    """PCRL/CPRL multi-component: the encoder interleaves packets
    component-major ((c,r,l) with whole-band precincts) and the
    decoder reassigns them; multi-layer so packet ORDER, not just
    count, differs from LRCP."""

    rgb = RNG.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    base = encode_jpx(rgb, 2, layers=3)
    for prog in ("pcrl", "cprl"):
        enc = encode_jpx(rgb, 2, layers=3, prog=prog)
        assert enc != base  # genuinely different packet order
        assert np.array_equal(decode_jpx(enc), rgb), prog
    # lossy + tiled + component-major together
    enc = encode_jpx(
        rgb[:32, :32], 2, irreversible=True, layers=2, prog="cprl",
        tile_size=16,
    )
    out = decode_jpx(enc)
    assert np.abs(out.astype(int) - rgb[:32, :32].astype(int)).max() <= 8


@pytest.mark.parametrize("cb", [4, (4, 6), (8, 4), 2])
def test_code_block_sizes_roundtrip(cb):
    """Non-default (incl. rectangular) code-block sizes round-trip
    bit-exact; the COD SPcod bytes signal xcb-2/ycb-2."""

    g = RNG.integers(0, 256, (61, 83), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (44, 52, 3), dtype=np.uint8)
    for src in (g, rgb):
        enc = encode_jpx(src, 3, cb_exp=cb)
        xcb, ycb = (cb, cb) if isinstance(cb, int) else cb
        cod_at = enc.find(b"\xff\x52")
        assert enc[cod_at + 10] == xcb - 2 and enc[cod_at + 11] == ycb - 2
        assert np.array_equal(decode_jpx(enc), src)


def test_coc_per_component_code_blocks():
    """COC marker segments (T.800 A.6.2) override code-block geometry
    per component — the luma/chroma split production encoders emit —
    and round-trip bit-exact, composed with layers / progressions /
    tiles."""

    rgb = RNG.integers(0, 256, (70, 90, 3), dtype=np.uint8)
    enc = encode_jpx(rgb, 3, coc_cb={1: 4, 2: (4, 6)})
    assert enc.count(b"\xff\x53") >= 2
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(rgb, 2, layers=3, prog="cprl", coc_cb={0: 5})
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(rgb[:64, :64], 2, coc_cb={2: 4}, tile_size=32)
    assert np.array_equal(decode_jpx(enc), rgb[:64, :64])
    lossy = encode_jpx(rgb, 2, irreversible=True, coc_cb={1: 4, 2: 4})
    out = decode_jpx(lossy)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8


def test_coc_overrides_fail_closed():
    """COC overrides are honoured per component, so what fails closed
    is INCOHERENCE, not the override itself: a wavelet split under
    MCT, a depth the quantization tables don't cover, a precinct flag
    without its bytes, out-of-range exponents, reserved flags."""

    rgb = RNG.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    with pytest.raises(UserError):
        encode_jpx(rgb, 1, coc_cb={3: 4})
    with pytest.raises(UserError):
        encode_jpx(rgb, 1, coc_cb={0: (8, 8)})
    enc = bytearray(encode_jpx(rgb, 2, coc_cb={1: 4}))
    at = bytes(enc).find(b"\xff\x53")
    # COC layout: FF53 Lcoc(2) Ccoc(+4) Scoc(+5) SPcoc levels(+6)
    # xcb(+7) ycb(+8) style(+9) wavelet(+10)
    for off, val in (
        (10, 0),   # 9/7 override under MCT + no-quant QCD: incoherent
        (6, 3),    # deeper than the signalled QCD band list
        (5, 2),    # reserved Scoc flag
        (5, 1),    # precinct flag without the per-resolution bytes
        (7, 9),    # xcb exponent 11: out of range
        (9, 0x40), # reserved code-block style bit
        (6, 6),    # more than 5 decomposition levels
    ):
        orig = enc[at + off]
        enc[at + off] = val
        with pytest.raises(UserError):
            decode_jpx(bytes(enc))
        enc[at + off] = orig
    assert np.array_equal(decode_jpx(bytes(enc)), rgb)  # restored


def test_coc_full_overrides_roundtrip():
    """Every SPcod field can differ per component (T.800 A.6.2) and
    round-trips: decomposition depth, code-block style, precinct
    partition, wavelet (untransformed components), and compositions
    with tiles / layers / progressions / subsampling / ROI / POC."""

    rgb = RNG.integers(0, 256, (64, 96, 3), dtype=np.uint8)
    # per-component depth (the luma/chroma split production encoders
    # emit), composed with position-major progressions and precincts
    enc = encode_jpx(rgb, 3, coc={1: {"levels": 2}, 2: {"levels": 1}})
    assert enc.count(b"\xff\x53") == 2
    assert np.array_equal(decode_jpx(enc), rgb)
    for prog in ("rpcl", "pcrl", "cprl"):
        enc = encode_jpx(
            rgb, 3, prog=prog, precincts=5, coc={2: {"levels": 2, "cb": 4}}
        )
        assert np.array_equal(decode_jpx(enc), rgb), prog
    # per-component code-block style: styled luma, plain chroma
    enc = encode_jpx(rgb, 2, coc={0: {"style": 0x01 | 0x08}})
    assert np.array_equal(decode_jpx(enc), rgb)
    # per-component precinct partition
    enc = encode_jpx(rgb, 2, precincts=6, coc={1: {"precincts": 5}})
    assert np.array_equal(decode_jpx(enc), rgb)
    # tiles / layers / POC composed with mixed depths
    enc = encode_jpx(rgb, 2, tile_size=32, coc={1: {"levels": 1}})
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(rgb, 3, layers=4, coc={1: {"levels": 2}})
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(
        rgb, 2, coc={1: {"levels": 1}},
        poc=[(0, 0, 1, 3, 3, "rlcp"), (0, 0, 1, 3, 3, "cprl")],
    )
    assert np.array_equal(decode_jpx(enc), rgb)


def test_coc_mixed_wavelets_no_mct():
    """A per-component wavelet split (reversible luma, 9/7 chroma —
    the archival-text shape) is legal without the component transform:
    the 5/3 plane reconstructs bit-exactly while the 9/7 planes stay
    quantization-bounded. Under MCT the same split fails closed."""

    rgb = RNG.integers(0, 256, (44, 52, 3), dtype=np.uint8)
    enc = encode_jpx(
        rgb, 2, no_mct=True, qstep=1.0 / 32,
        coc={1: {"reversible": False}, 2: {"reversible": False}},
    )
    out = decode_jpx(enc)
    assert np.array_equal(out[..., 0], rgb[..., 0])
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8
    # same split without no_mct: encoder refuses, and a hand-built
    # stream with MCT set + mixed wavelets fails closed on decode
    with pytest.raises(UserError):
        encode_jpx(rgb, 2, coc={1: {"reversible": False}})
    cod_at = enc.find(b"\xff\x52")
    bad = bytearray(enc)
    bad[cod_at + 8] = 1  # SGcod MCT flag on
    with pytest.raises(UserError):
        decode_jpx(bytes(bad))


def test_subsampling_with_precincts_and_roi():
    """Chroma subsampling composes with explicit precincts and ROI
    now that packets enumerate per component: precinct anchors
    project through the sampling factors (B.12), ROI shifts apply on
    the decimated chroma bands."""

    rgb = RNG.integers(0, 256, (64, 96, 3), dtype=np.uint8)
    for sub in ("420", "422"):
        base = decode_jpx(encode_jpx(rgb, 2, subsample=sub))
        enc = encode_jpx(rgb, 2, subsample=sub, precincts=5)
        assert np.array_equal(decode_jpx(enc), base)
        enc = encode_jpx(rgb, 2, subsample=sub, precincts=4, prog="rpcl")
        assert np.array_equal(decode_jpx(enc), base)
        enc = encode_jpx(rgb, 2, subsample=sub, roi=True)
        assert np.array_equal(decode_jpx(enc), base)
        # precincts repartition packets but never change coefficients:
        # the lossy reconstruction is bit-identical with and without
        lossy_base = decode_jpx(encode_jpx(
            rgb, 2, subsample=sub, irreversible=True, qstep=1.0 / 32,
        ))
        lossy = encode_jpx(
            rgb, 2, subsample=sub, precincts=5, irreversible=True,
            qstep=1.0 / 32,
        )
        assert np.array_equal(decode_jpx(lossy), lossy_base)


def test_precinct_layout_geometry():
    """_precinct_layout partitions the resolution grid per T.800 B.6:
    precinct counts follow the resolution dims, code-blocks are
    clamped to the precinct and never straddle its boundary."""

    from pdf_toolkit_spark.pdfio.jpx import _precinct_layout

    lay = _precinct_layout(129, 200, 3, [(4, 4)] * 4, 6, 6)
    # r=0: res grid ceil(200/8) x ceil(129/8) = 25 x 17, PP=16 -> 2x2
    assert lay[0]["n"] == 4
    # r=3: res grid 200 x 129, PP=16 -> 13 x 9 precincts
    assert lay[3]["n"] == 13 * 9
    for r, entry in enumerate(lay):
        shift = 0 if r == 0 else 1
        for (orient, nb), cells in entry["bands"].items():
            assert len(cells) == entry["n"]
            seen = set()
            for p, blocks in enumerate(cells):
                nx, ny = entry["grid"][(orient, nb)][p]
                assert len(blocks) == nx * ny
                for y0, x0, ch, cw, by, bx in blocks:
                    assert ch > 0 and cw > 0
                    # clamped block fits inside one precinct
                    bpw = 1 << (4 - shift)
                    assert x0 // bpw == (x0 + cw - 1) // bpw
                    assert y0 // bpw == (y0 + ch - 1) // bpw
                    assert (by, bx) not in seen
                    seen.add((by, bx))


@pytest.mark.parametrize("prec", [6, (6, 5), "per_res"])
def test_precinct_roundtrip(prec):
    """Explicit precinct streams round-trip bit-exact, gray and RGB,
    across layer counts."""

    if prec == "per_res":
        prec = [(7, 7), (6, 6), (6, 6), (5, 5)]
    g = RNG.integers(0, 256, (100, 140), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (70, 90, 3), dtype=np.uint8)
    for src in (g, rgb):
        enc = encode_jpx(src, 3, precincts=prec)
        cod_at = enc.find(b"\xff\x52")
        assert enc[cod_at + 4] & 1  # Scod precinct flag
        assert np.array_equal(decode_jpx(enc), src)
        enc = encode_jpx(src, 3, precincts=prec, layers=3)
        assert np.array_equal(decode_jpx(enc), src)


def test_precinct_block_clamp():
    """Small precincts clamp the code-block geometry (B.7: effective
    exponent min(xcb, PPx-1) above r=0) — streams with PP below the
    64x64 default still round-trip."""

    g = RNG.integers(0, 256, (129, 200), dtype=np.uint8)
    for prec in (3, 4):
        enc = encode_jpx(g, 3, precincts=prec)
        assert np.array_equal(decode_jpx(enc), g), prec


def test_precinct_progressions_positions():
    """Position-major progressions (RPCL/PCRL/CPRL) interleave
    packets of many precincts by projected anchor; every progression
    decodes the identical image from its own packet order."""

    g = RNG.integers(0, 256, (100, 140), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (96, 128, 3), dtype=np.uint8)
    streams = set()
    for p in ("lrcp", "rlcp", "rpcl", "pcrl", "cprl"):
        for src in (g, rgb):
            enc = encode_jpx(src, 2, layers=3, precincts=5, prog=p)
            assert np.array_equal(decode_jpx(enc), src), p
            if src is rgb:
                streams.add(enc)
    assert len(streams) >= 3  # orders genuinely differ on the wire


def test_precinct_composed_features():
    """Precincts compose with tiles, COC geometry overrides, the 9/7
    lossy path, packed headers (PPT/PPM) and maxshift ROI."""

    g = RNG.integers(0, 256, (129, 200), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (96, 128, 3), dtype=np.uint8)
    enc = encode_jpx(rgb, 2, precincts=5, tile_size=32)
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(
        g, 2, precincts=(5, 4), tile_size=64, layers=2, prog="rpcl"
    )
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(rgb, 2, precincts=5, coc_cb={1: 3, 2: (3, 4)})
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(
        rgb, 2, irreversible=True, precincts=5, layers=2, prog="pcrl"
    )
    out = decode_jpx(enc)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8
    enc = encode_jpx(g, 2, precincts=5, ppt=True)
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(g, 2, precincts=5, ppm=True, tile_size=64)
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(g, 2, precincts=5, roi=True)
    assert np.array_equal(decode_jpx(enc), g)


def test_precinct_validation_fail_closed():
    """Bad precinct signalling fails closed on both sides: wrong list
    length, out-of-range exponents, a zero exponent above r=0, a
    truncated COD, a COC precinct override, and SOP/EPH flags."""

    g = RNG.integers(0, 256, (40, 40), dtype=np.uint8)
    for bad in ([(3, 3)], 16, [(4, 4), (0, 4), (4, 4)]):
        with pytest.raises(UserError):
            encode_jpx(g, 2, precincts=bad)
    enc = bytearray(encode_jpx(g, 1, precincts=4))
    at = bytes(enc).find(b"\xff\x52")
    # COD: ... style(+12) wavelet(+13) then precinct bytes r0(+14) r1(+15)
    enc[at + 15] = 0x40  # r=1: ppx=0
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))
    enc[at + 15] = 0x44
    assert np.array_equal(decode_jpx(bytes(enc)), g)  # sanity restore
    # truncated COD: claim precincts but shrink Lcod below the bytes
    enc2 = bytearray(encode_jpx(g, 1))
    at2 = bytes(enc2).find(b"\xff\x52")
    enc2[at2 + 4] |= 1  # precinct flag without the per-res bytes
    with pytest.raises(UserError):
        decode_jpx(bytes(enc2))
    # SOP/EPH flags
    for flag in (2, 4):
        enc3 = bytearray(encode_jpx(g, 1))
        at3 = bytes(enc3).find(b"\xff\x52")
        enc3[at3 + 4] |= flag
        with pytest.raises(UserError):
            decode_jpx(bytes(enc3))
    # a COC precinct partition that differs from COD's is honoured —
    # flipping it on a stream ENCODED under COD's partition desyncs
    # the packet walk: error or mis-verify, never the original pixels
    rgb4 = RNG.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    enc4 = bytearray(encode_jpx(rgb4, 1, precincts=4, coc_cb={1: 3}))
    at4 = bytes(enc4).find(b"\xff\x53")
    enc4[at4 + 11] = 0x55  # COC r=0 precinct byte: 5,5 != COD's 4,4
    try:
        assert not np.array_equal(decode_jpx(bytes(enc4)), rgb4)
    except UserError:
        pass


def test_sop_eph_resegmentation_markers():
    """Scod bits 1-2 (T.800 A.8): SOP packet markers with enforced
    sequence numbers and EPH header terminators round-trip, composed
    with precincts, progressions, tiles and packed headers (EPH rides
    the PPM/PPT stream, SOP stays with the bodies)."""

    g = RNG.integers(0, 256, (100, 140), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (64, 96, 3), dtype=np.uint8)
    for kw in (dict(sop=True), dict(eph=True), dict(sop=True, eph=True)):
        for src in (g, rgb):
            enc = encode_jpx(src, 2, layers=2, **kw)
            assert np.array_equal(decode_jpx(enc), src), kw
    enc = encode_jpx(
        g, 2, precincts=5, prog="rpcl", layers=3, sop=True, eph=True,
        tile_size=64,
    )
    assert b"\xff\x91" in enc and b"\xff\x92" in enc
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(g, 2, ppt=True, sop=True, eph=True)
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(g, 2, ppm=True, tile_size=64, sop=True, eph=True)
    assert np.array_equal(decode_jpx(enc), g)


def test_sop_eph_fail_closed():
    """A wrong SOP sequence number and a missing EPH both mean packet
    desync: fail closed, never wrong pixels."""

    g = RNG.integers(0, 256, (40, 40), dtype=np.uint8)
    enc = bytearray(encode_jpx(g, 1, sop=True))
    at = bytes(enc).find(b"\xff\x91")
    enc[at + 5] ^= 1
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))
    enc2 = bytes(encode_jpx(g, 1, eph=True))
    at2 = enc2.find(b"\xff\x92")
    with pytest.raises(UserError):
        decode_jpx(enc2[:at2] + enc2[at2 + 2 :])


def test_poc_progression_order_changes():
    """POC volumes (T.800 A.6.6): packets re-enumerate per volume
    with already-emitted packets skipped; resolution-, layer- and
    component-split volumes all round-trip, composed with precincts,
    SOP/EPH and tiles."""

    g = RNG.integers(0, 256, (100, 140), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (64, 96, 3), dtype=np.uint8)
    enc = encode_jpx(
        g, 3, layers=3,
        poc=[(0, 0, 3, 1, 1, "lrcp"), (0, 0, 3, 4, 1, "rpcl")],
    )
    assert b"\xff\x5f" in enc
    assert np.array_equal(decode_jpx(enc), g)
    enc = encode_jpx(
        rgb, 2, layers=4, precincts=5, sop=True, eph=True,
        poc=[(0, 0, 1, 3, 3, "rpcl"), (0, 0, 4, 3, 3, "cprl")],
    )
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(
        rgb, 2, layers=2,
        poc=[(0, 0, 2, 3, 1, "lrcp"), (0, 1, 2, 3, 3, "rlcp")],
    )
    assert np.array_equal(decode_jpx(enc), rgb)
    enc = encode_jpx(
        g, 2, layers=2, tile_size=64,
        poc=[(0, 0, 1, 3, 1, "rlcp"), (0, 0, 2, 3, 1, "lrcp")],
    )
    assert np.array_equal(decode_jpx(enc), g)


def test_poc_fail_closed():
    """A POC that leaves packets uncovered and a malformed POC entry
    both fail closed."""

    g = RNG.integers(0, 256, (40, 40), dtype=np.uint8)
    with pytest.raises(UserError):
        encode_jpx(g, 2, layers=2, poc=[(0, 0, 1, 3, 1, "lrcp")])
    enc = bytearray(encode_jpx(g, 1, layers=1, poc=[(0, 0, 1, 2, 1, "lrcp")]))
    at = bytes(enc).find(b"\xff\x5f")
    enc[at + 10] = 5  # Ppoc out of range
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))


def test_segmentation_symbols():
    """Scb bit 5 (D.5): each cleanup pass ends with the 1010 symbol in
    the UNIFORM context; round-trips bit-exact composed with layers /
    precincts / COC / tiles / 9-7, and a corrupted bitstream is
    flagged (or at minimum mis-decodes — never silently 'verified')."""

    g = RNG.integers(0, 256, (100, 140), dtype=np.uint8)
    rgb = RNG.integers(0, 256, (64, 96, 3), dtype=np.uint8)
    for src in (g, rgb):
        enc = encode_jpx(src, 3, segsym=True)
        cod_at = enc.find(b"\xff\x52")
        assert enc[cod_at + 12] == 0x20  # Scb byte
        assert np.array_equal(decode_jpx(enc), src)
        enc = encode_jpx(src, 2, segsym=True, layers=3, precincts=5,
                         prog="rpcl")
        assert np.array_equal(decode_jpx(enc), src)
    enc = encode_jpx(rgb, 2, segsym=True, irreversible=True,
                     coc_cb={1: 4}, tile_size=32)
    out = decode_jpx(enc)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8
    # corruption detection: flipped body bytes must not decode clean
    enc = bytearray(encode_jpx(g, 2, segsym=True))
    at = bytes(enc).find(b"\xff\x93")
    for off in (200, 400, 600):
        e2 = bytearray(enc)
        e2[at + off] ^= 0x40
        try:
            d = decode_jpx(bytes(e2))
            assert not np.array_equal(d, g)
        except UserError:
            pass


def test_other_code_block_styles_fail_closed():
    """Reserved style bits fail closed. Flipping layout-changing
    styles (bypass/termall) on a stream coded without them must error
    or mis-verify, never silently return the original pixels; flipping
    predictable termination ON is layout-neutral by construction (the
    engine's flush is the Annex D FLUSH either way), so the stream
    still decodes bit-exactly."""

    g = RNG.integers(0, 256, (24, 24), dtype=np.uint8)
    enc = bytearray(encode_jpx(g, 1))
    cod_at = bytes(enc).find(b"\xff\x52")
    enc[cod_at + 12] = 0x40
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))
    enc[cod_at + 12] = 0x10
    assert np.array_equal(decode_jpx(bytes(enc)), g)
    for flipped in (0x01, 0x04):
        enc[cod_at + 12] = flipped
        try:
            d = decode_jpx(bytes(enc))
            assert not np.array_equal(d, g)
        except UserError:
            pass
    rgb = RNG.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    enc2 = bytearray(encode_jpx(rgb, 1, segsym=True, coc_cb={1: 4}))
    at = bytes(enc2).find(b"\xff\x53")
    enc2[at + 9] = 0  # COC drops segsym: component 1 mis-verifies
    try:
        assert not np.array_equal(decode_jpx(bytes(enc2)), rgb)
    except UserError:
        pass


def test_420_subsampling():
    """4:2:0 chroma subsampling (SIZ XRsiz/YRsiz = 2 on both chroma
    components): encoder box-averages, decoder replicates back to the
    luma grid — the photographic JPX shape, on the 9/7 path with
    whole-band precincts. Bounded error on smooth content, distinctly
    smaller streams, odd dims and tiles covered."""

    x = np.linspace(0, 255, 90)
    rgb = np.stack(
        [np.tile(x, (71, 1)), np.tile(x[::-1], (71, 1)),
         np.full((71, 90), 90.0)], axis=-1,
    ).astype(np.uint8)
    enc = encode_jpx(rgb, 2, irreversible=True, subsample="420")
    out = decode_jpx(enc)
    assert out.shape == rgb.shape
    err = np.abs(out.astype(int) - rgb.astype(int))
    assert err.max() <= 4 and err.mean() < 3
    assert len(enc) < 0.7 * len(encode_jpx(rgb, 2, irreversible=True))
    rgb2 = RNG.integers(0, 256, (97, 123, 3), dtype=np.uint8)
    assert decode_jpx(
        encode_jpx(rgb2, 2, irreversible=True, subsample="420", layers=2)
    ).shape == rgb2.shape
    assert decode_jpx(
        encode_jpx(rgb[:64, :64], 2, irreversible=True, subsample="420",
                   tile_size=32)
    ).shape == (64, 64, 3)


def test_420_fail_closed_combinations():
    """Subsampling patterns other than 4:4:4 / 4:2:0 / 4:2:2 fail
    closed (precinct and ROI combinations decode since the
    per-component packet walk — see
    test_subsampling_with_precincts_and_roi)."""

    rgb = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    enc = bytearray(encode_jpx(rgb, 1, irreversible=True,
                               subsample="420"))
    siz_at = bytes(enc).find(b"\xff\x51")
    enc[siz_at + 4 + 38 + 1] = 2  # luma XRsiz = 2: unsupported pattern
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))


def test_422_subsampling_both_paths():
    """4:2:2 chroma subsampling (chroma XRsiz=2, YRsiz=1 — the video/
    scanner shape): bounded error on smooth content on both wavelet
    paths, smaller streams, odd dims and tiles covered."""

    x = np.linspace(0, 255, 90)
    rgb = np.stack(
        [np.tile(x, (71, 1)), np.tile(x[::-1], (71, 1)),
         np.full((71, 90), 90.0)], axis=-1,
    ).astype(np.uint8)
    for kw in ({"irreversible": True}, {}):
        enc = encode_jpx(rgb, 2, subsample="422", **kw)
        out = decode_jpx(enc)
        assert out.shape == rgb.shape
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.max() <= 4 and err.mean() < 3, kw
    rgb2 = RNG.integers(0, 256, (97, 123, 3), dtype=np.uint8)
    assert decode_jpx(encode_jpx(rgb2, 2, subsample="422")).shape == rgb2.shape
    assert decode_jpx(
        encode_jpx(rgb[:64, :64], 2, subsample="422", tile_size=32)
    ).shape == (64, 64, 3)


def test_reversible_subsampling_chroma_planes_bit_exact():
    """Chroma subsampling on the 5/3 path: the decimation is the only
    loss — a chroma-constant image (RCT chroma identically zero)
    round-trips BIT-EXACT, for both 4:2:0 and 4:2:2, incl. tiles."""

    g = RNG.integers(0, 256, (70, 91), dtype=np.uint8)
    grayrgb = np.stack([g] * 3, axis=-1)
    for sub in ("420", "422"):
        assert np.array_equal(
            decode_jpx(encode_jpx(grayrgb, 2, subsample=sub)), grayrgb
        ), sub
    assert np.array_equal(
        decode_jpx(
            encode_jpx(grayrgb[:64, :64], 2, subsample="420", tile_size=32)
        ),
        grayrgb[:64, :64],
    )


def test_code_block_size_validation():
    """Out-of-range code-block exponents fail closed on both sides
    (T.800 A.6.1: each in 2..10, xcb+ycb <= 12)."""

    g = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    for bad in (1, 11, (8, 8), (10, 4)):
        with pytest.raises(UserError):
            encode_jpx(g, 1, cb_exp=bad)
    enc = bytearray(encode_jpx(g, 1))
    cod_at = bytes(enc).find(b"\xff\x52")
    enc[cod_at + 10] = 9  # xcb=11 with ycb=6: sum > 12 and xcb > 10
    with pytest.raises(UserError):
        decode_jpx(bytes(enc))


def test_mq_watermarks_are_safe_split_points():
    """Every watermark byte prefix is final: re-encoding must produce a
    stream whose prefix equals each watermark slice."""

    from pdf_toolkit_spark.pdfio.jpx import t1_encode

    coeffs = RNG.integers(-300, 301, (32, 40)).astype(np.int32)
    seg, n, b, wm = t1_encode(coeffs, 0, return_marks=True)
    seg2, n2, b2 = t1_encode(coeffs, 0)
    assert (seg, n, b) == (seg2, n2, b2)
    assert len(wm) == n and wm[-1] == len(seg)
    assert wm == sorted(wm)
    for w in wm:
        assert seg[:w] == seg2[:w]


def test_qcc_reversible_rgb_bit_exact():
    """qcc=True signals the true per-component RCT spans (Y 8 bits via
    QCD, Cb/Cr 9 bits via QCC); still bit-exact, and the stream really
    carries two QCC segments with a tighter luma QCD."""

    rgb = RGB_RNG.integers(0, 256, (41, 57, 3), dtype=np.uint8)
    plain = encode_jpx(rgb, levels=2)
    tight = encode_jpx(rgb, levels=2, qcc=True)
    assert tight.count(b"\xff\x5d") >= 2
    assert plain.count(b"\xff\x5d") == 0
    assert np.array_equal(decode_jpx(tight), rgb)
    # QCD exponents: first band byte is (eps_base + gain) << 3 — the
    # qcc stream's QCD (component 0) signals 8-based, the plain 9-based
    def qcd_first_exp(cs: bytes) -> int:
        at = cs.find(b"\xff\x5c")
        return cs[at + 5] >> 3
    assert qcd_first_exp(tight) == qcd_first_exp(plain) - 1


@pytest.mark.parametrize("style", ["expounded", "derived"])
def test_qcc_chroma_step_bounded_roundtrip(style):
    """Per-component quantization: coarse chroma + fine luma decodes
    within the coarse bound and the stream is smaller than all-fine."""

    rgb = RGB_RNG.integers(0, 256, (50, 60, 3), dtype=np.uint8)
    fine = encode_jpx(rgb, levels=2, irreversible=True,
                      qstep=1.0 / 64, qcd_style=style)
    mixed = encode_jpx(rgb, levels=2, irreversible=True, qstep=1.0 / 64,
                       chroma_qstep=1.0 / 8, qcd_style=style)
    assert mixed.count(b"\xff\x5d") >= 2
    assert len(mixed) < len(fine)
    out = decode_jpx(mixed)
    assert out.shape == rgb.shape
    # chroma step 1/8 -> ICT-spread pixel error well under 16
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 16, style


def test_qcc_multitile_and_layers():
    """QCC composes with tiling and quality layers."""

    rgb = RGB_RNG.integers(0, 256, (40, 72, 3), dtype=np.uint8)
    cs = encode_jpx(rgb, levels=2, irreversible=True, qstep=1.0 / 64,
                    chroma_qstep=1.0 / 16, tile_size=32, layers=3)
    out = decode_jpx(cs)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8
    cs2 = encode_jpx(rgb, levels=1, qcc=True, tile_size=32, layers=2)
    assert np.array_equal(decode_jpx(cs2), rgb)


def test_qcc_validation_and_fail_closed():
    """chroma_qstep off the 9/7 RGB path raises; a QCC naming an
    out-of-range component fails closed."""

    gray = RNG.integers(0, 256, (20, 20), dtype=np.uint8)
    with pytest.raises(UserError):
        encode_jpx(gray, 1, irreversible=True, chroma_qstep=0.5)
    with pytest.raises(UserError):
        encode_jpx(gray, 1, qcc=True)
    rgb = RGB_RNG.integers(0, 256, (20, 20, 3), dtype=np.uint8)
    with pytest.raises(UserError):
        encode_jpx(rgb, 1, chroma_qstep=0.5)  # reversible + chroma step
    cs = bytearray(encode_jpx(rgb, 1, qcc=True))
    at = bytes(cs).find(b"\xff\x5d")
    cs[at + 4] = 7  # Cqcc -> component 7 of 3
    with pytest.raises(UserError):
        decode_jpx(bytes(cs))


def test_ppt_packed_headers_roundtrip():
    """PPT (B.10.5): packet headers move to tile-part-header PPT
    segments, bodies stay in the bitstream — bit-exact lossless and
    bounded lossy round-trips, single- and multi-tile, multi-layer."""

    g = RNG.integers(0, 256, (70, 90), dtype=np.uint8)
    cs = encode_jpx(g, levels=2, ppt=True)
    assert b"\xff\x61" in cs
    assert np.array_equal(decode_jpx(cs), g)
    # identical pixels to the inline-header stream, different layout
    inline = encode_jpx(g, levels=2)
    assert cs != inline
    assert np.array_equal(decode_jpx(cs), decode_jpx(inline))
    # multi-tile + multi-layer + lossy
    rgb = RGB_RNG.integers(0, 256, (48, 80, 3), dtype=np.uint8)
    cs2 = encode_jpx(rgb, levels=2, irreversible=True, qstep=1.0 / 64,
                     tile_size=32, layers=3, ppt=True)
    assert cs2.count(b"\xff\x61") >= 1
    out = decode_jpx(cs2)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 3


def test_tile_header_malformed_cod_fails_closed():
    """Tile-part COD segments are honoured (see
    test_tile_part_header_overrides) — a MALFORMED one (truncated
    SPcod) still fails closed, never wrong pixels."""

    import struct

    g = RNG.integers(0, 256, (20, 20), dtype=np.uint8)
    cs = bytearray(encode_jpx(g, 1))
    sot = bytes(cs).find(b"\xff\x90")
    sod = bytes(cs).find(b"\xff\x93", sot)
    fake_cod = b"\xff\x52" + struct.pack(">H", 4) + b"\x00\x00"
    patched = bytes(cs[:sod]) + fake_cod + bytes(cs[sod:])
    # fix Psot (offset 6 into the SOT segment body)
    patched = bytearray(patched)
    (psot,) = struct.unpack(">I", patched[sot + 6 : sot + 10])
    patched[sot + 6 : sot + 10] = struct.pack(">I", psot + len(fake_cod))
    with pytest.raises(UserError, match="truncated COD"):
        decode_jpx(bytes(patched))


def test_ppm_packed_headers_roundtrip():
    """PPM (B.10.4): ALL packet headers move to one main-header
    segment as (Nppm, headers) tile-part chunks — bit-exact lossless,
    single- and multi-tile."""

    g = RNG.integers(0, 256, (66, 81), dtype=np.uint8)
    cs = encode_jpx(g, levels=2, ppm=True)
    # the PPM segment sits in the MAIN header (before the first SOT);
    # (\xff\x61 can legally occur inside MQ data, so only the header
    # region is meaningful to scan)
    assert 0 <= cs.find(b"\xff\x60") < cs.find(b"\xff\x90")
    assert np.array_equal(decode_jpx(cs), g)
    tiled = encode_jpx(
        RNG.integers(0, 256, (80, 100), dtype=np.uint8), levels=2,
        tile_size=64, ppm=True,
    )
    assert np.array_equal(decode_jpx(tiled), decode_jpx(
        encode_jpx(decode_jpx(tiled), levels=2)
    ))
    with pytest.raises(UserError, match="exclusive"):
        encode_jpx(g, 1, ppt=True, ppm=True)


def test_rgn_maxshift_roi_roundtrip():
    """RGN maxshift ROI (Annex H): the encoder upshifts ROI
    coefficients (upper-left quadrant) by s with 2^s above every
    background magnitude; the decoder's magnitude test undoes it —
    bit-exact on the reversible path, bounded on 9/7, RGB included."""

    g = RNG.integers(0, 256, (64, 72), dtype=np.uint8)
    cs = encode_jpx(g, levels=2, roi=True)
    assert b"\xff\x5e" in cs[: cs.find(b"\xff\x90")]
    assert np.array_equal(decode_jpx(cs), g)
    rgb = RGB_RNG.integers(0, 256, (40, 52, 3), dtype=np.uint8)
    cs_rgb = encode_jpx(rgb, levels=1, roi=True)
    assert np.array_equal(decode_jpx(cs_rgb), rgb)
    lossy = encode_jpx(g, levels=2, irreversible=True, qstep=1.0 / 64,
                       roi=True)
    out = decode_jpx(lossy)
    assert np.abs(out.astype(int) - g.astype(int)).max() <= 2


def test_rgn_unsupported_style_fails_closed():
    import struct

    g = RNG.integers(0, 256, (20, 20), dtype=np.uint8)
    cs = bytearray(encode_jpx(g, 1, roi=True))
    at = bytes(cs).find(b"\xff\x5e")
    assert at > 0
    cs[at + 5] = 1  # Srgn -> non-maxshift style
    with pytest.raises(UserError, match="maxshift"):
        decode_jpx(bytes(cs))
    with pytest.raises(UserError, match="single tile"):
        encode_jpx(RNG.integers(0, 256, (80, 80), dtype=np.uint8),
                   1, roi=True, tile_size=64)


@pytest.mark.parametrize(
    "style",
    [0x01, 0x02, 0x04, 0x08, 0x03, 0x05, 0x09, 0x0F,
     0x10, 0x14, 0x11, 0x15, 0x1F],
)
def test_code_block_styles_roundtrip_lossless(style):
    """Bypass / reset / termall / vertically-causal / predictable-
    termination code-block styles (and their combinations): the
    reversible path stays bit-exact through the multi-segment Tier-2
    layout (one length per codeword segment, B.10.7). Predictable
    termination is layout-neutral — the flush is the Annex D FLUSH
    either way — so its segments decode with the same readers; with
    bypass it pins the alternating raw spacer pad too."""

    img = RNG.integers(0, 256, (75, 90), dtype=np.uint8)
    enc = encode_jpx(img, levels=3, cblk_style=style)
    assert np.array_equal(decode_jpx(enc), img)
    rgb = RNG.integers(0, 256, (48, 52, 3), dtype=np.uint8)
    enc = encode_jpx(rgb, levels=2, cblk_style=style)
    assert np.array_equal(decode_jpx(enc), rgb)


def test_code_block_styles_compose_with_other_features():
    """The styled path composes with segsym, 9/7, tiles, small code
    blocks, and explicit precincts."""

    img = RNG.integers(0, 256, (96, 96), dtype=np.uint8)
    enc = encode_jpx(img, levels=2, cblk_style=0x0F, segsym=True)
    assert np.array_equal(decode_jpx(enc), img)
    enc = encode_jpx(img, levels=2, cblk_style=0x01 | 0x08,
                     irreversible=True, qstep=1.0 / 64)
    assert np.abs(decode_jpx(enc).astype(int) - img.astype(int)).max() <= 4
    enc = encode_jpx(img, levels=2, cblk_style=0x01, tile_size=32)
    assert np.array_equal(decode_jpx(enc), img)
    enc = encode_jpx(img, levels=2, cblk_style=0x05, cb_exp=3)
    assert np.array_equal(decode_jpx(enc), img)
    enc = encode_jpx(img, levels=1, cblk_style=0x09, precincts=(6, 6))
    assert np.array_equal(decode_jpx(enc), img)


def test_styled_encoder_requires_single_layer():
    img = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    with pytest.raises(UserError, match="layers=1"):
        encode_jpx(img, levels=1, cblk_style=0x01, layers=3)


def _split_codestream(enc: bytes):
    """(main segments [(marker, full bytes)], tiles [(isot, [header
    segment bytes], body)]) — test-side splicer for building
    tile-part-header override streams from encoder output."""

    import struct as _struct

    pos = 2
    main, tiles = [], []
    while pos < len(enc):
        m = enc[pos : pos + 2]
        if m == b"\xff\xd9":
            break
        ln = int.from_bytes(enc[pos + 2 : pos + 4], "big")
        if m == b"\xff\x90":
            seg = enc[pos + 4 : pos + 2 + ln]
            isot, psot, _tp, _tn = _struct.unpack(">HIBB", seg[:8])
            pos += 2 + ln
            hdr = []
            while enc[pos : pos + 2] != b"\xff\x93":
                ln2 = int.from_bytes(enc[pos + 2 : pos + 4], "big")
                hdr.append(enc[pos : pos + 2 + ln2])
                pos += 2 + ln2
            pos += 2
            hdr_len = sum(len(x) for x in hdr)
            end = pos + (psot - 12 - hdr_len - 2)
            tiles.append((isot, hdr, enc[pos:end]))
            pos = end
        else:
            main.append((m, enc[pos : pos + 2 + ln]))
            pos += 2 + ln
    return main, tiles


def _assemble_codestream(main, tiles, tpsot=None) -> bytes:
    import struct as _struct

    out = b"\xff\x4f" + b"".join(s for _m, s in main)
    for isot, hdr, body in tiles:
        hdr_b = b"".join(hdr)
        psot = 12 + len(hdr_b) + 2 + len(body)
        out += b"\xff\x90" + _struct.pack(
            ">HHIBB", 10, isot, psot, tpsot or 0, 1
        )
        out += hdr_b + b"\xff\x93" + body
    return out + b"\xff\xd9"


def _main_seg(main, marker: bytes) -> bytes:
    return next(s for m, s in main if m == marker)


def test_tile_part_header_overrides():
    """COD/QCD/COC/RGN in a first-tile-part header override the main
    header for THAT tile (T.800 A.6 precedence). Built by splicing:
    main header from stream A, tile header + body from stream B coded
    under different parameters — the decoder must reproduce B's
    pixels for the overridden tile and A's for the rest."""

    g = RNG.integers(0, 256, (64, 64), dtype=np.uint8)
    # tile QCD override: 2x2 tile grid, visibly coarse main quant;
    # tile 1 (top-right) carries B's fine QCD and B's body
    A = encode_jpx(g, 2, tile_size=32, irreversible=True, qstep=1.0)
    B = encode_jpx(g, 2, tile_size=32, irreversible=True, qstep=1.0 / 64)
    out_a, out_b = decode_jpx(A), decode_jpx(B)
    assert not np.array_equal(out_a, out_b)  # quant difference is visible
    ma, ta = _split_codestream(A)
    mb, tb = _split_codestream(B)
    ta[1] = (ta[1][0], [_main_seg(mb, b"\xff\x5c")], tb[1][2])
    mixed = decode_jpx(_assemble_codestream(ma, ta))
    assert np.array_equal(mixed[:32, 32:], out_b[:32, 32:])  # tile 1: B
    mixed[:32, 32:] = out_a[:32, 32:]
    assert np.array_equal(mixed, out_a)                      # rest: A
    # tile COD override (deeper decomposition + styled blocks) — the
    # tile needs B's QCD too (more bands than the main exponent
    # list); both streams are lossless so the spliced decode must
    # reproduce the source bit-exactly, which requires honouring the
    # tile's own levels/style for its body
    A = encode_jpx(g, 1, tile_size=32)
    B = encode_jpx(g, 3, tile_size=32, cblk_style=0x01)
    ma, ta = _split_codestream(A)
    mb, tb = _split_codestream(B)
    ta[0] = (ta[0][0], [
        _main_seg(mb, b"\xff\x52"), _main_seg(mb, b"\xff\x5c"),
    ], tb[0][2])
    assert np.array_equal(decode_jpx(_assemble_codestream(ma, ta)), g)
    # tile COC override on top of the main COD (COC(tile) > COD(main))
    rgb = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    A = encode_jpx(rgb, 2)
    B = encode_jpx(rgb, 2, coc_cb={1: 4})
    ma, ta = _split_codestream(A)
    mb, tb = _split_codestream(B)
    ta[0] = (ta[0][0], [_main_seg(mb, b"\xff\x53")], tb[0][2])
    assert np.array_equal(decode_jpx(_assemble_codestream(ma, ta)), rgb)
    # tile RGN (lossy, so the upshift is visible): body coded WITH
    # ROI decodes correctly only when the tile header carries the RGN
    A = encode_jpx(g[:32, :32], 2, irreversible=True, qstep=1.0 / 16)
    B = encode_jpx(
        g[:32, :32], 2, irreversible=True, qstep=1.0 / 16, roi=True,
    )
    out_b = decode_jpx(B)
    ma, _ = _split_codestream(A)
    mb, tb = _split_codestream(B)
    rgn = _main_seg(mb, b"\xff\x5e")
    spliced = _assemble_codestream(ma, [(0, [rgn], tb[0][2])])
    assert np.array_equal(decode_jpx(spliced), out_b)
    # without the RGN anywhere the ROI-upshifted coefficients decode
    # to the WRONG pixels — proof the tile-header RGN is honoured
    bare = _assemble_codestream(ma, [(0, [], tb[0][2])])
    try:
        assert not np.array_equal(decode_jpx(bare), out_b)
    except UserError:
        pass
    # tile POC: relocating the main-header POC into the tile header
    # decodes identically
    A = encode_jpx(
        g, 2, layers=3,
        poc=[(0, 0, 2, 3, 1, "rlcp"), (0, 0, 3, 3, 1, "lrcp")],
    )
    out_a = decode_jpx(A)
    ma, ta = _split_codestream(A)
    poc = _main_seg(ma, b"\xff\x5f")
    ma = [e for e in ma if e[0] != b"\xff\x5f"]
    ta[0] = (ta[0][0], [poc] + ta[0][1], ta[0][2])
    assert np.array_equal(decode_jpx(_assemble_codestream(ma, ta)), out_a)


def test_tile_part_override_fail_closed():
    """Coding overrides are legal only in the FIRST tile-part
    (TPsot=0); a later tile-part carrying one fails closed, as do
    duplicate tile-part COD/QCD segments."""

    g = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    A = encode_jpx(g, 2, irreversible=True, qstep=1.0 / 16)
    ma, ta = _split_codestream(A)
    qcd = _main_seg(ma, b"\xff\x5c")
    with_ovr = [(0, [qcd], ta[0][2])]
    assert decode_jpx(_assemble_codestream(ma, with_ovr)) is not None
    with pytest.raises(UserError, match="non-first tile-part"):
        decode_jpx(_assemble_codestream(ma, with_ovr, tpsot=1))
    with pytest.raises(UserError, match="duplicate"):
        decode_jpx(_assemble_codestream(ma, [(0, [qcd, qcd], ta[0][2])]))


def test_encoder_tile_overrides_roundtrip():
    """encode_jpx(tile_overrides=...): per-tile QCD rate allocation —
    overridden tiles quantize finer and signal their own QCD in the
    first-tile-part header; other tiles are bit-identical to the
    non-overridden encode."""

    g = RNG.integers(0, 256, (96, 128), dtype=np.uint8)
    base = decode_jpx(encode_jpx(
        g, 2, tile_size=64, irreversible=True, qstep=1.0,
    ))
    enc = encode_jpx(
        g, 2, tile_size=64, irreversible=True, qstep=1.0,
        tile_overrides={1: {"qstep": 1.0 / 64}, 2: {"qstep": 1.0 / 64}},
    )
    # exactly the overridden tiles carry a QCD in their tile-part
    # header (parse the structure — raw byte counting would also hit
    # 0xFF5C bigrams inside the entropy-coded payload)
    _m, tiles = _split_codestream(enc)
    qcd_tiles = {
        isot for isot, hdr, _body in tiles
        if any(seg[:2] == b"\xff\x5c" for seg in hdr)
    }
    assert qcd_tiles == {1, 2}
    out = decode_jpx(enc)
    assert np.array_equal(out[:64, :64], base[:64, :64])    # tile 0
    assert np.array_equal(out[64:, 64:128], base[64:, 64:128])  # tile 3
    err_b = np.abs(base[:64, 64:].astype(int) - g[:64, 64:].astype(int)).max()
    err_o = np.abs(out[:64, 64:].astype(int) - g[:64, 64:].astype(int)).max()
    assert err_o < err_b  # the overridden tile reconstructs finer
    for bad in (
        dict(tile_size=64, tile_overrides={0: {"qstep": 0.5}}),  # 5/3
        dict(irreversible=True, tile_overrides={0: {"qstep": 0.5}}),
        dict(tile_size=64, irreversible=True,
             tile_overrides={99: {"qstep": 0.5}}),
        dict(tile_size=64, irreversible=True,
             tile_overrides={0: {"nope": 1}}),
    ):
        with pytest.raises(UserError):
            encode_jpx(g, 2, qstep=1.0, **bad)


def test_jpxtile_writer_codec_extracts_end_to_end():
    """The per-tile rate-allocation profile (tile-part-header QCD
    overrides) through the writer, parser, and serial pipeline."""

    from pdf_toolkit_spark.extract import extract_document
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = _cases()["text_page"]
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpxtile")])
    assert b"JPXDecode" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert np.abs(parsed.scan.astype(int) - raster.astype(int)).max() <= 8
    assert len(extract_document(pdf_bytes)["spans"]) > 0


def test_jpxcoc_writer_codec_extracts_end_to_end():
    """The per-component COC override profile (depth/geometry/style
    re-specified per component, lossless) through the writer, parser,
    and serial pipeline — spans stay exact."""

    from pdf_toolkit_spark.extract import extract_document
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = _cases()["text_page"]
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpxcoc")])
    assert b"JPXDecode" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert np.array_equal(parsed.scan, raster)
    assert len(extract_document(pdf_bytes)["spans"]) > 0


def test_jpxbyp_writer_codec_extracts_end_to_end():
    """The bypass+causal+predictable-termination speed profile
    (production encoders' default error-resilience knobs) through the
    writer, parser, and serial pipeline."""

    from pdf_toolkit_spark.extract import extract_document
    from pdf_toolkit_spark.pdfio.writer import PageSpec, write_pdf

    raster = _cases()["text_page"]
    pdf_bytes = write_pdf([PageSpec(raster=raster, codec="jpxbyp")])
    assert b"JPXDecode" in pdf_bytes
    parsed = PdfDocument(pdf_bytes).load_page(0)
    assert np.abs(parsed.scan.astype(int) - raster.astype(int)).max() <= 4
    assert len(extract_document(pdf_bytes)["spans"]) > 0
