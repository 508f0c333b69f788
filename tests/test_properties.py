"""Property-based tests (hypothesis) — invariants the reference's
example-based suite never checks. No Spark here: pure kernels, parsers,
and the writer/reader round-trip under adversarial inputs."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_toolkit_spark import kernels as K
from pdf_toolkit_spark.errors import UserError
from pdf_toolkit_spark.extract import normalize_text, strip_and_order
from pdf_toolkit_spark.pagespec import chunk_ranges, parse_page_spec
from pdf_toolkit_spark.pdfio import PageSpec, PdfDocument, write_pdf

small_dims = st.tuples(st.integers(2, 64), st.integers(2, 64))


@given(st.integers(1, 5000), st.integers(1, 700))
def test_chunk_ranges_partition_exactly(total_pages, per_chunk):
    """Chunks tile [0, total) with no gap, no overlap, in order."""

    ranges = chunk_ranges(total_pages, per_chunk)
    assert ranges[0][0] == 0
    assert ranges[-1][1] == total_pages - 1
    for (s0, e0), (s1, e1) in zip(ranges, ranges[1:]):
        assert s1 == e0 + 1
    assert all(e - s + 1 <= per_chunk for s, e in ranges)


@given(st.sets(st.integers(1, 50), min_size=1))
def test_parse_page_spec_roundtrip(pages):
    """Any set of 1-based pages serialized as singles parses back to
    the same zero-based sorted list."""

    spec = ",".join(str(p) for p in sorted(pages))
    assert parse_page_spec(spec, 50) == [p - 1 for p in sorted(pages)]


@given(small_dims, st.integers(0, 255), st.data())
@settings(max_examples=40, deadline=None)
def test_crop_bbox_always_within_image(dims, threshold, data):
    h, w = dims
    img = data.draw(
        st.integers(0, 2**32 - 1).map(
            lambda s: np.random.default_rng(s).integers(0, 256, (h, w)).astype(np.uint8)
        )
    )
    bbox, fallback, note = K.find_crop_bbox(img, threshold, pad_px=3, min_area_frac=0.25)
    l, t, r, b = bbox
    assert 0 <= l < r <= w
    assert 0 <= t < b <= h
    assert fallback == (note is not None)


@given(st.integers(4, 400), st.integers(1, 399), st.integers(0, 50))
def test_split_bounds_cover_and_order(width, gutter_x, trim):
    left_end, right_start = K.split_bounds(width, gutter_x, trim)
    assert 1 <= left_end <= right_start <= width - 1 or left_end <= right_start
    assert left_end >= 1 and right_start <= width - 1
    assert left_end <= right_start


@given(small_dims, st.sampled_from([90, 180, 270]), st.data())
@settings(max_examples=30, deadline=None)
def test_rotation_roundtrip_identity(dims, deg, data):
    h, w = dims
    img = data.draw(
        st.integers(0, 2**32 - 1).map(
            lambda s: np.random.default_rng(s).integers(0, 256, (h, w)).astype(np.uint8)
        )
    )
    inv = (360 - deg) % 360
    assert np.array_equal(K.rotate_image_cw(K.rotate_image_cw(img, deg), inv), img)


@given(st.text(max_size=200))
def test_normalize_text_idempotent_and_digit_free(text):
    import re

    norm = normalize_text(text)
    assert normalize_text(norm) == norm
    assert re.search(r"\d", norm) is None  # \d is the masking notion


_pdf_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                           blacklist_characters="\r\n"),
    min_size=0, max_size=80,
)


@given(st.lists(st.tuples(_pdf_text, st.integers(0, 90), st.integers(0, 90)),
                min_size=0, max_size=6),
       st.sampled_from([0, 90, 180, 270]))
@settings(max_examples=40, deadline=None)
def test_pdf_roundtrip_arbitrary_text(items, rotate):
    """Writer -> parser round-trips arbitrary latin-1 text items in
    order, with positions and the rotation flag intact."""

    raster = np.full((100, 100), 200, dtype=np.uint8)
    page = PageSpec(
        raster=raster, rotate=rotate,
        items=[("text", t, r, c) for (t, r, c) in items],
    )
    doc = PdfDocument(write_pdf([page]))
    parsed = doc.load_page(0)
    assert parsed.rotate == rotate
    got = [(it[1], it[2], it[3]) for it in parsed.items if it[0] == "text"]
    want = [(t.encode("latin-1", errors="replace").decode("latin-1"), r, c)
            for (t, r, c) in items]
    assert got == want


@given(st.binary(max_size=400))
def test_parser_never_hangs_on_garbage(data):
    """Arbitrary bytes either parse or raise UserError — no other
    exception types, no hangs (error-isolation contract of the UDF)."""

    try:
        PdfDocument(b"%PDF-1.4\n" + data)
    except UserError:
        pass
    except Exception as exc:  # noqa: BLE001
        pytest.fail(f"unexpected {type(exc).__name__}: {exc}")


@given(st.integers(1, 30), st.integers(2, 8))
def test_strip_and_order_offsets_dense(n_spans, n_pages):
    from pdf_toolkit_spark.extract import SpanCandidate

    cands = [
        SpanCandidate(page_no=i % n_pages, region_idx=i % 2, item_idx=i,
                      kind="text", text=f"t{i} unique", media_ref=None,
                      norm_text=f"t{i} unique", y_band=5, is_page_number=False)
        for i in range(n_spans)
    ]
    from pdf_toolkit_spark.config import DEFAULTS

    spans = strip_and_order(cands, n_pages, DEFAULTS)
    assert [s["offset"] for s in spans] == list(range(len(spans)))


# --- round-2 codecs: PNG, PDF strings, LZW, predictors ---

@given(
    st.integers(1, 40), st.integers(1, 40),
    st.sampled_from([None, 3]),  # gray or RGB
    st.integers(0, 6),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_any_shape_and_level(h, w, channels, level, rnd):
    from pdf_toolkit_spark.pdfio.png import decode_png, encode_png

    rng = np.random.default_rng(rnd.randrange(2**32))
    shape = (h, w) if channels is None else (h, w, channels)
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    got = decode_png(encode_png(arr, level=level))
    assert got.shape == arr.shape and np.array_equal(got, arr)


@given(st.binary(min_size=0, max_size=200))
def test_pdf_string_escape_roundtrip_arbitrary_bytes(payload):
    """Writer-escaped arbitrary latin-1 bytes decode back exactly
    through the content-stream string unescaper (octal, parens,
    backslash all covered by generation)."""

    from pdf_toolkit_spark.pdfio.parser import _unescape_pdf_string
    from pdf_toolkit_spark.pdfio.writer import _escape_pdf_string

    text = payload.decode("latin-1")
    escaped = _escape_pdf_string(text)
    # writer escapes (, ), \\ only; those never collide with octal forms
    assert _unescape_pdf_string(escaped) == text.encode("latin-1")


@given(st.binary(min_size=0, max_size=3000))
@settings(max_examples=30, deadline=None)
def test_lzw_decode_never_crashes_and_roundtrips(data):
    """Decoder is total on garbage (UserError or bytes, no other
    exception) and exact on encoder output."""

    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_pdfio15 import _lzw_encode

    from pdf_toolkit_spark.pdfio.parser import _lzw_decode

    assert _lzw_decode(_lzw_encode(data)) == data
    try:
        _lzw_decode(data)  # garbage input: bounded behavior only
    except UserError:
        pass


@given(st.integers(1, 30), st.integers(1, 20), st.integers(1, 3),
       st.randoms(use_true_random=False))
@settings(max_examples=30, deadline=None)
def test_png_predictor_unfilter_inverts_all_filters(rows, cols, colors, rnd):
    """For every PNG filter type 0-4: filtering then _unpredict is the
    identity (bpp-aware, gray and multi-channel)."""

    from pdf_toolkit_spark.pdfio.parser import _unpredict

    rng = np.random.default_rng(rnd.randrange(2**32))
    row_len = cols * colors
    raw = rng.integers(0, 256, size=(rows, row_len), dtype=np.uint8).astype(np.int32)
    bpp = colors
    filtered = bytearray()
    prior = np.zeros(row_len, dtype=np.int32)
    for y in range(rows):
        ftype = int(rng.integers(0, 5))
        filtered.append(ftype)
        line = raw[y]
        for x in range(row_len):
            left = int(line[x - bpp]) if x >= bpp else 0
            up = int(prior[x])
            upleft = int(prior[x - bpp]) if x >= bpp else 0
            if ftype == 0:
                out = line[x]
            elif ftype == 1:
                out = line[x] - left
            elif ftype == 2:
                out = line[x] - up
            elif ftype == 3:
                out = line[x] - (left + up) // 2
            else:
                p = left + up - upleft
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else upleft)
                out = line[x] - pred
            filtered.append(out & 0xFF)
        prior = line
    got = _unpredict(bytes(filtered), {"Predictor": 15, "Colors": colors,
                                       "BitsPerComponent": 8, "Columns": cols})
    assert got == raw.astype(np.uint8).tobytes()


@given(st.data())
@settings(max_examples=15, deadline=None)
def test_jpx_coc_override_combinations_roundtrip(data):
    """Any legal combination of per-component COC overrides (depth /
    code-block geometry / style / precincts) with any progression,
    global precinct setting and segsym must round-trip bit-exactly on
    the reversible path — gray and RGB."""

    from pdf_toolkit_spark.pdfio.jpx import decode_jpx, encode_jpx

    h = data.draw(st.integers(9, 40))
    w = data.draw(st.integers(9, 40))
    ncomp = data.draw(st.sampled_from([1, 3]))
    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    shape = (h, w) if ncomp == 1 else (h, w, 3)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    levels = data.draw(st.integers(0, 3))
    coc = {}
    for ci in range(ncomp):
        if not data.draw(st.booleans()):
            continue
        ov = {}
        if data.draw(st.booleans()):
            ov["levels"] = data.draw(st.integers(0, 3))
        if data.draw(st.booleans()):
            ov["cb"] = data.draw(st.sampled_from([3, 4, 5, (3, 5)]))
        if data.draw(st.booleans()):
            ov["style"] = data.draw(st.sampled_from([0x01, 0x08, 0x09, 0x0F]))
        if data.draw(st.booleans()):
            ov["precincts"] = data.draw(st.sampled_from([4, 5, 6]))
        if ov:
            coc[ci] = ov
    prog = data.draw(st.sampled_from(["lrcp", "rlcp", "rpcl", "pcrl", "cprl"]))
    prec = data.draw(st.sampled_from([None, 5, 6]))
    segsym = data.draw(st.booleans())
    enc = encode_jpx(
        img, levels, coc=coc or None, prog=prog, precincts=prec,
        segsym=segsym,
    )
    assert np.array_equal(decode_jpx(enc), img)


@given(st.data())
@settings(max_examples=12, deadline=None)
def test_jbig2_huffman_aggregate_random_layouts_roundtrip(data):
    """Random ligature layouts (2-4 instances of random base glyphs at
    random offsets, any strip structure) aggregate-code under SDHUFF
    and decode back bit-exactly, with user and predefined tables."""

    from pdf_toolkit_spark.pdfio.jbig2 import (
        decode_code_table, decode_symbol_dict, encode_symbol_dict_huffman,
    )

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    a = (rng.random((data.draw(st.integers(3, 9)),
                     data.draw(st.integers(3, 9)))) < 0.5).astype(np.uint8)
    b = (rng.random((data.draw(st.integers(3, 9)),
                     data.draw(st.integers(3, 9)))) < 0.5).astype(np.uint8)
    bases = [a, b]
    n_inst = data.draw(st.integers(2, 4))
    inst = []
    for _ in range(n_inst):
        sid = data.draw(st.integers(0, 1))
        y = data.draw(st.integers(0, 12))
        x = data.draw(st.integers(0, 12))
        inst.append((y, x, sid))
    h = max(y + bases[s].shape[0] for y, _x, s in inst)
    w = max(x + bases[s].shape[1] for _y, x, s in inst)
    target = np.zeros((h, w), np.uint8)
    for y, x, sid in inst:
        bm = bases[sid]
        target[y : y + bm.shape[0], x : x + bm.shape[1]] |= bm
    std = data.draw(st.sampled_from([False, True, "alt"]))
    tbls, sd = encode_symbol_dict_huffman(
        [target], refs=[inst], input_syms=bases, std_tables=std,
    )
    out = decode_symbol_dict(
        sd, bases, tables=[decode_code_table(t) for t in tbls]
    )
    assert len(out) == 1 and np.array_equal(out[0], target)


@given(st.data())
@settings(max_examples=10, deadline=None)
def test_jpx_tile_quant_overrides_roundtrip(data):
    """Random per-tile QCD overrides: every overridden tile decodes
    under its own quantizer (error bounded by ITS step), tiles
    without overrides decode bit-identically to the plain encode."""

    from pdf_toolkit_spark.pdfio.jpx import decode_jpx, encode_jpx

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    ntx = data.draw(st.integers(2, 3))
    nty = data.draw(st.integers(2, 3))
    img = rng.integers(0, 256, (32 * nty, 32 * ntx), dtype=np.uint8)
    n_tiles = ntx * nty
    ovr = {
        ti: {"qstep": data.draw(st.sampled_from([1.0 / 64, 1.0 / 128]))}
        for ti in range(n_tiles) if data.draw(st.booleans())
    }
    base = decode_jpx(encode_jpx(
        img, 2, tile_size=32, irreversible=True, qstep=1.0,
    ))
    enc = encode_jpx(
        img, 2, tile_size=32, irreversible=True, qstep=1.0,
        tile_overrides=ovr or None,
    )
    out = decode_jpx(enc)
    for ti in range(n_tiles):
        ys, xs = (ti // ntx) * 32, (ti % ntx) * 32
        got = out[ys : ys + 32, xs : xs + 32]
        if ti in ovr:
            src = img[ys : ys + 32, xs : xs + 32].astype(int)
            assert np.abs(got.astype(int) - src).max() <= 2
        else:
            assert np.array_equal(got, base[ys : ys + 32, xs : xs + 32])


@given(st.data())
@settings(max_examples=120, deadline=None)
def test_jpx_corrupted_streams_fail_closed(data):
    """Random byte corruption of a valid JPEG 2000 codestream either
    still decodes to an array or raises UserError — never a raw
    slice/unpack exception, never a hang (bit readers raise at
    exhaustion, so every data-driven loop is stream-bounded)."""

    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.pdfio.jpx import decode_jpx, encode_jpx

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (24, 28), dtype=np.uint8)
    enc = bytearray(encode_jpx(img, 2, precincts=5, layers=2))
    for _ in range(data.draw(st.integers(1, 4))):
        at = data.draw(st.integers(0, len(enc) - 1))
        enc[at] = data.draw(st.integers(0, 255))
    try:
        out = decode_jpx(bytes(enc))
        assert isinstance(out, np.ndarray)
    except UserError:
        pass


@given(st.data())
@settings(max_examples=120, deadline=None)
def test_jbig2_corrupted_streams_fail_closed(data):
    """Random byte corruption of a valid embedded JBIG2 stream either
    still decodes to a bitmap or raises UserError — never a raw
    slice/unpack exception."""

    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.pdfio.jbig2 import (
        decode_jbig2_embedded, encode_jbig2_symbol_text,
    )

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    img = np.zeros((30, 40), np.uint8)
    img[4:12, 3:12] = (rng.random((8, 9)) < 0.5).astype(np.uint8)
    img[15:23, 20:30] = (rng.random((8, 10)) < 0.5).astype(np.uint8)
    huff = data.draw(st.booleans())
    enc = bytearray(encode_jbig2_symbol_text(img, huffman=huff))
    for _ in range(data.draw(st.integers(1, 4))):
        at = data.draw(st.integers(0, len(enc) - 1))
        enc[at] = data.draw(st.integers(0, 255))
    try:
        out = decode_jbig2_embedded(bytes(enc))
        assert isinstance(out, np.ndarray)
    except UserError:
        pass


def test_jbig2_huge_declared_region_fails_fast():
    """A generic-region header that declares 16384 x 16384 px (2^28,
    the size cap) over a 304-byte MQ payload: once the coded data is
    used up the decoder is fed only fill bytes, and it must give up
    then instead of walking the whole region pixel by pixel."""

    import struct
    import time

    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.pdfio.jbig2 import (
        decode_jbig2_embedded, encode_generic,
    )

    def segment(num: int, seg_type: int, payload: bytes) -> bytes:
        return (struct.pack(">IB", num, seg_type) + b"\x00\x01"
                + struct.pack(">I", len(payload)) + payload)

    rng = np.random.default_rng(3)
    coded = encode_generic((rng.random((40, 60)) < 0.3).astype(np.uint8))
    assert len(coded) == 304
    region = (
        struct.pack(">IIII", 1 << 14, 1 << 14, 0, 0) + b"\x00"
        + b"\x00" + bytes([3, 0xFF, 0xFD, 0xFF, 2, 0xFE, 0xFE, 0xFE])
        + coded
    )  # region info, GB template 0 without TPGDON, nominal AT
    stream = segment(0, 38, region) + segment(1, 49, b"")
    t0 = time.perf_counter()
    with pytest.raises(UserError):
        decode_jbig2_embedded(stream)
    assert time.perf_counter() - t0 < 1.0


def test_jbig2_huge_region_with_custom_at_fails_closed():
    """A generic region whose AT pixels are not the nominal ones takes
    the per-pixel decoder, which must apply the same 2^28 px cap: a
    corrupted header declaring 2621440 x 1966080 px (found by the
    property test above) raises UserError, not a 4.7 TiB allocation."""

    import struct

    from pdf_toolkit_spark.errors import UserError
    from pdf_toolkit_spark.pdfio.jbig2 import decode_jbig2_embedded

    region = (
        struct.pack(">IIII", 2621440, 1966080, 0, 0) + b"\x00"
        + b"\x00" + bytes([2, 0xFF, 0xFD, 0xFF, 2, 0xFE, 0xFE, 0xFE])
        + bytes(8)
    )  # GB template 0, A1 at (2, -1) in place of the nominal (3, -1)
    stream = (struct.pack(">IB", 0, 38) + b"\x00\x01"
              + struct.pack(">I", len(region)) + region)
    with pytest.raises(UserError, match="implausible generic region"):
        decode_jbig2_embedded(stream)


@given(st.data())
@settings(max_examples=120, deadline=None)
def test_image_codecs_corrupted_streams_fail_closed(data):
    """Random byte corruption of valid PNG/JPEG bytes either still
    decodes or raises the codec's documented error type (ValueError
    for PNG, UserError for JPEG) — never a raw slice/unpack/zlib
    exception, never a giant allocation from a flipped dimension."""

    from pdf_toolkit_spark.pdfio.jpeg import decode_jpeg, encode_jpeg
    from pdf_toolkit_spark.pdfio.png import decode_png, encode_png

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (24, 28), dtype=np.uint8)
    codec = data.draw(st.sampled_from(["png", "jpeg"]))
    enc = bytearray(
        encode_png(img) if codec == "png" else encode_jpeg(img, quality=60)
    )
    for _ in range(data.draw(st.integers(1, 4))):
        at = data.draw(st.integers(0, len(enc) - 1))
        enc[at] = data.draw(st.integers(0, 255))
    try:
        out = (decode_png if codec == "png" else decode_jpeg)(bytes(enc))
        assert isinstance(out, np.ndarray)
    except (UserError, ValueError):
        pass


@given(st.data())
@settings(max_examples=120, deadline=None)
def test_media_codecs_corrupted_streams_fail_closed(data):
    """Random byte corruption of valid WAV/y4m/AVI containers either
    still decodes or raises UserError — never a raw exception."""

    from pdf_toolkit_spark.media_codecs import (
        decode_avi, decode_wav, decode_y4m,
        encode_avi, encode_wav, encode_y4m,
    )

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    kind = data.draw(st.sampled_from(["wav", "y4m", "avi"]))
    if kind == "wav":
        enc = bytearray(encode_wav(
            rng.integers(-500, 500, (64, 2)).astype(np.int16), 8000))
        dec = decode_wav
    else:
        frames = rng.integers(0, 256, (3, 10, 14), dtype=np.uint8)
        enc = bytearray(
            encode_y4m(frames) if kind == "y4m" else encode_avi(frames))
        dec = decode_y4m if kind == "y4m" else decode_avi
    for _ in range(data.draw(st.integers(1, 4))):
        at = data.draw(st.integers(0, len(enc) - 1))
        enc[at] = data.draw(st.integers(0, 255))
    try:
        out = dec(bytes(enc))
        assert isinstance(out, tuple)
    except UserError:
        pass


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_decode_header_corrupt_degrades_to_stub(data):
    """The multimodal dispatch NEVER raises on a corrupt recognized
    payload: it degrades to the deterministic format="corrupt" row
    (a flipped byte in one image at corpus scale must become a
    countable row, not a dead task). Unrecognizable payloads keep
    taking the sha256 stub path."""

    from pdf_toolkit_spark.ops.multimodal import decode_header
    from pdf_toolkit_spark.pdfio.png import encode_png

    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    enc = bytearray(encode_png(rng.integers(0, 256, (16, 20), dtype=np.uint8)))
    # corrupt AFTER the magic so the PNG branch is the one exercised
    for _ in range(data.draw(st.integers(1, 4))):
        at = data.draw(st.integers(8, len(enc) - 1))
        enc[at] = data.draw(st.integers(0, 255))
    meta = decode_header(bytes(enc))
    assert meta["format"] in ("png-gray", "png-rgb", "corrupt")
    if meta["format"] == "corrupt":
        assert meta["width"] == 0 and meta["height"] == 0
        assert meta["thumb_ref"].startswith("sha256:")
