"""Golden bytes for the MQ-coded encoders (JBIG2 and JPEG 2000).

Corpus documents embed these encoders' output and test data is never
regenerated, so a change to the MQ coder (or anything on the encode
path) must leave every byte unchanged. Each case pins the sha256 of
one encoder call on a fixed seeded input."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pdf_toolkit_spark.pdfio.jbig2 import (
    encode_jbig2_embedded,
    encode_jbig2_symbol_text,
)
from pdf_toolkit_spark.pdfio.jpx import encode_jpx


def _glyph_page() -> np.ndarray:
    r = np.random.default_rng(2024)
    page = np.zeros((48, 96), np.uint8)
    glyphs = [
        r.integers(0, 2, (9, 7)).astype(np.uint8) | np.eye(9, 7, dtype=np.uint8)
        for _ in range(5)
    ]
    for row in range(3, 36, 13):
        for x in range(2, 86, 10):
            page[row : row + 9, x : x + 7] |= glyphs[int(r.integers(0, 5))]
    page[44, 5:90] = 1
    return page


def _gray() -> np.ndarray:
    r = np.random.default_rng(2025)
    g = (np.add.outer(np.arange(40), 2 * np.arange(52)) % 256).astype(np.uint8)
    return (g ^ r.integers(0, 32, g.shape, dtype=np.uint8)).astype(np.uint8)


GOLDEN = {
    "jbig2_embedded": (
        lambda: encode_jbig2_embedded(_glyph_page()),
        "cdb225018634cec6b8c4e5c033ff09233b8cf8b2f7b671843869e1fd1221162a",
    ),
    "jbig2_embedded_t1_tpgdon_refine": (
        lambda: encode_jbig2_embedded(
            _glyph_page(), tpgdon=True, template=1, refine=True, tpgron=True,
        ),
        "4ab6dce2d4d95ad94787d5862e0db07a6ad11776e2aa746d657fbcca750d0419",
    ),
    "jbig2_symbol_text_arith": (
        lambda: encode_jbig2_symbol_text(_glyph_page(), refine_instances=True),
        "4dcf4849ef8c0779e6abcfc7f02bc4c0a4d05b1a240b5a131ea280bc94acf580",
    ),
    "jbig2_symbol_text_refagg": (
        lambda: encode_jbig2_symbol_text(_glyph_page(), refagg_dict=True),
        "e0b71fe457d5f538493d675c32c5fe345e577cd04d6037f44ba01fb7dc26165b",
    ),
    "jbig2_symbol_text_huffman": (
        lambda: encode_jbig2_symbol_text(_glyph_page(), huffman=True),
        "4f458c128c656388f94046aa7a1be83eb9331e887430539c2dfcb634c40c196a",
    ),
    "jpx_plain": (
        lambda: encode_jpx(_gray(), 2),
        "f6693a12bd3b2164645f379188fb29f8027140a8da6cd8db9e50851bd444d698",
    ),
    "jpx_layers3": (
        lambda: encode_jpx(_gray(), 2, layers=3),
        "139b703712a973257e8a6067e46f6c30ed77392bfbfeafdee23e814d70b0b4fc",
    ),
    "jpx_segsym": (
        lambda: encode_jpx(_gray(), 2, segsym=True),
        "861f5d58b6378c1aea6243089aa57b16db96d196290e43c832fb5c51aea2c0a4",
    ),
    "jpx_cblk_style_1f": (
        lambda: encode_jpx(_gray(), 2, cblk_style=0x1F, cb_exp=4),
        "46abe00a631fe1aa2df8bfd51e549800d6160f1e7607298cd0db74018ae979b1",
    ),
    "jpx_cblk_style_bypass": (
        lambda: encode_jpx(_gray(), 2, cblk_style=0x01),
        "a51dad718b29613c835967b2d0a64e8043cc67332ebc2fb27bbdefc710a0daf0",
    ),
    "jpx_cblk_style_causal": (
        lambda: encode_jpx(_gray(), 2, cblk_style=0x08),
        "2f08f36fc90d3f87a04b485b1b4d35b7434f0297963bc7caeaa654ed24f6956a",
    ),
    # the writer's "jpxbyp" profile: 9/7, bypass + causal + predictable
    # termination
    "jpx_cblk_style_jpxbyp": (
        lambda: encode_jpx(
            _gray(), 2, irreversible=True, qstep=1 / 16, cblk_style=0x19,
        ),
        "a581600630a71dcea0fdd69f98533852cc28e8d45fb34f1d7324823ff77776d1",
    ),
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_encoder_output_is_byte_identical(name):
    make, digest = GOLDEN[name]
    assert hashlib.sha256(make()).hexdigest() == digest
