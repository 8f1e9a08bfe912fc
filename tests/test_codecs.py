"""Codec round-trip + PSNR invariant tests (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lagespark import fixtures
from lagespark.image import codecs


def _imgs():
    for i in range(12):
        w = (16, 32, 64)[i % 3]
        yield i, codecs.procedural_image(i, w, w)


@pytest.mark.parametrize("fmt", ["raw", "ppm", "png"])
def test_lossless_roundtrip(fmt):
    for i, px in _imgs():
        data = codecs.encode_image(px, fmt)
        out = codecs.decode_image(data, fmt, px.shape[1], px.shape[0])
        assert (out == px).all(), f"{fmt} roundtrip mismatch for image {i}"


def test_qdct_psnr_invariant():
    """The BASELINE.json:6 per-row invariant: PSNR ≥ 40 dB for lossy."""
    worst = np.inf
    for i, px in _imgs():
        data = codecs.encode_image(px, "qdct")
        out = codecs.decode_image(data, "qdct", px.shape[1], px.shape[0])
        worst = min(worst, codecs.psnr(px, out))
    assert worst >= 40.0, f"worst qdct PSNR {worst:.2f} dB < 40"


def test_qdct_nonsquare_and_padding():
    px = codecs.procedural_image(5, 37, 23)  # non-multiple-of-8
    out = codecs.decode_image(codecs.encode_image(px, "qdct"), "qdct")
    assert out.shape == px.shape
    assert codecs.psnr(px, out) >= 40.0


def test_png_filters_decode():
    """Decoder must handle filters 1-4, not just our encoder's 0."""
    import struct
    import zlib

    px = codecs.procedural_image(3, 16, 16)
    h, w = px.shape[:2]
    rows = px.reshape(h, w * 3).astype(np.int32)
    raw = bytearray()
    for r in range(h):
        ft = r % 5
        line = rows[r]
        prev = rows[r - 1] if r > 0 else np.zeros(w * 3, np.int32)
        if ft == 0:
            enc = line
        elif ft == 1:
            a = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            enc = (line - a) & 0xFF
        elif ft == 2:
            enc = (line - prev) & 0xFF
        elif ft == 3:
            a = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            enc = (line - (a + prev) // 2) & 0xFF
        else:
            a = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            c = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c))
            enc = (line - pred) & 0xFF
        raw.append(ft)
        raw.extend(enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        codecs.PNG_SIG
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(bytes(raw)))
        + codecs._chunk(b"IEND", b"")
    )
    out = codecs.decode_png(data)
    assert (out == px).all()


def test_phash_deterministic_and_discriminative():
    h0 = codecs.phash64(codecs.procedural_image(0, 32, 32))
    h0b = codecs.phash64(codecs.procedural_image(0, 32, 32))
    h1 = codecs.phash64(codecs.procedural_image(1, 32, 32))
    assert h0 == h0b
    assert h0 != h1
    assert -(2**63) <= h0 < 2**63


def test_phash_robust_to_qdct():
    """pHash must survive the lossy codec (hamming distance small)."""
    for i, px in _imgs():
        out = codecs.decode_image(codecs.encode_image(px, "qdct"), "qdct")
        d = bin((codecs.phash64(px) ^ codecs.phash64(out)) & (2**64 - 1)).count("1")
        assert d <= 4, f"phash hamming {d} after qdct for image {i}"


@pytest.mark.parametrize("fmt", ["raw", "ppm", "png", "qdct"])
def test_encoders_leave_px_unchanged(fmt):
    """The image generator hands ONE pixel array to encode_image, phash64
    and the keep_px roundtrip reference: neither may write into it."""
    for i, px in _imgs():
        ref = px.copy()
        px.flags.writeable = False  # an in-place write raises instead
        codecs.encode_image(px, fmt)
        codecs.phash64(px)
        assert (px == ref).all(), f"{fmt} encode/phash mutated image {i}"


def test_keep_px_needs_payload():
    with pytest.raises(ValueError, match="keep_px"):
        fixtures.images_pdf_for_indices(np.arange(4), with_payload=False, keep_px=True)
    pdf = fixtures.images_pdf_for_indices(np.arange(4), keep_px=True)
    for row in pdf.itertuples():
        assert codecs.encode_image(row.px_ref, row.fmt) == row.bytes


def test_psnr_basics():
    px = codecs.procedural_image(2, 32, 32)
    assert codecs.psnr(px, px) == float("inf")
    noisy = np.clip(px.astype(int) + 5, 0, 255).astype(np.uint8)
    assert 30 < codecs.psnr(px, noisy) < 40


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10_000), st.sampled_from([16, 24, 32]))
def test_prop_all_fmts_decode_to_same_pixels(i, w):
    px = codecs.procedural_image(i, w, w)
    for fmt in ("raw", "ppm", "png"):
        assert (codecs.decode_image(codecs.encode_image(px, fmt), fmt, w, w) == px).all()
    out = codecs.decode_image(codecs.encode_image(px, "qdct"), "qdct")
    assert codecs.psnr(px, out) >= 40.0
