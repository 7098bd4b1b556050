"""Uncompressed-container codec tests — PPM/BMP pixel decode, the
optional-decoder capability ladder, malformed-container raising, resize.

Contract pinned here: an optional imaging library can only ADD decodable
formats — its presence (working or broken) must never change the result
for a payload that decodes without it."""

import numpy as np
import pytest

from quality_filter.operators.rawcodecs import (
    decode_bmp, decode_pixels, decode_ppm, encode_bmp, encode_ppm,
    resize_nearest,
)


def _demo_pixels(w=8, h=6, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_ppm_roundtrip_and_comment_header():
    px = _demo_pixels()
    assert (decode_ppm(encode_ppm(px)) == px).all()
    with_comment = b"P6\n# a comment\n8 6\n255\n" + px.tobytes()
    assert (decode_ppm(with_comment) == px).all()


def test_bmp_roundtrip():
    px = _demo_pixels(w=5, h=7)  # stride padding path (5*3 = 15 -> 16)
    assert (decode_bmp(encode_bmp(px)) == px).all()


def test_malformed_recognized_containers_raise():
    px = _demo_pixels()
    for bad in (
        encode_ppm(px)[:-10],          # truncated ppm raster
        b"P6\n0 6\n255\n",             # zero width
        encode_bmp(px)[:-20],          # truncated bmp raster
        b"BM" + b"\x00" * 80,          # nonsense bmp header
    ):
        with pytest.raises(ValueError):
            decode_pixels(bad)


def test_optional_decoder_is_strictly_additive():
    """The PIL-present regression: a broken/present optional decoder must
    not change the outcome for payloads the built-ins handle, and a
    working one must only add formats."""
    ppm = encode_ppm(_demo_pixels())
    opaque = b"\x89randomnoise" * 16

    class BrokenPIL:
        @staticmethod
        def open(fp):
            raise RuntimeError("boom")

    # built-in formats: identical with no/broken optional decoder
    assert (decode_pixels(ppm, None) == decode_pixels(ppm, BrokenPIL)).all()
    # opaque payloads: None (stub path) with no/broken optional decoder
    assert decode_pixels(opaque, None) is None
    assert decode_pixels(opaque, BrokenPIL) is None

    class FakeImage:
        def convert(self, mode):
            return _demo_pixels(w=2, h=2, seed=9)

    class WorkingPIL:
        @staticmethod
        def open(fp):
            return FakeImage()

    # a working optional decoder ADDS capability for opaque payloads
    assert decode_pixels(opaque, WorkingPIL).shape == (2, 2, 3)


def test_resize_nearest_deterministic():
    px = _demo_pixels(w=16, h=9)
    small = resize_nearest(px, 4, 4)
    assert small.shape == (4, 4, 3)
    assert (resize_nearest(px, 4, 4) == small).all()
    # identity resize is exact
    assert (resize_nearest(px, 16, 9) == px).all()


def test_bmp_palette_and_rle8():
    """8-bit palette BMPs (BI_RGB and BI_RLE8 with encoded/absolute/
    delta/EOL/EOB escapes), both row orders — the classic web/legacy
    BMP shapes beyond 24/32-bit."""
    import struct as st

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9), (200, 100, 50)]
    pal_bytes = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in palette)

    def build(idx, comp, body, bottom_up):
        h, w = idx.shape
        data_off = 14 + 40 + len(pal_bytes)
        hdr = st.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
        info = st.pack(
            "<IiiHHIIiiII", 40, w, h if bottom_up else -h, 1, 8, comp,
            len(body), 0, 0, len(palette), 0,
        )
        return hdr + info + pal_bytes + body

    rng = np.random.default_rng(6)
    idx = rng.integers(0, 5, (9, 7), dtype=np.uint8)
    want = np.array(palette, dtype=np.uint8)[idx]
    for bottom_up in (True, False):
        rows = idx[::-1] if bottom_up else idx
        stride = (7 + 3) & ~3
        raw = b"".join(rows[y].tobytes() + b"\x00" * (stride - 7) for y in range(9))
        assert (decode_bmp(build(idx, 0, raw, bottom_up)) == want).all()
        rle = bytearray()
        for y in range(9):
            x = 0
            while x < 7:
                run = 1
                while x + run < 7 and rows[y][x + run] == rows[y][x]:
                    run += 1
                rle += bytes([run, rows[y][x]])
                x += run
            rle += bytes([0, 0])
        rle += bytes([0, 1])
        assert (decode_bmp(build(idx, 1, bytes(rle), bottom_up)) == want).all()

    # absolute run (word-aligned), delta, EOL, EOB escapes
    body = (
        bytes([0, 3, 1, 2, 3, 0]) + bytes([0, 0]) + bytes([0, 2, 1, 1])
        + bytes([2, 4]) + bytes([0, 1])
    )
    exp_idx = np.zeros((3, 4), dtype=np.uint8)
    exp_idx[0, :3] = [1, 2, 3]
    exp_idx[2, 1:3] = 4
    got = decode_bmp(build(exp_idx, 1, body, bottom_up=False))
    assert (got == np.array(palette, dtype=np.uint8)[exp_idx]).all()

    # out-of-palette index quarantines
    bad = idx.copy()
    bad[0, 0] = 99
    raw_bad = b"".join((bad[::-1])[y].tobytes() + b"\x00" for y in range(9))
    with pytest.raises(ValueError):
        decode_bmp(build(bad, 0, raw_bad, True))
