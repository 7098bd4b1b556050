"""Uncompressed media containers, pure numpy (no imaging library).

PPM (P6) and BMP (24/32-bit, 8-bit palette, RLE8) pixels, 16-bit PCM
WAV samples, and a deterministic nearest-neighbour resize.  These are
the image containers `io.fetch.sniff_content_type` recognises that need
no entropy decoder; `decode_pixels` dispatches on the same magic bytes.
A recognized container with a malformed body raises ValueError (the
caller quarantines it); an unrecognized payload is not an error.
"""

from __future__ import annotations

import io
import struct

import numpy as np


def _ppm_header_tokens(b: bytes, n: int) -> tuple[list[int], int]:
    """Parse n whitespace-separated integers after the P6 magic,
    honoring '#' comments (PPM spec); returns (values, body_offset)."""
    vals: list[int] = []
    i = 2  # past 'P6'
    while len(vals) < n:
        if i >= len(b):
            raise ValueError("truncated ppm header")
        c = b[i : i + 1]
        if c == b"#":
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < len(b) and b[j : j + 1].isdigit():
                j += 1
            vals.append(int(b[i:j]))
            i = j
        else:
            raise ValueError("bad ppm header byte")
    # exactly one whitespace char separates maxval from the raster
    if i >= len(b) or not b[i : i + 1].isspace():
        raise ValueError("missing ppm raster separator")
    return vals, i + 1


def decode_ppm(b: bytes) -> np.ndarray:
    """Binary PPM (P6) → (H, W, 3) uint8.  Raises ValueError on a
    malformed body (the caller quarantines)."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 ppm")
    (w, h, maxval), off = _ppm_header_tokens(b, 3)
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError("bad ppm dimensions")
    if maxval > 255:
        raise ValueError("16-bit ppm unsupported")
    need = w * h * 3
    body = b[off : off + need]
    if len(body) < need:
        raise ValueError("truncated ppm raster")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        arr, dtype=np.uint8
    ).tobytes()


def decode_bmp(b: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER) → (H, W, 3) uint8 RGB: uncompressed
    24/32-bit, 8-bit palette (BI_RGB), and RLE8 (BI_RLE8, incl. delta
    and absolute runs).  Bottom-up or top-down rows, 4-byte padding.
    Raises ValueError on anything else."""
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a bmp")
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise ValueError("bmp core header unsupported")
    w, h_signed = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    clr_used = struct.unpack_from("<I", b, 46)[0]
    h = abs(h_signed)
    if planes != 1 or w <= 0 or h == 0:
        raise ValueError("bad bmp header")
    if bpp == 8 and compression in (0, 1):  # palette, raw or RLE8
        n_colors = clr_used or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(b, np.uint8, n_colors * 4, pal_off).reshape(-1, 4)
        lut = pal[:, 2::-1].copy()  # BGRX → RGB
        if compression == 0:
            stride = (w + 3) & ~3
            need = stride * h
            body = b[data_off : data_off + need]
            if len(body) < need:
                raise ValueError("truncated bmp raster")
            idx = np.frombuffer(body, np.uint8).reshape(h, stride)[:, :w]
        else:
            idx = _bmp_rle8(b[data_off:], w, h)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("bmp palette index out of range")
        px = lut[idx]
        return px[::-1] if h_signed > 0 else px
    if bpp not in (24, 32) or compression not in (0, 3):
        raise ValueError("bmp variant unsupported")
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3
    need = stride * h
    body = b[data_off : data_off + need]
    if len(body) < need:
        raise ValueError("truncated bmp raster")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)
    px = rows[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    if h_signed > 0:  # bottom-up storage
        px = px[::-1]
    return px[:, :, 2::-1]  # BGR(A) → RGB, drop alpha


def _bmp_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """RLE8 decode → (h, w) palette indices in STORAGE row order
    (caller flips for bottom-up): encoded runs, absolute runs with
    word alignment, end-of-line (0,0), end-of-bitmap (0,1), and
    delta (0,2,dx,dy) escapes."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    while i + 1 < len(data) and y < h:
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            end = min(x + n, w)
            out[y, x:end] = v
            x = end
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 2 > len(data):
                raise ValueError("truncated bmp rle delta")
            x = min(x + data[i], w)
            y += data[i + 1]
            i += 2
        else:  # absolute run of v literal indices, word-aligned
            if i + v > len(data):
                raise ValueError("truncated bmp rle absolute run")
            end = min(x + v, w)
            out[y, x:end] = np.frombuffer(data, np.uint8, end - x, i)
            x = end
            i += v + (v & 1)
    return out


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → uncompressed 24-bit bottom-up BMP."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    bgr = arr[:, :, ::-1]
    for y in range(h - 1, -1, -1):
        row = bgr[y].tobytes()
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM decode → (mono float64 samples in [-1, 1], rate).
    Supports PCM 8/16/32-bit and IEEE float32, any channel count
    (averaged to mono).  Raises ValueError on anything else."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a wav")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("short wav fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav missing fmt/data")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if n_ch < 1 or rate <= 0:
        raise ValueError("bad wav header")
    if audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_fmt == 1 and bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    elif audio_fmt == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float64)
    else:
        raise ValueError("wav encoding unsupported")
    usable = (len(x) // n_ch) * n_ch
    if usable == 0:
        raise ValueError("empty wav data")
    return x[:usable].reshape(-1, n_ch).mean(axis=1), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Mono float [-1,1] → 16-bit PCM WAV (test/fixture helper)."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1, 1)
    pcm = (pcm * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (every output pixel is an
    input pixel)."""
    h, w = arr.shape[:2]
    yi = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xi = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return arr[yi][:, xi]


# A malformed-but-recognized container can fail deep in a codec with the
# failing layer's exception class (short header → struct.error, bad index
# → IndexError); decode_pixels normalizes these to ValueError so the
# quarantine contract holds for any corruption.
MALFORMED_ERRORS = (ValueError, struct.error, IndexError)

_DECODERS = {b"P6": ("ppm", decode_ppm), b"BM": ("bmp", decode_bmp)}


def decode_pixels(b: bytes, pil=None) -> np.ndarray | None:
    """Pixels for a recognized container, None for an opaque payload.
    Raises ValueError when a RECOGNIZED container is malformed.  An
    optional decoder (`pil`, PIL's Image module or None) is tried only
    for payloads the built-ins don't recognize, so it can add formats
    but never change a built-in result."""
    kind, decode = _DECODERS.get(b[:2], (None, None))
    if decode is not None:
        try:
            return decode(b)
        except MALFORMED_ERRORS as e:
            raise ValueError(f"malformed {kind}: {e}") from e
    if pil is not None:
        try:
            img = pil.open(io.BytesIO(b))
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
        except Exception:
            # unidentifiable → opaque, exactly as if no decoder were given
            return None
    return None
