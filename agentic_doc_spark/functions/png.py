"""Pure-stdlib PNG codec (zlib + struct + numpy) — makes the raster
boundary REAL without an imaging library.

Covers the PNG subset a document pipeline produces/consumes on decode:
greyscale at 1/2/4/8/16 bits (1-bit is the classic scanned-document
format), palette (PLTE, optional tRNS alpha) at 1/2/4/8 bits, 8- and
16-bit RGB / grey+alpha / RGBA (16-bit reduces to the high byte) —
plain or Adam7-interlaced — with all five scanline filters; encode
writes 8-bit non-interlaced filter-0. The deterministic fake
(operators/multimodal.py) remains the last-resort fallback.
Public-spec implementation (RFC 2083 / W3C PNG); no external code.

Perf boundary: filters None/Up/Sub decode fully vectorized; Average and
Paeth (which libpng picks adaptively) fall back to a per-byte Python
loop — when decoding libpng-authored rasters in bulk, install an imaging
library so the decode ladder takes the C path first.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

#: channels per color type (3 = palette: 1 index channel pre-lookup)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: admitted (color_type, bit_depth) pairs
_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

#: Adam7 pass geometry: (x0, y0, dx, dy) — spec §8.2 pixel grid
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def is_png(data: bytes) -> bool:
    return data[:8] == _SIG


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _defilter(
    raw: bytes, offset: int, width: int, height: int, ch: int, depth: int
) -> tuple[np.ndarray, int]:
    """Reconstruct one (sub-)image's filtered scanlines.

    Returns (uint8 array of shape (height, stride) of reconstructed row
    BYTES, bytes consumed). ``fpp`` — the filter's left-neighbor byte
    distance — is max(1, ch*depth//8) per spec 6.6 (sub-byte depths use
    1)."""
    stride = (width * ch * depth + 7) // 8
    fpp = max(1, (ch * depth) // 8)
    need = height * (stride + 1)
    if offset + need > len(raw):
        raise ValueError("bad IDAT payload size")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row_start = offset + y * (stride + 1)
        ftype = raw[row_start]
        filt = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            recon = filt
        elif ftype == 2:  # Up
            recon = (filt + prev) & 0xFF
        elif ftype == 1:  # Sub — per-unit cumulative sum mod 256
            recon = filt.reshape(-1, fpp).cumsum(axis=0).astype(np.int64)
            recon = (recon & 0xFF).reshape(-1).astype(np.int32)
        elif ftype == 3:  # Average
            recon = filt.copy()
            for x in range(stride):
                left = recon[x - fpp] if x >= fpp else 0
                recon[x] = (recon[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            recon = filt.copy()
            for x in range(stride):
                left = int(recon[x - fpp]) if x >= fpp else 0
                upleft = int(prev[x - fpp]) if x >= fpp else 0
                recon[x] = (recon[x] + _paeth(left, int(prev[x]), upleft)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out, need


def _unpack_samples(
    rows: np.ndarray, width: int, ch: int, depth: int
) -> np.ndarray:
    """(height, stride) reconstructed bytes → (height, width*ch) samples
    (raw sample values; sub-byte depths unpacked MSB-first; 16-bit
    samples reduce to their HIGH byte — the libpng strip-16
    convention)."""
    if depth == 8:
        return rows[:, : width * ch]
    if depth == 16:  # big-endian sample pairs → high byte
        return rows[:, : width * ch * 2].reshape(rows.shape[0], width * ch, 2)[
            :, :, 0
        ]
    bits = np.unpackbits(rows, axis=1)
    n = width * ch  # sub-byte depths only occur with ch == 1
    groups = bits[:, : n * depth].reshape(rows.shape[0], n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    return (groups * weights).sum(axis=2).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array of shape (h, w, channels).

    Color types 0 (grey, depth 1/2/4/8/16), 2 (RGB 8/16), 3 (palette,
    depth 1/2/4/8, tRNS → RGBA), 4 (grey+alpha 8/16), 6 (RGBA 8/16);
    16-bit samples reduce to their high byte; plain or
    Adam7-interlaced."""
    if not is_png(data):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    idat = bytearray()
    plte = trns = None
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[
            pos + 4 : pos + 8
        ]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", chunk)
            )
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if bit_depth not in _DEPTHS[color_type]:
                raise ValueError(
                    f"unsupported bit depth {bit_depth} for color type "
                    f"{color_type}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(chunk, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    if not (0 < width * height <= 64_000_000):
        raise ValueError("unreasonable PNG dimensions")
    ch = _CHANNELS[color_type]
    # bound decompression to the geometry the header declares (+ slack
    # for per-pass filter bytes) — a crafted high-ratio IDAT must not
    # expand past what a valid image of these dims could need
    need = height * ((width * ch * bit_depth + 7) // 8 + 1) + 8 * height + 1024
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), need)
    if d.unconsumed_tail:
        raise ValueError("IDAT larger than the declared geometry")

    if interlace == 0:
        rows, _ = _defilter(raw, 0, width, height, ch, bit_depth)
        samples = _unpack_samples(rows, width, ch, bit_depth)
    else:  # Adam7: seven independent filtered sub-images, scattered back
        samples = np.zeros((height, width * ch), dtype=np.uint8)
        view = samples.reshape(height, width, ch)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue  # empty pass contributes no scanlines at all
            rows, used = _defilter(raw, offset, pw, ph, ch, bit_depth)
            offset += used
            sub = _unpack_samples(rows, pw, ch, bit_depth).reshape(ph, pw, ch)
            view[y0::dy, x0::dx] = sub

    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        idx = samples.reshape(height, width)
        if idx.max() >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            k = min(len(trns), len(plte))  # spec: tRNS ≤ PLTE; clamp junk
            alpha[:k] = trns[:k]
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    if bit_depth < 8:  # sub-byte grey: scale to full 8-bit range
        samples = samples * (255 // ((1 << bit_depth) - 1))
    return samples.reshape(height, width, ch)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, {1,2,3,4}) → PNG bytes (filter 0)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    rows = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(rows, 6))
        + _chunk(b"IEND", b"")
    )


def crop(arr: np.ndarray, x0: int, y0: int, x1: int, y1: int) -> np.ndarray:
    """Pixel-rect crop with bounds clamping (reference crop semantics,
    agentic_doc/utils.py:193-208: clamp then slice)."""
    h, w = arr.shape[:2]
    x0, x1 = max(0, min(x0, w)), max(0, min(x1, w))
    y0, y1 = max(0, min(y0, h)), max(0, min(y1, h))
    return arr[y0:y1, x0:x1]


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (index-map gather — the deterministic,
    dependency-free kernel)."""
    h, w = arr.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[ys][:, xs]
