"""Pure-stdlib TIFF 6.0 decoder + fixture encoder.

Scanned-document corpora are TIFF-heavy (fax/scanner output), so the
decode ladder needs it. Implements the public TIFF 6.0 specification
(Adobe 1992): II/MM byte orders, IFD chains (multi-PAGE files —
exactly the scanned-document shape), strips, and the compressions a
scanner actually emits: CCITT G4/MMR (4), G3/T.4 (3, EOL-framed
1-D or mixed 2-D) and MH (2) bilevel fax via
functions/ccitt.py, plus none (1), LZW (5, MSB-first
variable-width codes WITH early change, optional horizontal-
differencing Predictor 2), and PackBits RLE (32773). Photometric
0/1 (bilevel+gray, incl. WhiteIsZero inversion), 2 (RGB), 3
(palette, 16-bit color map). CCITT uncompressed-mode (T4Options
bit 1) and JPEG-in-TIFF raise a surfaced ValueError.

The encoders build fixtures (uncompressed / PackBits / LZW +
predictor / bilevel G4, single- or multi-page) so round-trips pin the
decoder without third-party imagery; the T.4/T.6 tables themselves are
structurally pinned (prefix-freeness, counts) in test_tiff.py.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 64_000_000


def is_tiff(data: bytes) -> bool:
    return data[:4] in (b"II*\x00", b"MM\x00*")


# ---------------------------------------------------------------------------
# TIFF LZW (MSB-first, early change) and PackBits
# ---------------------------------------------------------------------------


def lzw_decode(data: bytes, max_out: int, early: int = 1) -> bytes:
    """TIFF LZW (TIFF 6.0 §13), also PDF ``/LZWDecode`` (PDF 7.4.4):
    MSB-first codes of 9→12 bits, 256 = clear table, 257 = end of data.
    ``early`` = 1 grows the code width one code early (TIFF always; the
    PDF EarlyChange default), 0 on the boundary. Raises ValueError on a
    corrupt stream (a code beyond the table, including after a clear)
    or when the output exceeds ``max_out``; a stream that runs out of
    bits before end-of-data returns what it decoded."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    out = bytearray()
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1  # trim consumed high bits

        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            return bytes(out)
        if code < len(table) and code not in (CLEAR, EOI):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW: code {code}")
        out += entry
        if len(out) > max_out:
            raise ValueError("LZW output exceeds its ceiling")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            # early change: width grows one code sooner than GIF
            if len(table) + early >= 1 << width and width < 12:
                width += 1
        prev = entry


def _lzw_encode_tiff(payload: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1

    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR, width)
    if payload:
        seq = payload[:1]
        for b in payload[1:]:
            cand = seq + bytes([b])
            if cand in table:
                seq = cand
                continue
            emit(table[seq], width)
            table[cand] = next_code
            # EARLY CHANGE, aligned with the decoder: the decoder's
            # table length equals the code just assigned here, so bump
            # when THAT value hits 2^width - 1 (before incrementing)
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
            next_code += 1
            if next_code > 4093:
                emit(CLEAR, width)
                table = {bytes([i]): i for i in range(256)}
                width = 9
                next_code = 258
            seq = bytes([b])
        emit(table[seq], width)
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        h = data[pos]
        pos += 1
        if h < 128:
            out += data[pos : pos + h + 1]
            pos += h + 1
        elif h > 128:
            if pos >= n:
                break
            out += bytes([data[pos]]) * (257 - h)
            pos += 1
        # 128 = no-op
        if len(out) > max_out:
            raise ValueError("PackBits output exceeds strip size")
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += 1
        while (
            i < n
            and i - lit_start < 128
            and not (i + 1 < n and data[i + 1] == data[i])
        ):
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


# ---------------------------------------------------------------------------
# IFD parsing
# ---------------------------------------------------------------------------

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _read_ifd(data: bytes, off: int, e: str) -> tuple[dict[int, list[int]], int]:
    count = struct.unpack_from(e + "H", data, off)[0]
    tags: dict[int, list[int]] = {}
    for i in range(count):
        base = off + 2 + 12 * i
        tag, typ, n = struct.unpack_from(e + "HHI", data, base)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue
        total = size * n
        voff = base + 8 if total <= 4 else struct.unpack_from(e + "I", data, base + 8)[0]
        if typ == 3:
            vals = list(struct.unpack_from(f"{e}{n}H", data, voff))
        elif typ == 4:
            vals = list(struct.unpack_from(f"{e}{n}I", data, voff))
        elif typ == 1:
            vals = list(data[voff : voff + n])
        elif typ == 5:
            vals = [
                struct.unpack_from(e + "II", data, voff + 8 * j)[0]
                for j in range(n)
            ]
        else:  # ASCII
            vals = list(data[voff : voff + n])
        tags[tag] = vals
    nxt = struct.unpack_from(e + "I", data, off + 2 + 12 * count)[0]
    return tags, nxt


def _decode_page(data: bytes, tags: dict[int, list[int]]) -> np.ndarray:
    w = tags[256][0]
    h = tags[257][0]
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError(f"implausible TIFF dimensions {w}x{h}")
    spp = tags.get(277, [1])[0]
    bits_l = tags.get(258, [1])
    bits = bits_l[0]
    if any(b != bits for b in bits_l):
        raise ValueError("heterogeneous BitsPerSample unsupported")
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    pred = tags.get(317, [1])[0]
    t4opts = tags.get(292, [0])[0]
    if comp == 3 and (t4opts & 0x02):
        raise ValueError("CCITT G3 uncompressed mode unsupported")
    if comp in (6, 7):
        raise ValueError("JPEG-in-TIFF unsupported (surfaced)")
    if comp not in (1, 2, 3, 4, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if bits not in (1, 8):
        raise ValueError(f"unsupported TIFF bit depth {bits}")

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tables")
    rows_per = tags.get(278, [h])[0] or h
    row_bytes = (w * bits * spp + 7) // 8

    if comp in (2, 3, 4):
        # CCITT MH (2) / G3 T.4 (3, EOL-framed, 1-D or mixed 2-D per
        # T4Options bit 0) / G4 MMR (4): bilevel fax — each strip is an
        # independently coded block (G4 references an all-white first
        # line per strip, per TIFF 6.0 §11). Decoders emit 1 = black.
        from agentic_doc_spark.functions.ccitt import (
            g3_1d_decode,
            g3_decode,
            g4_decode,
        )

        if bits != 1 or spp != 1:
            raise ValueError("CCITT TIFF must be 1-bit single-sample")
        if tags.get(266, [1])[0] != 1:
            raise ValueError("CCITT FillOrder=2 (LSB-first) unsupported")
        if comp == 4 and tags.get(293, [0])[0] not in (0,):
            raise ValueError("T6Options uncompressed mode unsupported")
        blocks = []
        for i, (o, c) in enumerate(zip(offsets, counts)):
            strip = data[o : o + c]
            if len(strip) < c:
                raise ValueError("truncated TIFF strip")
            nrows = min(rows_per, h - i * rows_per)
            if nrows <= 0:
                continue
            if comp == 4:
                blocks.append(g4_decode(strip, w, nrows))
            elif comp == 3:
                blocks.append(
                    g3_decode(strip, w, nrows, two_d=bool(t4opts & 0x01))
                )
            else:
                blocks.append(g3_1d_decode(strip, w, nrows))
        black = np.concatenate(blocks, axis=0) if blocks else np.zeros(
            (0, w), np.uint8
        )
        if black.shape[0] != h:
            raise ValueError("CCITT strip rows short of declared height")
        # a coded "white" run is SAMPLE 0 in both photometrics; the
        # photometric then maps samples to display shades (same lut as
        # the uncompressed 1-bit path below)
        lut = (
            np.array([[255, 255, 255], [0, 0, 0]], dtype=np.uint8)
            if photo == 0  # WhiteIsZero: sample 1 = black ink
            else np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        )
        return lut[black]

    raw = bytearray()
    for i, (o, c) in enumerate(zip(offsets, counts)):
        strip = data[o : o + c]
        if len(strip) < c:
            raise ValueError("truncated TIFF strip")
        nrows = min(rows_per, h - i * rows_per)
        cap = row_bytes * max(nrows, 0) + row_bytes
        if comp == 1:
            raw += strip
        elif comp == 5:
            raw += lzw_decode(strip, cap)
        else:
            raw += _packbits_decode(strip, cap)
    need = row_bytes * h
    if len(raw) < need:
        raise ValueError("TIFF pixel data short of declared size")
    rows = np.frombuffer(bytes(raw[:need]), dtype=np.uint8).reshape(
        h, row_bytes
    )

    if bits == 1:
        idx = np.unpackbits(rows, axis=1)[:, :w]
        lut = (
            np.array([[255, 255, 255], [0, 0, 0]], dtype=np.uint8)
            if photo == 0  # WhiteIsZero
            else np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        )
        return lut[idx]

    px = rows[:, : w * spp].reshape(h, w, spp)
    if pred == 2:
        # horizontal differencing accumulates mod 256 per channel
        px = np.cumsum(px, axis=1, dtype=np.uint8)
    if photo == 3:  # palette: 16-bit color map → 8-bit RGB
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise ValueError("palette TIFF without full ColorMap")
        n = len(cmap) // 3
        pal = (
            np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8
        ).astype(np.uint8)
        return pal[np.minimum(px[:, :, 0], n - 1)]
    if photo == 0:  # WhiteIsZero grayscale
        px = 255 - px
    if spp == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3].copy()


def _walk_ifds(data: bytes, max_pages: int):
    """Yield per-page tag dicts; ValueError on a broken container."""
    if not is_tiff(data):
        raise ValueError("not a TIFF")
    e = "<" if data[:2] == b"II" else ">"
    try:
        off = struct.unpack_from(e + "I", data, 4)[0]
    except struct.error as ex:
        raise ValueError(f"corrupt TIFF: {ex}") from ex
    n = 0
    seen = set()
    while off and n < max_pages:
        if off in seen:
            raise ValueError("cyclic IFD chain")
        seen.add(off)
        try:
            tags, off = _read_ifd(data, off, e)
        except (struct.error, IndexError) as ex:
            raise ValueError(f"corrupt TIFF IFD: {ex}") from ex
        yield n, tags
        n += 1


def iter_tiff_pages(data: bytes, max_pages: int = 64):
    """Yield ``(page_index, array_or_None)`` per IFD — None for a page
    that fails to decode (CCITT page, corrupt strip) while the REST of
    the document still decodes: a 4-page scanner TIFF with one bad page
    must not lose its three good pages. Raises ValueError only when the
    CONTAINER itself is broken (bad magic, cyclic/truncated IFD chain)."""
    for n, tags in _walk_ifds(data, max_pages):
        try:
            arr = _decode_page(data, tags)
        except (ValueError, struct.error, IndexError, KeyError):
            arr = None
        yield n, arr


def tiff_pages(data: bytes, max_pages: int = 64) -> list[np.ndarray]:
    """Decode every page (IFD) to RGB uint8 (h, w, 3) — the multi-page
    scanned-document shape. STRICT: any undecodable page raises with
    its cause (the codec-test contract); use ``iter_tiff_pages`` for
    per-page tolerance."""
    pages = []
    for _n, tags in _walk_ifds(data, max_pages):
        try:
            pages.append(_decode_page(data, tags))
        except (struct.error, IndexError, KeyError) as ex:
            raise ValueError(f"corrupt TIFF page: {ex}") from ex
    return pages


def tiff_page_count(data: bytes, max_pages: int = 64) -> int:
    """Number of IFDs (pages) — header walk only, no pixel decode."""
    if not is_tiff(data):
        raise ValueError("not a TIFF")
    try:
        e = "<" if data[:2] == b"II" else ">"
        off = struct.unpack_from(e + "I", data, 4)[0]
        n = 0
        seen = set()
        while off and n < max_pages:
            if off in seen:
                raise ValueError("cyclic IFD chain")
            seen.add(off)
            count = struct.unpack_from(e + "H", data, off)[0]
            off = struct.unpack_from(e + "I", data, off + 2 + 12 * count)[0]
            n += 1
        return n
    except (struct.error, IndexError) as ex:
        raise ValueError(f"corrupt TIFF: {ex}") from ex


def decode_tiff(data: bytes) -> np.ndarray:
    """First page as RGB uint8 (h, w, 3)."""
    pages = tiff_pages(data, max_pages=1)
    if not pages:
        raise ValueError("TIFF contains no IFD")
    return pages[0]


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_tiff_bilevel(
    pages: list[np.ndarray],
    compression: int = 1,
    rows_per_strip: int | None = None,
) -> bytes:
    """Bilevel pages (h, w) with nonzero = black ink → little-endian
    1-bit TIFF, PhotometricInterpretation=0 (WhiteIsZero — the fax
    convention: sample 1 = black), Compression 1 (packed bits), 3
    (CCITT G3 mixed 2-D, EOL-framed) or 4 (CCITT Group 4).
    ``rows_per_strip`` splits fax pages into independently coded strips
    (TIFF 6.0 §11) — fixture-grade, used to pin the decoders against
    their uncompressed twins."""
    if compression not in (1, 3, 4):
        raise ValueError("bilevel fixture encoder supports none/G3/G4")
    from agentic_doc_spark.functions.ccitt import g3_encode, g4_encode

    out = bytearray(b"II*\x00" + b"\x00\x00\x00\x00")
    ifd_patch = 4
    for page in pages:
        black = (np.asarray(page) != 0).astype(np.uint8)
        h, w = black.shape
        rps = min(rows_per_strip or h, h)
        strips = []
        for y0 in range(0, h, rps):
            block = black[y0 : y0 + rps]
            if compression == 4:
                strips.append(g4_encode(block))
            elif compression == 3:
                strips.append(g3_encode(block, two_d=True))
            else:
                strips.append(np.packbits(block, axis=1).tobytes())
        strip_offs = []
        for s in strips:
            strip_offs.append(len(out))
            out += s
            if len(out) % 2:
                out += b"\x00"
        n = len(strips)
        if n == 1:
            off_val, cnt_val = strip_offs[0], len(strips[0])
        else:
            offs_pos = len(out)
            out += struct.pack(f"<{n}I", *strip_offs)
            cnts_pos = len(out)
            out += struct.pack(f"<{n}I", *(len(s) for s in strips))
            off_val, cnt_val = offs_pos, cnts_pos
        entries = [
            (256, 4, 1, w),
            (257, 4, 1, h),
            (258, 3, 1, 1),
            (259, 3, 1, compression),
            (262, 3, 1, 0),
            (273, 4, n, off_val),
            (277, 3, 1, 1),
            (278, 4, 1, rps),
            (279, 4, n, cnt_val),
        ]
        if compression == 3:
            entries.append((292, 4, 1, 1))  # T4Options: 2-D coding
        entries.sort()
        ifd_off = len(out)
        struct.pack_into("<I", out, ifd_patch, ifd_off)
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHII", tag, typ, cnt, val)
        ifd_patch = len(out)
        out += b"\x00\x00\x00\x00"  # next-IFD, patched by the next page
    return bytes(out)


def encode_tiff(
    pages: list[np.ndarray],
    compression: int = 1,
    predictor: int = 1,
) -> bytes:
    """RGB uint8 pages → little-endian TIFF (compression 1/5/32773,
    optional Predictor 2 with LZW). One strip per page — fixture-grade."""
    if compression not in (1, 5, 32773):
        raise ValueError("fixture encoder supports none/LZW/PackBits")
    out = bytearray(b"II*\x00" + b"\x00\x00\x00\x00")
    ifd_patch = 4
    for page in pages:
        h, w = page.shape[:2]
        px = page.astype(np.uint8)
        if predictor == 2:
            d = px.astype(np.int16)
            d[:, 1:] = d[:, 1:] - d[:, :-1]
            px = (d & 0xFF).astype(np.uint8)
        body = px.tobytes()
        if compression == 5:
            body = _lzw_encode_tiff(body)
        elif compression == 32773:
            body = _packbits_encode(body)

        strip_off = len(out)
        out += body
        if len(out) % 2:
            out += b"\x00"

        bps_off = len(out)
        out += struct.pack("<3H", 8, 8, 8) + b"\x00\x00"

        entries = [
            (256, 4, 1, w),
            (257, 4, 1, h),
            (258, 3, 3, bps_off),
            (259, 3, 1, compression),
            (262, 3, 1, 2),
            (273, 4, 1, strip_off),
            (277, 3, 1, 3),
            (278, 4, 1, h),
            (279, 4, 1, len(body)),
        ]
        if predictor == 2:
            entries.append((317, 3, 1, 2))
        entries.sort()
        ifd_off = len(out)
        struct.pack_into("<I", out, ifd_patch, ifd_off)
        out += struct.pack("<H", len(entries))
        for tag, typ, n, val in entries:
            out += struct.pack("<HHII", tag, typ, n, val)
        ifd_patch = len(out)
        out += b"\x00\x00\x00\x00"  # next-IFD, patched by the next page
    return bytes(out)
