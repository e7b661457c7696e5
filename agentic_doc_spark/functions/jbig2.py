"""JBIG2 generic-region codec (ITU-T T.88) — pure stdlib + numpy.

Scope (a deliberate, surfaced boundary like functions/ccitt.py): the MQ
arithmetic coder (T.88 Annex E — the same coder JPEG 2000 uses, with the
published 47-state Qe table) and GENERIC REGION segments coded with
template 0 at the nominal AT positions, with or without typical-
prediction (TPGDON). That covers JBIG2 streams whose pages are plain
arithmetic-coded bitmaps — the "better fax" mode — plus this module's
own fixture encoder — PLUS arithmetic SYMBOL DICTIONARIES and TEXT
REGIONS (SDHUFF=SBHUFF=0, no refinement/aggregation, untransposed,
OR-composed), the shape real scanned PDFs overwhelmingly use: the IAx
integer coders (T.88 Annex A 512-node context trees) decode delta
heights/widths/positions and symbol IDs, symbol bitmaps share one MQ
coder + generic context state, and instances OR onto the region.
Halftone/refinement regions, Huffman-coded variants and MMR return None
at the PDF boundary (surfaced, the caller degrades to an error row), as
does anything referencing /JBIG2Globals.

The PDF embedding (PDF 32000 §7.4.7) carries JBIG2 segments WITHOUT the
file header; ``decode_embedded`` scans segment headers, accumulates
symbol dictionaries, and decodes the first region segment — generic or
symbol-coded text.

Self-checks in tests/test_pdf_text.py: MQ encode↔decode round-trip fuzz,
generic-region round-trips against raw bitmaps (both TPGDON modes), and
an end-to-end PDF /JBIG2Decode image extraction. As with CCITT, no
third-party JBIG2 implementation exists in this container to
cross-check; the Qe table is transcribed from the published standard and
the encoder/decoder are INDEPENDENT walks of the two spec procedures.

Scale note: per-page kernel inside mapInPandas decode ladders — a
pixel-loop Python decoder bounded by page size, never a per-row Spark
UDF.
"""

from __future__ import annotations

import struct

import numpy as np

#: T.88 Table E.1 (shared with JPEG 2000): (Qe, NMPS, NLPS, SWITCH)
_QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQDecoder:
    """T.88 Annex E.3 decoding procedure (software conventions)."""

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        self.c = (self._b() << 16)
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _b(self, off: int = 0) -> int:
        i = self.bp + off
        return self.data[i] if i < len(self.data) else 0xFF

    def _bytein(self) -> None:
        if self._b() == 0xFF:
            if self._b(1) > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += self._b() << 9
                self.ct = 7
        else:
            self.bp += 1
            self.c += self._b() << 8
            self.ct = 8
        self.c &= 0xFFFFFFFF

    def decode(self, cx: list[int]) -> int:
        """One bit under context state cx = [index, mps]."""
        icx, mps = cx
        qe, nmps, nlps, switch = _QE[icx]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange path
            if self.a < qe:
                d = mps
                cx[0] = nmps
            else:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            self.c &= 0xFFFFFFFF
            if self.a & 0x8000:
                return mps
            if self.a < qe:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            else:
                d = mps
                cx[0] = nmps
        # renormalize
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


class MQEncoder:
    """T.88 Annex E.2 encoding procedure (classic dummy-first-byte
    form: BP starts one position before the stream; a carry that
    propagates into the dummy makes it a real leading byte)."""

    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray(b"\x00")  # dummy byte at BP
        self.bp = 0

    def encode(self, cx: list[int], d: int) -> None:
        icx, mps = cx
        qe, nmps, nlps, switch = _QE[icx]
        if d == mps:
            self.a -= qe
            if not (self.a & 0x8000):
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                cx[0] = nmps
                self._renorm()
            else:
                self.c += qe
        else:
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                cx[1] = 1 - mps
            cx[0] = nlps
            self._renorm()

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def _byteout(self) -> None:
        if self.out[self.bp] == 0xFF:
            self._stuff()
            return
        if self.c > 0x7FFFFFF:
            self.out[self.bp] += 1
            if self.out[self.bp] == 0xFF:
                self.c &= 0x7FFFFFF
                self._stuff()
                return
        self.out.append((self.c >> 19) & 0xFF)
        self.bp = len(self.out) - 1
        self.c &= 0x7FFFF
        self.ct = 8

    def _stuff(self) -> None:
        self.out.append((self.c >> 20) & 0xFF)
        self.bp = len(self.out) - 1
        self.c &= 0xFFFFF
        self.ct = 7

    def flush(self) -> bytes:
        # SETBITS (E.2.9) + two final byteouts
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        # drop the dummy unless a carry made it a real leading byte
        return bytes(self.out[1:] if self.out[0] == 0 else self.out)


# --- generic region, template 0, nominal AT pixels ------------------------

#: nominal adaptive-template offsets for GB template 0 (T.88 6.2.5.3)
_AT_NOMINAL = ((3, -1), (-3, -1), (2, -2), (-2, -2))
_SLTP_CX = 0x9B25  # TPGDON context value for template 0


def _gb0_context(page: np.ndarray, x: int, y: int, w: int) -> int:
    """16-bit template-0 context at (x, y), assembled in the T.88
    raster bit order (as in the reference decoders): bits 15..11 = row
    y−2 left-to-right x−2..x+2 (the ±2 positions are nominal A4/A3),
    bits 10..4 = row y−1 x−3..x+3 (±3 are nominal A2/A1), bits 3..0 =
    row y, x−4..x−1. The TPGDON pseudo-pixel context 0x9B25 is defined
    against THIS ordering — a permuted assembly round-trips against
    itself but garbles third-party TPGDON streams."""
    def px(dx: int, dy: int) -> int:
        xx, yy = x + dx, y + dy
        if yy < 0 or xx < 0 or xx >= w:
            return 0
        return int(page[yy, xx])

    return (
        (px(-2, -2) << 15) | (px(-1, -2) << 14) | (px(0, -2) << 13)
        | (px(1, -2) << 12) | (px(2, -2) << 11)
        | (px(-3, -1) << 10) | (px(-2, -1) << 9) | (px(-1, -1) << 8)
        | (px(0, -1) << 7) | (px(1, -1) << 6) | (px(2, -1) << 5)
        | (px(3, -1) << 4)
        | (px(-4, 0) << 3) | (px(-3, 0) << 2) | (px(-2, 0) << 1)
        | px(-1, 0)
    )


def _cx_for(cxs: dict[int, list[int]], val: int) -> list[int]:
    st = cxs.get(val)
    if st is None:
        st = [0, 0]
        cxs[val] = st
    return st


def _decode_generic_bitmap(
    dec: MQDecoder,
    cxs: dict[int, list[int]],
    width: int,
    height: int,
    tpgdon: bool = False,
) -> np.ndarray:
    """Generic-region core against an EXTERNAL coder + context state —
    symbol dictionaries decode every symbol bitmap through one shared
    MQ decoder and one shared generic context set (T.88 6.5.5)."""
    page = np.zeros((height, width), dtype=np.uint8)
    ltp = 0
    for y in range(height):
        if tpgdon:
            if dec.decode(_cx_for(cxs, _SLTP_CX)):
                ltp ^= 1
            if ltp:
                if y > 0:
                    page[y] = page[y - 1]
                continue
        row = page[y]
        for x in range(width):
            ctx = _gb0_context(page, x, y, width)
            row[x] = dec.decode(_cx_for(cxs, ctx))
    return page


def _encode_generic_bitmap(
    enc: MQEncoder,
    cxs: dict[int, list[int]],
    page: np.ndarray,
    tpgdon: bool = False,
) -> None:
    height, width = page.shape
    ltp = 0
    for y in range(height):
        if tpgdon:
            same = y > 0 and bool((page[y] == page[y - 1]).all())
            sltp = 1 if (same != bool(ltp)) else 0
            enc.encode(_cx_for(cxs, _SLTP_CX), sltp)
            if sltp:
                ltp ^= 1
            if ltp:
                continue
        for x in range(width):
            ctx = _gb0_context(page, x, y, width)
            enc.encode(_cx_for(cxs, ctx), int(page[y, x]))


def decode_generic_region(
    data: bytes, width: int, height: int, tpgdon: bool = False
) -> np.ndarray:
    """Arithmetic generic region decode, template 0, nominal ATs →
    (h, w) uint8 with 1 = black."""
    if width <= 0 or height <= 0 or width * height > 64_000_000:
        raise ValueError("bad JBIG2 region dimensions")
    return _decode_generic_bitmap(
        MQDecoder(data), {}, width, height, tpgdon
    )


def encode_generic_region(
    page: np.ndarray, tpgdon: bool = False
) -> bytes:
    """Fixture encoder: the exact mirror of ``decode_generic_region``."""
    page = (np.asarray(page) != 0).astype(np.uint8)
    enc = MQEncoder()
    _encode_generic_bitmap(enc, {}, page, tpgdon)
    return enc.flush()


# --- arithmetic integer / symbol-ID decoding (T.88 Annex A) ----------------


class _ArithInt:
    """One IAx integer coder: a 512-node MQ context tree walked by the
    PREV register (T.88 A.2/A.3). ``OOB`` is the out-of-band marker
    (encoded as sign=1, value=0 — "negative zero")."""

    OOB = object()

    def __init__(self):
        self.cx = [[0, 0] for _ in range(512)]

    # shared PREV walk ----------------------------------------------------
    def _dec_bit(self, mq: MQDecoder, state: list[int]) -> int:
        d = mq.decode(self.cx[state[0]])
        p = state[0]
        state[0] = (
            ((p << 1) | d) if p < 256 else ((((p << 1) | d) & 511) | 256)
        )
        return d

    def _enc_bit(self, mq: MQEncoder, state: list[int], d: int) -> None:
        mq.encode(self.cx[state[0]], d)
        p = state[0]
        state[0] = (
            ((p << 1) | d) if p < 256 else ((((p << 1) | d) & 511) | 256)
        )

    _BUCKETS = ((2, 0), (4, 4), (6, 20), (8, 84), (12, 340), (32, 4436))

    def decode(self, mq: MQDecoder):
        st = [1]
        s = self._dec_bit(mq, st)
        for i, (nbits, offset) in enumerate(self._BUCKETS):
            last = i == len(self._BUCKETS) - 1
            if last or not self._dec_bit(mq, st):
                v = 0
                for _ in range(nbits):
                    v = (v << 1) | self._dec_bit(mq, st)
                v += offset
                break
        if s and v == 0:
            return self.OOB
        return -v if s else v

    def encode(self, mq: MQEncoder, value) -> None:
        if value is self.OOB:
            s, v = 1, 0
        else:
            s, v = (1, -value) if value < 0 else (0, value)
        st = [1]
        self._enc_bit(mq, st, s)
        for i, (nbits, offset) in enumerate(self._BUCKETS):
            last = i == len(self._BUCKETS) - 1
            nxt_off = (
                self._BUCKETS[i + 1][1] if not last else float("inf")
            )
            if v < nxt_off:
                if not last:
                    self._enc_bit(mq, st, 0)
                rel = v - offset
                for b in range(nbits - 1, -1, -1):
                    self._enc_bit(mq, st, (rel >> b) & 1)
                return
            if not last:
                self._enc_bit(mq, st, 1)
        raise ValueError("jbig2: integer out of IAx range")


class _ArithID:
    """IAID symbol-ID coder: a flat (1 << codelen)-leaf MQ tree."""

    def __init__(self, codelen: int):
        self.codelen = codelen
        self.cx = [[0, 0] for _ in range(1 << (codelen + 1))]

    def decode(self, mq: MQDecoder) -> int:
        prev = 1
        for _ in range(self.codelen):
            prev = (prev << 1) | mq.decode(self.cx[prev])
        return prev - (1 << self.codelen)

    def encode(self, mq: MQEncoder, value: int) -> None:
        prev = 1
        for b in range(self.codelen - 1, -1, -1):
            d = (value >> b) & 1
            mq.encode(self.cx[prev], d)
            prev = (prev << 1) | d


# --- PDF-embedded segment stream ------------------------------------------


def encode_embedded(page: np.ndarray, tpgdon: bool = False) -> bytes:
    """Bilevel page → PDF-embedded JBIG2 stream: page-info segment +
    one immediate generic region segment (type 38)."""
    page = (np.asarray(page) != 0).astype(np.uint8)
    h, w = page.shape
    segs = bytearray()
    # page info (type 48, T.88 7.4.8): width, height, xres, yres,
    # flags byte, 2-byte striping — 19 bytes
    pinfo = struct.pack(">IIII", w, h, 0, 0) + b"\x00" + b"\x00\x00"
    segs += struct.pack(">IBB", 0, 48, 0) + b"\x01" + struct.pack(
        ">I", len(pinfo)
    ) + pinfo
    # immediate generic region (type 38)
    body = struct.pack(">IIII", w, h, 0, 0) + b"\x00"  # region info
    flags = 0x08 if tpgdon else 0x00  # MMR=0, template 0, TPGDON bit 3
    body += bytes([flags])
    for dx, dy in _AT_NOMINAL:
        body += struct.pack("bb", dx, dy)
    body += encode_generic_region(page, tpgdon)
    segs += struct.pack(">IBB", 1, 38, 0) + b"\x01" + struct.pack(
        ">I", len(body)
    ) + body
    return bytes(segs)


def decode_embedded(
    data: bytes,
    max_pixels: int = 64_000_000,
    expect: tuple[int, int] | None = None,
) -> np.ndarray:
    """Scan a PDF-embedded JBIG2 segment stream and decode the FIRST
    region segment: generic (types 36/38/39, MMR=0, template 0,
    nominal ATs) or symbol-coded text (types 4/6/7, fed by the
    accumulated type-0 symbol dictionaries it refers to). Raises
    ValueError for anything outside that scope —
    the caller surfaces the gap. ``expect=(w, h)`` cross-checks the
    region dimensions against the container's declared size, and a
    region must lie inside the page a preceding page-information
    segment (type 48) declares (T.88 7.4.8; height 0xFFFFFFFF = striped,
    height unchecked) — so a corrupt header claiming a huge region
    fails fast instead of spinning the per-pixel decode loop for
    minutes."""
    pos = 0
    n = len(data)
    dicts: dict[int, list[np.ndarray]] = {}
    page: tuple[int, int] | None = None
    while pos + 11 <= n:
        _num, flags = struct.unpack_from(">IB", data, pos)
        stype = flags & 0x3F
        page_assoc_4 = bool(flags & 0x40)
        pos += 5
        # referred-to segments: short form only (count ≤ 4)
        rts = data[pos]
        count = rts >> 5
        if count == 7:
            raise ValueError("JBIG2 long referred-to form unsupported")
        pos += 1
        # referred segment numbers: 1/2/4 bytes by the REFERRING
        # segment's number (T.88 7.2.5)
        ref_size = 1 if _num <= 256 else (2 if _num <= 65536 else 4)
        refs = []
        for _ in range(count):
            if ref_size == 1:
                refs.append(data[pos])
            elif ref_size == 2:
                refs.append(struct.unpack_from(">H", data, pos)[0])
            else:
                refs.append(struct.unpack_from(">I", data, pos)[0])
            pos += ref_size
        pos += 4 if page_assoc_4 else 1
        (dlen,) = struct.unpack_from(">I", data, pos)
        pos += 4
        if dlen == 0xFFFFFFFF:
            raise ValueError("JBIG2 unknown-length segment unsupported")
        body = data[pos : pos + dlen]
        pos += dlen
        if stype == 0:  # symbol dictionary
            dicts[_num] = _decode_symbol_dict(body)
            continue
        if stype == 48:  # page information: width, height, ...
            if len(body) < 8:
                raise ValueError("JBIG2 page-info segment too short")
            page = struct.unpack_from(">II", body, 0)
            continue
        if stype in (4, 6, 7, 36, 38, 39):
            _check_region_in_page(body, page)
        if stype in (4, 6, 7):  # (intermediate/immediate) text region
            syms: list[np.ndarray] = []
            for rn in refs:
                if rn in dicts:
                    syms.extend(dicts[rn])
            out = _decode_text_region(body, syms)
            if expect is not None and out.shape[::-1] != expect:
                raise ValueError(
                    f"JBIG2 region {out.shape[1]}x{out.shape[0]} does "
                    "not match the container's declared "
                    f"{expect[0]}x{expect[1]}"
                )
            return out
        if stype in (36, 38, 39):
            if len(body) < 18:
                raise ValueError("JBIG2 region segment too short")
            w, h, _x, _y = struct.unpack_from(">IIII", body, 0)
            if w * h > max_pixels or w <= 0 or h <= 0:
                raise ValueError("implausible JBIG2 region dimensions")
            if expect is not None and (w, h) != expect:
                raise ValueError(
                    f"JBIG2 region {w}x{h} does not match the "
                    f"container's declared {expect[0]}x{expect[1]}"
                )
            gflags = body[17]
            if gflags & 0x01:
                raise ValueError("JBIG2 MMR generic region unsupported")
            template = (gflags >> 1) & 0x03
            if template != 0:
                raise ValueError("JBIG2 template != 0 unsupported")
            tpgdon = bool(gflags & 0x08)
            ats = struct.unpack_from("bbbbbbbb", body, 18)
            if tuple(ats) != tuple(
                v for pair in _AT_NOMINAL for v in pair
            ):
                raise ValueError("JBIG2 non-nominal AT pixels unsupported")
            return decode_generic_region(body[26:], w, h, tpgdon)
        if stype in (16, 20, 22, 23, 40, 42, 43):
            raise ValueError(
                f"JBIG2 segment type {stype} (pattern/halftone/"
                "refinement) unsupported"
            )
    raise ValueError("no region segment found in JBIG2 stream")


def _check_region_in_page(
    body: bytes, page: tuple[int, int] | None
) -> None:
    """Raise ValueError when a region segment's info field (w, h, x, y —
    T.88 7.4.1) places it outside the declared page; no page-info
    segment seen → nothing to check against."""
    if len(body) < 16:
        raise ValueError("JBIG2 region segment too short")
    if page is None:
        return
    w, h, x, y = struct.unpack_from(">IIII", body, 0)
    pw, ph = page
    if x + w > pw or (ph != 0xFFFFFFFF and y + h > ph):
        raise ValueError(
            f"JBIG2 region {w}x{h}+{x}+{y} outside its {pw}x{ph} page"
        )


# --- symbol dictionary + text region (T.88 6.4/6.5, arithmetic only) -------


def _symcodelen(nsyms: int) -> int:
    return max(1, (max(nsyms - 1, 1)).bit_length())


def _decode_symbol_dict(body: bytes) -> list[np.ndarray]:
    """Arithmetic symbol dictionary (SDHUFF=0, REFAGG=0, template 0,
    nominal ATs) → exported symbol bitmaps in export order."""
    if len(body) < 2:
        raise ValueError("jbig2: symbol dictionary too short")
    flags = struct.unpack_from(">H", body, 0)[0]
    if flags & 0x0001:
        raise ValueError("jbig2: Huffman symbol dictionaries unsupported")
    if flags & 0x0002:
        raise ValueError("jbig2: refinement/aggregate coding unsupported")
    template = (flags >> 10) & 0x03
    if template != 0:
        raise ValueError("jbig2: symbol dict template != 0 unsupported")
    if flags & 0x0100 or flags & 0x0200:
        raise ValueError("jbig2: context retention/import unsupported")
    pos = 2
    ats = struct.unpack_from("bbbbbbbb", body, pos)
    pos += 8
    if tuple(ats) != tuple(v for pair in _AT_NOMINAL for v in pair):
        raise ValueError("jbig2: non-nominal AT pixels unsupported")
    n_ex, n_new = struct.unpack_from(">II", body, pos)
    pos += 8
    if n_new > 10_000 or n_ex > 10_000:
        raise ValueError("jbig2: implausible symbol counts")

    mq = MQDecoder(body[pos:])
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    gcx: dict[int, list[int]] = {}
    syms: list[np.ndarray] = []
    hc_height = 0
    while len(syms) < n_new:
        dh = iadh.decode(mq)
        if dh is _ArithInt.OOB:
            raise ValueError("jbig2: OOB delta-height")
        hc_height += dh
        if hc_height <= 0 or hc_height > 10_000:
            raise ValueError("jbig2: bad symbol height")
        sym_w = 0
        while True:
            dw = iadw.decode(mq)
            if dw is _ArithInt.OOB:
                break
            sym_w += dw
            if sym_w <= 0 or sym_w > 10_000 or len(syms) >= n_new:
                raise ValueError("jbig2: bad symbol width/count")
            if sym_w * hc_height > 4_000_000:
                raise ValueError("jbig2: implausible symbol size")
            syms.append(
                _decode_generic_bitmap(mq, gcx, sym_w, hc_height)
            )
    # export flags: alternating exclude/include run lengths over the
    # (input + new) symbol list — no input symbols here
    exported: list[np.ndarray] = []
    i = 0
    cur = 0
    while i < len(syms) and len(exported) < n_ex:
        run = iaex.decode(mq)
        if run is _ArithInt.OOB or run < 0:
            raise ValueError("jbig2: bad export run")
        if cur:
            exported.extend(syms[i : i + run])
        i += run
        cur ^= 1
    if len(exported) != n_ex:
        raise ValueError("jbig2: export count mismatch")
    return exported


def _decode_text_region(body: bytes, syms: list[np.ndarray]) -> np.ndarray:
    """Arithmetic text region (SBHUFF=0, no refinement) → (h, w) uint8
    with 1 = black, symbols OR-composed at their decoded positions."""
    if len(body) < 17 + 2 + 4:
        raise ValueError("jbig2: text region too short")
    w, h, _x, _y = struct.unpack_from(">IIII", body, 0)
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("implausible JBIG2 region dimensions")
    flags = struct.unpack_from(">H", body, 17)[0]
    if flags & 0x0001:
        raise ValueError("jbig2: Huffman text regions unsupported")
    if flags & 0x0002:
        raise ValueError("jbig2: refinement text regions unsupported")
    log_strips = (flags >> 2) & 0x03
    strips = 1 << log_strips
    refcorner = (flags >> 4) & 0x03
    transposed = (flags >> 6) & 0x01
    comb_op = (flags >> 7) & 0x03
    defpix = (flags >> 9) & 0x01
    ds_offset = (flags >> 10) & 0x1F
    if ds_offset > 15:
        ds_offset -= 32  # signed 5-bit
    if transposed:
        raise ValueError("jbig2: transposed text regions unsupported")
    if comb_op != 0 or defpix != 0:
        raise ValueError("jbig2: non-OR text composition unsupported")
    n_inst = struct.unpack_from(">I", body, 19)[0]
    if n_inst > 1_000_000:
        raise ValueError("jbig2: implausible instance count")
    if not syms:
        raise ValueError("jbig2: text region without symbols")

    mq = MQDecoder(body[23:])
    iadt, iafs, iads, iait = (
        _ArithInt(), _ArithInt(), _ArithInt(), _ArithInt(),
    )
    iaid = _ArithID(_symcodelen(len(syms)))
    page = np.zeros((h, w), dtype=np.uint8)

    dt = iadt.decode(mq)
    if dt is _ArithInt.OOB:
        raise ValueError("jbig2: OOB strip T")
    strip_t = -dt * strips
    first_s = 0
    placed = 0
    while placed < n_inst:
        dt = iadt.decode(mq)
        if dt is _ArithInt.OOB:
            raise ValueError("jbig2: OOB strip T")
        strip_t += dt * strips
        dfs = iafs.decode(mq)
        if dfs is _ArithInt.OOB:
            raise ValueError("jbig2: OOB first S")
        first_s += dfs
        cur_s = first_s
        first = True
        while True:
            if not first:
                ds = iads.decode(mq)
                if ds is _ArithInt.OOB:
                    break  # end of strip
                cur_s += ds + ds_offset
            first = False
            if strips == 1:
                cur_t = strip_t
            else:
                it = iait.decode(mq)
                if it is _ArithInt.OOB:
                    raise ValueError("jbig2: OOB in-strip T")
                cur_t = strip_t + it
            sid = iaid.decode(mq)
            if sid >= len(syms):
                raise ValueError("jbig2: symbol id out of range")
            sym = syms[sid]
            sh, sw = sym.shape
            # placement by reference corner (untransposed: S = x, T = y)
            xx = cur_s
            if refcorner in (0, 1):  # BOTTOMLEFT / TOPLEFT
                yy = cur_t - (sh - 1) if refcorner == 0 else cur_t
            else:  # BOTTOMRIGHT / TOPRIGHT
                yy = cur_t - (sh - 1) if refcorner == 2 else cur_t
            y0, x0 = max(yy, 0), max(xx, 0)
            y1, x1 = min(yy + sh, h), min(xx + sw, w)
            if y1 > y0 and x1 > x0:
                page[y0:y1, x0:x1] |= sym[
                    y0 - yy : y1 - yy, x0 - xx : x1 - xx
                ]
            cur_s += sw - 1
            placed += 1
            if placed >= n_inst:
                break
    return page


def encode_embedded_text(
    page_w: int,
    page_h: int,
    symbols: list[np.ndarray],
    placements: list[tuple[int, int, int]],
) -> bytes:
    """Fixture encoder for the SYMBOL-CODED shape real scanned PDFs use:
    page-info + arithmetic symbol dictionary + one immediate text region
    (type 6) referring to it. ``placements`` are (sym_idx, x, y) with
    (x, y) the TOP-LEFT corner of each instance; the composed page is
    the OR of all placed symbols."""
    symbols = [(np.asarray(s) != 0).astype(np.uint8) for s in symbols]
    if not symbols or not placements:
        raise ValueError("jbig2: need symbols and placements")
    # dictionary decode order: height classes ascending, widths in
    # caller order within a class
    order = sorted(
        range(len(symbols)), key=lambda i: (symbols[i].shape[0], i)
    )
    remap = {orig: new for new, orig in enumerate(order)}
    dsyms = [symbols[i] for i in order]

    # --- symbol dictionary segment body
    mq = MQEncoder()
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    gcx: dict[int, list[int]] = {}
    hc = 0
    i = 0
    while i < len(dsyms):
        hgt = dsyms[i].shape[0]
        iadh.encode(mq, hgt - hc)
        hc = hgt
        sw = 0
        while i < len(dsyms) and dsyms[i].shape[0] == hc:
            iadw.encode(mq, dsyms[i].shape[1] - sw)
            sw = dsyms[i].shape[1]
            _encode_generic_bitmap(mq, gcx, dsyms[i])
            i += 1
        iadw.encode(mq, _ArithInt.OOB)
    iaex.encode(mq, 0)  # exclude run: none
    iaex.encode(mq, len(dsyms))  # export run: all
    sd_flags = 0x0000  # arithmetic, no refinement, template 0
    sd_body = struct.pack(">H", sd_flags)
    for dx, dy in _AT_NOMINAL:
        sd_body += struct.pack("bb", dx, dy)
    sd_body += struct.pack(">II", len(dsyms), len(dsyms))
    sd_body += mq.flush()

    # --- text region segment body (refers to the dictionary)
    mq = MQEncoder()
    iadt, iafs, iads = _ArithInt(), _ArithInt(), _ArithInt()
    iaid = _ArithID(_symcodelen(len(dsyms)))
    # strips of height 1 (LOGSBSTRIPS=0): group instances by y
    inst = sorted(
        (y, x, remap[si]) for si, x, y in placements
    )
    iadt.encode(mq, 0)  # STRIPT init (negated by decoder): start at 0
    prev_t = 0
    first_s = None
    k = 0
    while k < len(inst):
        t = inst[k][0]
        iadt.encode(mq, t - prev_t)
        prev_t = t
        row = [p for p in inst if p[0] == t]
        if first_s is None:
            iafs.encode(mq, row[0][1])
            first_s = row[0][1]
        else:
            iafs.encode(mq, row[0][1] - first_s)
            first_s = row[0][1]
        cur_s = first_s
        for j, (_t, x, sid) in enumerate(row):
            if j > 0:
                iads.encode(mq, x - cur_s)
                cur_s = x
            iaid.encode(mq, sid)
            cur_s += dsyms[sid].shape[1] - 1
        iads.encode(mq, _ArithInt.OOB)
        k += len(row)
    tr_flags = 0x0000 | (1 << 4)  # SBHUFF=0, REFCORNER=TOPLEFT, strips=1
    tr_body = struct.pack(">IIII", page_w, page_h, 0, 0) + b"\x00"
    tr_body += struct.pack(">H", tr_flags)
    tr_body += struct.pack(">I", len(inst))
    tr_body += mq.flush()

    # --- segments: page info (0), symbol dict (1), text region (2)
    segs = bytearray()
    pinfo = struct.pack(">IIII", page_w, page_h, 0, 0) + b"\x00" + b"\x00\x00"
    segs += struct.pack(">IBB", 0, 48, 0) + b"\x01" + struct.pack(
        ">I", len(pinfo)
    ) + pinfo
    segs += struct.pack(">IBB", 1, 0, 0) + b"\x01" + struct.pack(
        ">I", len(sd_body)
    ) + sd_body
    # text region header: 1 referred segment (number 1), 1-byte numbers
    segs += struct.pack(">IB", 2, 6) + bytes([0x20]) + bytes([1]) + b"\x01"
    segs += struct.pack(">I", len(tr_body)) + tr_body
    return bytes(segs)
