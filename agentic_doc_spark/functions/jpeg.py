"""Pure-stdlib JPEG codec (numpy + huffman, no imaging libs).

Implements the baseline sequential DCT process (SOF0), 12-bit extended
sequential (SOF1 — level shift 2048, output scaled to 8-bit) AND the
progressive DCT process (SOF2, Annex G — spectral selection and
successive approximation, Huffman coding) of the public JPEG spec
(ITU-T T.81 / ISO 10918-1): grayscale or YCbCr with arbitrary 1-4×
integer subsampling factors, interleaved or per-component scans and
restart markers on the decode side. One scan decoder serves every
frame type: each scan accumulates quantized coefficients, and after EOI
one batched dequantize + IDCT pass reconstructs the planes. The
encoders emit baseline (Annex K example tables, quality-scaled via the
usual IJG formula), progressive and 12-bit sequential (flat
fixture-grade Huffman tables) streams — enough to round-trip tests
without PIL and to decode the scans real web and scanner corpora
carry. Arithmetic-coded, 12-bit progressive, lossless and hierarchical
modes remain out of scope and raise ValueError (the decode ladder in
operators/multimodal.py then falls through to the deterministic-fake
path, with the boundary surfaced by the ``decoded`` flag).

Reference analog: the upstream engine crops any cv2-readable image
(/root/reference/agentic_doc/utils.py:417-430); this codec extends the
no-dependency coverage from PNG (functions/png.py) to JPEG.
Not copied from any implementation — written against the spec's
annexes (zigzag Table 5, quant Annex K.1, Huffman Annex K.3)."""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: index k in the stream -> natural row-major index
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 example quantization tables (luminance / chrominance)
_QT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHR = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 example Huffman tables: (BITS counts[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 1-D IDCT basis: _BASIS[u, x] = a(u)/2 * cos((2x+1) u pi / 16)
_BASIS = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def is_jpeg(data: bytes) -> bool:
    return len(data) > 3 and data[:2] == b"\xff\xd8"


def _canonical_codes(bits: list[int], values: list[int]):
    """(BITS, HUFFVAL) -> {(length, code): symbol} (spec C.2 generate)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over entropy-coded bytes with FF00 de-stuffing;
    RSTn markers are surfaced for predictor resets."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.bit = 0

    def read_bit(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: truncated entropy data")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0
            if nxt != 0x00:  # a real marker, not a stuffed data FF
                raise _EndOfScan()
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
            if byte == 0xFF:  # skip the stuffed 0x00
                self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consume_restart(self) -> None:
        """Byte-align past any padding, then step over the RSTn marker
        (spec E.1.2: restart markers are byte-aligned; padding bits of
        the preceding byte are discarded)."""
        if self.bit:
            cur = self.data[self.pos]
            self.pos += 2 if cur == 0xFF else 1  # FF data byte is stuffed
            self.bit = 0
        if not (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("jpeg: expected restart marker")
        self.pos += 2


class _EndOfScan(Exception):
    pass


def _read_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _extend(v: int, s: int) -> int:
    """Spec F.12: map s magnitude bits to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes (SOF0/SOF1 sequential or SOF2 progressive, Huffman) ->
    uint8 array (h, w) gray or (h, w, 3) RGB.

    Raises ValueError for anything unsupported, truncated, or corrupt —
    structural errors from crafted streams (short tables, dangling
    references) are folded into ValueError so callers need one except."""
    try:
        return _decode_jpeg(data)
    except ValueError:
        raise
    except (IndexError, KeyError, struct.error, ZeroDivisionError,
            OverflowError) as ex:
        raise ValueError(
            f"jpeg: corrupt stream ({type(ex).__name__})"
        ) from ex


def _decode_jpeg(data: bytes) -> np.ndarray:
    if not is_jpeg(data):
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    coef = None  # per-component zigzag coefficients, created at first SOS
    restart_interval = 0
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        i += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RSTn: no payload
            continue
        if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                      0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"jpeg: unsupported frame type 0x{marker:02x} "
                "(sequential and progressive huffman only)"
            )
        if i + 2 > len(data):
            raise ValueError("jpeg: truncated segment header")
        (seglen,) = struct.unpack(">H", data[i : i + 2])
        if seglen < 2:  # would loop forever on crafted input
            raise ValueError("jpeg: invalid segment length")
        seg = data[i + 2 : i + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(
                        seg[j : j + 64], dtype=np.uint8
                    ).astype(np.int64)
                    j += 64
                else:
                    qt[tq] = np.frombuffer(
                        seg[j : j + 128], dtype=">u2"
                    ).astype(np.int64)
                    j += 128
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (8- or 12-bit) /
            # SOF2 progressive
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec not in (8, 12) or (prec == 12 and marker != 0xC1):
                raise ValueError(
                    "jpeg: precision supported only as 8-bit or 12-bit "
                    "extended sequential (SOF1)"
                )
            if nc not in (1, 3):
                # 4-component (Adobe CMYK/YCCK) would silently decode to
                # garbage RGB — surface the boundary instead
                raise ValueError(
                    f"jpeg: unsupported component count {nc} "
                    "(grayscale and YCbCr only)"
                )
            if not (0 < h * w <= 64_000_000):
                raise ValueError("jpeg: unreasonable dimensions")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                hf, vf = hv >> 4, hv & 15
                if not (1 <= hf <= 4 and 1 <= vf <= 4):
                    raise ValueError("jpeg: invalid sampling factors")
                comps.append({"id": cid, "h": hf, "v": vf, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "prec": prec,
                     "progressive": marker == 0xC2}
            hmax, vmax, _, _ = _grid_dims(frame)
            if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                raise ValueError("jpeg: non-integer subsampling ratios")
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits = list(seg[j + 1 : j + 17])
                n = sum(bits)
                values = list(seg[j + 17 : j + 17 + n])
                huff[(tc, th)] = _canonical_codes(bits, values)
                j += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan[cid] = (tabs >> 4, tabs & 15)
                order.append(cid)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if coef is None:
                _, _, mcux, mcuy = _grid_dims(frame)
                coef = [
                    np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int64)
                    for c in frame["comps"]
                ]
            i = _decode_scan(
                data, i + seglen, frame, order, scan,
                ss, se, ahal >> 4, ahal & 15, huff, restart_interval, coef,
            )
            continue
        i += seglen
    if coef is None:
        raise ValueError("jpeg: no scan data found")
    return _assemble(frame, _reconstruct(frame, coef, qt))


# ---------------------------------------------------------------------------
# Scan decoding (ITU-T T.81 Annex F sequential, Annex G progressive)
# ---------------------------------------------------------------------------
#
# Every scan, sequential or progressive, decodes into per-component
# int64 coefficient arrays (zigzag order, MCU-padded block grids).
# Interleaved scans walk MCUs; single-component scans walk the
# component's NOMINAL block grid (spec A.2.2 — padding blocks simply
# never receive coefficients). After EOI the coefficients dequantize +
# IDCT in one vectorized pass (_reconstruct).


def _grid_dims(frame):
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _nominal_blocks(frame, c):
    """Non-interleaved scan grid: ceil(ceil(dim·f/fmax)/8) (spec A.2.2)."""
    hmax, vmax, _, _ = _grid_dims(frame)
    cw = -(-(frame["w"] * c["h"]) // hmax)
    ch = -(-(frame["h"] * c["v"]) // vmax)
    return -(-ch // 8), -(-cw // 8)


def _ac_first(br, blk, ss, se, al, ac_tab, state) -> None:
    """First scan of an AC band: EOB-run aware (G.1.2.2); a sequential
    scan (F.2.2.2) is the band 1..63 at Al=0 with EOB runs forbidden."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _read_huff(br, ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            if r and not state["progressive"]:
                raise ValueError("jpeg: EOB run in a sequential scan")
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += br.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("jpeg: AC band overrun")
        blk[k] = _extend(br.read_bits(s), s) << al
        k += 1


def _ac_refine(br, blk, ss, se, al, ac_tab, state) -> None:
    """Refinement scan of an AC band (G.1.2.3): newly-significant
    coefficients arrive as ±2^al; coefficients already nonzero consume
    one correction bit whenever the walk crosses them."""
    p1 = 1 << al
    m1 = -p1
    k = ss

    def correct(kk: int) -> None:
        if br.read_bit() and (blk[kk] & p1) == 0:
            blk[kk] += p1 if blk[kk] > 0 else m1

    if state["eobrun"] == 0:
        while k <= se:
            rs = _read_huff(br, ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("jpeg: bad refinement magnitude")
                val = p1 if br.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= se and val:
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _decode_scan(
    data, start, frame, order, scan, ss, se, ah, al, huff, ri, coef
) -> int:
    """Decode one scan into the accumulated coefficients; returns the
    byte offset of the next marker. A sequential scan's block unit is
    the DC difference followed by the whole AC band 1..63."""
    comps = frame["comps"]
    progressive = frame["progressive"]
    if not progressive:  # Ss/Se/Ah/Al carry no meaning in sequential
        ss, se, ah, al = 0, 63, 0, 0
    elif not (0 <= ss <= se <= 63 and al < 14):
        raise ValueError("jpeg: invalid spectral selection")
    elif ss == 0 and se != 0:
        raise ValueError("jpeg: DC scan with Se != 0")
    idx = {c["id"]: ci for ci, c in enumerate(comps)}
    members = [idx[cid] for cid in order]
    if ss > 0 and len(members) != 1:
        raise ValueError("jpeg: interleaved AC scan")
    dc_tabs = {
        ci: huff[(0, scan[comps[ci]["id"]][0])]
        for ci in members if ss == 0 and ah == 0
    }
    ac_tabs = {
        ci: huff[(1, scan[comps[ci]["id"]][1])] for ci in members if se > 0
    }
    _, _, mcux, mcuy = _grid_dims(frame)
    br = _BitReader(data, start)
    preds = [0] * len(comps)
    state = {"eobrun": 0, "progressive": progressive}
    done = 0

    def maybe_restart():
        nonlocal done
        if ri and done == ri:
            br.consume_restart()
            preds[:] = [0] * len(comps)
            state["eobrun"] = 0
            done = 0

    def dc_unit(ci, blk):
        if ah == 0:
            s = _read_huff(br, dc_tabs[ci])
            if s > 16:  # corrupt table: DC category is ≤ 16 by spec
                raise ValueError("jpeg: bad DC magnitude category")
            diff = _extend(br.read_bits(s), s) if s else 0
            preds[ci] += diff
            blk[0] = preds[ci] << al
        elif br.read_bit():
            blk[0] |= 1 << al

    if not progressive:
        def unit(ci, blk):
            dc_unit(ci, blk)
            _ac_first(br, blk, 1, 63, 0, ac_tabs[ci], state)
    elif ss == 0:
        unit = dc_unit
    else:
        band = _ac_first if ah == 0 else _ac_refine

        def unit(ci, blk):
            band(br, blk, ss, se, al, ac_tabs[ci], state)

    try:
        if len(members) > 1:  # interleaved MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    maybe_restart()
                    for ci in members:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                unit(ci, coef[ci][my * c["v"] + by,
                                                  mx * c["h"] + bx])
                    done += 1
        else:
            ci = members[0]
            byn, bxn = _nominal_blocks(frame, comps[ci])
            for by in range(byn):
                for bx in range(bxn):
                    maybe_restart()
                    unit(ci, coef[ci][by, bx])
                    done += 1
    except _EndOfScan:
        raise ValueError("jpeg: scan ended early")

    # step to the next marker (skip any partial byte + stuffing)
    pos = br.pos if br.bit == 0 else br.pos + 1
    while pos + 1 < len(data):
        if (
            data[pos] == 0xFF
            and data[pos + 1] != 0x00
            and not 0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return len(data)


def _reconstruct(frame, coef, qt):
    """Accumulated zigzag coefficients → sample planes, vectorized:
    dequantize, zigzag→natural scatter, batched 2-D IDCT, level shift
    by 2^(prec-1)."""
    center = float(1 << (frame["prec"] - 1))
    planes = []
    for c, z in zip(frame["comps"], coef):
        q = qt[c["tq"]]
        nat = np.zeros(z.shape, dtype=np.float64)
        nat[:, :, _ZIGZAG] = z * q[None, None, :]
        by, bx = nat.shape[:2]
        blocks = nat.reshape(by, bx, 8, 8)
        # stacked matmul, NOT einsum: the same 8×8 products as the
        # encoders' forward DCT (test_decoded_pixels_match_golden_digests)
        out = np.matmul(np.matmul(_BASIS.T, blocks), _BASIS) + center
        planes.append(out.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
    return planes


def _assemble(frame, planes) -> np.ndarray:
    """Component sample planes → upsample to full resolution, crop to
    (h, w), color-convert."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax, vmax, _, _ = _grid_dims(frame)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(
                np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        full.append(p[:h, :w])
    prec = frame["prec"]
    maxv = (1 << prec) - 1
    shift = prec - 8

    def to8(a):
        q = np.clip(a + 0.5, 0, maxv).astype(np.int32)
        return (q >> shift).astype(np.uint8) if shift else q.astype(np.uint8)

    if len(full) == 1:
        return to8(full[0])
    half = float(1 << (prec - 1))
    y, cb, cr = full[0], full[1] - half, full[2] - half
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return to8(rgb)


# ---------------------------------------------------------------------------
# Encoder (test/fixture side): baseline 4:4:4, Annex K tables
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill (spec F.1.2.3)


def _encode_codes(bits, values):
    """(BITS, HUFFVAL) -> {symbol: (code, length)}."""
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 -> table as-is, 100 -> all ones."""
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((qt * s + 50) // 100, 1, 255)


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (category s, s magnitude bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _downsample2(p: np.ndarray) -> np.ndarray:
    """2×2 box average with edge replication for odd dims."""
    h, w = p.shape
    if h % 2:
        p = np.vstack([p, p[-1:]])
    if w % 2:
        p = np.hstack([p, p[:, -1:]])
    return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0


def _prepare_planes(arr: np.ndarray, subsampling: str):
    """uint8 image → (planes, factors, h, w, nc): RGB→YCbCr conversion
    plus optional 4:2:0 chroma downsampling. Shared by the baseline and
    progressive encoders."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc == 1:
        planes = [arr[:, :, 0].astype(np.float64)]
    elif nc == 3:
        r, g, b = (arr[:, :, c].astype(np.float64) for c in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    else:
        raise ValueError("encode_jpeg expects 1 or 3 channels")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if subsampling == "420" and nc == 3:
        planes = [planes[0], _downsample2(planes[1]), _downsample2(planes[2])]
        factors = [(2, 2), (1, 1), (1, 1)]
    else:
        factors = [(1, 1)] * nc
    return planes, factors, h, w, nc


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """uint8 (h, w[, 1|3]) -> baseline JPEG bytes.

    ``subsampling``: "444" (default) or "420" (2×2 luma MCUs with box-
    averaged half-res chroma — the layout nearly all real baseline JPEGs
    use). ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that many MCUs (exercises the decoder's restart path)."""
    planes, factors, h, w, nc = _prepare_planes(arr, subsampling)

    # quant tables in ZIGZAG order — both the DQT payload (spec B.2.4.1
    # stores Qk zigzag-ordered, which the decoder indexes by zigzag k)
    # and the quantization of the zigzag-scanned coefficients use this
    # layout; natural-order tables here would scramble the frequency
    # weighting (self-consistently, but off the Annex K curve)
    qts = [_quality_scale(_QT_LUM, quality)[_ZIGZAG]]
    if nc == 3:
        qts.append(_quality_scale(_QT_CHR, quality)[_ZIGZAG])
    dc_enc = [_encode_codes(*_DC_LUM), _encode_codes(*_DC_CHR)]
    ac_enc = [_encode_codes(*_AC_LUM), _encode_codes(*_AC_CHR)]

    out = bytearray(b"\xff\xd8")  # SOI

    def segment(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tid, q in enumerate(qts):
        segment(0xDB, bytes([tid]) + bytes(int(x) for x in q))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        tq = 0 if c == 0 else 1
        hf, vf = factors[c]
        sof += bytes([c + 1, (hf << 4) | vf, tq])
    segment(0xC0, sof)
    tables = [(0, 0, _DC_LUM), (1, 0, _AC_LUM)]
    if nc == 3:
        tables += [(0, 1, _DC_CHR), (1, 1, _AC_CHR)]
    for tc, th, (bits, values) in tables:
        segment(
            0xC4,
            bytes([(tc << 4) | th]) + bytes(bits) + bytes(values),
        )
    if restart_interval:
        segment(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for c in range(nc):
        t = 0 if c == 0 else 1
        sos += bytes([c + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    segment(0xDA, sos)

    bw = _BitWriter()
    preds = [0] * nc
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def encode_block(ci: int, byb: int, bxb: int) -> None:
        q = qts[0 if ci == 0 else 1]
        dct = dc_enc[0 if ci == 0 else 1]
        act = ac_enc[0 if ci == 0 else 1]
        p = planes[ci]
        # edge blocks replicate the last row/col (spec A.2.4)
        ys = np.clip(np.arange(byb * 8, byb * 8 + 8), 0, p.shape[0] - 1)
        xs = np.clip(np.arange(bxb * 8, bxb * 8 + 8), 0, p.shape[1] - 1)
        block = p[np.ix_(ys, xs)] - 128.0
        coefs = _BASIS @ block @ _BASIS.T
        zz = coefs.reshape(-1)[_ZIGZAG]
        qz = np.round(zz / q).astype(np.int64)
        diff = int(qz[0]) - preds[ci]
        preds[ci] = int(qz[0])
        s, bits = _magnitude(diff)
        code, ln = dct[s]
        bw.write(code, ln)
        if s:
            bw.write(bits, s)
        run = 0
        any_ac = bool(np.any(qz[1:]))
        last_nz = int(np.max(np.nonzero(qz)[0])) if any_ac else 0
        for k in range(1, 64):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = act[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            s, bits = _magnitude(v)
            code, ln = act[(run << 4) | s]
            bw.write(code, ln)
            bw.write(bits, s)
            run = 0
        if last_nz < 63:
            code, ln = act[0x00]  # EOB
            bw.write(code, ln)

    mcus_done = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcus_done == restart_interval:
                bw.flush()
                bw.out.extend(b"\xff" + bytes([0xD0 + rst_n]))
                rst_n = (rst_n + 1) % 8
                preds = [0] * nc
                mcus_done = 0
            mcus_done += 1
            for ci in range(nc):
                hf, vf = factors[ci]
                for by in range(vf):
                    for bx in range(hf):
                        encode_block(ci, my * vf + by, mx * hf + bx)
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (fixture/test side): spectral selection + one
# successive-approximation bit, Annex G scan scripts
# ---------------------------------------------------------------------------


def _quantized_blocks(planes, factors, qts, mcux, mcuy):
    """Per component: (BY, BX, 64) int64 quantized ZIGZAG coefficients
    over the MCU-padded grid (edge replication), vectorized."""
    out = []
    for ci, p in enumerate(planes):
        hf, vf = factors[ci]
        by_n, bx_n = mcuy * vf, mcux * hf
        q = qts[0 if ci == 0 else 1]
        ys = np.clip(np.arange(by_n * 8), 0, p.shape[0] - 1)
        xs = np.clip(np.arange(bx_n * 8), 0, p.shape[1] - 1)
        ext = p[np.ix_(ys, xs)] - 128.0
        blocks = ext.reshape(by_n, 8, bx_n, 8).transpose(0, 2, 1, 3)
        # stacked matmul (not einsum): bit-identical to encode_jpeg's
        # per-block _BASIS @ block @ _BASIS.T, so baseline and
        # progressive streams quantize to the same coefficients
        coefs = np.matmul(np.matmul(_BASIS, blocks), _BASIS.T)
        zz = coefs.reshape(by_n, bx_n, 64)[:, :, _ZIGZAG]
        out.append(np.round(zz / q).astype(np.int64))
    return out


def _flat_table(symbols) -> tuple[list[int], list[int]]:
    """All-8-bit canonical Huffman table over the used symbol set — valid
    for ≤255 symbols, trivially decodable, fixture-grade (optimal length
    assignment buys nothing in tests)."""
    vals = sorted(symbols) or [0]
    if len(vals) > 255:
        raise ValueError("jpeg: too many symbols for flat table")
    bits = [0] * 16
    bits[7] = len(vals)
    return bits, vals


def encode_progressive_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    successive: bool = True,
) -> bytes:
    """uint8 (h, w[, 1|3]) -> PROGRESSIVE JPEG bytes (SOF2, Huffman).

    Scan script: interleaved DC first scan, then per-component AC bands
    (1-5, 6-63). With ``successive`` (default) every first scan sends
    the coefficients at Al=1 and a second wave of refinement scans
    (Ah=1, Al=0) delivers the final bit — exercising the full Annex G
    decode surface (DC refinement bits, AC newly-significant ±1 runs,
    correction bits, EOB runs). Quantized coefficients are identical to
    ``encode_jpeg`` at the same quality/subsampling, so a progressive
    round-trip must decode bit-identically to the baseline one — the
    property the tests pin."""
    planes, factors, h, w, nc = _prepare_planes(arr, subsampling)
    qts = [_quality_scale(_QT_LUM, quality)[_ZIGZAG]]
    if nc == 3:
        qts.append(_quality_scale(_QT_CHR, quality)[_ZIGZAG])
    else:
        qts.append(qts[0])
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qz = _quantized_blocks(planes, factors, qts, mcux, mcuy)
    nominal = []
    for ci in range(nc):
        hf, vf = factors[ci]
        cw = -(-(w * hf) // hmax)
        ch = -(-(h * vf) // vmax)
        nominal.append((-(-ch // 8), -(-cw // 8)))

    bands = [(1, 5), (6, 63)]
    scans: list[tuple] = []  # (kind, comps, ss, se, ah, al)
    first_al = 1 if successive else 0
    scans.append(("dc_first", list(range(nc)), 0, 0, 0, first_al))
    for ci in range(nc):
        for ss, se in bands:
            scans.append(("ac_first", [ci], ss, se, 0, first_al))
    if successive:
        scans.append(("dc_refine", list(range(nc)), 0, 0, 1, 0))
        for ci in range(nc):
            for ss, se in bands:
                scans.append(("ac_refine", [ci], ss, se, 1, 0))

    def run_scan(kind, members, ss, se, ah, al, emit_sym, emit_bits):
        if kind == "dc_first":
            preds = [0] * nc
            units = []
            if len(members) > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        for ci in members:
                            hf, vf = factors[ci]
                            for by in range(vf):
                                for bx in range(hf):
                                    units.append(
                                        (ci, my * vf + by, mx * hf + bx)
                                    )
            else:
                ci = members[0]
                byn, bxn = nominal[ci]
                units = [
                    (ci, by, bx) for by in range(byn) for bx in range(bxn)
                ]
            for ci, by, bx in units:
                v = int(qz[ci][by, bx, 0]) >> al  # arithmetic (G.1.2.1)
                diff = v - preds[ci]
                preds[ci] = v
                s, bits = _magnitude(diff)
                emit_sym(0, s)
                emit_bits(bits, s)
        elif kind == "dc_refine":
            units = []
            if len(members) > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        for ci in members:
                            hf, vf = factors[ci]
                            for by in range(vf):
                                for bx in range(hf):
                                    units.append(
                                        (ci, my * vf + by, mx * hf + bx)
                                    )
            else:
                ci = members[0]
                byn, bxn = nominal[ci]
                units = [
                    (ci, by, bx) for by in range(byn) for bx in range(bxn)
                ]
            for ci, by, bx in units:
                emit_bits((int(qz[ci][by, bx, 0]) >> al) & 1, 1)
        elif kind == "ac_first":
            ci = members[0]
            byn, bxn = nominal[ci]
            eobrun = 0

            def flush():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    emit_sym(1, r << 4)
                    emit_bits(eobrun - (1 << r), r)
                    eobrun = 0

            for by in range(byn):
                for bx in range(bxn):
                    blk = qz[ci][by, bx]
                    vals = {}
                    for k in range(ss, se + 1):
                        v = int(blk[k])
                        pv = (abs(v) >> al) * (1 if v > 0 else -1)
                        if pv:
                            vals[k] = pv
                    if not vals:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush()
                        continue
                    flush()
                    run = 0
                    last = max(vals)
                    for k in range(ss, last + 1):
                        v = vals.get(k)
                        if v is None:
                            run += 1
                            continue
                        while run > 15:
                            emit_sym(1, 0xF0)
                            run -= 16
                        s, bits = _magnitude(v)
                        emit_sym(1, (run << 4) | s)
                        emit_bits(bits, s)
                        run = 0
                    if last < se:
                        eobrun = 1  # terminates this block, may extend
            flush()
        else:  # ac_refine
            ci = members[0]
            byn, bxn = nominal[ci]
            eobrun = 0
            pending: list[int] = []

            def flush():
                nonlocal eobrun, pending
                if eobrun:
                    r = eobrun.bit_length() - 1
                    emit_sym(1, r << 4)
                    emit_bits(eobrun - (1 << r), r)
                    for b in pending:
                        emit_bits(b, 1)
                    eobrun = 0
                    pending = []

            for by in range(byn):
                for bx in range(bxn):
                    blk = qz[ci][by, bx]

                    def hist(k):
                        return (abs(int(blk[k])) >> ah) != 0

                    def corr(k):
                        return (abs(int(blk[k])) >> al) & 1

                    new_pos = [
                        k
                        for k in range(ss, se + 1)
                        if not hist(k) and corr(k)
                    ]
                    if not new_pos:
                        eobrun += 1
                        pending.extend(
                            corr(k) for k in range(ss, se + 1) if hist(k)
                        )
                        if eobrun == 0x7FFF:
                            flush()
                        continue
                    flush()
                    k = ss
                    for kn in new_pos:
                        r = 0
                        buf: list[int] = []
                        j = k
                        while j < kn:
                            if hist(j):
                                buf.append(corr(j))
                            else:
                                r += 1
                                if r == 16:
                                    emit_sym(1, 0xF0)
                                    for b in buf:
                                        emit_bits(b, 1)
                                    r = 0
                                    buf = []
                            j += 1
                        emit_sym(1, (r << 4) | 1)
                        emit_bits(1 if int(blk[kn]) > 0 else 0, 1)
                        for b in buf:
                            emit_bits(b, 1)
                        k = kn + 1
                    if k <= se:
                        eobrun = 1
                        pending = [
                            corr(j) for j in range(k, se + 1) if hist(j)
                        ]
            flush()

    # pass 1: symbol census for the flat Huffman tables
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    for kind, members, ss, se, ah, al in scans:
        run_scan(
            kind, members, ss, se, ah, al,
            lambda tc, sym: (dc_syms if tc == 0 else ac_syms).add(sym),
            lambda v, n: None,
        )
    dc_bits, dc_vals = _flat_table(dc_syms)
    ac_bits, ac_vals = _flat_table(ac_syms)
    dc_enc = _encode_codes(dc_bits, dc_vals)
    ac_enc = _encode_codes(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")

    def segment(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tid, q in enumerate(qts[: (2 if nc == 3 else 1)]):
        segment(0xDB, bytes([tid]) + bytes(int(x) for x in q))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        tq = 0 if c == 0 else 1
        hf, vf = factors[c]
        sof += bytes([c + 1, (hf << 4) | vf, tq])
    segment(0xC2, sof)
    segment(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    segment(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))

    # pass 2: entropy-coded scans
    for kind, members, ss, se, ah, al in scans:
        sos = bytes([len(members)])
        for ci in members:
            sos += bytes([ci + 1, 0x00])  # DC table 0 / AC table 0
        sos += bytes([ss, se, (ah << 4) | al])
        segment(0xDA, sos)
        bw = _BitWriter()

        def emit_sym(tc, sym):
            code, ln = (dc_enc if tc == 0 else ac_enc)[sym]
            bw.write(code, ln)

        def emit_bits(v, n):
            if n:
                bw.write(v, n)

        run_scan(kind, members, ss, se, ah, al, emit_sym, emit_bits)
        bw.flush()
        out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg12(arr: np.ndarray, quality: int = 95) -> bytes:
    """uint16 (h, w) with samples 0..4095 → 12-bit EXTENDED SEQUENTIAL
    JPEG (SOF1) — grayscale fixture encoder for the medical/scanner
    shape. Flat fixture Huffman tables over the used symbol set
    (``_flat_table``: the standard Annex K sample tables stop at the
    8-bit magnitude categories, which 12-bit DC differences exceed)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("12-bit fixture encoder is grayscale-only")
    if arr.max(initial=0) > 4095 or arr.min(initial=0) < 0:
        raise ValueError("12-bit samples must be 0..4095")
    h, w = arr.shape
    q = _quality_scale(_QT_LUM, quality)[_ZIGZAG].astype(np.int64)
    plane = arr.astype(np.float64)
    by_n, bx_n = -(-h // 8), -(-w // 8)

    # pass 1: quantized coefficients per block
    blocks = []
    for by in range(by_n):
        for bx in range(bx_n):
            ys = np.clip(np.arange(by * 8, by * 8 + 8), 0, h - 1)
            xs = np.clip(np.arange(bx * 8, bx * 8 + 8), 0, w - 1)
            block = plane[np.ix_(ys, xs)] - 2048.0
            zz = (_BASIS @ block @ _BASIS.T).reshape(-1)[_ZIGZAG]
            blocks.append(np.round(zz / q).astype(np.int64))

    # collect symbols for the fixture tables
    dc_syms, ac_syms = set(), set()
    pred = 0
    for qz in blocks:
        sz, _ = _magnitude(int(qz[0]) - pred)
        pred = int(qz[0])
        dc_syms.add(sz)
        run = 0
        nz = np.nonzero(qz[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.add(0xF0)
                run -= 16
            sz, _ = _magnitude(v)
            ac_syms.add((run << 4) | sz)
            run = 0
        if last < 63:
            ac_syms.add(0x00)
    dc_bits, dc_vals = _flat_table(dc_syms)
    ac_bits, ac_vals = _flat_table(ac_syms)
    dc_enc = _encode_codes(dc_bits, dc_vals)
    ac_enc = _encode_codes(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")

    def segment(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    segment(0xDB, bytes([0]) + bytes(int(x) for x in q))
    segment(0xC1, struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]))
    segment(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    segment(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

    bw = _BitWriter()
    pred = 0
    for qz in blocks:
        diff = int(qz[0]) - pred
        pred = int(qz[0])
        sz, bits = _magnitude(diff)
        code, ln = dc_enc[sz]
        bw.write(code, ln)
        if sz:
            bw.write(bits, sz)
        run = 0
        nz = np.nonzero(qz[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]
                bw.write(code, ln)
                run -= 16
            sz, bits = _magnitude(v)
            code, ln = ac_enc[(run << 4) | sz]
            bw.write(code, ln)
            if sz:
                bw.write(bits, sz)
            run = 0
        if last < 63:
            code, ln = ac_enc[0x00]
            bw.write(code, ln)
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)
